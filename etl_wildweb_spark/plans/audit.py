"""Physical-plan audit helpers (SURVEY.md §7.1 M5).

"Correct but mis-planned" is the failure mode that only shows up at
1000× the test data — a sort-merge join that should broadcast, a filter
that didn't reach the parquet scan, an accidental extra shuffle.  These
helpers turn `.explain("formatted")` into assertable facts so the plan
shape itself is under test (tests/test_plans.py), not just the result.

Audits read the *static* physical plan (AQE disabled for the duration):
AQE's initial plan hides codegen/codec detail until a final plan exists,
and runtime re-planning can only improve on the static shape (SMJ→BHJ
switch, skew split, partition coalescing) — so static assertions are
the conservative lower bound of what production gets.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


@contextlib.contextmanager
def _no_aqe(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` output of the static physical plan."""
    with _no_aqe(df.sparkSession):
        # re-plan under the pinned conf: rebuild from the logical plan
        fresh = DataFrame(df._jdf, df.sparkSession)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fresh.explain("formatted")
        return buf.getvalue()


def plan_of(query_fn, spark, sf_dir: str) -> str:
    """Build the query with AQE off so planning (not just explain)
    happens non-adaptively, then return the formatted plan."""
    with _no_aqe(spark):
        df = query_fn(spark, sf_dir)
        # queries re-assert session confs incl. AQE — pin back off
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()


def codegen_spans(plan: str) -> int:
    """Distinct whole-stage-codegen regions — formatted explain tags
    fused operators with ``[codegen id : N]`` (wider+fewer is better)."""
    return len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))


def node_count(plan: str, node: str) -> int:
    """Occurrences of an operator in the plan tree section."""
    return len(re.findall(rf"\b{re.escape(node)}\b", plan))


def exchanges(plan: str) -> dict[str, int]:
    """Exchange kinds in a formatted plan: {'shuffle': n, 'broadcast': m}."""
    shuffle = len(re.findall(r"\(\d+\) Exchange\b", plan))
    broadcast = len(re.findall(r"\(\d+\) BroadcastExchange\b", plan))
    return {"shuffle": shuffle, "broadcast": broadcast}


def pushed_filters(plan: str) -> list[str]:
    """All parquet-scan PushedFilters entries, flattened."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(plan: str) -> list[str]:
    """ReadSchema struct bodies for every scan in the plan."""
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)]
