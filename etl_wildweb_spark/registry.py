"""Query + oracle registry backing the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers here via the @query decorator:

    @query("b09_agg_q1", oracle="SELECT ...")
    def b09(spark, sf_dir): ...

The builder signature is ``(spark, sf_dir) -> DataFrame``.  ``oracle`` is
the equivalent DuckDB SQL over the pre-registered views (region nation
customer supplier part orders lineitem events documents embeddings); omit
it for non-SQL-expressible ops (the driver then records a rows-only
check).  Column names must match between the Spark result and the oracle —
alias everything on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .session import prepare

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(
            spark: SparkSession, sf_dir: str, *args, **kwargs
        ) -> DataFrame:
            # Re-assert runtime confs (UTC etc.) on whatever session the
            # driver hands us — correctness must not depend on its config.
            # Extra args pass through for test-harness knobs (e.g. the
            # funnel's replay_order); the driver always calls (spark, sf).
            prepare(spark)
            return fn(spark, sf_dir, *args, **kwargs)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def schema_of(spark: SparkSession, sf_dir: str, name: str):
    """Result schema (StructType) of a registered query — resolved by
    Catalyst against the given corpus, usually without execution.
    NOTE the exceptions: the streaming queries (b23/b24/b58/b64/b177/
    b180 families) execute eagerly by design, and the iterative/fixture builders
    (connected-components family b29_cc_bigstar/b29_dedup_canonical/
    b144/b173, the shingle-stage checkpoint of b29_ngram_jaccard/b159,
    the checkpointed closures b129/b131, b139's materialized
    coverage set, the side-effecting connector demos) run work at
    build time — introspect plain batch queries freely, these
    deliberately."""
    load_all()
    return QUERIES[name](spark, sf_dir).schema


def capabilities(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict:
    """Engine analog of the reference's capabilities endpoint
    (/root/reference/task.ts:52-65: schema(SchemaType.Input|Output) →
    TypeBox JSON-Schema for config UIs).  Publishes the ingest
    contract's declared schemas plus, on request, any registered
    query's resolved output schema — machine-readable, renderable."""
    from .ingest import wildweb

    return {
        "input": {
            "envelope": wildweb.ENVELOPE_SCHEMA.json(),
            "config": {
                "IncidentRange": list(wildweb.INCIDENT_RANGES),
                "DispatchCenters": "array<string>",
                "DEBUG": "boolean",
            },
        },
        "output": {
            "incident": wildweb.INCIDENT_SCHEMA.json(),
            "errors": wildweb.ERROR_SCHEMA.json(),
        },
        "queries": {n: schema_of(spark, sf_dir, n).json() for n in names or []},
    }


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        analytics,
        skew,
        corpus,
        dedup,
        exact_substring,
        geo,
        merge,
        mining,
        multimodal,
        packing,
        quality,
        relational,
        sampling,
        similarity,
        text,
        tpch,
        udx,
    )
    from .ingest import wildweb  # noqa: F401
    from .streaming import joins, pipeline, stateful, windows  # noqa: F401
    from . import sinks  # noqa: F401
    from .sources import files, http  # noqa: F401
