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


#: Explicit verification-priority order.  The driver's correctness
#: harness checks the FIRST 50 entries of ``__spark_entry__.queries()``
#: (dict insertion order) per round.
#: ROUND 13 window (VERDICT r12 item 1, landed in the round's FIRST
#: commit so the staleness gate flips red → green atomically — the
#: window is exactly `python tests/plan_rotation.py`'s emitted plan
#: plus this round's modified-query re-entries):
#: first the fifteen age-5 must-lead entries the planner names (the
#: eleven r07 tpch deferrals tpch_q7/q8/q10–q18 plus the three r07
#: corpus.py deferrals b155/b158/b161 and b171, which gave its r12
#: slot to the b116 mid-round repair), then the two queries whose
#: code/oracle changes this round (modified queries re-enter the
#: window the round they change: b101's entropy oracle and b155/b158/
#: b171's ln-rounding oracles go exact-integer per VERDICT r12 item 2
#: — three of those four are already in the must-lead set — and
#: b165's absorbing-chain solve gets a fixed-iteration oracle per
#: item 5), then 33 of the r08 cohort greedy-oldest-first.  The three
#: r08 entries after the fill cut (b53_train_val_test,
#: b55_lateral_topk, b56_embedding_quantize) defer to r14 at age 5 —
#: legal under MAX_DRIVER_ROW_AGE=5 (tests/test_registry_order.py).
PRIORITY: list[str] = [
    # -- planner must-lead (14): red when CORRECTNESS_r14 lands
    #    unless re-checked (the round-open rotation discipline,
    #    VERDICT r12 item 1 / r13 item 8 — outranks everything) --
    "b55_lateral_topk",
    "b56_embedding_quantize",
    "b57_table_fingerprint",
    "b59_salted_join",
    "b60_hll_mergeable_rollup",
    "b62_cogroup_merge",
    "b63_quantile_bands",
    "b65_map_hof",
    "tpch_q1",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q9",
    # -- queries whose code changes this optimization round (modified
    #    queries re-enter the window the round they change): the CC
    #    family on the new sub-threshold driver union-find (VERDICT r13
    #    item 2), the b137 partitioning fix (item 3), the stream-stream
    #    join harness work (item 4), the b161 null-source hardening and
    #    the sql_dsum_c4 overflow-order fix (ADVICE r13; tpch_q9 of the
    #    dsum family already leads above) --
    "b29_ngram_jaccard",
    "b29_cc_bigstar",
    "b29_dedup_canonical",
    "b144_leakage_safe_split",
    "b173_dbscan_complexes",
    "b137_pq_adc_search",
    "b177_stream_semi_join",
    "b180_stream_stream_full_outer",
    "b182_stream_stream_right_outer",
    "b161_source_novelty",
    "b09_agg_q1",
    "flagship_revenue_by_nation",
    "tpch_q5",
    "tpch_q6",
    "b03_join_inner",
    "b04_join_broadcast",
    # -- greedy oldest-first fill (planner order, cut to the window) --
    "b100_compaction",
    "b102_markov_transitions",
    "b103_basket_pairs",
    "b104_zscore_outliers",
    "b105_event_paths",
    "b106_time_weighted_sum",
    "b107_sliding_distinct",
    "b108_dynamic_overwrite",
    "b109_heavy_hitters",
    "b110_bloom_prefilter_join",
    "b111_stream_topk",
    "b112_cohort_ltv",
    "b114_activity_heatmap",
    "b115_schema_evolution",
    "b117_scd3_current",
    "b11_unpivot",
    "b175_ivfpq_observed_sampled",
    "b178_quality_classifier",
    "b179_stream_late_audit",
    # oldest driver row outside the window (tests/plan_rotation.py)
    "b18_width_bucket",
]

#: Hard cap on per-round additions (VERDICT r6 items 2/7): the driver
#: window is 50 slots and must absorb both re-confirmation traffic and
#: the previous round's additions, so a round may register at most
#: this many new queries.  tests/test_registry_order.py enforces both
#: the cap and the backlog bound (never-driver-checked queries outside
#: the current PRIORITY window ≤ 2× this cap).
ADDITIONS_PER_ROUND_CAP = 10

#: Candidates for the NEXT round's window: additions made this round
#: (VERDICT r5 item 7: everything new enters PRIORITY_NEXT in the same
#: commit that registers it).  Round 12's single addition (b182) got a
#: green r12 driver row, so it rotates out.
PRIORITY_NEXT: list[str] = []


def ordered_queries() -> dict[str, QueryFn]:
    """All registered queries: PRIORITY (the current verification
    window) first, then PRIORITY_NEXT (this round's additions), then
    the rest in registration order.  This is the order the driver
    consumes."""
    load_all()
    head = [*PRIORITY, *PRIORITY_NEXT]
    missing = [n for n in head if n not in QUERIES]
    if missing:
        raise KeyError(f"PRIORITY names not registered: {missing}")
    rest = {n: f for n, f in QUERIES.items() if n not in set(head)}
    return {**{n: QUERIES[n] for n in head}, **rest}


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
