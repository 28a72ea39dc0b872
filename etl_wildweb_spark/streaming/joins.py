"""Streaming joins — stream-static enrichment and stream-stream
interval correlation (Structured Streaming's two join modes).

The reference enriches nothing (its single feed goes straight to the
sink — /root/reference/task.ts:126-149); these close the remaining
streaming-surface gap next to windows.py.  Batch/stream unification is
again the oracle strategy: with Trigger.AvailableNow over a static
source, a stream-static inner join and a watermarked stream-stream
inner join each emit exactly the batch join's rows, so both queries are
full hash-checked SQL oracles, not rows-only.

100 TB notes: the static side of a stream-static join is re-planned
per micro-batch (picks up dim updates) and broadcasts when small —
state-free.  Stream-stream state is bounded jointly by the watermark
and the time-interval predicate: each side buffers only rows inside
[watermark, now]; without the interval bound the buffers never evict —
the interval condition isn't an optimization, it's the liveness
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..registry import query
from .windows import events_stream, run_to_memory


@query(
    "b23_stream_static_join",
    oracle="""
    SELECT event_id, user_id, c_mktsegment, value
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def b23_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the
    customer dimension (no watermark needed — the static side is
    state-free, re-read per micro-batch).  Executed as a real
    availableNow stream into a memory sink; equals the batch join."""
    s = events_stream(spark, sf_dir)
    dim = F.broadcast(
        table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = s.join(dim, s.user_id == dim.c_custkey).select(
        "event_id", "user_id", "c_mktsegment", "value"
    )
    # no state, no shuffle (broadcast dim) — the state_partitions knob
    # below is for the STATEFUL joins only
    return run_to_memory(joined, mode="append")


#: watermark delay and correlation horizon shared by every
#: stream-stream join below AND mirrored in their oracles — change
#: them together.
_WM_DELAY = "1 hour"
_INTERVAL = "INTERVAL 6 HOURS"

#: State-shuffle width for the stream-stream joins.  A stream-stream join
#: commits FOUR state-store instances per partition per micro-batch, so
#: partition count is a fixed-cost multiplier that should track KEY
#: CARDINALITY (users in state), not session cores: at the bench corpus's
#: few hundred in-state users, 32 partitions spent 2.4x the wall clock of
#: 8 on store commits alone (b180 at sf0.1: 7.9 s -> 3.3 s, identical
#: 37,823-row output).  A re-measure of the remaining fixed cost
#: (tools/stream_probe.py: per-batch state commits ~260 ms/store-instance
#: dominate addBatch) halved the width twice more — interleaved A/B
#: medians at sf0.1, 8 vs 2 partitions: b182 3.91->2.69 s, b177
#: 2.93->1.96, b23 2.39->1.79, b64 4.97->2.61, b180 3.23->3.13; identical
#: output (the partition-count invariance is pinned in
#: tests/test_streaming.py). At 100 TB this knob goes UP with state volume
#: — size it per deployment before go-live, because streaming state
#: partitioning freezes at the first batch; the scheduling fixed-cost
#: argument is symmetric (once per-partition state is large enough to
#: dominate the per-store commit overhead, more partitions win).
STREAM_STATE_PARTITIONS = 2


def _watermarked_views_purchases(spark, sf_dir, source: DataFrame | None = None):
    """The shared construction of b23/b64/b177/b180: watermarked view
    and purchase streams plus the user-equality × time-interval join
    condition (p_ts ∈ [v_ts, v_ts + 6h]).  ``source`` overrides the
    default whole-corpus events stream — tests pass a sliced replay
    stream (multi-batch eviction pins) or the batch events table
    (withWatermark is a no-op on batch) so the delay/interval/aliases
    live ONLY here."""
    src = source if source is not None else events_stream(spark, sf_dir)
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", _WM_DELAY)
    )
    purchases = (
        (source if source is not None else events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", _WM_DELAY)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(_INTERVAL))
    )
    return views, purchases, cond


@query(
    "b23_stream_stream_join",
    oracle="""
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 6 HOUR
    """,
)
def b23_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views correlated to purchases by the
    same user within 6 hours, both sides watermarked 1 hour.  The
    watermark + interval predicate jointly bound the join state (each
    side evicts rows older than watermark − interval); with the whole
    corpus in one availableNow batch the inner join emits exactly the
    batch interval join's pairs — hash-checked."""
    views, purchases, cond = _watermarked_views_purchases(spark, sf_dir)
    joined = views.join(purchases, cond).select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id"
    )
    # inner emits on arrival; the trailing no-data batch would only
    # evict state availableNow is about to discard (see run_to_memory)
    return run_to_memory(
        joined,
        mode="append",
        no_data_batches=False,
        state_partitions=STREAM_STATE_PARTITIONS,
    )


@query(
    "b64_stream_stream_left_outer",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
               FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         -- NULL (→ no closures) unless BOTH streams have events:
         -- an empty side freezes Spark's MIN-policy watermark at
         -- epoch, and DuckDB's least() would otherwise IGNORE the
         -- NULL and close against the populated side alone
         wm AS (SELECT CASE WHEN (SELECT max(v_ts) FROM v) IS NOT NULL
                             AND (SELECT max(p_ts) FROM p) IS NOT NULL
                        THEN make_timestamp(least(
                               epoch_ms((SELECT max(v_ts) FROM v)),
                               epoch_ms((SELECT max(p_ts) FROM p))) * 1000)
                             - INTERVAL 1 HOUR
                        END AS w)
    SELECT v.user_id AS user_id, v.view_id AS view_id,
           CAST(p.purchase_id AS BIGINT) AS purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT)
    FROM v, wm
    WHERE v.v_ts + INTERVAL 6 HOUR < wm.w
      AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
                      AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR)
    """,
)
def b64_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics inner
    joins don't have: an unmatched view emits its null-padded row only
    once the WATERMARK proves no purchase can still arrive.

    EXACT-oracled (was rows-only): the emitted set IS a
    function of the data once the final-watermark rule is written
    down, and the rule was probed with boundary-planted synthetic
    corpora (±1 ms and sub-ms around the closure boundary, the
    probe-before-plant discipline) rather than assumed:

    - the final watermark is the MIN across BOTH watermarked streams
      (Spark's multipleWatermarkPolicy default), each computed as
      ms-FLOORED max event time minus the 1 h delay — a view at the
      global max does not close anything unless the purchase stream
      also reached it;
    - a null row emits iff v_ts + 6 h < that watermark, STRICTLY — a
      horizon exactly AT the watermark stays open (probed: the ==
      case is not emitted);
    - matched pairs emit on arrival and equal the batch interval join
      regardless of the watermark.

    The oracle mirrors exactly that: batch join ∪ {unmatched views
    with v_ts + 6h < ms_floor(min(max_v, max_p)) − 1h}.  Boundary
    cases are pinned standalone in tests/test_streaming.py."""
    views, purchases, cond = _watermarked_views_purchases(spark, sf_dir)
    joined = views.join(purchases, cond, "leftOuter").select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id"
    )
    return run_to_memory(
        joined, mode="append", state_partitions=STREAM_STATE_PARTITIONS
    )


@query(
    "b180_stream_stream_full_outer",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
               FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         -- NULL (→ no closures on EITHER side) unless BOTH streams
         -- have events: an empty side freezes Spark's MIN-policy
         -- watermark at epoch (the b64 guard, now load-bearing twice)
         wm AS (SELECT CASE WHEN (SELECT max(v_ts) FROM v) IS NOT NULL
                             AND (SELECT max(p_ts) FROM p) IS NOT NULL
                        THEN make_timestamp(least(
                               epoch_ms((SELECT max(v_ts) FROM v)),
                               epoch_ms((SELECT max(p_ts) FROM p))) * 1000)
                             - INTERVAL 1 HOUR
                        END AS w)
    SELECT v.user_id AS user_id, v.view_id AS view_id,
           CAST(p.purchase_id AS BIGINT) AS purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT)
    FROM v, wm
    WHERE v.v_ts + INTERVAL 6 HOUR < wm.w
      AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
                      AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR)
    UNION ALL
    SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id, p.purchase_id
    FROM p, wm
    WHERE p.p_ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
                      AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR)
    """,
)
def b180_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join
    matrix next to b23 (inner), b64 (left outer), b177 (semi): every
    matched pair emits on arrival, an unmatched VIEW emits its
    null-padded row once the watermark proves no purchase can still
    arrive, and an unmatched PURCHASE emits once no view can.

    Exact-oracled from birth by the b64 construction SYMMETRIZED, with
    the purchase-side closure rule PROBED, not assumed (a probe over a
    boundary corpus with ±1 ms / sub-ms / ==-boundary plants on both
    sides, pinned permanently in tests/test_streaming.py):

    - view side closes STRICTLY at the horizon: null iff
      v_ts + 6 h < wm (the == case stays open — b64's probed rule);
    - purchase side closes STRICTLY at the watermark itself: null iff
      p_ts < wm (a purchase exactly AT the watermark stays open) —
      the asymmetry vs the view side is the join condition's: a
      purchase can match views up to 6 h BEFORE it, so its state
      lifetime needs no horizon offset;
    - wm = ms-FLOORED min(max_v, max_p) − 1 h (MIN policy across both
      watermarked streams), NULL-guarded when either side is empty.

    100 TB: state on both sides is bounded jointly by the watermark
    and the interval (views evict at wm − 0 after their 6 h horizon,
    purchases at wm) — identical bound to b64; the full-outer shape
    adds no state, only the second eviction-time emission."""
    views, purchases, cond = _watermarked_views_purchases(spark, sf_dir)
    joined = views.join(purchases, cond, "fullOuter").select(
        F.coalesce("v_user", "p_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )
    return run_to_memory(
        joined, mode="append", state_partitions=STREAM_STATE_PARTITIONS
    )


@query(
    "b182_stream_stream_right_outer",
    oracle="""
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
               FROM events WHERE event_type = 'view'),
         p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase'),
         -- NULL (→ no closures) unless BOTH streams have events: an
         -- empty VIEW side still freezes Spark's MIN-policy watermark
         -- at epoch even though no view column is emitted (probed:
         -- purchases-only corpus emits nothing)
         wm AS (SELECT CASE WHEN (SELECT max(v_ts) FROM v) IS NOT NULL
                             AND (SELECT max(p_ts) FROM p) IS NOT NULL
                        THEN make_timestamp(least(
                               epoch_ms((SELECT max(v_ts) FROM v)),
                               epoch_ms((SELECT max(p_ts) FROM p))) * 1000)
                             - INTERVAL 1 HOUR
                        END AS w)
    SELECT v.user_id AS user_id, CAST(v.view_id AS BIGINT) AS view_id,
           p.purchase_id AS purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR
    UNION ALL
    SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id, p.purchase_id
    FROM p, wm
    WHERE p.p_ts < wm.w
      AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
                      AND p.p_ts BETWEEN v.v_ts AND v.v_ts + INTERVAL 6 HOUR)
    """,
)
def b182_stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER interval join — the last hole in the
    declared join matrix next to b23 (inner), b64
    (left outer), b177 (semi), b180 (full outer): matched pairs emit on
    arrival; an unmatched PURCHASE emits its null-view row once the
    watermark proves no view can still match it; unmatched views emit
    nothing.

    Exact-oracled from birth with the closure rule PROBED on this
    round's ±1 ms / sub-µs / ==-boundary corpus BEFORE the oracle was
    written (the b180 method, plants pinned in tests/test_streaming.py):

    - purchase side closes STRICTLY at the watermark: null-view iff
      p_ts < wm (a purchase exactly AT the watermark stays open) —
      identical to b180's purchase branch, confirmed unchanged under
      the rightOuter plan;
    - wm = ms-FLOORED min(max_v, max_p) − 1 h (MIN policy across both
      watermarked streams), NULL-guarded when either side is empty —
      probed: a purchases-only corpus emits NOTHING even though no
      view column would be needed, because the view stream's frozen
      epoch watermark holds the global minimum down.

    100 TB: state bound is b64's mirrored — purchases evict at wm,
    views at wm after their 6 h horizon; the outer shape adds only the
    eviction-time emission, no extra state."""
    views, purchases, cond = _watermarked_views_purchases(spark, sf_dir)
    joined = views.join(purchases, cond, "rightOuter").select(
        F.coalesce("v_user", "p_user").alias("user_id"),
        "view_id",
        "purchase_id",
    )
    return run_to_memory(
        joined, mode="append", state_partitions=STREAM_STATE_PARTITIONS
    )


@query(
    "b177_stream_semi_join",
    oracle="""
    SELECT v.event_id AS view_id, v.user_id AS user_id
    FROM events v
    WHERE v.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = v.user_id
          AND p.ts BETWEEN v.ts AND v.ts + INTERVAL 6 HOUR)
    """,
)
def b177_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI interval join — the remaining streaming
    join shape next to b23 (inner) and b64 (left outer): views that
    CONVERTED (≥1 purchase by the same user within 6 hours), each view
    emitted at most once, no purchase columns.  State is bounded
    exactly like the inner join's — watermark + interval predicate
    evict both buffers — but the OUTPUT has no watermark-closure
    dependence: a semi join emits on first match and emits nothing
    when the watermark closes an unmatched row, so with the whole
    corpus in one availableNow batch the emitted set equals the batch
    EXISTS semi join, and the query is full hash-checked (unlike b64,
    whose null-padded rows depend on the final watermark).

    At scale this is the conversion-funnel prefilter shape: the semi
    join's output is view-sized at worst and deduplicated in-state, so
    downstream attribution never sees the view×purchase fan-out."""
    views, purchases, cond = _watermarked_views_purchases(spark, sf_dir)
    joined = views.join(purchases, cond, "leftSemi").select(
        "view_id", F.col("v_user").alias("user_id")
    )
    # semi emits once on first match and NOTHING at watermark closure
    # (the property that makes it exact-oracled) — the same property
    # makes the trailing eviction-only batch skippable: measured ~50%
    # of wall time at sf0.1, byte-identical output
    return run_to_memory(
        joined,
        mode="append",
        no_data_batches=False,
        state_partitions=STREAM_STATE_PARTITIONS,
    )
