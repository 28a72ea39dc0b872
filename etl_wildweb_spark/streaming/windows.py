"""Streaming operators (SURVEY.md §2 B21-B24).

The reference's "stream" is a cron re-poll of a whole feed
(task.ts:50); the engine generalizes to real Structured Streaming:
tumbling/sliding/session windows, watermark-based late-data handling,
stateful dedup.  Batch/stream unification is Spark's core property —
the same window expressions run in both modes, which is exactly how the
oracle checks work here: the windowed aggregations are declared as
batch queries (hash-checked against DuckDB), and the *streaming* runs
of the same plans (availableNow over the parquet source → memory sink)
are asserted equal to the batch results in tests/test_streaming.py.

100 TB notes: streaming state (window aggs, dedup keys) lives in the
state store keyed by group — watermarks bound it; without a watermark
state grows forever.  ``dropDuplicatesWithinWatermark`` is the
at-scale dedup (state evicted after the horizon).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import davg, sql_davg
from ..io import local_frame, table
from ..registry import query


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalizing ``ts`` to a
    session-UTC TIMESTAMP exactly like the batch loader (io.table):
    int64-nanos corpora truncate ns→µs; NTZ-micros corpora cast."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    # file streams need a directory basePath; select the single file via glob
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def ephemeral_checkpoint_dir() -> str:
    """Checkpoint dir for the bounded MEMORY-SINK harness (guide §6 I/O
    layout): the sink is an in-driver table, so its
    checkpoint is exactly as ephemeral as the query — durability buys
    nothing, while the state store's per-partition delta commits are
    fsync-bound on a disk-backed /tmp.  Use a RAM-backed tmpfs when
    the platform has one (measured sf0.1 local[32], min-of-3:
    b180 5.19→3.38 s, b177 2.98→2.28 s, b182 3.55→3.21 s — identical
    output, it is the same state machine on a faster medium).  The
    dir is removed after the query terminates (the old /tmp dirs
    simply leaked).  Production sinks keep durable checkpoint storage
    — this helper is only reached by the dev/test harness; override
    the base with SPARK_GRAFT_CKPT_DIR (e.g. for a tmpfs-less host)."""
    base = os.environ.get("SPARK_GRAFT_CKPT_DIR")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix="ck_", dir=base)


def run_to_memory(
    stream_df: DataFrame,
    mode: str = "append",
    timeout_sec: int = 420,
    no_data_batches: bool = True,
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan with Trigger.AvailableNow into a memory
    sink and return the materialized result (bounded test/dev harness;
    production sinks are kafka/delta/foreachBatch).

    FAILS LOUDLY if the stream has not terminated inside
    ``timeout_sec``: awaitTermination(timeout) returns False on expiry
    with the query still running, and silently reading the memory table
    at that point hands the caller a PARTIAL result — observed under a
    hostile 200-shuffle-partition driver session, where a state-heavy
    run overran the old 120 s budget and the harness returned 100 of
    250 rows as if complete.

    ``state_partitions`` right-sizes the stateful shuffle for THIS
    query (spark.sql.shuffle.partitions, snapshotted into the query's
    cloned session at .start() exactly like the no-data flag below —
    set→start→restore): streaming state pays a PER-PARTITION fixed
    cost (each micro-batch commits a delta per state store instance;
    a stream-stream join carries FOUR stores per partition), so a
    session-parallelism partition count multiplies store commits far
    past the key cardinality at test scale — measured on b180 at
    sf0.1: 7.9 s at 32 partitions → 3.3 s at 8 → 3.3 s at 4,
    identical output (37,823 rows).  At 100 TB the knob goes the
    OTHER way: size it to state volume / key cardinality per
    deployment (state partitioning freezes at the first batch, so
    pick it before go-live); the queries below default it to
    joins.STREAM_STATE_PARTITIONS and document the sizing rule.

    ``no_data_batches=False`` skips the trailing NO-DATA finalization
    micro-batch (spark.sql.streaming.noDataMicroBatches.enabled) —
    callable ONLY by queries whose OUTPUT has no watermark-closure
    dependence: stream-stream INNER/SEMI joins and in-stream dedup
    emit on arrival, and the final batch's only work is state
    eviction, which is pointless when availableNow terminates right
    after (measured: the eviction-only batch was ~50% of
    b177's wall time — 8.2-8.6 s → 4.4 s steady with identical
    output).  NEVER pass False for append-mode aggregations or OUTER
    joins: their closed-window / null-padded rows are EMITTED by that
    batch.  In a production continuous stream the flag is about idle
    periods only — eviction piggybacks on the steady data-batch
    cadence either way."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(conf_key)
    parts_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(parts_key)
    if state_partitions is not None:
        # same snapshot-at-start scoping argument as the no-data flag
        spark.conf.set(parts_key, str(state_partitions))
    if not no_data_batches:
        # The flag is SNAPSHOTTED into the query's cloned session inside
        # .start() (probed, and pinned by
        # test_no_data_batches_conf_is_snapshotted_at_start: flipping it
        # right after start() does not affect the running query, in
        # either direction).  So the toggle scopes to THIS query by
        # restoring immediately after start() returns — already-running
        # queries are immune for the same reason, and the only residual
        # exposure is another THREAD calling start() inside the tiny
        # set→start window (the engine's harnesses run streaming queries
        # single-threaded per session).
        spark.conf.set(conf_key, "false")
    ck_dir = ephemeral_checkpoint_dir()
    # The checkpoint dir lives on tmpfs (RAM) by default, so
    # EVERY exit path must reclaim it — the old success-only cleanup let
    # timeout/start() failures accumulate tmpfs usage across runs.  The
    # memory sink's rows live in the driver, not the checkpoint, so the
    # terminated query's state dir is dead weight on any path.
    try:
        try:
            name = f"mem_{uuid.uuid4().hex[:12]}"
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ck_dir)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            if not no_data_batches:
                spark.conf.set(conf_key, prev)
            if state_partitions is not None:
                spark.conf.set(parts_key, prev_parts)
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            q.stop()
            raise TimeoutError(
                f"streaming query {name} still running after {timeout_sec}s; "
                "refusing to return a partial memory-sink table"
            )
        return spark.table(name)
    finally:
        shutil.rmtree(ck_dir, ignore_errors=True)


# ------------------------------------------------- batch-shape windows

@query(
    "b21_tumbling_window",
    oracle=f"""
    SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP) AS window_start,
           count(*) AS n_events,
           {sql_davg('value')} AS avg_value
    FROM events
    WHERE isfinite(value)
    GROUP BY 1
    """,
)
def b21_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21: 10-minute tumbling window aggregation.  Same expression runs
    under readStream (test_streaming.py asserts equality).  Non-finite
    readings are quarantined before the decimal cast
    (functions/exact.py::finite, mirrored WHERE)."""
    from ..functions.exact import finite

    e = table(spark, sf_dir, "events").filter(finite("value"))
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), davg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )


@query(
    "b21_sliding_window",
    oracle="""
    SELECT CAST(ws AS TIMESTAMP) AS window_start, count(*) AS n_events
    FROM (
        SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                       time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS ws,
               ts
        FROM events
    )
    GROUP BY 1
    """,
)
def b21_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B21: 10-minute window sliding by 5 — every event lands in two
    windows (the oracle materializes that membership explicitly)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@query(
    "b22_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 5 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS session_no
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_no
    """,
)
def b22_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B22: session windows with a 5-minute gap.  Spark's session_window
    merges events whose gap is <= 5 min — INCLUSIVE at exactly the gap
    (probed: an event landing precisely at the previous
    session's end extends it; +1 µs starts a new one; boundary plant in
    tests/test_streaming.py) — and the oracle reproduces that with the
    classic lag/cumulative-flag island construction, splitting only on
    strictly-greater gaps.  The µs-resolution corpus never produces an
    exact-gap pair, which is how an earlier strict-split oracle stayed
    green for so long."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


# ------------------------------------------------- true streaming ops

@query(
    "b23_watermark_tumbling",
    oracle="""
    WITH wm AS (SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
                       - INTERVAL 1 HOUR AS w
                FROM events)
    SELECT CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP)
             AS window_start,
           count(*) AS n_events
    FROM events, wm
    WHERE CAST(time_bucket(INTERVAL 10 MINUTE, ts) AS TIMESTAMP)
            + INTERVAL 10 MINUTE <= wm.w
    GROUP BY 1
    """,
)
def b23_watermark_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B23: tumbling count under a 1-hour watermark, executed as a real
    stream (availableNow) in append mode — only windows the final
    watermark has passed are emitted.

    EXACT-oracled (was rows-only): with the whole corpus
    in one batch the emitted set is {windows with end ≤ ms-floored
    max(ts) − 1h} — INCLUSIVE at the boundary, probed with a corpus
    whose watermark lands exactly on a window edge (a window ending
    exactly AT the watermark IS emitted; contrast b64's join closure,
    which is strict — the two stateful operators genuinely differ,
    which is why each rule was probed rather than assumed;
    tests/test_streaming.py plants both).  Counts are complete batch
    counts (everything arrives before finalization).  Empty-corpus
    guard: a NULL max(ts) nulls the oracle predicate, matching the
    stream's no-windows output."""
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        s.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    return run_to_memory(agg, mode="append")


@query(
    "b24_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def b24_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24: stateful streaming dedup on (user_id, event_type) via
    dropDuplicatesWithinWatermark — state is evicted once the watermark
    passes, so memory is bounded at any scale.

    EXACT-oracled (was rows-only as "arbitrary row
    pick"): the query projects ONLY the dedup keys, so no arbitrary
    pick survives into the output, and with the whole corpus in one
    availableNow batch no state eviction can happen between two
    occurrences of a key — the emitted set is exactly batch SELECT
    DISTINCT.  (In a multi-batch replay a key CAN legitimately emit
    twice once its horizon lapses — that semantics is what
    dropDuplicatesWithinWatermark trades for bounded state, and the
    single-batch harness sidesteps it; the b58/b126 family covers
    multi-batch state behavior.)"""
    s = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dedup = s.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    # dedup emits first occurrences on arrival; closure only evicts
    return run_to_memory(dedup, mode="append", no_data_batches=False)


@query("b179_stream_late_audit")  # engine-metric audit → rows-only
def b179_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-late-metrics audit: the
    b23 watermark pipeline instrumented with ``df.observe`` + the
    streaming engine's own per-batch state metrics, surfaced as a
    first-class result — one row per micro-batch with what arrived
    (observed count / min / max event time), the operative watermark,
    and what the watermark dropped or evicted.

    Replay harness: events staged as 4 disjoint time slices played
    NEWEST-FIRST (replay_order=[3,0,1,2] over _time_sliced_stream), so
    batch 0 advances the watermark to global max(ts) − 1h and every
    later slice arrives entirely behind it.  Measured semantics this
    pins (Spark 4.x):

    - late-event filtering uses the PREVIOUS batch's watermark (Spark's
      late-events/eviction watermark split), so batch 1's rows are
      admitted, aggregated, then bulk-EVICTED at batch end
      (windows_emitted), while batches 2+ are dropped at the state
      operator's input;
    - ``numRowsDroppedByWatermark`` counts the state operator's INPUT
      rows = pre-shuffle partial aggregates, i.e. DISTINCT windows per
      batch here (each slice is one file → one scan partition → one
      partial per window), not raw input rows.

    Both are replayed exactly in tests/test_streaming.py from the batch
    table.  Observed min/max event times come back second-truncated
    (progress JSON renders them without sub-second digits) — audit
    grade, documented rather than fought.

    100 TB: the audit costs nothing extra — observe() piggybacks on the
    one pass the stream already makes and the state metrics are emitted
    by the engine regardless; the result is O(micro-batches) driver
    rows.  This is the in-band answer to "how much data is my watermark
    silently discarding?" — the counter a production ingest pipeline
    alerts on (late spike ⇒ upstream clock skew or backfill misroute).
    """
    import shutil

    from .stateful import _time_sliced_stream

    stream, chunk_dir = _time_sliced_stream(
        spark, sf_dir, n_slices=4, replay_order=[3, 0, 1, 2]
    )
    # Precondition for the audited counts: the pinned
    # semantics "numRowsDroppedByWatermark == distinct windows per
    # slice" holds only while each staged slice is ONE scan partition —
    # one data file that does not split — so the state operator sees
    # exactly one partial aggregate per window.  A corpus large enough
    # to split a slice file would silently change the audited grain;
    # fail loudly here instead.  The split threshold is Spark's actual
    # FilePartition.maxSplitBytes for a single-file batch — NOT plain
    # maxPartitionBytes (with enough cores,
    # bytesPerCore shrinks the split size down to openCostInBytes, so
    # a file between openCost and maxPartitionBytes can still split):
    #   min(maxPartitionBytes, max(openCostInBytes,
    #       (size + openCost) / minPartitionNum))
    def _bytes_conf(key: str, default: str) -> int:
        s = spark.conf.get(key, default).strip().lower()
        for suf, mul in (
            ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
            ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("b", 1),
        ):
            if s.endswith(suf):
                return int(float(s[: -len(suf)]) * mul)
        return int(s)

    max_pb = _bytes_conf("spark.sql.files.maxPartitionBytes", "134217728b")
    open_cost = _bytes_conf("spark.sql.files.openCostInBytes", "4194304b")
    # Spark resolves minPartitionNum as filesMinPartitionNum
    # .getOrElse(leafNodeDefaultParallelism .getOrElse(
    # sparkContext.defaultParallelism)) — mirror the chain exactly
    min_pn = spark.conf.get("spark.sql.files.minPartitionNum", None) or (
        spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
    )
    min_pn = int(min_pn) if min_pn else spark.sparkContext.defaultParallelism
    for i in range(4):
        sdir = os.path.join(chunk_dir, f"s{i}")
        data = [f for f in os.listdir(sdir) if f.endswith(".parquet")]
        sizes = [os.path.getsize(os.path.join(sdir, f)) for f in data]
        split = min(
            max_pb, max(open_cost, (sizes[0] + open_cost) // max(1, min_pn))
        ) if len(data) == 1 else 0
        if len(data) != 1 or sizes[0] > split:
            shutil.rmtree(chunk_dir, ignore_errors=True)
            raise AssertionError(
                f"b179 audit precondition broken: slice s{i} staged as "
                f"{len(data)} files of sizes {sizes} vs maxSplitBytes "
                f"{split} (maxPartitionBytes {max_pb}, openCost "
                f"{open_cost}, minPartitionNum {min_pn}) — the "
                "one-partial-per-window grain no longer holds; shrink "
                "the corpus or raise maxPartitionBytes/openCostInBytes"
            )
    s = stream.observe(
        "late_audit",
        F.count(F.lit(1)).alias("obs_rows"),
        F.min("ts").alias("obs_min_ts"),
        F.max("ts").alias("obs_max_ts"),
    ).withWatermark("ts", "1 hour")
    agg = (
        s.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ck_dir = ephemeral_checkpoint_dir()
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(420):
            q.stop()
            raise TimeoutError("b179 stream still running after 420s")
    finally:
        # every other _time_sliced_stream caller rmtree's its staging
        # dir; the audit must too (otherwise each run leaves 4 staged
        # parquet copies of events in /tmp).  The checkpoint dir gets
        # the same treatment on every path, or it leaks a /tmp dir per
        # run.
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(ck_dir, ignore_errors=True)
    rows = []
    for p in q.recentProgress:  # bounded: one entry per micro-batch
        if p["numInputRows"] == 0:
            continue  # a trailing no-data commit batch is host-dependent
        om = (p.get("observedMetrics") or {}).get("late_audit")
        so = p["stateOperators"]
        rows.append(
            (
                int(p["batchId"]),
                int(p["numInputRows"]),
                str(om["obs_min_ts"]) if om is not None else None,
                str(om["obs_max_ts"]) if om is not None else None,
                str(p["eventTime"].get("watermark")),
                int(sum(x.get("numRowsDroppedByWatermark", 0) for x in so)),
                int(sum(x.get("numRowsRemoved", 0) for x in so)),
                int(sum(x.get("numRowsTotal", 0) for x in so)),
            )
        )
    out = local_frame(
        spark,
        rows,
        "batch_id BIGINT, input_rows BIGINT, obs_min_ts STRING, "
        "obs_max_ts STRING, watermark_raw STRING, "
        "late_windows_dropped BIGINT, windows_emitted BIGINT, "
        "state_windows BIGINT",
    )
    return out.select(
        "batch_id",
        "input_rows",
        F.to_timestamp("obs_min_ts").alias("first_event_ts"),
        F.to_timestamp("obs_max_ts").alias("last_event_ts"),
        F.to_timestamp("watermark_raw").alias("watermark"),
        "late_windows_dropped",
        "windows_emitted",
        "state_windows",
    ).orderBy("batch_id")


@query(
    "b111_stream_topk",
    oracle="""
    WITH c AS (
      SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
             event_type, count(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY window_start
                                       ORDER BY n DESC, event_type) AS rk
          FROM c)
    WHERE rk <= 3
    """,
)
def b111_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k — the streaming-dashboard staple: hourly event-
    type counts, top 3 per window with a deterministic tie-break.
    Ranking is NOT allowed inside a streaming aggregation, so the
    operator is structured the only way that works in both modes: the
    incrementalizable window COUNT runs first (streamable —
    tests/test_streaming.py runs exactly that half under availableNow
    and pins it to this batch plan), and the rank runs downstream over
    the window-sized count table (in production, per micro-batch via
    foreachBatch or over the sink table).

    Scale: the count is the only corpus-sized stage (one shuffle with
    map-side combine); the rank's window partitions by window_start
    over ≤ |windows|×|event_types| rows."""
    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    counts = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    rk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return counts.withColumn("rk", rk).filter(F.col("rk") <= 3)
