"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2 B24 extension; BASELINE north-star streaming surface).

When built-in windows can't express the semantics — cross-batch
running aggregates, custom eviction, per-key state machines — the
escape hatch is ``applyInPandasWithState``: per-key Arrow batches plus
an explicit state handle, exactly-once maintained by the state store.

100 TB notes: state lives in the state store partitioned by group key
(RocksDB provider in production — heap state OOMs at billions of
keys).  Input splits into micro-batches; each task sees only its
key-partition's rows, so state size per executor is bounded by key
cardinality ÷ shuffle partitions.  Use timeouts to evict idle keys in
unbounded-key domains — b24_custom_stateful accumulates forever (the
bounded-key demo), b126_state_timeout_eviction below is the
timeout-driven eviction pattern itself.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..io import table
from ..registry import query
from .windows import run_to_memory

OUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, max_value double"
STATE_SCHEMA = "cnt bigint, total double, vmax double"


def running_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum, max) across micro-batches.  Emits
    the updated running values once per batch the key appears in."""
    (user_id,) = key
    if state.exists:
        cnt, total, vmax = state.get
    else:
        cnt, total, vmax = 0, 0.0, float("-inf")
    for pdf in pdfs:
        cnt += len(pdf)
        total += float(pdf["value"].sum())
        vmax = max(vmax, float(pdf["value"].max()))
    state.update((cnt, total, vmax))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [cnt],
            "total_value": [total],
            "max_value": [vmax],
        }
    )


def _chunked_events_stream(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> tuple[DataFrame, str]:
    """Stage the events table as ``n_chunks`` parquet files and read
    them back one file per micro-batch — forcing true cross-batch state
    maintenance (a single-batch run would never exercise state.get)."""
    chunk_dir = tempfile.mkdtemp(prefix="events_chunks_")
    e = table(spark, sf_dir, "events")
    e.repartition(n_chunks).write.mode("overwrite").parquet(chunk_dir)
    schema = spark.read.parquet(chunk_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    return stream, chunk_dir


@query("b24_custom_stateful")  # cross-batch state machine → rows-only
def b24_custom_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user stats maintained across 4 micro-batches with
    applyInPandasWithState (update mode).  The final emission per user
    equals the batch groupBy aggregate — asserted in
    tests/test_streaming.py (cross-batch state correctness)."""
    stream, chunk_dir = _chunked_events_stream(spark, sf_dir)
    try:
        updates = stream.groupBy("user_id").applyInPandasWithState(
            running_user_stats,
            OUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        out = run_to_memory(updates, mode="update")
        # keep only each user's final (max-count) emission
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


# ---------------------------------------------- transformWithState (Spark 4)

class UserStatsProcessor:
    """Spark 4 ``StatefulProcessor``: the running_user_stats state
    machine re-expressed on the transformWithState API — typed
    ValueState instead of a packed tuple, explicit handle lifecycle,
    and room for timers/TTL that applyInPandasWithState never had.

    100 TB notes: identical state-store layout to the legacy API (state
    partitioned by group key, RocksDB provider in production), but
    transformWithState adds per-state TTL and multiple named state
    variables per key — eviction policy becomes declarative instead of
    hand-rolled timeout handling."""

    def init(self, handle) -> None:
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        self._stats = handle.getValueState(
            "stats",
            StructType(
                [
                    StructField("cnt", LongType()),
                    StructField("total", DoubleType()),
                    StructField("vmax", DoubleType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues) -> "Iterator[pd.DataFrame]":
        cnt, total, vmax = (
            self._stats.get() if self._stats.exists() else (0, 0.0, float("-inf"))
        )
        for pdf in rows:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
            vmax = max(vmax, float(pdf["value"].max()))
        self._stats.update((cnt, total, vmax))
        (user_id,) = key
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [cnt],
                "total_value": [total],
                "max_value": [vmax],
            }
        )

    def close(self) -> None:
        pass


# StatefulProcessor is an ABC; subclass lazily so import of this module
# never requires the streaming-state machinery at interpreter start.
def _processor():
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    return type("_UserStats", (UserStatsProcessor, StatefulProcessor), {})()


def tws_available() -> bool:
    """transformWithStateInPandas runs a protobuf-speaking state-server
    worker; this container ships a broken google.protobuf, so the
    operator is import-gated (environment rule: gate, don't crash).
    On a normal Spark 4 cluster this returns True and the query
    registers."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def b24_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The b24_custom_stateful semantics on Spark 4's
    transformWithStateInPandas.  Final emission per user must equal the
    batch groupBy aggregate AND the legacy applyInPandasWithState
    output — both asserted in tests/test_streaming.py, which pins the
    two stateful APIs to each other (skipped where the protobuf
    dependency is unavailable)."""
    stream, chunk_dir = _chunked_events_stream(spark, sf_dir)
    try:
        updates = stream.groupBy("user_id").transformWithStateInPandas(
            _processor(),
            OUT_SCHEMA,
            "Update",
            "None",
        )
        out = run_to_memory(updates, mode="update")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


if tws_available():  # pragma: no cover - gated on container deps
    b24_transform_with_state = query("b24_transform_with_state")(
        b24_transform_with_state
    )


# ------------------------------------------------- streaming funnel (CEP)

FUNNEL_OUT = "user_id bigint, stage int, reached_us bigint, seq int"
FUNNEL_STATE = (
    "t1 bigint, clicks array<bigint>, purchases array<bigint>, seq int"
)


def funnel_progress(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user funnel (view → click → purchase, each strictly after
    the previous stage's entry) — OUT-OF-ORDER-SAFE via candidate
    retention, the b64_stream_stream_left_outer pattern applied to
    CEP: instead of a forward-only stage counter (which silently
    misses conversions when a micro-batch replays earlier event time),
    state keeps enough candidates to re-derive the batch answer under
    any arrival order:

      t1        = min view ts seen so far (only the min matters; it
                  is monotone non-increasing),
      clicks    = click ts candidates ≤ current t2 (a click above the
                  current t2 = min click > t1 can never become the
                  min later, because t1 — hence t2 — only decreases),
      purchases = purchase ts candidates ≤ current t3 (same argument
                  one stage down).

    Each batch appends its events, re-derives (t2, t3) from the
    retained candidates, prunes, and emits the current (stage,
    reached_us, seq).  The emitted stage is monotone non-decreasing —
    more data can only unlock stages — so the final emission (max
    seq) equals the batch funnel regardless of slice order; pinned in
    tests/test_streaming.py for both in-order AND shuffled replay.

    100 TB notes: retention is bounded by the answer, not the stream —
    once a stage converts, its candidate list holds only ts ≤ the
    current stage entry (in practice a handful); pre-conversion lists
    are the watermark's job in production (evict candidates older
    than the horizon, exactly like any streaming MATCH_RECOGNIZE /
    interval join's state TTL)."""
    (user_id,) = key
    if state.exists:
        t1, clicks, purchases, seq = state.get
        t1 = None if t1 is None or t1 < 0 else int(t1)
        clicks = [int(c) for c in (clicks or [])]
        purchases = [int(p) for p in (purchases or [])]
    else:
        t1, clicks, purchases, seq = None, [], [], 0
    batch = pd.concat(list(pdfs), ignore_index=True)
    for ts, etype in zip(batch["ts"], batch["event_type"]):
        ts_us = int(pd.Timestamp(ts).value // 1000)
        if etype == "view":
            t1 = ts_us if t1 is None else min(t1, ts_us)
        elif etype == "click":
            clicks.append(ts_us)
        elif etype == "purchase":
            purchases.append(ts_us)
    t2 = min((c for c in clicks if t1 is not None and c > t1), default=None)
    if t2 is not None:
        clicks = [c for c in clicks if c <= t2]
    t3 = min((p for p in purchases if t2 is not None and p > t2), default=None)
    if t3 is not None:
        purchases = [p for p in purchases if p <= t3]
    stage = 3 if t3 is not None else 2 if t2 is not None else (
        1 if t1 is not None else 0
    )
    reached = t3 if t3 is not None else t2 if t2 is not None else (
        t1 if t1 is not None else -1
    )
    seq += 1
    state.update((t1 if t1 is not None else -1, clicks, purchases, seq))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "stage": [stage],
            "reached_us": [reached],
            "seq": [seq],
        }
    )


def _time_sliced_stream(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 4,
    replay_order: list[int] | None = None,
) -> tuple[DataFrame, str]:
    """Stage events as ``n_slices`` DISJOINT TIME RANGES and replay
    them one micro-batch per slice in ``replay_order`` (default: time
    order).  FileStreamSource picks up files by modification time, so
    after writing we ``os.utime`` each slice's files with strictly
    increasing timestamps in the requested replay order — coarse-mtime
    filesystems would otherwise let two slices tie and replay
    nondeterministically.  The funnel state machine no longer NEEDS
    in-order replay (candidate retention handles any order); the
    explicit ordering keeps the replay itself deterministic, and lets
    tests force an out-of-order replay on purpose.

    The per-slice ``coalesce(1)`` is part of this HARNESS's contract —
    one file per slice ⇒ one micro-batch per slice, which is the unit
    the replay-order knob permutes.  It is not a backfill pattern: a
    production restatement writes slices partition-parallel (b108's
    dynamic partition overwrite is that path) and lets the source's
    own trigger batching group files."""
    import os

    from pyspark.sql import functions as F

    chunk_dir = tempfile.mkdtemp(prefix="events_slices_")
    e = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    bounds = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    lo, hi = bounds[0], bounds[1]
    span = (hi - lo) / n_slices
    for i in range(n_slices):
        a = lo + span * i
        b = hi if i == n_slices - 1 else lo + span * (i + 1)
        cond = (F.col("ts") >= F.lit(a)) & (
            F.col("ts") <= F.lit(b) if i == n_slices - 1 else F.col("ts") < F.lit(b)
        )
        e.filter(cond).coalesce(1).write.parquet(os.path.join(chunk_dir, f"s{i}"))
    base = 1_000_000_000  # well-past epoch, far below real mtimes' future
    for pos, i in enumerate(replay_order or range(n_slices)):
        sdir = os.path.join(chunk_dir, f"s{i}")
        for f in os.listdir(sdir):
            t = base + pos * 60
            os.utime(os.path.join(sdir, f), (t, t))
    schema = e.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )
    return stream, chunk_dir


@query(
    "b58_stream_funnel",
    # EXACT-oracled (was rows-only): the final per-user
    # emission is all-integer and candidate retention makes it a pure
    # function of the data — the min-time funnel (t1 = min view,
    # t2 = min click > t1, t3 = min purchase > t2), stage = depth,
    # reached_us = deepest stage's entry (µs), -1 when stage 0.
    # Every user with ≥1 event of any type appears (update-mode state
    # runs per appearing group).
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (SELECT user_id, min(epoch_us(ts)) AS t1
          FROM events WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
           AND epoch_us(e.ts) > v.t1
          WHERE e.event_type = 'click' GROUP BY 1),
    p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
           AND epoch_us(e.ts) > c.t2
          WHERE e.event_type = 'purchase' GROUP BY 1)
    SELECT u.user_id,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     WHEN v.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage,
           CAST(COALESCE(p.t3, c.t2, v.t1, -1) AS BIGINT) AS reached_us
    FROM u
    LEFT JOIN v USING (user_id)
    LEFT JOIN c USING (user_id)
    LEFT JOIN p USING (user_id)
    """,
)
def b58_stream_funnel(
    spark: SparkSession, sf_dir: str, replay_order: list[int] | None = None
) -> DataFrame:
    """The b47_funnel semantics maintained INCREMENTALLY: per-user
    funnel progress advanced across 4 micro-batches via
    applyInPandasWithState with out-of-order-safe candidate retention
    (see funnel_progress) — the final per-user stage distribution
    equals the batch funnel's reach counts under in-order AND
    shuffled slice replay (both pinned in tests/test_streaming.py).
    This is streaming CEP's production shape: per-key candidate state
    + latest-emission finalization; at 100 TB state is a few longs
    per user in the RocksDB store, watermark-evicted."""
    stream, chunk_dir = _time_sliced_stream(spark, sf_dir, replay_order=replay_order)
    try:
        updates = stream.groupBy("user_id").applyInPandasWithState(
            funnel_progress,
            FUNNEL_OUT,
            FUNNEL_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        out = run_to_memory(updates, mode="update")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        # The last emission (max seq) reflects all retained candidates.
        w = W.partitionBy("user_id").orderBy(F.desc("seq"))
        return (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn", "seq")
        )
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


# ------------------------------------- custom stateful sessionization

SESS_OUT = "user_id bigint, session_start_us bigint, n_events bigint, seq int"
SESS_STATE = (
    "starts array<bigint>, ends array<bigint>, counts array<bigint>, seq int"
)
#: Same 5-minute gap as b22_session_window.  INCLUSIVE at exactly the
#: gap: Spark's session_window extends a session for an event landing
#: precisely at its end (probed with a boundary plant in
#: tests/test_streaming.py) — so the custom fold merges on <= and the
#: oracle splits only on strictly-greater gaps, or the
#: snapshot==session_window invariant breaks on exact-gap corpora.
_SESS_GAP_US = 5 * 60 * 1_000_000


def sessionize_progress(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user SESSIONIZATION as custom state: open/merged sessions
    kept as (start, end, count) interval triples; each batch folds its
    events in as unit intervals and re-runs the gap-merge — an
    order-independent fold (the merge of a sorted interval multiset),
    so the final per-user snapshot equals the batch session_window
    result under ANY arrival order (the b58 candidate-retention
    argument applied to interval state).  Emits the full current
    session set per invocation tagged with seq; the registered query
    keeps each user's final snapshot.

    100 TB notes: state per user is its OPEN session tail plus any
    sessions the watermark hasn't closed; production evicts closed
    sessions (end + gap < watermark) on each invocation and emits them
    append-only — the state then holds at most one open session per
    user, which is exactly Spark's own session_window state layout."""
    (user_id,) = key
    if state.exists:
        starts, ends, counts, seq = state.get
        sess = sorted(
            zip(
                [int(s) for s in (starts or [])],
                [int(e) for e in (ends or [])],
                [int(c) for c in (counts or [])],
            )
        )
    else:
        sess, seq = [], 0
    items = list(sess)
    for pdf in pdfs:
        items.extend(
            (int(pd.Timestamp(t).value // 1000),) * 2 + (1,)
            for t in pdf["ts"]
        )
    items.sort()
    merged: list[tuple[int, int, int]] = []
    for s, e, c in items:
        if merged and s - merged[-1][1] <= _SESS_GAP_US:
            ps, pe, pc = merged[-1]
            merged[-1] = (ps, max(pe, e), pc + c)
        else:
            merged.append((s, e, c))
    seq += 1
    state.update(
        (
            [m[0] for m in merged],
            [m[1] for m in merged],
            [m[2] for m in merged],
            seq,
        )
    )
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(merged),
            "session_start_us": [m[0] for m in merged],
            "n_events": [m[2] for m in merged],
            "seq": [seq] * len(merged),
        }
    )


@query(
    "b72_stateful_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), grp AS (
        SELECT user_id, ts,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS g
        FROM marked
    )
    SELECT user_id, CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           count(*) AS n_events
    FROM grp GROUP BY user_id, g
    """,
)
def b72_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B24 extension: sessionization re-built on applyInPandasWithState
    interval state and pinned EXACTLY (full set equality, not a
    watermark subset) to the built-in session_window aggregation in
    tests/test_streaming.py — the strongest batch/stream unification
    claim in the suite, and the template for session semantics Spark's
    built-in can't express (per-session caps, inactivity policies,
    carried payloads).

    EXACT-oracled (was rows-only): the output is
    all-integer (µs session starts, counts), the interval gap-merge is
    an order-independent fold, and the final per-user snapshot is the
    complete session set — so the emitted rows are a pure function of
    the data (the classic lag/island construction, b22's oracle with
    µs output).  Break condition mirrored exactly: a new session
    starts only when ts − prev > 5 min — INCLUSIVE at exactly the gap,
    matching session_window's probed rule (the fold merges on <=;
    boundary plant in tests/test_streaming.py)."""
    stream, chunk_dir = _chunked_events_stream(spark, sf_dir)
    try:
        updates = stream.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
            sessionize_progress,
            SESS_OUT,
            SESS_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
        out = run_to_memory(updates, mode="update")
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        w = W.partitionBy("user_id")
        return (
            out.withColumn("mx", F.max("seq").over(w))
            .filter(F.col("seq") == F.col("mx"))
            .select("user_id", "session_start_us", "n_events")
        )
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)


@query(
    "b83_checkpoint_recovery",
    # EXACT-oracled (was rows-only): the recovery
    # contract is "final snapshot bit-identical to the one-shot batch
    # aggregate" — the b67 oracle verbatim, now checked by the driver
    # and not only by pytest.  Same finite quarantine as b67.
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             AS total_micro
    FROM events WHERE isfinite(value) GROUP BY 1
    """,
)
def b83_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE RECOVERY across a query restart: the incremental
    materialized view (b67's partial-agg merge) is driven over the
    events corpus in TWO separate query lifetimes sharing one
    checkpoint — half the source files exist for the first run, the
    rest are added and a NEW query object resumes from the same
    checkpoint.  The resumed query continues batch numbering from the
    committed offsets, each merge reads its own predecessor snapshot
    version, and the final snapshot must be bit-identical to the
    one-shot batch aggregate — asserted in tests/test_streaming.py,
    which also pins the crash-REPLAY case (re-running a batch id is
    idempotent because v{B}→v{B+1} versioned writes never read their
    own output).

    This is the 100 TB operational story: a nightly ingest that dies
    mid-run resumes without double-counting, because progress lives in
    the checkpoint's committed offsets and the snapshot merge is
    keyed to batch ids, not wall clock."""
    import os as _os

    from ..operators.merge import read_scd1_snapshot, stream_incremental_agg

    from ..functions.exact import finite

    e = (
        table(spark, sf_dir, "events")
        .select("event_type", "value")
        .filter(finite("value"))  # quarantine before the DECIMAL cast
    )
    chunk_dir = tempfile.mkdtemp(prefix="ckrec_src_")
    snap_dir = tempfile.mkdtemp(prefix="ckrec_snap_")
    hold_dir = tempfile.mkdtemp(prefix="ckrec_hold_")
    try:
        # phase 1: only the first half of the corpus exists
        chunks = e.repartition(4)
        chunks.write.mode("overwrite").parquet(chunk_dir)
        files = sorted(
            f for f in _os.listdir(chunk_dir) if f.endswith(".parquet")
        )
        held_back = files[2:]
        for f in held_back:
            _os.rename(
                _os.path.join(chunk_dir, f), _os.path.join(hold_dir, f)
            )
        schema = spark.read.parquet(chunk_dir).schema

        def start():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(chunk_dir)
            )
            return stream_incremental_agg(
                stream, ["event_type"], "value", snap_dir
            )

        q1 = start()
        q1.awaitTermination(300)  # availableNow: drains phase-1 files

        # phase 2: the "crash" is over — restore the held-back files
        # and resume a brand-new query from the same checkpoint
        for f in held_back:
            _os.rename(
                _os.path.join(hold_dir, f), _os.path.join(chunk_dir, f)
            )
        q2 = start()
        q2.awaitTermination(300)

        from pyspark.sql import functions as F

        out = read_scd1_snapshot(spark, snap_dir).select(
            "event_type",
            "n",
            # integer micro-units like b67 — DECIMAL output is
            # hash-unstable through the driver's pandas path
            (F.col("total") * 1_000_000).cast("bigint").alias("total_micro"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
        shutil.rmtree(snap_dir, ignore_errors=True)
        shutil.rmtree(hold_dir, ignore_errors=True)


# ------------------------------------------- timeout-driven eviction

EVICT_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, first_us bigint, last_us bigint"
)
EVICT_STATE_SCHEMA = "n bigint, first_us bigint, last_us bigint"


def quiet_key_sessions(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user activity runs finalized by PROCESSING-TIME TIMEOUT: a
    key accumulates (count, first_us, last_us) while batches keep
    bringing it data; the first batch in which it is silent fires the
    timeout, emits the finished run, and REMOVES the state — the idle-
    key eviction pattern that keeps unbounded key domains from growing
    state forever (the stateful.py header's declared gap, now
    load-bearing)."""
    (user_id,) = key
    if state.hasTimedOut:
        n, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.array([user_id], dtype="int64"),
                "n_events": pd.array([n], dtype="int64"),
                "first_us": pd.array([first_us], dtype="int64"),
                "last_us": pd.array([last_us], dtype="int64"),
            }
        )
        return
    if state.exists:
        n, first_us, last_us = state.get
    else:
        n, first_us, last_us = 0, None, None
    for pdf in pdfs:
        us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        n += len(pdf)
        lo, hi = int(us.min()), int(us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, first_us, last_us))
    # any real inter-batch gap exceeds 1 ms of processing time, so the
    # NEXT batch without data for this key fires the timeout
    state.setTimeoutDuration(1)


#: b126's batch-membership rule: user u has data in batch i iff
#: (u + i) % 3 != 0 — every user is ABSENT in some mid-stream batch
#: (two runs for u%3∈{1,2}, one for u%3==0), so timeout-driven
#: eviction genuinely fires mid-stream, not only at end-of-stream.
N_EVICT_BATCHES = 4


def evict_member(user_id: int, batch: int) -> bool:
    return (user_id + batch) % 3 != 0


def _membership_chunk_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, str]:
    """Stage one file per batch where batch i holds the FULL event set
    of every member user (evict_member rule) — known run structure for
    every key.  File mtimes strictly increase in batch order (the
    _time_sliced_stream mtime-pinning trick) so FileStreamSource's
    (modTime, path) order — and therefore the run decomposition — is
    reproducible."""
    import os

    from pyspark.sql import functions as F

    chunk_dir = tempfile.mkdtemp(prefix="events_evict_")
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    base = 1_000_000_000
    for i in range(N_EVICT_BATCHES):
        sub = e.filter((F.col("user_id") + i) % 3 != 0)
        # one file per batch: the staging-harness contract (see
        # _time_sliced_stream) — one file ⇒ one micro-batch
        sdir = os.path.join(chunk_dir, f"b{i}")
        sub.coalesce(1).write.parquet(sdir)
        t = base + i * 60
        for f in os.listdir(sdir):
            os.utime(os.path.join(sdir, f), (t, t))
    schema = e.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )
    return stream, chunk_dir


def _run_until_quiescent(
    stream_df: DataFrame, timeout_sec: int = 420
) -> DataFrame:
    """Harness for ProcessingTimeTimeout streams: Trigger.AvailableNow
    never terminates one on its own — after the data is exhausted the
    engine keeps scheduling empty batches as long as any processing-
    time wakeup could fire (observed: 300+ empty state-store versions).
    All pending timeouts fire in the FIRST empty batch (every key's
    1 ms horizon has long passed), so the sink is complete and stable
    once ≥2 zero-input batches have committed; poll for that state,
    then stop the query and return the table.  Raises if quiescence is
    not reached inside ``timeout_sec`` — never returns a partial
    table silently."""
    import time
    import uuid as _uuid

    name = f"mem_{_uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_"))
        .trigger(availableNow=True)
        .start()
    )
    spark = stream_df.sparkSession
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if not q.isActive:  # terminated on its own — done
                return spark.table(name)
            empty_batches = sum(
                1
                for p in q.recentProgress
                if p is not None and getattr(p, "numInputRows", 0) == 0
            )
            if empty_batches >= 2:
                return spark.table(name)
            time.sleep(0.5)
        raise TimeoutError(
            f"ProcessingTimeTimeout stream {name} not quiescent after "
            f"{timeout_sec}s; refusing to return a partial table"
        )
    finally:
        if q.isActive:
            q.stop()


@query("b126_state_timeout_eviction")  # timeout semantics → rows-only
def b126_state_timeout_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idle-key EVICTION via GroupStateTimeout.ProcessingTimeTimeout:
    users accumulate per-run stats across micro-batches and are
    emitted+evicted by the first batch in which they are silent.
    Output rows are finished activity runs — one per (user, maximal
    run of consecutive batches with data under the evict_member rule);
    trailing runs are finalized by the no-data cleanup batch
    Trigger.AvailableNow executes before terminating.
    tests/test_streaming.py recomputes the run decomposition from the
    membership rule and proves the emitted multiset equals it exactly
    — including the MID-STREAM evictions, not just end-of-stream.

    Scale: this is THE pattern for unbounded key domains (session keys,
    request ids): without timeouts state grows monotonically; with
    them, state size tracks the number of concurrently-active keys.
    State store partitioning/provider notes in the module header
    apply."""
    stream, chunk_dir = _membership_chunk_stream(spark, sf_dir)
    try:
        runs = stream.groupBy("user_id").applyInPandasWithState(
            quiet_key_sessions,
            EVICT_OUT_SCHEMA,
            EVICT_STATE_SCHEMA,
            "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
        out = _run_until_quiescent(runs)
        # materialize before the staging dir disappears
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(chunk_dir, ignore_errors=True)
