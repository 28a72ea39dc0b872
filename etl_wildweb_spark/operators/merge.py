"""MERGE / upsert — Delta-style ``MERGE INTO`` semantics composed from
Spark built-ins (SURVEY.md §2 extension; the reference has no storage
layer at all — its downstream TAK server performs the equivalent upsert
keyed on the stable feature id the pipeline synthesizes, task.ts:127 —
so this operator supplies the engine-side half of that contract).

Semantics implemented (SCD type 1):

  WHEN MATCHED THEN UPDATE SET *   -- change rows win over snapshot rows
  WHEN NOT MATCHED THEN INSERT *

Shape: tag both sides with a precedence rank, union, keep the top-ranked
row per key.  One hash shuffle on the merge key — the same exchange an
actual MERGE pays for its join.  At 100 TB:

  * snapshot and changes bucketed on the key ⇒ the union + per-key pick
    is exchange-free (bucket-local), which is how iceberg/delta-style
    compaction jobs keep nightly merges off the shuffle service;
  * a small change batch can instead broadcast into a left join
    (``coalesce(change.col, snap.col)``), touching no snapshot exchange;
  * the per-key pick uses max_by on the precedence rank — a partial
    aggregate, not a window — so the map side combines before the
    exchange and no per-key sort materializes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..io import table
from ..registry import query

#: Deterministic synthetic change batch (both engines derive the same
#: rows from the snapshot itself, so the merge is exactly
#: oracle-checkable): every 10th order gets a status update + a price
#: bump; every 97th order spawns a brand-new row keyed above the
#: existing key space.
_UPD_MOD = 10
_INS_MOD = 97
_INS_OFFSET = 1_000_000_000

#: Both b38 strategies implement the same MERGE, so they share one
#: oracle: the change batch derived as in _b38_changes, changes-win.
_B38_ORACLE = f"""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             o_totalprice + 100.0 AS o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % {_UPD_MOD} = 0
      UNION ALL
      SELECT o_orderkey + {_INS_OFFSET}, o_custkey, 'N',
             o_totalprice, o_orderdate, 'NEW'
      FROM orders WHERE o_orderkey % {_INS_MOD} = 0),
    merged AS (
      SELECT *, 1 AS _rank FROM changes
      UNION ALL
      SELECT *, 0 AS _rank FROM orders)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM merged
    QUALIFY row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY _rank DESC) = 1
    """


def _b38_changes(o: DataFrame) -> DataFrame:
    """The change batch the constants above describe, derived from the
    orders snapshot ``o``."""
    updates = o.filter(F.col("o_orderkey") % _UPD_MOD == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = o.filter(F.col("o_orderkey") % _INS_MOD == 0).select(
        (F.col("o_orderkey") + _INS_OFFSET).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        F.lit("NEW").alias("o_orderpriority"),
    )
    return updates.unionByName(inserts)


def merge_upsert(snapshot: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Generic SCD-1 merge: rows of ``changes`` replace same-key rows of
    ``snapshot``; unmatched change rows are inserts.  Columns must be
    union-compatible by name."""
    tagged = changes.withColumn("_rank", F.lit(1)).unionByName(
        snapshot.withColumn("_rank", F.lit(0))
    )
    payload = [c for c in tagged.columns if c not in (key, "_rank")]
    picked = tagged.groupBy(key).agg(
        F.max_by(F.struct(*payload), F.col("_rank")).alias("_row")
    )
    return picked.select(key, *[F.col(f"_row.{c}").alias(c) for c in payload])


@query("b38_merge_upsert", oracle=_B38_ORACLE)
def b38_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 MERGE over orders: a derived change batch (status+price
    updates for every 10th key, fresh inserts above the key space for
    every 97th) applied with changes-win precedence.  Result cardinality
    = |snapshot| + |inserts|; updated rows carry the changed values
    (asserted in tests/test_merge.py along with update/insert counts)."""
    o = table(spark, sf_dir, "orders")
    return merge_upsert(o, _b38_changes(o), "o_orderkey")


def merge_upsert_broadcast(
    snapshot: DataFrame, changes: DataFrame, key: str
) -> DataFrame:
    """The small-change-batch MERGE path the module docstring promises:
    when ``changes`` fits in a broadcast, apply the merge WITHOUT ever
    exchanging the snapshot —

      updates: snapshot LEFT JOIN broadcast(changes), change columns
               win via coalesce (a map-side join, snapshot streamed);
      inserts: matched keys = snapshot ⋈ broadcast(change keys) (small
               output), then changes ANTI broadcast(matched) — both
               broadcast joins over tiny sides.

    Two snapshot scans, ZERO snapshot shuffles (plan-asserted in
    tests/test_plans.py) — vs merge_upsert's one full hash exchange of
    snapshot+changes.  At 100 TB the nightly trickle-merge (thousands
    of changed rows against billions) takes this path; the bucketed
    union path takes over when the change batch itself is large.
    Requires unique keys in ``changes`` (same contract as MERGE)."""
    payload = [c for c in snapshot.columns if c != key]
    ch_ren = changes.select(
        key, *[F.col(c).alias(f"_c_{c}") for c in payload]
    )
    updated = snapshot.join(F.broadcast(ch_ren), key, "left").select(
        key,
        *[F.coalesce(F.col(f"_c_{c}"), F.col(c)).alias(c) for c in payload],
    )
    matched = snapshot.select(key).join(
        F.broadcast(changes.select(key)), key, "inner"
    )
    inserts = changes.join(F.broadcast(matched), key, "left_anti")
    return updated.unionByName(inserts.select(key, *payload))


@query("b38_merge_upsert_broadcast", oracle=_B38_ORACLE)
def b38_merge_upsert_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b38_merge_upsert's exact semantics (same oracle) on the
    broadcast plan — proof the two physical strategies agree, which is
    the invariant that lets a planner pick by change-batch size."""
    o = table(spark, sf_dir, "orders")
    return merge_upsert_broadcast(o, _b38_changes(o), "o_orderkey")


def stream_scd1_snapshot(
    stream: DataFrame, key: str, order_cols: list[str], snap_dir: str
):
    """Continuous SCD-1: maintain a latest-row-per-key parquet snapshot
    from a stream via foreachBatch — the streaming half of the MERGE
    story (micro-batch upsert, the pattern behind every bronze→silver
    compaction job).

    Each batch unions with the previous snapshot VERSION and keeps the
    max_by row per key ordered by ``order_cols`` — order-independent
    across batches, so retried/replayed micro-batches converge to the
    same snapshot (idempotent under at-least-once delivery).  Versioned
    directories (v0, v1, ...) sidestep the read-then-overwrite-same-
    path hazard; production would swap a table pointer or use a
    transactional table format the same way.

    Scale: per batch, one hash exchange on the key over
    |batch| + |snapshot| rows; max_by is a partial aggregate (no per-key
    sort).  A bucketed snapshot makes the nightly variant exchange-free
    (see module docstring).  Returns a started StreamingQuery."""
    import os as _os

    spark = stream.sparkSession

    def upsert(batch: DataFrame, batch_id: int) -> None:
        prev = _os.path.join(snap_dir, f"v{batch_id}")
        cur = _os.path.join(snap_dir, f"v{batch_id + 1}")
        merged = batch
        if _os.path.exists(prev):
            merged = batch.unionByName(spark.read.parquet(prev))
        cols = [c for c in merged.columns if c != key]
        latest = merged.groupBy(key).agg(
            F.max_by(F.struct(*cols), F.struct(*order_cols)).alias("_r")
        )
        latest.select(key, *[f"_r.{c}" for c in cols]).write.mode(
            "overwrite"
        ).parquet(cur)

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", _os.path.join(snap_dir, "_ck"))
        .trigger(availableNow=True)
        .start()
    )


def stream_incremental_agg(
    stream: DataFrame,
    keys: list[str],
    value_col: str,
    snap_dir: str,
):
    """Incremental MATERIALIZED-VIEW maintenance: keep a grouped
    aggregate (count + exact DECIMAL sum per key) up to date as data
    streams in, merging each micro-batch's PARTIAL aggregate into the
    snapshot instead of recomputing from scratch — the core move of
    every warehouse's incremental view refresh, valid because count and
    sum are associative/commutative merges.

    The per-batch cost is |batch| + |distinct keys| (read previous
    snapshot, union, re-aggregate) — independent of total history size,
    which is the entire point at 100 TB: refreshing a corpus-wide
    aggregate costs the delta, not the corpus.  Sums go through exact
    DECIMAL — inputs read at (18,6), the snapshot total held at
    (38,6) so the running sum can never overflow into a silent NULL —
    making the merged total bit-identical to a one-shot batch
    aggregate regardless of batch boundaries (the functions/exact.py
    argument applied to state merging).  Versioned dirs as in
    stream_scd1_snapshot."""
    import os as _os

    return (
        stream.writeStream.foreachBatch(
            incremental_upsert(stream.sparkSession, keys, value_col, snap_dir)
        )
        .option("checkpointLocation", _os.path.join(snap_dir, "_ck"))
        .trigger(availableNow=True)
        .start()
    )


def incremental_upsert(
    spark: SparkSession, keys: list[str], value_col: str, snap_dir: str
):
    """The foreachBatch merge closure behind stream_incremental_agg —
    exposed so the crash-replay idempotence contract (re-delivering a
    batch id is a no-op) can be tested by driving it directly."""
    import os as _os

    def upsert(batch: DataFrame, batch_id: int) -> None:
        part = batch.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n"),
            # snapshot column is decimal(38,6), NOT the input's (18,6):
            # with ANSI off, a downcast back to (18,6) would silently
            # NULL once the running total crossed 10^12, and that NULL
            # then poisons every later merge of the key.  (38,6) holds
            # 10^32 — unreachable from summing (18,6) inputs row-wise
            # before the f64-ULP age of the universe.
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("decimal(38,6)")
            .alias("total"),
        )
        prev = _os.path.join(snap_dir, f"v{batch_id}")
        cur = _os.path.join(snap_dir, f"v{batch_id + 1}")
        if _os.path.exists(prev):
            part = part.unionByName(spark.read.parquet(prev))
        merged = part.groupBy(*keys).agg(
            F.sum("n").alias("n"),
            F.sum("total").cast("decimal(38,6)").alias("total"),
        )
        merged.write.mode("overwrite").parquet(cur)

    return upsert


def read_scd1_snapshot(spark: SparkSession, snap_dir: str) -> DataFrame:
    """Latest version of a stream_scd1_snapshot directory."""
    import os as _os

    versions = sorted(
        (d for d in _os.listdir(snap_dir) if d.startswith("v")),
        key=lambda d: int(d[1:]),
    )
    if not versions:
        raise FileNotFoundError(f"no snapshot versions under {snap_dir}")
    return spark.read.parquet(_os.path.join(snap_dir, versions[-1]))


@query(
    "b41_scd2_history",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events),
    seg AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged),
    g AS (
      SELECT user_id, version, min(event_type) AS event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM seg GROUP BY 1, 2)
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             AS valid_to,
           CAST(n_events AS BIGINT) AS n_events,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
             IS NULL AS is_current
    FROM g
    """,
)
def b41_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 2: turn an event log into attribute-validity history —
    per user, collapse consecutive runs of the same event_type into
    [valid_from, valid_to) intervals with an is_current flag (the
    slowly-changing-dimension build every warehouse needs next to the
    SCD-1 merge above).  Change points via lag(), run ids via running
    sum, intervals closed by lead() — three window passes sharing ONE
    (user_id)-partitioned sort; ties broken by event_id so the history
    is deterministic.

    Scale: everything partitions by user_id — full shuffle-width
    parallelism, no global window; the run-collapse groupBy map-side
    combines within the already-sorted partitions."""
    e = table(spark, sf_dir, "events")
    ew = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(ew).eqNullSafe(F.col("event_type")), 0
        )
        .otherwise(1)
        .alias("chg"),
    )
    seg = flagged.withColumn(
        "version",
        F.sum("chg").over(ew.rowsBetween(W.unboundedPreceding, 0)),
    )
    g = seg.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    vw = W.partitionBy("user_id").orderBy("version")
    return g.select(
        "user_id",
        F.col("version").cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(vw).alias("valid_to"),
        "n_events",
        F.lead("valid_from").over(vw).isNull().alias("is_current"),
    )


# ------------------------------------- driver-visible streaming wrappers
#
# stream_scd1_snapshot / stream_incremental_agg are library functions
# exercised by tests/test_merge.py; these thin rows-only queries stage
# the events table as a 4-file stream and run them end-to-end so the
# driver executes the incremental-maintenance paths too,
# not just pytest.


@query(
    "b66_stream_scd1",
    # EXACT-oracled (was rows-only): max_by over the
    # (ts, event_id) struct is a deterministic lexicographic latest —
    # event_id breaks ts ties — and the per-batch merge is
    # order-independent, so the final snapshot is the batch latest-row
    # per user verbatim.
    oracle="""
    SELECT user_id, ts, event_id, event_type, value
    FROM (SELECT user_id, ts, event_id, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def b66_stream_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user SCD-1 snapshot maintained across 4
    micro-batches via stream_scd1_snapshot, then read back.  Pinned to
    the batch max_by equivalent in tests/test_merge.py — which is the
    oracle now; the snapshot itself is the returned result (|users|
    rows)."""
    import shutil as _shutil
    import tempfile as _tempfile

    from ..streaming.stateful import _chunked_events_stream

    stream, chunk_dir = _chunked_events_stream(spark, sf_dir)
    snap_dir = _tempfile.mkdtemp(prefix="scd1_snap_")
    try:
        q = stream_scd1_snapshot(
            stream.select("user_id", "ts", "event_id", "event_type", "value"),
            "user_id",
            ["ts", "event_id"],
            snap_dir,
        )
        q.awaitTermination(300)
        out = read_scd1_snapshot(spark, snap_dir)
        # materialize on the EXECUTORS (not a driver collect) before
        # the temp snapshot dir disappears; lineage truncates to the
        # checkpointed blocks.
        return out.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(chunk_dir, ignore_errors=True)
        _shutil.rmtree(snap_dir, ignore_errors=True)


@query(
    "b67_stream_incremental_agg",
    # EXACT-oracled (was rows-only): the MV's entire
    # design goal is bit-identity with the one-shot batch aggregate
    # (count + exact DECIMAL sum are associative merges), so the batch
    # aggregate IS the oracle.  Non-finite readings are quarantined at
    # the stream input like every value-casting query (because
    # the cast to DECIMAL throws on NaN/Inf in both engines).
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
             AS total_micro
    FROM events WHERE isfinite(value) GROUP BY 1
    """,
)
def b67_stream_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-merged (count, exact DECIMAL sum) per event_type
    maintained across 4 micro-batches via stream_incremental_agg.
    Bit-identical to the one-shot batch aggregate (tests/test_merge.py)
    — which is exactly why it carries that aggregate as its oracle;
    the final snapshot is the returned result."""
    import shutil as _shutil
    import tempfile as _tempfile

    from ..functions.exact import finite
    from ..streaming.stateful import _chunked_events_stream

    stream, chunk_dir = _chunked_events_stream(spark, sf_dir)
    snap_dir = _tempfile.mkdtemp(prefix="incr_agg_")
    try:
        q = stream_incremental_agg(
            stream.select("event_type", "value").filter(finite("value")),
            ["event_type"],
            "value",
            snap_dir,
        )
        q.awaitTermination(300)
        out = read_scd1_snapshot(spark, snap_dir).select(
            "event_type",
            "n",
            # integer micro-units for the driver's value hash (DECIMAL
            # is hash-unstable through DuckDB's pandas path); exact —
            # (38,6) x 1e6 is integral by construction
            (F.col("total") * 1_000_000).cast("bigint").alias("total_micro"),
        )
        # materialize on the EXECUTORS (not a driver collect) before
        # the temp snapshot dir disappears; lineage truncates to the
        # checkpointed blocks.
        return out.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(chunk_dir, ignore_errors=True)
        _shutil.rmtree(snap_dir, ignore_errors=True)


def merge_full(
    snapshot: DataFrame, changes: DataFrame, key: str, op: str = "op"
) -> DataFrame:
    """Full three-way MERGE:

      WHEN MATCHED AND changes.op = 'D' THEN DELETE
      WHEN MATCHED AND changes.op = 'U' THEN UPDATE SET *
      WHEN NOT MATCHED             THEN INSERT *

    Same single-exchange shape as merge_upsert: tag + union + max_by
    per key — a DELETE is just "the change row wins, then is filtered
    out".  No join at all, no window; the op column never survives
    into the output.  At 100 TB the one shuffle is on the merge key
    (bucket-local if the snapshot is bucketed), and the max_by partial
    aggregate combines map-side, so a 1%-churn change batch costs the
    snapshot one exchange, not one exchange per WHEN clause."""
    tagged = changes.withColumn("_rank", F.lit(1)).unionByName(
        snapshot.withColumn(op, F.lit(None).cast("string")).withColumn(
            "_rank", F.lit(0)
        )
    )
    payload = [c for c in tagged.columns if c not in (key, "_rank")]
    picked = tagged.groupBy(key).agg(
        F.max_by(F.struct(*payload), F.col("_rank")).alias("_row")
    )
    return (
        picked.filter(
            (F.col(f"_row.{op}").isNull()) | (F.col(f"_row.{op}") != "D")
        )
        .select(key, *[F.col(f"_row.{c}").alias(c) for c in payload])
        .drop(op)
    )


#: Full-MERGE change derivation (deterministic, both engines derive it
#: from the snapshot): every 21st key is deleted; every 10th key (not
#: also 21st) is updated; every 97th spawns an insert above the key
#: space.  Delete beats update by construction (disjoint predicates).
_DEL_MOD = 21


@query(
    "b75_merge_full",
    oracle=f"""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % {_DEL_MOD} = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100.0,
             o_orderdate, o_orderpriority, 'U'
      FROM orders
      WHERE o_orderkey % {_UPD_MOD} = 0 AND o_orderkey % {_DEL_MOD} <> 0
      UNION ALL
      SELECT o_orderkey + {_INS_OFFSET}, o_custkey, 'N', o_totalprice,
             o_orderdate, 'NEW', 'I'
      FROM orders WHERE o_orderkey % {_INS_MOD} = 0),
    merged AS (
      SELECT *, 1 AS _rank FROM changes
      UNION ALL
      SELECT *, NULL AS op, 0 AS _rank FROM orders),
    picked AS (
      SELECT * FROM merged
      QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY _rank DESC) = 1)
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM picked WHERE op IS NULL OR op <> 'D'
    """,
)
def b75_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-style full MERGE (delete + update + insert in ONE
    statement) over orders — the reference's downstream TAK upsert
    (task.ts:127) plus the deletion path a retention/GDPR pipeline
    needs.  Every 21st key is deleted, every 10th (surviving) key
    updated, every 97th key inserted above the key space; cardinality
    = |orders| − |deletes| + |inserts| and the per-class counts are
    asserted in tests/test_merge.py."""
    o = table(spark, sf_dir, "orders")
    deletes = o.filter(F.col("o_orderkey") % _DEL_MOD == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority", F.lit("D").alias("op"),
    )
    updates = (
        o.filter(
            (F.col("o_orderkey") % _UPD_MOD == 0)
            & (F.col("o_orderkey") % _DEL_MOD != 0)
        )
        .select(
            "o_orderkey", "o_custkey",
            F.lit("X").alias("o_orderstatus"),
            (F.col("o_totalprice") + 100.0).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority", F.lit("U").alias("op"),
        )
    )
    inserts = o.filter(F.col("o_orderkey") % _INS_MOD == 0).select(
        (F.col("o_orderkey") + _INS_OFFSET).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        F.lit("NEW").alias("o_orderpriority"),
        F.lit("I").alias("op"),
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    return merge_full(o, changes, "o_orderkey")


def snapshot_diff(
    v1: DataFrame, v2: DataFrame, key: str
) -> DataFrame:
    """Change-data-capture between two snapshot versions: one row per
    key whose state differs, classified added / removed / changed.
    Shape: full outer join on the key (ONE exchange per side, none at
    all when both snapshots are bucketed on the key — the nightly
    "what did yesterday's load change" audit), then row-local struct
    comparison.  Unchanged keys — the overwhelming majority at 100 TB
    — are dropped before anything downstream, so the output is
    churn-sized, not corpus-sized."""
    payload = [c for c in v1.columns if c != key]
    a = v1.select(key, F.struct(*payload).alias("_a"))
    b = v2.select(key, F.struct(*payload).alias("_b"))
    j = a.join(b, key, "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("_a").isNull(), F.lit("added"))
            .when(F.col("_b").isNull(), F.lit("removed"))
            .when(F.col("_a") != F.col("_b"), F.lit("changed")),
        )
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type")
    )


@query(
    "b76_snapshot_diff",
    oracle=f"""
    WITH changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority, 'D' AS op
      FROM orders WHERE o_orderkey % {_DEL_MOD} = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'X', o_totalprice + 100.0,
             o_orderdate, o_orderpriority, 'U'
      FROM orders
      WHERE o_orderkey % {_UPD_MOD} = 0 AND o_orderkey % {_DEL_MOD} <> 0
      UNION ALL
      SELECT o_orderkey + {_INS_OFFSET}, o_custkey, 'N', o_totalprice,
             o_orderdate, 'NEW', 'I'
      FROM orders WHERE o_orderkey % {_INS_MOD} = 0),
    merged AS (
      SELECT *, 1 AS _rank FROM changes
      UNION ALL
      SELECT *, NULL AS op, 0 AS _rank FROM orders),
    v2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             o_orderdate, o_orderpriority
      FROM (SELECT * FROM merged
            QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                       ORDER BY _rank DESC) = 1)
      WHERE op IS NULL OR op <> 'D')
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM orders a FULL OUTER JOIN v2 b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR (a.o_custkey, a.o_orderstatus, a.o_totalprice,
           a.o_orderdate, a.o_orderpriority)
          IS DISTINCT FROM
          (b.o_custkey, b.o_orderstatus, b.o_totalprice,
           b.o_orderdate, b.o_orderpriority)
    """,
)
def b76_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between orders-v1 and the b75 full-MERGE result: the diff
    must recover EXACTLY the change batch — deletes come back as
    'removed', updates as 'changed', inserts as 'added' (round-trip
    asserted in tests/test_merge.py).  Churn-sized output."""
    o = table(spark, sf_dir, "orders")
    v2 = b75_merge_full(spark, sf_dir)
    return snapshot_diff(o, v2, "o_orderkey")


#: b98: the time-travel probe instant — mid-corpus (events span
#: 2024-01-01..01-30), so roughly half the versions are open at it.
_ASOF_T = "2024-01-15 00:00:00"


@query(
    "b98_asof_snapshot",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events),
    seg AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged),
    g AS (
      SELECT user_id, version, min(event_type) AS event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM seg GROUP BY 1, 2),
    hist AS (
      SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
             valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to
      FROM g)
    SELECT user_id, version, event_type, valid_from
    FROM hist
    WHERE valid_from <= TIMESTAMP '{_ASOF_T}'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_ASOF_T}')
    """,
)
def b98_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the SCD-2 history: the state of every user AS
    OF a fixed instant — the one interval per user whose
    [valid_from, valid_to) contains T (exactly one row per user active
    before T, zero after-T users; uniqueness asserted in
    tests/test_merge.py).  This is the query shape a lakehouse's
    ``VERSION AS OF`` answers from snapshot metadata; over plain
    SCD-2 tables it is a half-open interval predicate.

    Scale: builds on b41's history (user-keyed windows, one
    exchange); the as-of filter itself is row-local and — on a
    valid_from-partitioned layout — prunes every partition newer
    than T at planning time (the b71 mechanism)."""
    hist = b41_scd2_history(spark, sf_dir)
    t = F.lit(_ASOF_T).cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "version", "event_type", "valid_from")


@query(
    "b117_scd3_current",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                  IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events),
    seg AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM flagged),
    g AS (
      SELECT user_id, version, min(event_type) AS event_type,
             min(ts) AS valid_from
      FROM seg GROUP BY 1, 2),
    hist AS (
      SELECT user_id, version, event_type, valid_from,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY version)
               AS prev_event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY version DESC)
               AS rn
      FROM g)
    SELECT user_id, event_type AS current_value,
           prev_event_type AS previous_value, valid_from AS changed_at,
           CAST(version AS BIGINT) AS n_changes
    FROM hist WHERE rn = 1
    """,
)
def b117_scd3_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE 3 — current value + one level of history as COLUMNS
    (current_value, previous_value, changed_at), completing the SCD
    family next to the type-1 merge (b38) and type-2 history (b41).
    Built by collapsing the attribute run history (b41's construction)
    and keeping each key's latest version with its lag — type 3 is a
    projection of type 2, and building it that way keeps the three
    variants consistent by construction.

    Scale: identical user_id-partitioned window shape as b41 (shared
    sort, no global window); the final latest-row pick is a per-key
    row_number over the version-cardinality history, not the event
    log."""
    e = table(spark, sf_dir, "events")
    ew = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            F.lag("event_type").over(ew).eqNullSafe(F.col("event_type")), 0
        )
        .otherwise(1)
        .alias("chg"),
    )
    seg = flagged.withColumn(
        "version", F.sum("chg").over(ew.rowsBetween(W.unboundedPreceding, 0))
    )
    g = seg.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
    )
    vw = W.partitionBy("user_id").orderBy("version")
    hist = g.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        F.lag("event_type").over(vw).alias("prev_event_type"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy(F.col("version").desc()))
        .alias("rn"),
    )
    return hist.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("event_type").alias("current_value"),
        F.col("prev_event_type").alias("previous_value"),
        F.col("valid_from").alias("changed_at"),
        F.col("version").cast("bigint").alias("n_changes"),
    )
