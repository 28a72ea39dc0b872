"""File-format ingest: JSONL / CSV with explicit schemas and an error
channel for malformed rows.

The reference decodes one JSON envelope per HTTP response and rejects
unparsable payloads (/root/reference/task.ts:88-104); at corpus scale
the same problem arrives as FILES — newline-delimited JSON and CSV
drops where some fraction of rows is malformed.  The engine policy
mirrors the reference decision in SURVEY.md §2.1.1: a bad row becomes
an error-channel ROW, never an exception and never a silent drop.

Mechanics: Spark's PERMISSIVE parse mode captures each unparsable line
in ``columnNameOfCorruptRecord`` instead of failing the task.  We split
that column into (clean_df, errors_df) — the same two-channel contract
as ingest/wildweb.py.  Schemas are EXPLICIT, never inferred: schema
inference is a full extra pass over 100 TB and non-deterministic under
sampling; an ingest contract should be pinned in code.

The corrupt-record column must be requested in the schema and cannot be
the only selected column (Spark optimizes the parse away) — both
handled here so callers can't hold it wrong.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: StructType) -> StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )


def _split_channels(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    # materialize ONE parse before splitting: the two channels must not
    # be two passes that could disagree on a flaky reader.  An eager
    # local checkpoint guarantees that (a cache may be evicted and
    # recomputed) and leaves nothing in the session's CacheManager.
    df = df.localCheckpoint(eager=True)
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    errors = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw"),
        F.lit("unparsable_row").alias("error"),
    )
    return clean, errors


def read_jsonl(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """Read newline-delimited JSON under an explicit schema.

    Returns (clean, errors): clean rows typed per ``schema``; errors
    carry the raw offending line + a stable error tag, ready to union
    into the pipeline error channel (A19)."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    return _split_channels(df)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    delimiter: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Read CSV under an explicit schema with the same two-channel
    contract as :func:`read_jsonl`.  A row whose arity or types don't
    fit the schema lands in the error channel with its raw text."""
    df = (
        spark.read.schema(_with_corrupt(schema))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .option("delimiter", delimiter)
        .csv(path)
    )
    return _split_channels(df)


from ..registry import query  # noqa: E402  (registration tail, like sinks.py)


@query("b36_file_ingest")  # rows-only: side-effecting fixture write
def b36_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B36: JSONL ingest round-trip — writes a small fixture (2 clean
    rows, 2 malformed) under spark-warehouse, reads it back through the
    explicit-schema PERMISSIVE path, and returns the union of both
    channels tagged by channel name.  Demonstrates end-to-end that a
    malformed row becomes DATA (channel='error'), not an exception."""
    import os
    import tempfile

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("lang", StringType())]
    )
    d = tempfile.mkdtemp(dir="spark-warehouse" if os.path.isdir("spark-warehouse") else None)
    with open(os.path.join(d, "fixture.jsonl"), "w") as f:
        f.write(
            '{"doc_id": 1, "lang": "en"}\n'
            "garbage line\n"
            '{"doc_id": 2, "lang": "de"}\n'
            '{"doc_id": "bad", "lang": "fr"}\n'
        )
    clean, errors = read_jsonl(spark, d, schema)
    return clean.select(
        F.lit("clean").alias("channel"), F.col("doc_id").cast("string").alias("payload")
    ).unionAll(
        errors.select(F.lit("error").alias("channel"), F.col("raw").alias("payload"))
    )


@query(
    "b70_orc_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    """,
)
def b70_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a second columnar format (the engine's source/sink
    surface is format-plural, like any warehouse ingest tier): write
    the documents table to ORC (zlib), read it back, aggregate — the
    oracle runs on the ORIGINAL parquet, so a hash match proves the
    ORC round-trip is lossless for every value the aggregate touches.

    Scale: ORC and Parquet share the same scan contract in Spark
    (column pruning + predicate pushdown via the vectorized reader);
    the round-trip writes only the projected columns.  Format choice
    is a storage-layer decision, invisible to the query layer — which
    is the point of demonstrating it behind an unchanged oracle."""
    import shutil
    import tempfile

    from ..io import table

    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        d.write.mode("overwrite").option("compression", "zlib").orc(out)
        back = spark.read.orc(out)
        res = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        # materialize before the temp dir disappears (executor-side)
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "b71_partitioned_prune",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_micro
    FROM events
    WHERE event_type IN ('view', 'purchase') AND isfinite(value)
    GROUP BY event_type
    """,
)
def b71_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style PARTITIONED layout + partition pruning: write events
    partitioned by event_type, read back with a partition-key filter —
    the scan must touch ONLY the two matching directories (asserted on
    the plan's PartitionFilters in tests/test_plans.py via
    partitioned_events_scan below).  This is the layout decision that
    turns a 100 TB full scan into a directory listing: partition
    columns never ride in the data files, and a filter on them prunes
    at PLANNING time, before any I/O.

    The oracle aggregates the original unpartitioned parquet — a hash
    match proves the partitioned round-trip preserves every row and
    value of the selected partitions.  The sum is integer micro-units
    (round(value*1e6) per row, BIGINT sum): exact, order-insensitive,
    and hash-stable across engines — DuckDB's pandas path coerces
    DECIMAL(38,6)/HUGEINT to float64, which broke the driver's value
    hash even though every value matched."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="events_part_")
    try:
        res = partitioned_events_scan(spark, sf_dir, out)
        return res.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def partitioned_events_scan(
    spark: SparkSession, sf_dir: str, out: str
) -> DataFrame:
    """Build the partitioned layout under ``out`` and return the pruned
    aggregate over it (separated from b71 so the plan test can inspect
    the scan without the checkpoint/cleanup wrapper)."""
    from ..functions.exact import finite
    from ..io import table

    e = (
        table(spark, sf_dir, "events")
        .filter(finite("value"))  # quarantine before the micro cast
        .select("event_type", "value")
    )
    e.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("total_micro"),
        )
    )


@query(
    "b79_bucketed_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def b79_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED big-big join, driver-visible: lineitem and orders are
    persisted hash-bucketed on the join key (8 buckets), and the join
    + aggregation runs over the bucketed relations — the write-time
    shuffle elimination that carries repeated fact-fact joins at
    100 TB.  The RESULT must equal the plain-parquet join (that is the
    oracle); the exchange-free PLAN is asserted separately in
    tests/test_bucketing.py (zero join-input shuffles bucketed, two
    un-bucketed).  Broadcast is disabled inside the query so the
    co-located sort-merge path — the one that matters at fact-fact
    scale — is what actually executes.

    The bucketed tables are written to a throwaway database per
    invocation (the driver's session keeps its own warehouse); the
    result is executor-materialized via localCheckpoint before the
    database is dropped, so the returned frame outlives the layout."""
    import shutil
    import tempfile
    import uuid

    from ..io import table, write_bucketed

    db = f"bucketq_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix=f"{db}_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        li = write_bucketed(
            table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity"),
            f"{db}.lineitem_b",
            ["l_orderkey"],
            8,
        )
        o = write_bucketed(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
            f"{db}.orders_b",
            ["o_orderkey"],
            8,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("sum_qty"),
            )
        )
        return j.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


def zvalue(x, y, bits: int = 16):
    """Morton/Z-order interleave of two pre-bucketized non-negative
    ints (each < 2^bits) — built from shift/mask arithmetic only, so
    it stays inside whole-stage codegen (no UDF)."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + (F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
            + (F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
        )
    return z


@query("b99_zorder_layout")  # file-footer layout metrics → rows-only
def b99_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data clustering, measured where it actually pays: the
    parquet ROW-GROUP STATS.  The events table is written twice — hash
    layout vs sorted by the Morton interleave of (user_id, day) — and
    the row-group (min,max) footers are read back with pyarrow.  The
    z-sorted layout's per-row-group ranges must shrink on BOTH
    dimensions simultaneously (asserted in tests/test_file_sources.py)
    — that range shrinkage IS data skipping: a point/range predicate
    on either column lets the reader drop every row group whose
    min/max excludes it, before any decode.

    At 100 TB this is the difference between 'scan everything' and
    'touch 1/500 of the files' for multi-dimensional slices — the
    single-column sort (b71's partition pruning) only helps its one
    leading column; the z-curve spreads locality across both.

    Emits one row per (layout, column): row-group count + average
    normalized range width + the derived skip fraction for an
    equality probe."""
    import tempfile as _tempfile

    from ..io import local_frame, table

    import pyarrow.parquet as _pq

    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("day"),
    )
    lo_u, hi_u, lo_d, hi_d = e.agg(
        F.min("user_id"), F.max("user_id"), F.min("day"), F.max("day")
    ).first()
    scale_u = ((F.col("user_id") - lo_u) * 65535 / max(1, hi_u - lo_u)).cast(
        "bigint"
    )
    scale_d = ((F.col("day") - lo_d) * 65535 / max(1, hi_d - lo_d)).cast(
        "bigint"
    )
    ez = e.withColumn("z", zvalue(scale_u, scale_d))

    out_plain = _tempfile.mkdtemp(prefix="layout_plain_")
    out_z = _tempfile.mkdtemp(prefix="layout_z_")
    e.repartition(16).write.mode("overwrite").parquet(out_plain)
    (
        ez.repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(out_z)
    )

    def stats(path: str, layout: str) -> list[tuple]:
        import glob as _glob

        spans: dict[str, list[float]] = {"user_id": [], "day": []}
        n_groups = 0
        for f in _glob.glob(f"{path}/*.parquet"):
            pf = _pq.ParquetFile(f)
            idx = {c: i for i, c in enumerate(pf.schema_arrow.names)}
            for g in range(pf.metadata.num_row_groups):
                n_groups += 1
                for col, full in (
                    ("user_id", max(1, hi_u - lo_u)),
                    ("day", max(1, hi_d - lo_d)),
                ):
                    st = pf.metadata.row_group(g).column(idx[col]).statistics
                    spans[col].append((st.max - st.min) / full)
        return [
            (
                layout,
                col,
                n_groups,
                round(sum(v) / len(v), 4),
                round(1.0 - sum(v) / len(v), 4),
            )
            for col, v in spans.items()
        ]

    rows = stats(out_plain, "hash") + stats(out_z, "zorder")
    return local_frame(
        spark,
        rows,
        "layout string, column string, n_row_groups int, "
        "avg_range_frac double, est_skip_frac double",
    )


@query("b100_compaction")  # file-count layout op → rows-only
def b100_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILES COMPACTION driver-visible: the events table is
    deliberately shattered into 32 micro-files (the streaming-ingest
    accretion pattern — the reference's per-center fetch loop,
    task.ts:76, produces exactly this shape), then compacted with
    io.compact_parquet into size-targeted files via coalesce (NO
    shuffle — compaction must never pay an exchange).  Emits before/
    after file counts + bytes and the row count, which must be
    conserved (pinned in tests/test_compaction.py along with the
    sizing arithmetic)."""
    import glob as _glob
    import shutil as _shutil
    import tempfile as _tempfile

    from ..io import compact_parquet, local_frame, table

    src = _tempfile.mkdtemp(prefix="compact_src_")
    dst = _tempfile.mkdtemp(prefix="compact_dst_")
    try:
        e = table(spark, sf_dir, "events")
        e.repartition(32).write.mode("overwrite").parquet(src)

        def layout(path: str) -> tuple[int, int]:
            files = _glob.glob(f"{path}/*.parquet")
            return len(files), sum(
                __import__("os").path.getsize(f) for f in files
            )

        n_before, bytes_before = layout(src)
        out = compact_parquet(spark, src, dst, target_mb=512)
        n_rows = out.count()
        n_after, bytes_after = layout(dst)
        return local_frame(
            spark,
            [(n_before, n_after, bytes_before, bytes_after, n_rows)],
            "n_files_before int, n_files_after int, "
            "bytes_before bigint, bytes_after bigint, n_rows bigint",
        )
    finally:
        _shutil.rmtree(src, ignore_errors=True)
        _shutil.rmtree(dst, ignore_errors=True)


@query(
    "b108_dynamic_overwrite",
    oracle="""
    WITH days AS (
      SELECT CAST(ts AS DATE) AS day, value FROM events
      WHERE isfinite(value)),
    bounds AS (SELECT min(day) AS d0 FROM days)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN day <= (SELECT d0 FROM bounds) + 1
                         THEN 2 * CAST(round(value * 1000000) AS BIGINT)
                         ELSE CAST(round(value * 1000000) AS BIGINT)
                    END) AS BIGINT) AS sum_v_micro
    FROM days GROUP BY day
    """,
)
def b108_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the data-lake maintenance primitive
    between append and full rewrite: a restated batch replaces ONLY the
    partitions it touches.  Events land day-partitioned; a correction
    batch for the first two days (values doubled) is written with
    ``partitionOverwriteMode=dynamic``, then the whole table is read
    back and aggregated per day.  The oracle recomputes the expected
    post-correction state from the ORIGINAL table — a hash match proves
    both that the two restated days changed AND that every other
    partition survived untouched (a static overwrite would have deleted
    them; an append would have doubled them).

    Scale: the rewrite cost is proportional to the RESTATED days, not
    the table — the daily backfill pattern at 100 TB.  The written
    value column is integer micro-units so the round-trip is bit-exact.

    Reference parity: the reference re-polls a rolling incident window
    and re-submits it wholesale (task.ts:66-86 pollInterval +
    IncidentRange) — partition overwrite is that same "replace the
    recent window" semantics, expressed at the storage layer."""
    import shutil as _shutil
    import tempfile as _tempfile

    from ..io import table

    out = _tempfile.mkdtemp(prefix="dyn_ow_")
    try:
        from ..functions.exact import finite

        e = table(spark, sf_dir, "events").filter(finite("value")).select(
            F.to_date("ts").alias("day"),
            F.round(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
        )
        e.write.mode("overwrite").partitionBy("day").parquet(out)

        d0 = e.agg(F.min("day")).collect()[0][0]  # scalar bound, driver-side
        restate = e.filter(F.col("day") <= F.date_add(F.lit(d0), 1)).select(
            (F.col("v_micro") * 2).alias("v_micro"), "day"
        )
        restate.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day").parquet(out)

        back = spark.read.parquet(out)
        res = back.groupBy("day").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v_micro").cast("bigint").alias("sum_v_micro"),
        )
        return res.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(out, ignore_errors=True)


@query(
    "b115_schema_evolution",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_source,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY lang
    """,
)
def b115_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read — the ingest reality that files written
    before a column existed must stay queryable next to files written
    after: even-doc_id documents land WITHOUT the ``source`` column
    (the "old producer"), odd ones with it, and a single
    ``mergeSchema`` read unions the file schemas, null-filling the
    missing column.  The aggregate counts non-null ``source`` per
    lang, so the oracle (which derives the same split from the
    original table) proves both that old files still read AND that the
    late column arrives exactly where it should.

    Scale: schema merge is a FOOTER-level planning step (one schema
    union across file footers, no data pass); the data scan itself
    stays columnar with pushdown.  The never-do-this alternative —
    rewriting history to add a column — is a full-table rewrite.
    Related: tests/test_io_evolution.py pins default-backfill and
    late-column filter semantics on the same mechanism."""
    import shutil as _shutil
    import tempfile as _tempfile

    from ..io import table

    out = _tempfile.mkdtemp(prefix="schema_evo_")
    try:
        d = table(spark, sf_dir, "documents")
        d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "n_chars"
        ).write.mode("overwrite").parquet(out + "/v1")
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "n_chars", "source"
        ).write.mode("overwrite").parquet(out + "/v2")

        back = spark.read.option("mergeSchema", "true").parquet(
            out + "/v1", out + "/v2"
        )
        res = back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("source").cast("bigint").alias("n_with_source"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        return res.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(out, ignore_errors=True)


@query(
    "b127_federated_union",
    oracle="""
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_ids
    FROM documents GROUP BY lang
    """,
)
def b127_federated_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-federated query: one logical table served by THREE
    physical formats — a third of the documents stays parquet, a third
    round-trips through CSV, a third through JSONL — unioned by NAME
    into a single aggregation.  The oracle runs on the original table;
    a hash match proves the three-source union complete and
    duplicate-free (n_ids catches loss or double-reads) and pins
    id/lang/n_chars fidelity PLUS the round-tripped text itself via
    ``sum_text_len`` — recomputed from the text column AFTER the
    CSV/JSONL legs, so a trimmed or escape-mangled text leg breaks the
    hash (n_chars alone is the stored column, not the
    round-tripped bytes).  The CSV writer/reader explicitly disable
    whitespace trimming (Spark's writer trims by default), keeping the
    leg lossless even for padded text.  This is the ingest-tier
    reality the reference's single-feed connector grows into:
    heterogeneous drops, one query.

    Scale: each source scans independently with its own reader
    (parquet columnar+pushdown; CSV/JSONL schema-explicit per the
    module policy — never inferred); unionByName is a plan-level
    concatenation, not a shuffle.  The aggregate shuffles once, after
    partial combine, regardless of source count."""
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql.types import LongType, StructField, StructType

    from ..io import table

    out = _tempfile.mkdtemp(prefix="federated_")
    try:
        d = table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "n_chars"
        )
        part = F.col("doc_id") % 3
        d.filter(part == 1).write.mode("overwrite").option(
            "header", "true"
        ).option("ignoreLeadingWhiteSpace", "false").option(
            "ignoreTrailingWhiteSpace", "false"
        ).csv(out + "/csv")
        d.filter(part == 2).write.mode("overwrite").json(out + "/jsonl")

        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", d.schema["text"].dataType),
                StructField("lang", d.schema["lang"].dataType),
                StructField("n_chars", LongType()),
            ]
        )
        csv_part = (
            spark.read.schema(schema)
            .option("header", "true")
            .option("ignoreLeadingWhiteSpace", "false")
            .option("ignoreTrailingWhiteSpace", "false")
            .csv(out + "/csv")
        )
        json_part = spark.read.schema(schema).json(out + "/jsonl")
        all_docs = (
            d.filter(part == 0)
            .unionByName(csv_part)
            .unionByName(json_part)
        )
        res = all_docs.groupBy("lang").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
            F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
            F.countDistinct("doc_id").cast("bigint").alias("n_ids"),
        )
        return res.localCheckpoint(eager=True)
    finally:
        _shutil.rmtree(out, ignore_errors=True)


#: b136 dim: event-type priority map, stored as a parquet dimension
#: table and filtered at plan time — the filtered-dim shape Dynamic
#: Partition Pruning requires.  (Read straight from a driver-local
#: relation, the filter would fold into the relation's rows and leave
#: no dim filter for DPP to key on.)
_DPP_DIM = [("view", 1), ("purchase", 2), ("click", 3)]


@query(
    "b136_dynamic_partition_pruning",
    oracle="""
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(e.value * 1000000) AS BIGINT)) AS BIGINT)
               AS total_micro
    FROM events e
    JOIN (VALUES ('view', 1), ('purchase', 2), ('click', 3))
         AS dim(event_type, pri)
      ON e.event_type = dim.event_type
    WHERE dim.pri <= 2 AND isfinite(e.value)
    GROUP BY e.event_type
    """,
)
def b136_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — b71's static pruning upgraded to the
    runtime form every star-join at 100 TB depends on: the pruning
    values are NOT in the query text (no IN-list the planner can fold);
    they come from a FILTERED DIMENSION TABLE, so Spark injects a
    dynamicpruningexpression subquery into the fact scan's
    PartitionFilters and skips non-matching partition directories at
    EXECUTION time, after the dim filter has run.  Plan-asserted in
    tests/test_plans.py (dpp_events_scan below keeps the layout
    inspectable); the oracle replays the identical join over the
    unpartitioned parquet, so the hash also proves the partitioned
    round-trip preserved rows."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="events_dpp_")
    try:
        return dpp_events_scan(spark, sf_dir, out).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


def dpp_events_scan(
    spark: SparkSession, sf_dir: str, out: str
) -> DataFrame:
    """Build the event_type-partitioned layout under ``out`` and return
    the dim-filtered aggregate whose fact scan must carry a
    dynamicpruningexpression (separated from b136 so the plan test can
    inspect the scan without the checkpoint/cleanup wrapper)."""
    from ..functions.exact import finite
    from ..io import local_frame, table

    e = (
        table(spark, sf_dir, "events")
        .filter(finite("value"))  # quarantine before the micro cast
        .select("event_type", "value", "user_id")
    )
    fact_path, dim_path = os.path.join(out, "fact"), os.path.join(out, "dim")
    e.write.mode("overwrite").partitionBy("event_type").parquet(fact_path)
    local_frame(spark, _DPP_DIM, "event_type string, pri int").write.mode(
        "overwrite"
    ).parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    return (
        fact.join(dim.filter(F.col("pri") <= 2), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint"))
            .cast("bigint")
            .alias("total_micro"),
        )
    )
