"""Table loaders for the driver-generated testdata corpus.

``spark.read.parquet`` gives Catalyst a relation with full pushdown
support: filters and column pruning reach the parquet scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).  At
100 TB these would be partitioned/bucketed external tables; the loader is
the only place that would change.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (the first
        # corpus) and as TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # (later corpora).  Normalize BOTH to a session-UTC TIMESTAMP so
        # every downstream query sees one canonical type:
        #   * NANOS: Spark's reader rejects it outright — read as raw
        #     int64 via nanosAsLong and truncate ns→µs (DuckDB applies
        #     the same truncation, FIXTURES.md note).
        #   * MICROS/NTZ: inferTimestampNTZ yields TIMESTAMP_NTZ, which
        #     chronon funcs (unix_micros, window(), watermarks) reject;
        #     under the UTC session the wall-clock cast is value-exact.
        from pyspark.sql import functions as F  # local: io stays light

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Hand driver-side rows to Spark as a JVM-local relation.

    ``rows`` is an iterable of tuples in ``schema`` order; ``schema`` is
    a ``StructType`` or a DDL string.  The rows travel as one Arrow
    table, which Spark plans as a ``LocalRelation``: the relation has
    real size statistics (so a join can broadcast or fold it) and
    reading it starts no Python worker.  ``createDataFrame`` on a
    Python list instead plans a Python-RDD ``LogicalRDD`` whose every
    scan unpickles the rows in a Python worker.

    Every row goes through the list path's own type verifier first, so
    a value that does not fit the schema raises here exactly as it
    would there (Arrow alone would, for one, truncate 1.5 into a long
    column)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructType,
        _make_type_verifier,
        _parse_datatype_string,
    )

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    verify = _make_type_verifier(schema)
    rows = list(rows)
    for row in rows:
        verify(row)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def lift_parallelism(df: DataFrame, key: str) -> DataFrame:
    """Hash-repartition on ``key`` — but ONLY when scan splits are
    scarce (a local small-file input), because the partial work of a
    following map-side-heavy stage would otherwise serialize on one
    core.  At 100 TB the scan has thousands of splits and this is a
    no-op; an unconditional repartition would shuffle full rows (for
    documents: the raw text) — measured and rejected (SCALE.md).

    Hash partitioning, never round-robin: round-robin exchanges are
    non-deterministic, which disqualifies them from Catalyst's
    ReusedExchange and forces self-join branches to recompute their
    whole subplan (measured 5× regression on the MinHash pipeline)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    # Target CORE parallelism, not the session's shuffle width: the goal
    # is to feed every core during the map-heavy next stage.  Reading
    # spark.sql.shuffle.partitions here was measured 10× slower under a
    # default-configured (200-partition) session on local[4] — 200 tiny
    # scheduled tasks per downstream stage, pure overhead.  Cap at the
    # shuffle width so a deliberately narrow session stays narrow.
    cores = spark.sparkContext.defaultParallelism
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = min(width, max(2, 2 * cores))
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target, F.col(key))
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> DataFrame:
    """Persist ``df`` as a hash-bucketed (and per-bucket sorted) managed
    table and return the bucketed relation.

    Bucketing is THE shuffle-eliminator for repeated big-big joins at
    100 TB: two tables bucketed by the same key into the same bucket
    count join with ZERO exchange on either side — the hash partitioning
    is baked in at write time and amortized over every subsequent join
    and aggregation on that key (asserted in tests/test_bucketing.py:
    the same join carries two shuffles un-bucketed and none bucketed).
    The reference has no storage layer at all (its state lives in the
    downstream TAK server — SURVEY.md §1.1), so this is pure north-star
    surface."""
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    writer.saveAsTable(table_name)
    return df.sparkSession.table(table_name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> DataFrame:
    """Write a directory-partitioned parquet layout and return the
    re-read relation.

    Partition columns become directory levels, so a filter on them
    prunes whole directories at *planning* time (``PartitionFilters`` in
    the scan — asserted in tests/test_bucketing.py) and never touches
    excluded files.  This is the 100 TB layout for the time-windowed
    scans the reference's IncidentRange performs (task.ts:109-116): a
    date-partitioned landing zone turns the window filter into partition
    pruning.  Pick partition columns with bounded cardinality (date,
    region) — high-cardinality partitioning degenerates into the
    small-files problem."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return df.sparkSession.read.parquet(path)


def read_evolving(
    spark: SparkSession,
    path: str,
    defaults: dict[str, object] | None = None,
) -> DataFrame:
    """Read a parquet directory whose files were written under EVOLVING
    schemas — the normal state of a long-lived 100 TB corpus (columns
    get added over months of ingest; old files are never rewritten).

    ``mergeSchema`` makes Spark union the footers instead of trusting
    the first file sampled, so late-added columns exist on every row
    (null where a file predates them).  ``defaults`` then backfills
    those nulls with typed constants — the read-side equivalent of a
    column DEFAULT, without rewriting a single old file.

    Column pruning and filter pushdown still reach each file's scan;
    files lacking a filtered column contribute rows via the null/default
    path rather than erroring — asserted in tests/test_io_evolution.py.
    """
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, val in (defaults or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(val)))
        else:
            df = df.withColumn(col, F.lit(val))
    return df


def _fs_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path``, via the JVM Hadoop FileSystem API.

    Resolves the filesystem from the path's own URI scheme, so
    ``s3a://`` / ``hdfs://`` / ``file:/`` and bare local paths all size
    correctly (a ``pathlib`` walk only works locally).
    """
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 512,
) -> DataFrame:
    """Rewrite a small-files parquet directory into size-targeted files.

    Long-lived ingest (streaming micro-batches, per-center fetch loops
    like the reference's task.ts:76 per-center writes) accretes files
    far below HDFS/S3-efficient sizes; every downstream scan then pays
    per-file open/footer overhead and the NameNode/listing cost.  The
    fix is periodic compaction: read, coalesce to ceil(bytes/target),
    rewrite.  ``coalesce`` (not repartition) — compaction must not pay
    a full shuffle; it only narrows the partition count, preserving
    data order within files.  At 100 TB run this per partition-directory
    (e.g. per date) so each compaction job is bounded and incremental.

    Input is sized through the Hadoop FileSystem API, so the same code
    works on ``s3a://``/``hdfs://``/``file:/`` URIs — exactly the
    filesystems where small-file compaction matters (a local-only
    directory walk would silently size remote input as zero and
    collapse everything into one file).
    """
    src_bytes = _fs_bytes(spark, src_path)
    n = max(1, math.ceil(src_bytes / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src_path)
    df.coalesce(n).write.mode("overwrite").parquet(dst_path)
    return spark.read.parquet(dst_path)
