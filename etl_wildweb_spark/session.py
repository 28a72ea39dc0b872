"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same configs are what we would set cluster-side at 100 TB: AQE on (runtime
skew-join + partition coalescing), UTC session timezone (the reference's
Lambda runs UTC — /root/reference/task.ts parses dates in process TZ, see
SURVEY.md §2.1.3), Arrow for any pandas exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs that query builders re-assert on *any* session
# (including the driver's): correctness must not depend on who built the
# session.  Static confs (driver memory, master) only apply to sessions we
# create ourselves.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # ANSI is this build's default and every oracle-backed query is
    # verified under it; pin it so a hostile non-ANSI driver session
    # cannot flip arithmetic overflow from fail-loudly to silent NULL
    # (the silent-NULL overflow class once seen in merge.py).
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # NOTE deliberately absent: canChangeCachedPlanOutputPartitioning.
    # Letting AQE re-coalesce cached plans measured 2x SLOWER on the
    # minhash pipeline at sf0.1/local[32] (the cached signature subtree
    # coalesces below core count and the expensive per-row signature
    # stage serializes), and gains nothing under a default 200-partition
    # session once lift_parallelism targets cores (io.py).
}


#: Attribute set on a SparkContext once the package zip has shipped.
_SHIPPED_ATTR = "_etl_wildweb_pyfile_shipped"


def _ship_package(spark: SparkSession) -> None:
    """Ship this package's source to the Python workers via addPyFile.

    cloudpickle serializes mapInPandas/applyInPandas functions, UDTFs,
    and Python DataSource classes BY REFERENCE (module path + name), so
    every worker must be able to ``import etl_wildweb_spark`` — true
    under pytest (cwd = repo) but NOT guaranteed for an externally-built
    driver session running from another cwd with no PYTHONPATH.  A
    zip of the package on the session's file server makes the import
    work everywhere; this is also exactly the cluster deploy story
    (same call ships the code to 1000 executors — no image bake
    needed).  Idempotent per SparkContext; a few ms once per process.
    The zip is removed at interpreter exit: nothing fetches it once the
    SparkContext has gone."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    try:
        import atexit
        import pathlib
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            tempfile.gettempdir(), f"etl_wildweb_spark_pkg_{os.getpid()}.zip"
        )
        atexit.register(pathlib.Path(zpath).unlink, missing_ok=True)
        with zipfile.ZipFile(zpath, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        arc = os.path.join(
                            "etl_wildweb_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, arc)
        sc.addPyFile(zpath)
    except Exception:
        pass  # no writable tmp / restricted context — workers must
        # already see the package (the pytest/local path)
    setattr(sc, _SHIPPED_ATTR, True)


#: Modules whose classes cross into Spark's PLANNER-side Python workers
#: (streaming source runner, DataSource writer init), and the worker
#: set-up their entry points call — those workers do NOT get the
#: addPyFile sys.path, so these must pickle by value.
_BY_VALUE_MODULES = (
    "etl_wildweb_spark.sources.http",
    "etl_wildweb_spark.sinks",
    "etl_wildweb_spark.pyworker",
)


def _register_pickle_by_value() -> None:
    """Serialize the Python-DataSource modules BY VALUE in cloudpickle.

    addPyFile covers ordinary task workers, but Spark 4's Python
    *streaming source runner* (python_streaming_source_runner.py) and
    the DataSource *writer-init* worker are planner-side processes that
    unpickle the DataSource class WITHOUT the shipped pyFiles on
    sys.path — a by-reference pickle dies there with
    ModuleNotFoundError when the driver session was built outside the
    repo (no cwd/PYTHONPATH help).  Registering exactly the
    DataSource-defining modules with pyspark's vendored cloudpickle
    makes those classes self-contained.  Deliberately NOT the whole
    package: by-value registration means any closure that captures a
    module OBJECT drags the full module dict into the pickle, and an
    unpicklable global anywhere in it (an RLock, a logger handler)
    would break unrelated operators.  Idempotent."""
    try:
        import importlib as _importlib

        from pyspark import cloudpickle as _cp

        for name in _BY_VALUE_MODULES:
            try:
                _cp.register_pickle_by_value(_importlib.import_module(name))
            except Exception:
                pass
    except Exception:
        pass  # vendored cloudpickle without the API — fall back to
        # by-reference + addPyFile


def prepare(spark: SparkSession) -> SparkSession:
    """Assert runtime confs on an externally-provided session (driver's)."""
    _ship_package(spark)
    _register_pickle_by_value()
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not settable on this build — proceed with defaults
    # Size shuffle partitions to the session's actual parallelism.  A
    # driver session left at the 200 default makes every stateful
    # streaming micro-batch pay 200 state-store tasks on a handful of
    # cores (observed: 3.5× a 420 s budget for a 6-batch run on
    # local[4]); AQE coalesces batch exchanges either way, and
    # streaming state partitioning is fixed at first batch — so pin it
    # BEFORE any query starts.
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(8, cores)))
    except Exception:
        pass
    return spark


def cluster_confs(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """The conf profile this engine deploys with at 100 TB — the
    concrete version of every 'at scale' docstring claim, kept next to
    the local profile so the two can't drift silently.

    Sizing logic (not magic numbers):
      * shuffle partitions ≈ 2× total cores — enough waves for AQE's
        coalescer to work DOWN from, while skew-join splits work up;
      * maxPartitionBytes fixes scan-task input, so task count scales
        with data, not cluster (100 TB / 128 MB ≈ 800k scan tasks —
        fine, scheduling is O(ms) per task);
      * broadcast threshold stays modest cluster-side (every executor
        holds a copy; 64 MB × 1000 executors = 64 GB aggregate is the
        budget ceiling, not driver memory);
      * RocksDB state store: heap state OOMs at billions of streaming
        keys (streaming/stateful.py docstring).
    """
    total_cores = executors * cores_per_executor
    return {
        **RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }


def get_spark(app_name: str = "etl-wildweb-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions sized to cores for local mode; on a real
        # cluster this scales with executor count (or AQE coalesces).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
