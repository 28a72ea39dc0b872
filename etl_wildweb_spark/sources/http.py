"""Throttled HTTP ingest source (SURVEY.md §2 B33, generalizing A3/A4).

The reference fetches one WildWeb endpoint per dispatch center,
*deliberately sequentially* to respect API-Gateway rate limits
(/root/reference/task.ts:76-86; CHANGELOG.md:152 v1.2.0).  Spark's
problem is the inverse — parallelism is free and must be *bounded* — so
this connector makes concurrency and request rate first-class options
instead of hard-coding either.

Implemented with the Python Data Source API (Spark 4): the center list
is split into ``maxConcurrency`` input partitions, each executor task
walks its centers serially under a token-bucket rate limiter shared per
task, retries transient failures with exponential backoff, and emits one
row per center: ``(center, payload, http_ok, status, attempts)``.
Failures are *data*, not exceptions — `http_ok=false` rows flow into the
pipeline's error channel (A19/task.ts:75-157), so one bad center never
kills a 10k-center crawl.

At 100 TB / 10k centers: partitions = maxConcurrency bounds cluster-wide
parallel connections; ratePerSec bounds per-connection request rate, so
aggregate QPS ≤ maxConcurrency × ratePerSec regardless of cluster size.
The fetch stage is a narrow source (no shuffle); downstream parsing
joins it in one whole-stage-codegen pass.

Transports are injectable: ``transport=fake`` (hermetic, deterministic —
used by tests and the registered query; this container has no network)
or ``transport=https`` (stdlib urllib, used in production).  The fake
reproduces the reference's documented edge cases by center-code suffix:
``_ERR`` → HTTP 500 (task.ts:84-86), ``_NULL`` → ``data: null``
(task.ts:99-104, CHANGELOG.md:84), ``_MULTI`` → two envelope elements
(task.ts:93-97), ``_BAD`` → unparsable body.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..pyworker import keep_zip_directories
from ..registry import query

OUTPUT_SCHEMA = "center string, payload string, http_ok boolean, status int, attempts int"

DEFAULT_ENDPOINT = "https://example.invalid/centers/{center}/incidents"


class RateLimiter:
    """Token bucket: at most ``rate`` acquisitions per second, burst 1.

    Per-task (one per input partition), so aggregate request rate is
    bounded by maxConcurrency × rate no matter how many executors run.
    """

    def __init__(self, rate: float) -> None:
        self.min_interval = 1.0 / rate if rate > 0 else 0.0
        self._last = 0.0

    def acquire(self) -> None:
        if self.min_interval <= 0:
            return
        now = time.monotonic()
        wait = self._last + self.min_interval - now
        if wait > 0:
            time.sleep(wait)
        self._last = time.monotonic()


def fake_transport(url: str, center: str) -> tuple[int, str]:
    """Deterministic hermetic transport reproducing the WildWeb API's
    documented behaviors (see module docstring) — the test double for
    the reference's fetch (task.ts:78-86)."""
    if center.endswith("_ERR"):
        return 500, '{"message": "internal error"}'
    if center.endswith("_BAD"):
        return 200, "<html>not json</html>"
    if center.endswith("_MULTI"):
        env = [{"retrieved": "2026-01-01T00:00:00Z", "data": []}] * 2
        return 200, json.dumps(env)
    if center.endswith("_NULL"):
        return 200, json.dumps([{"retrieved": "2026-01-01T00:00:00Z", "data": None}])
    # stable pseudo-random incident count/fields per center
    seed = sum(ord(c) for c in center)
    incidents = [
        {
            "ic": None,
            "date": f"2026-01-0{1 + (seed + i) % 7} 0{(seed + i) % 10}:15:00",
            "name": f"{center} Fire {i}",
            "type": "Wildfire",
            "uuid": f"{center}-{i}",
            "acres": str(0.1 * (i + 1)),
            "fuels": "grass",
            "inc_num": str(1000 + i),
            "fire_num": None,
            "latitude": str(33.0 + (seed % 90) / 10.0),
            "location": "somewhere",
            "longitude": str(100.0 + (seed % 200) / 10.0),
            "resources": [],
            "webComment": None,
            "fire_status": "Active",
            "fiscal_data": "",
        }
        for i in range(1 + seed % 4)
    ]
    return 200, json.dumps([{"retrieved": "2026-01-01T00:00:00Z", "data": incidents}])


def https_transport(url: str, center: str) -> tuple[int, str]:
    """Production transport (stdlib only; import-gated for hermetic
    environments)."""
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=30) as resp:  # noqa: S310
            return resp.status, resp.read().decode("utf-8", "replace")
    except urllib.error.HTTPError as e:  # non-2xx still carries a body
        return e.code, e.read().decode("utf-8", "replace")


TRANSPORTS = {"fake": fake_transport, "https": https_transport}


class CentersPartition(InputPartition):
    def __init__(self, centers: list[str]) -> None:
        self.centers = centers


class HttpCentersReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.centers = [c for c in options.get("centers", "").split(",") if c]
        self.max_concurrency = int(options.get("maxConcurrency", 1))
        self.rate_per_sec = float(options.get("ratePerSec", 0))
        self.retries = int(options.get("retries", 2))
        self.backoff = float(options.get("backoffSec", 0.05))
        self.transport = options.get("transport", "https")
        self.endpoint = options.get("endpoint", DEFAULT_ENDPOINT)

    def partitions(self) -> list[CentersPartition]:
        n = max(1, min(self.max_concurrency, len(self.centers) or 1))
        # round-robin keeps partitions balanced even if the center list
        # is sorted by region (adjacent centers often share load spikes)
        buckets: list[list[str]] = [[] for _ in range(n)]
        for i, c in enumerate(self.centers):
            buckets[i % n].append(c)
        return [CentersPartition(b) for b in buckets if b]

    def read(self, partition: CentersPartition):
        keep_zip_directories()
        fetch = TRANSPORTS[self.transport]
        limiter = RateLimiter(self.rate_per_sec)
        for center in partition.centers:
            status, body, attempts = 0, "", 0
            for attempt in range(self.retries + 1):
                limiter.acquire()
                attempts = attempt + 1
                try:
                    status, body = fetch(self.endpoint.format(center=center), center)
                except Exception as e:  # network-level failure → retryable
                    status, body = 0, f'{{"transport_error": {json.dumps(str(e))}}}'
                if 200 <= status < 300:
                    break
                if attempt < self.retries:
                    time.sleep(self.backoff * (2**attempt))
            yield (center, body, 200 <= status < 300, status, attempts)


class WildWebDataSource(DataSource):
    """``spark.read.format("wildweb")`` — per-center HTTP fetch source."""

    @classmethod
    def name(cls) -> str:
        return "wildweb"

    def schema(self) -> str:
        return OUTPUT_SCHEMA

    def reader(self, schema) -> HttpCentersReader:
        return HttpCentersReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(WildWebDataSource)


def read_centers(
    spark: SparkSession,
    centers: list[str],
    *,
    max_concurrency: int = 1,
    rate_per_sec: float = 0,
    retries: int = 2,
    transport: str = "https",
    endpoint: str = DEFAULT_ENDPOINT,
) -> DataFrame:
    register(spark)
    return (
        spark.read.format("wildweb")
        .option("centers", ",".join(centers))
        .option("maxConcurrency", max_concurrency)
        .option("ratePerSec", rate_per_sec)
        .option("retries", retries)
        .option("transport", transport)
        .option("endpoint", endpoint)
        .load()
    )


_DEMO_CENTERS = [
    "AZPDC", "CASHF", "COPBC", "IDBDC", "MTBRC", "NMSDC", "ORBIC", "WYCODC",
    "UTMFC_NULL", "NVSFC_ERR", "AKACC_MULTI", "HIHDC_BAD",
]


@query("b33_http_ingest")  # connector + live pipeline → rows-only
def b33_http_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33: the full reference dataflow A3→A17 end-to-end through the
    connector — fetch 12 centers (4 of them exercising the error paths)
    on 4-way bounded concurrency, parse/validate/flatten, and return
    per-center feature & error counts.  Hermetic fake transport; the
    https transport is the same code path behind one option."""
    from ..ingest.wildweb import run_pipeline

    # three consumers (features, errors, the reporting join) would
    # otherwise EACH re-run the source — i.e. re-fetch every center over
    # HTTP.  Materialize the fetch once before fan-out: an eager local
    # checkpoint, because a cache may be evicted and its recompute
    # re-fetches.
    raw = read_centers(
        spark, _DEMO_CENTERS, max_concurrency=4, rate_per_sec=200, transport="fake"
    ).localCheckpoint(eager=True)
    features, errors = run_pipeline(raw, None, F.current_timestamp())
    n_feat = (
        features.groupBy("center")
        .agg(F.count(F.lit(1)).alias("n_features"))
        .withColumn("n_errors", F.lit(0).cast("long"))
    )
    n_err = (
        errors.groupBy("center")
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .withColumn("n_features", F.lit(0).cast("long"))
        .select("center", "n_features", "n_errors")
    )
    counts = (
        n_feat.unionByName(n_err)
        .groupBy("center")
        .agg(
            F.sum("n_features").alias("n_features"),
            F.sum("n_errors").alias("n_errors"),
        )
    )
    # every fetched center reports, even at (0, 0) — e.g. a null data
    # array (task.ts:99-104) produces neither features nor errors
    return (
        raw.select("center")
        .join(counts, "center", "left")
        .select(
            "center",
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
    )


# ------------------------------------------------ streaming poll source

STREAM_SCHEMA = "center string, payload string, http_ok boolean, status int, poll int"


class WildWebPollStreamReader:
    """Streaming twin of the batch connector: the reference's A1
    scheduled re-poll (task.ts:50 — cron → fetch the whole feed) as a
    REAL Structured Streaming source via Spark 4's
    SimpleDataSourceStreamReader.  The offset is the poll generation:
    micro-batch k fetches every center once with poll=k, so the
    checkpoint makes ingest exactly-once across restarts — replaying a
    committed range (readBetweenOffsets) re-fetches the same
    generations, and the deterministic fake transport makes the replay
    bit-identical in tests.

    ``maxPolls`` bounds the demo/test run; production leaves it at the
    default -1 (poll forever, one generation per trigger interval —
    the scheduled-Lambda cadence moved into the engine)."""

    def __init__(self, options: dict) -> None:
        self.centers = [c for c in options.get("centers", "").split(",") if c]
        self.max_polls = int(options.get("maxPolls", -1))
        self.transport = options.get("transport", "https")
        self.endpoint = options.get("endpoint", DEFAULT_ENDPOINT)

    def initialOffset(self) -> dict:
        return {"poll": 0}

    def _rows(self, poll: int):
        fetch = TRANSPORTS[self.transport]
        for center in self.centers:
            try:
                status, body = fetch(self.endpoint.format(center=center), center)
            except Exception as e:
                status, body = 0, f'{{"transport_error": {json.dumps(str(e))}}}'
            yield (center, body, 200 <= status < 300, status, poll)

    def read(self, start: dict):
        keep_zip_directories()
        p = start["poll"]
        if self.max_polls >= 0 and p >= self.max_polls:
            return iter([]), start
        # a LIST iterator, not a generator: Spark's driver-side
        # prefetch cache both next()s and copy.copy()s the returned
        # iterator for replay — generators can't be copied and bare
        # lists can't be next()ed
        return iter(list(self._rows(p))), {"poll": p + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        keep_zip_directories()
        for p in range(start["poll"], end["poll"]):
            yield from self._rows(p)

    def commit(self, end: dict) -> None:
        pass  # no source-side cleanup: polls are re-fetchable


class WildWebStreamSource(DataSource):
    """``spark.readStream.format("wildweb_stream")`` — poll-per-batch."""

    @classmethod
    def name(cls) -> str:
        return "wildweb_stream"

    def schema(self) -> str:
        return STREAM_SCHEMA

    def simpleStreamReader(self, schema):
        return WildWebPollStreamReader(self.options)


def read_centers_stream(
    spark: SparkSession,
    centers: list[str],
    *,
    max_polls: int = -1,
    transport: str = "https",
    endpoint: str = DEFAULT_ENDPOINT,
) -> DataFrame:
    spark.dataSource.register(WildWebStreamSource)
    return (
        spark.readStream.format("wildweb_stream")
        .option("centers", ",".join(centers))
        .option("maxPolls", max_polls)
        .option("transport", transport)
        .option("endpoint", endpoint)
        .load()
    )


@query("b91_stream_http_source")  # custom streaming connector → rows-only
def b91_stream_http_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B33/A1 streaming: three poll generations of the 12-center demo
    feed through the custom streaming source into a memory sink.
    Exactly-once arithmetic — 3 polls × 12 centers = 36 rows, every
    (center, poll) pair exactly once — is asserted in
    tests/test_transport.py along with offset-replay determinism.
    Python streaming sources don't support Trigger.AvailableNow, so
    the harness micro-batches until the poll budget drains (the
    source returns empty batches past maxPolls) and then stops."""
    out = run_polls_to_memory(
        spark, _DEMO_CENTERS, max_polls=3, transport="fake"
    )
    return out.groupBy("poll", "http_ok").agg(
        F.count(F.lit(1)).alias("n_centers")
    )


def run_polls_to_memory(
    spark: SparkSession,
    centers: list[str],
    *,
    max_polls: int,
    transport: str = "fake",
    timeout_sec: int = 120,
) -> DataFrame:
    """Drive the poll stream into a memory sink until all ``max_polls``
    generations have been committed, then stop and return the
    materialized (executor-checkpointed) result."""
    import tempfile as _tempfile
    import uuid as _uuid

    stream = read_centers_stream(
        spark, centers, max_polls=max_polls, transport=transport
    )
    name = f"polls_{_uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", _tempfile.mkdtemp(prefix="pollck_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    want = max_polls * len(centers)
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if spark.table(name).count() >= want:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    return spark.table(name).localCheckpoint(eager=True)
