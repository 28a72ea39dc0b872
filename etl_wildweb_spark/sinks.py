"""Submit sink — the reference's A18 boundary, distributed.

The reference POSTs one FeatureCollection to the CloudTAK layer
endpoint per run (/root/reference/task.ts:149) and submits even when
some centers failed (partial results shipped, errors escalated after —
task.ts:151-157).  A 100 TB engine can't funnel features through the
driver, so the sink is per-partition chunked submission:

  * each executor task groups its features into FeatureCollection
    chunks of ``chunk_size`` and POSTs each chunk independently;
  * failures are *status rows*, not exceptions — at-least-once with
    partial delivery, the reference's semantics (CHANGELOG.md:63
    "Error resilience") generalized;
  * every delivery path — ``submit_features`` (``mapInPandas``) and the
    batch and streaming ``wildweb_sink`` writers — posts the items of
    one serializer (``_feature_json``) through one chunk loop
    (``_post_chunks``), so the same features are posted byte-identically
    whichever path carries them; stable feature ids (A12: 'wildweb-' +
    uuid) make a redelivered micro-batch idempotent downstream.

Transports are injectable exactly like sources/http.py: tests and the
registered query use a hermetic fake; production swaps one callable.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .pyworker import keep_zip_directories

STATUS_SCHEMA = "chunk_id string, n_features bigint, status int, ok boolean"

PostFn = Callable[[str], int]  # FeatureCollection JSON -> HTTP status


def fake_post(fc_json: str) -> int:
    """Hermetic transport double: accepts everything except collections
    carrying the poison marker (lets tests exercise partial failure)."""
    return 500 if "POISON" in fc_json else 200


def https_post(url: str) -> PostFn:
    """Production transport factory (stdlib, import-gated)."""

    def post(fc_json: str) -> int:
        import urllib.request

        req = urllib.request.Request(
            url, data=fc_json.encode(), headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return resp.status

    return post


def _feature_json(features: DataFrame) -> DataFrame:
    """The serializer of every delivery path: each row's ``feature``
    struct (to_features output) as the JSON text of one GeoJSON Feature,
    in one ``feature_json`` column.  ``to_json`` runs in the JVM
    (codegen'd), so the Python side only joins strings; null fields stay
    ``null``, as the reference's ``{...fire}`` metadata spread posts
    them (task.ts:132-134)."""
    return features.select(
        F.to_json("feature", {"ignoreNullFields": "false"}).alias("feature_json")
    )


def _post_chunks(
    items: Iterable[str], post: PostFn, chunk_size: int
) -> Iterator[tuple[int, int]]:
    """The chunk loop of every delivery path: POST the Feature JSON texts
    ``items`` as FeatureCollections of at most ``chunk_size`` features
    and yield ``(n_features, status)`` per chunk.  A transport exception
    is status 0 — a failed chunk is data, not a failed task."""
    it = iter(items)
    while chunk := list(itertools.islice(it, chunk_size)):
        fc = '{"type":"FeatureCollection","features":[' + ",".join(chunk) + "]}"
        try:
            status = post(fc)
        except Exception:
            status = 0  # transport-level failure
        yield len(chunk), status


def submit_features(
    features: DataFrame, post: PostFn = fake_post, chunk_size: int = 500
) -> DataFrame:
    """POST features as FeatureCollection chunks, per partition.

    Input: a DataFrame with a ``feature`` struct column (to_features
    output).  Returns one status row per chunk — delivery outcomes are
    data, queryable and joinable against the error channel."""

    def send(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_zip_directories()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        items = (fj for pdf in batches for fj in pdf["feature_json"])
        for seq, (n, status) in enumerate(_post_chunks(items, post, chunk_size)):
            yield pd.DataFrame(
                {
                    "chunk_id": [f"p{pid}c{seq}"],
                    "n_features": [n],
                    "status": [status],
                    "ok": [200 <= status < 300],
                }
            )

    return _feature_json(features).mapInPandas(send, STATUS_SCHEMA)


from .registry import query  # noqa: E402


@query("a18_submit_sink")  # delivery statuses, chunking is partition-dependent → rows-only
def a18_submit_sink(spark, sf_dir: str) -> DataFrame:
    """A18 end-to-end: run the synthetic WildWeb pipeline, deliver the
    features through the chunked submit sink (fake transport), report
    delivered-feature totals per outcome.  Total delivered features
    equals the pipeline's output cardinality (asserted in
    tests/test_sinks.py along with partial-failure semantics)."""
    from .ingest.wildweb import _synth_features

    statuses = submit_features(_synth_features(spark, sf_dir), fake_post, chunk_size=200)
    return statuses.groupBy("ok").agg(
        F.sum("n_features").alias("n_features"),
        F.count(F.lit(1)).alias("n_chunks"),
    )


# ------------------------------------------- custom DataSource writer

class SubmitCommit:
    """Per-task commit message: what this task delivered."""

    def __init__(self, n_rows: int, n_chunks: int, n_failed_chunks: int) -> None:
        self.n_rows = n_rows
        self.n_chunks = n_chunks
        self.n_failed_chunks = n_failed_chunks


def _write_manifest(path: str, name: str, messages, **extra) -> None:
    """The driver-side commit of both writers: sum the tasks' commit
    messages into the manifest file ``path/name``, ``extra`` first."""
    msgs = list(messages)  # guard: may arrive as an iterator
    manifest = {
        **extra,
        "n_rows": sum(m.n_rows for m in msgs),
        "n_chunks": sum(m.n_chunks for m in msgs),
        "n_failed_chunks": sum(m.n_failed_chunks for m in msgs),
        "n_tasks": len(msgs),
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        f.write(json.dumps(manifest))


def _make_submit_writer_classes():
    """Build the writer/datasource classes lazily so importing sinks.py
    never requires pyspark.sql.datasource (kept import-gated like the
    source side)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceArrowWriter,
        DataSourceStreamArrowWriter,
        WriterCommitMessage,
    )

    class _Commit(WriterCommitMessage, SubmitCommit):
        pass

    class WildWebSubmitWriter(DataSourceArrowWriter):
        """A18 as a REAL ``df.write.format("wildweb_sink")`` writer:
        each executor task chunks its partition into FeatureCollection
        POSTs (at-least-once, failures are data), returns a commit
        message with its delivery counts, and the DRIVER-side
        commit() — which Spark calls exactly once, only when every
        task succeeded — writes the delivery manifest.  A failed job
        calls abort() instead and leaves no manifest: the commit
        protocol is what upgrades scattered POSTs into an auditable
        all-tasks-delivered handshake.

        ARROW writer over PRE-SERIALIZED features: DataSourceWriter
        hands rows to Python ONE AT A TIME through pickle (measured
        ~16k rows/s regardless of sink logic — the single slowest
        query in the 16x sweep at 101 s), and even Arrow batches of
        nested structs pay a per-row ``to_pylist`` + ``json.dumps``
        in Python.  So the writer's input is ``_feature_json`` output,
        each feature already its JSON string JVM-SIDE, and this writer
        receives RecordBatches of ONE string column — assembling a
        FeatureCollection chunk is a C-speed ``",".join``.  Same
        commit protocol, same at-least-once chunk semantics; 16x
        sweep: 101 s (Row) → 33 s (Arrow structs) → 7.3 s (Arrow +
        JVM serialize)."""

        def __init__(self, options: dict) -> None:
            self.chunk_size = int(options.get("chunkSize", 500))
            self.path = options["path"]

        def write(self, iterator):
            keep_zip_directories()
            # one pyarrow.RecordBatch per ~10k rows
            items = (s for batch in iterator for s in batch.column(0).to_pylist())
            chunks = list(_post_chunks(items, fake_post, self.chunk_size))
            return _Commit(
                sum(n for n, _ in chunks),
                len(chunks),
                sum(not 200 <= status < 300 for _, status in chunks),
            )

        def commit(self, messages) -> None:
            _write_manifest(self.path, "_MANIFEST.json", messages)

        def abort(self, messages) -> None:
            # no manifest ⇒ downstream treats the wave as undelivered
            pass

    class WildWebStreamSubmitWriter(
        DataSourceStreamArrowWriter, WildWebSubmitWriter
    ):
        """The SAME delivery path under writeStream: per micro-batch,
        every task posts its chunks (write() inherited verbatim), then
        the driver's commit(messages, batchId) writes a manifest file
        KEYED BY batchId — so a recovered/replayed batch overwrites its
        own manifest instead of double-counting, which is exactly the
        idempotence contract Structured Streaming's epoch commit
        expects of a sink (at-least-once delivery, exactly-once
        manifest).  This is the native
        ``writeStream.format("wildweb_sink")`` form."""

        # explicit override: with (StreamArrowWriter, SubmitWriter)
        # bases, Python's MRO resolves ``write`` to the STREAM base's
        # abstract stub first and the class stays abstract
        def write(self, iterator):
            return WildWebSubmitWriter.write(self, iterator)

        def commit(self, messages, batchId: int) -> None:  # noqa: N803
            _write_manifest(
                self.path, f"batch-{batchId}.json", messages, batch_id=batchId
            )

        def abort(self, messages, batchId: int) -> None:  # noqa: N803
            # no manifest for this epoch ⇒ the batch replays
            pass

    class WildWebSinkSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "wildweb_sink"

        def writer(self, schema, overwrite: bool) -> WildWebSubmitWriter:
            return WildWebSubmitWriter(self.options)

        def streamWriter(self, schema, overwrite: bool):
            return WildWebStreamSubmitWriter(self.options)

    return WildWebSinkSource


def write_submit(
    features: DataFrame, manifest_dir: str, chunk_size: int = 500
) -> dict:
    """Deliver ``features`` (a ``feature`` struct column) through the
    custom sink and return the committed manifest."""
    spark = features.sparkSession
    spark.dataSource.register(_make_submit_writer_classes())
    (
        _feature_json(features).write.format("wildweb_sink")
        .option("chunkSize", chunk_size)
        .option("path", manifest_dir)
        .mode("append")
        .save()
    )
    with open(os.path.join(manifest_dir, "_MANIFEST.json")) as f:
        return json.loads(f.read())


def write_submit_stream(
    features_stream: DataFrame,
    manifest_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 500,
    timeout_sec: int = 420,
) -> list[dict]:
    """Deliver a STREAMING features frame (a ``feature`` struct column)
    through the native ``writeStream.format("wildweb_sink")`` path
    (Trigger.AvailableNow, bounded) and return THIS invocation's
    per-batch manifests, sorted by batch id.  Same ``_feature_json``
    serializer as the batch path.

    Manifest files from an earlier run with a DIFFERENT checkpoint are
    excluded (a stale ``batch-*.json`` must not be
    silently mixed into the return): the glob is filtered to the batch
    ids in THIS checkpoint's commit log (``checkpoint_dir/commits/``,
    one file per committed epoch) — the authoritative lineage, stable
    across restarts, so a same-checkpoint restart still returns the
    full manifest history while a foreign run's leftovers never
    appear."""
    q = _start_submit_stream(
        features_stream, manifest_dir, checkpoint_dir, chunk_size,
        availableNow=True,
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("stream sink did not drain in time")
    return _collect_stream_manifests(manifest_dir, checkpoint_dir)


def _start_submit_stream(
    features_stream: DataFrame,
    manifest_dir: str,
    checkpoint_dir: str,
    chunk_size: int,
    **trigger,
):
    """Start ``features_stream`` into the ``wildweb_sink`` stream
    writer under ``checkpoint_dir`` with the given ``trigger`` and
    return the running query."""
    features_stream.sparkSession.dataSource.register(
        _make_submit_writer_classes()
    )
    return (
        _feature_json(features_stream)
        .writeStream.format("wildweb_sink")
        .option("chunkSize", chunk_size)
        .option("path", manifest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(**trigger)
        .start()
    )


def _collect_stream_manifests(
    manifest_dir: str, checkpoint_dir: str
) -> list[dict]:
    """Per-epoch manifests scoped to ``checkpoint_dir``'s commit log —
    the authoritative lineage — so foreign leftovers in the manifest
    dir never leak into the result."""
    committed = {
        int(name)
        for name in os.listdir(os.path.join(checkpoint_dir, "commits"))
        if name.isdigit()
    }
    manifests = []
    for p in sorted(glob.glob(f"{manifest_dir}/batch-*.json")):
        with open(p) as f:
            m = json.loads(f.read())
        if m["batch_id"] in committed:
            manifests.append(m)
    return sorted(manifests, key=lambda m: m["batch_id"])


@query("b94_datasource_writer")  # commit-protocol sink → rows-only
def b94_datasource_writer(spark, sf_dir: str) -> DataFrame:
    """A18 through the Python DataSource WRITER API: the wildweb
    feature wave delivered by ``df.write.format("wildweb_sink")`` with
    a driver-side commit manifest (written exactly once, only after
    every task's chunks were posted).  Manifest row counts must equal
    the pipeline cardinality — asserted in tests/test_sinks.py."""
    import tempfile

    from .ingest.wildweb import _synth_features
    from .io import local_frame

    manifest = write_submit(
        _synth_features(spark, sf_dir),
        tempfile.mkdtemp(prefix="submitsink_"),
        chunk_size=200,
    )
    return local_frame(
        spark,
        [
            (
                manifest["n_rows"],
                manifest["n_chunks"],
                manifest["n_failed_chunks"],
                manifest["n_tasks"],
            )
        ],
        "n_rows bigint, n_chunks bigint, n_failed_chunks bigint, n_tasks bigint",
    )


@query("b135_stream_sink")  # per-batch manifests, task-count-dependent → rows-only
def b135_stream_sink(spark, sf_dir: str) -> DataFrame:
    """A18 delivery as a NATIVE streaming sink: the events feed read
    through readStream, each event wrapped as a ``feature`` struct and
    delivered by ``writeStream.format("wildweb_sink")``
    (DataSourceStreamArrowWriter) under Trigger.AvailableNow, with one
    batchId-keyed manifest per epoch — the idempotent-commit contract a
    replayed micro-batch needs.  Complements b94 (batch writer, same
    commit protocol, serializer and chunk loop).  Returns the per-batch
    manifests; tests/test_sinks.py asserts total rows == the batch
    count of the same frame and that a replayed batch id overwrites,
    not double-counts."""
    import tempfile

    from .io import local_frame
    from .streaming.windows import events_stream

    import shutil

    s = events_stream(spark, sf_dir).select(
        F.struct(
            "event_id", "user_id", "event_type",
            F.col("ts").cast("string").alias("ts"),
        ).alias("feature")
    )
    mdir = tempfile.mkdtemp(prefix="streamsink_m_")
    ckdir = tempfile.mkdtemp(prefix="streamsink_ck_")
    try:
        manifests = write_submit_stream(s, mdir, ckdir, chunk_size=5000)
    finally:
        # manifests are already read into local dicts; the checkpoint
        # (offsets/commits/source listings) must not accumulate across
        # invocations — same rmtree discipline as b71/b127/b136
        shutil.rmtree(mdir, ignore_errors=True)
        shutil.rmtree(ckdir, ignore_errors=True)
    return local_frame(
        spark,
        [
            (
                m["batch_id"],
                m["n_rows"],
                m["n_chunks"],
                m["n_failed_chunks"],
                m["n_tasks"],
            )
            for m in manifests
        ],
        "batch_id bigint, n_rows bigint, n_chunks bigint, "
        "n_failed_chunks bigint, n_tasks bigint",
    )
