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
  * streaming uses the same code path via ``foreachBatch`` — one
    delivery wave per micro-batch, idempotent downstream because
    feature ids are stable (A12: 'wildweb-' + uuid).

Transports are injectable exactly like sources/http.py: tests and the
registered query use a hermetic fake; production swaps one callable.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

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


def submit_features(
    features: DataFrame, post: PostFn = fake_post, chunk_size: int = 500
) -> DataFrame:
    """POST features as FeatureCollection chunks, per partition.

    Input: a DataFrame with a ``feature`` struct column (to_features
    output).  Returns one status row per chunk — delivery outcomes are
    data, queryable and joinable against the error channel."""
    payloads = features.select(F.to_json("feature").alias("fj"))

    def send(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        seq = 0

        def flush(chunk: list[str]) -> pd.DataFrame:
            nonlocal seq
            fc = '{"type":"FeatureCollection","features":[' + ",".join(chunk) + "]}"
            try:
                status = post(fc)
            except Exception:
                status = 0  # transport-level failure
            row = pd.DataFrame(
                {
                    "chunk_id": [f"p{pid}c{seq}"],
                    "n_features": [len(chunk)],
                    "status": [status],
                    "ok": [200 <= status < 300],
                }
            )
            seq += 1
            return row

        buf: list[str] = []
        for pdf in batches:
            for fj in pdf["fj"]:
                buf.append(fj)
                if len(buf) >= chunk_size:
                    yield flush(buf)
                    buf = []
        if buf:
            yield flush(buf)

    return payloads.mapInPandas(send, STATUS_SCHEMA)


def stream_submit(
    features_stream: DataFrame, post: PostFn = fake_post, chunk_size: int = 500
):
    """Streaming A18: same chunked submit per micro-batch via
    foreachBatch.  Returns the DataStreamWriter (caller starts it)."""

    def deliver(batch_df: DataFrame, epoch_id: int) -> None:
        # count() forces full delivery of the wave; statuses could also
        # be appended to a delivery-log table here
        submit_features(batch_df, post, chunk_size).count()

    return features_stream.writeStream.foreachBatch(deliver)


from .registry import query  # noqa: E402


@query("a18_submit_sink")  # delivery statuses, chunking is partition-dependent → rows-only
def a18_submit_sink(spark, sf_dir: str) -> DataFrame:
    """A18 end-to-end: run the synthetic WildWeb pipeline, deliver the
    features through the chunked submit sink (fake transport), report
    delivered-feature totals per outcome.  Total delivered features
    equals the pipeline's output cardinality (asserted in
    tests/test_sinks.py along with partial-failure semantics)."""
    from .ingest.wildweb import (
        _SYNTH_NOW,
        _dated,
        _synth_incidents,
        filter_time_range,
        filter_valid_geo,
        to_features,
    )

    incidents = _synth_incidents(spark, sf_dir)
    in_window = filter_time_range(
        incidents, "1 Week", F.lit(_SYNTH_NOW).cast("timestamp")
    )
    features = to_features(filter_valid_geo(_dated(in_window)))
    statuses = submit_features(features, fake_post, chunk_size=200)
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


def _make_submit_writer_classes():
    """Build the writer/datasource classes lazily so importing sinks.py
    never requires pyspark.sql.datasource (kept import-gated like the
    source side)."""
    import json as _json
    import os as _os

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
        in Python.  So write_submit serializes each feature to its
        JSON string JVM-SIDE with ``to_json`` (whole-stage codegen),
        and this writer receives RecordBatches of ONE string column —
        assembling a FeatureCollection chunk is a C-speed
        ``",".join``.  Same commit protocol, same at-least-once chunk
        semantics; 16x sweep: 101 s (Row) → 33 s (Arrow structs) →
        7.3 s (Arrow + JVM serialize)."""

        def __init__(self, options: dict) -> None:
            self.chunk_size = int(options.get("chunkSize", 500))
            self.path = options["path"]

        def write(self, iterator):
            n_rows = n_chunks = n_failed = 0
            buf: list[str] = []

            def flush() -> None:
                nonlocal n_chunks, n_failed
                if not buf:
                    return
                fc = (
                    '{"type":"FeatureCollection","features":['
                    + ",".join(buf)
                    + "]}"
                )
                status = fake_post(fc)
                n_chunks += 1
                if not 200 <= status < 300:
                    n_failed += 1
                buf.clear()

            for batch in iterator:  # pyarrow.RecordBatch per ~10k rows
                for s in batch.column(0).to_pylist():
                    buf.append(s)
                    if len(buf) >= self.chunk_size:
                        flush()
                n_rows += batch.num_rows
            flush()
            return _Commit(n_rows, n_chunks, n_failed)

        def commit(self, messages) -> None:
            msgs = list(messages)  # guard: may arrive as an iterator
            manifest = {
                "n_rows": sum(m.n_rows for m in msgs),
                "n_chunks": sum(m.n_chunks for m in msgs),
                "n_failed_chunks": sum(m.n_failed_chunks for m in msgs),
                "n_tasks": len(msgs),
            }
            _os.makedirs(self.path, exist_ok=True)
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as f:
                f.write(_json.dumps(manifest))

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
        manifest).  foreachBatch (stream_submit) remains the
        data-path alternative; this is the native
        ``writeStream.format("wildweb_sink")`` form."""

        # explicit override: with (StreamArrowWriter, SubmitWriter)
        # bases, Python's MRO resolves ``write`` to the STREAM base's
        # abstract stub first and the class stays abstract
        def write(self, iterator):
            return WildWebSubmitWriter.write(self, iterator)

        def commit(self, messages, batchId: int) -> None:  # noqa: N803
            msgs = list(messages)
            manifest = {
                "batch_id": batchId,
                "n_rows": sum(m.n_rows for m in msgs),
                "n_chunks": sum(m.n_chunks for m in msgs),
                "n_failed_chunks": sum(m.n_failed_chunks for m in msgs),
                "n_tasks": len(msgs),
            }
            _os.makedirs(self.path, exist_ok=True)
            with open(
                _os.path.join(self.path, f"batch-{batchId}.json"), "w"
            ) as f:
                f.write(_json.dumps(manifest))

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


def _serialize_features(features: DataFrame) -> DataFrame:
    """Serialize each feature record to its JSON string in the JVM
    (to_json is codegen'd; ignoreNullFields=false keeps explicit nulls,
    matching json.dumps of the row dict) — the Python writer then only
    joins strings.  Keeping serialization out of Python is what makes
    the sink's throughput delivery-bound instead of pickle-bound.
    SHARED by the batch and streaming writers so their payloads can
    never diverge."""
    return features.select(
        F.to_json(
            F.struct(*[F.col(c) for c in features.columns]),
            {"ignoreNullFields": "false"},
        ).alias("feature_json")
    )


def write_submit(
    features: DataFrame, manifest_dir: str, chunk_size: int = 500
) -> dict:
    """Deliver ``features`` through the custom sink and return the
    committed manifest."""
    import json as _json
    import os as _os

    spark = features.sparkSession
    spark.dataSource.register(_make_submit_writer_classes())
    (
        _serialize_features(features).write.format("wildweb_sink")
        .option("chunkSize", chunk_size)
        .option("path", manifest_dir)
        .mode("append")
        .save()
    )
    with open(_os.path.join(manifest_dir, "_MANIFEST.json")) as f:
        return _json.loads(f.read())


def write_submit_stream(
    features_stream: DataFrame,
    manifest_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 500,
    timeout_sec: int = 420,
) -> list[dict]:
    """Deliver a STREAMING features frame through the native
    ``writeStream.format("wildweb_sink")`` path (Trigger.AvailableNow,
    bounded) and return THIS invocation's per-batch manifests, sorted
    by batch id.  Same JVM-side to_json pre-serialization as the batch
    path.

    Manifest files from an earlier run with a DIFFERENT checkpoint are
    excluded (a stale ``batch-*.json`` must not be
    silently mixed into the return): the glob is filtered to the batch
    ids in THIS checkpoint's commit log (``checkpoint_dir/commits/``,
    one file per committed epoch) — the authoritative lineage, stable
    across restarts, so a same-checkpoint restart still returns the
    full manifest history while a foreign run's leftovers never
    appear."""
    spark = features_stream.sparkSession
    spark.dataSource.register(_make_submit_writer_classes())
    q = (
        _serialize_features(features_stream)
        .writeStream.format("wildweb_sink")
        .option("chunkSize", chunk_size)
        .option("path", manifest_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("stream sink did not drain in time")
    return _collect_stream_manifests(manifest_dir, checkpoint_dir)


def _collect_stream_manifests(
    manifest_dir: str, checkpoint_dir: str
) -> list[dict]:
    """Per-epoch manifests scoped to ``checkpoint_dir``'s commit log —
    the authoritative lineage — so foreign leftovers in the manifest
    dir never leak into the result."""
    import glob as _glob
    import json as _json
    import os as _os

    committed = {
        int(name)
        for name in _os.listdir(_os.path.join(checkpoint_dir, "commits"))
        if name.isdigit()
    }
    manifests = []
    for p in sorted(_glob.glob(f"{manifest_dir}/batch-*.json")):
        with open(p) as f:
            m = _json.loads(f.read())
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

    from .ingest.wildweb import (
        _SYNTH_NOW,
        _dated,
        _synth_incidents,
        filter_time_range,
        filter_valid_geo,
        to_features,
    )
    from .io import local_frame

    incidents = _synth_incidents(spark, sf_dir)
    in_window = filter_time_range(
        incidents, "1 Week", F.lit(_SYNTH_NOW).cast("timestamp")
    )
    features = to_features(filter_valid_geo(_dated(in_window)))
    manifest = write_submit(
        features, tempfile.mkdtemp(prefix="submitsink_"), chunk_size=200
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
    through readStream, delivered by ``writeStream.format(
    "wildweb_sink")`` (DataSourceStreamArrowWriter) under
    Trigger.AvailableNow, with one batchId-keyed manifest per epoch —
    the idempotent-commit contract a replayed micro-batch needs.
    Complements b94 (batch writer, same commit protocol) and
    stream_submit (foreachBatch).  Returns the per-batch manifests;
    tests/test_sinks.py asserts total rows == the batch count of the
    same frame and that a replayed batch id overwrites, not
    double-counts."""
    import tempfile

    from .io import local_frame
    from .streaming.windows import events_stream

    import shutil

    s = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("string").alias("ts"),
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
