"""The reference dataflow as ONE streaming query: source → stages → sink.

The reference's production shape is a scheduled Lambda that fetches the
feed, transforms it, and POSTs the features (/root/reference/task.ts:50
cron trigger → task.ts:149 submit).  Rounds 1-5 built and proved each
piece separately: the poll-generation streaming source (b91,
sources/http.py), the A5-A17 transform stages (ingest/wildweb.py), and
the native idempotent-manifest stream sink (b135, sinks.py).  This
module composes them into a single Structured Streaming query —
``readStream.format("wildweb_stream")`` → run_pipeline →
``writeStream.format("wildweb_sink")`` — so the engine runs the
reference's actual end-to-end production dataflow under one checkpoint:
exactly-once ingest offsets, per-epoch delivery manifests, restart
safety, all in one lineage.

Scale shape: every stage between source and sink is a narrow map
(parse/validate/explode/filter/project — zero shuffles, see
test_wildweb_pipeline_no_shuffle), so each micro-batch is
embarrassingly parallel end-to-end; feature serialization stays
JVM-side (to_json, sinks._feature_json) and the Python sink
writer only joins strings.  Nothing in the composition adds state, so
the streaming query needs no watermark and its checkpoint holds only
source offsets + epoch commits — O(1) regardless of data volume.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import local_frame
from ..registry import query


def run_stream_pipeline(
    spark: SparkSession,
    centers: list[str],
    *,
    max_polls: int,
    manifest_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 500,
    transport: str = "fake",
    incident_range: str | None = None,
    timeout_sec: int = 180,
) -> list[dict]:
    """Drive the composed source→pipeline→sink query until every poll
    generation has committed, then return the per-epoch manifests
    (commit-log-scoped, like sinks.write_submit_stream).

    Python streaming sources don't support Trigger.AvailableNow (the
    b91 limitation), so the drain protocol is: processingTime=0
    micro-batches, one poll generation per epoch; past ``max_polls``
    the source stops advancing its offset, no further epochs commit,
    and we stop once the checkpoint's commit log holds ``max_polls``
    epochs.  A restart on a completed checkpoint satisfies that
    condition immediately and returns the same manifests — the
    idempotence contract, pinned in tests/test_stream_pipeline.py."""
    from ..ingest.wildweb import run_pipeline
    from ..sinks import _collect_stream_manifests, _start_submit_stream
    from ..sources.http import read_centers_stream

    raw = read_centers_stream(
        spark, centers, max_polls=max_polls, transport=transport
    )
    # A5-A17 over the micro-batch: the same stage functions as the
    # batch path — stream≡batch equivalence is therefore structural,
    # not re-implemented (and pinned by test anyway).
    features, _errors = run_pipeline(
        raw, incident_range, F.current_timestamp()
    )
    q = _start_submit_stream(
        features, manifest_dir, checkpoint_dir, chunk_size,
        processingTime="0 seconds",
    )
    _drain(q, checkpoint_dir, max_polls, timeout_sec)
    return _collect_stream_manifests(manifest_dir, checkpoint_dir)


def _drain(q, checkpoint_dir: str, max_polls: int, timeout_sec: float) -> None:
    """Wait until ``checkpoint_dir``'s commit log holds ``max_polls``
    epochs, then stop ``q``.  A query that died raises its own
    exception at once instead of polling out the deadline as a
    timeout; one that never commits enough epochs raises TimeoutError
    after ``timeout_sec``."""
    commits = os.path.join(checkpoint_dir, "commits")
    deadline = time.time() + timeout_sec
    try:
        while time.time() < deadline:
            if not q.isActive and q.exception() is not None:
                raise q.exception()
            if os.path.isdir(commits) and (
                sum(n.isdigit() for n in os.listdir(commits)) >= max_polls
            ):
                return
            time.sleep(0.2)
        raise TimeoutError(
            f"stream pipeline: {max_polls} epochs not committed "
            f"within {timeout_sec}s"
        )
    finally:
        q.stop()


@query("b138_stream_pipeline_e2e")  # one streaming query, commit-protocol facts → rows-only
def b138_stream_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's production dataflow END-TO-END as one streaming
    query (task.ts:50 scheduled fetch → :88-140 transform → :149
    submit): two poll generations of the 12-center demo feed (4 centers
    exercising the error paths) through source→A5-A17→native sink under
    a single checkpoint.  Returns the per-epoch delivery manifests.

    Rows-only: epoch/task counts are commit-protocol facts DuckDB
    can't replay.  The real invariants live in
    tests/test_stream_pipeline.py: streamed feature multiset ≡
    max_polls × the batch pipeline's output over the same feed, zero
    failed chunks, and a forced restart on the completed checkpoint
    re-delivers nothing and returns byte-identical manifests."""
    import shutil
    import tempfile

    from ..sources.http import _DEMO_CENTERS

    tmp = tempfile.mkdtemp(prefix="b138_")
    try:
        manifests = run_stream_pipeline(
            spark,
            _DEMO_CENTERS,
            max_polls=2,
            manifest_dir=os.path.join(tmp, "m"),
            checkpoint_dir=os.path.join(tmp, "ck"),
            chunk_size=64,
        )
    finally:
        # manifests are already local dicts; the checkpoint must not
        # accumulate across invocations — b135's rmtree discipline
        shutil.rmtree(tmp, ignore_errors=True)
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
        "batch_id int, n_rows bigint, n_chunks bigint, "
        "n_failed_chunks bigint, n_tasks bigint",
    )


def run_stream_pipeline_with_errors(
    spark: SparkSession,
    centers: list[str],
    *,
    max_polls: int,
    out_dir: str,
    checkpoint_dir: str,
    transport: str = "fake",
    incident_range: str | None = None,
    timeout_sec: int = 180,
) -> dict:
    """The composed dataflow WITH the reference's A19 error channel
    under streaming (task.ts:75-157: per-center failures accumulate
    and partial results still ship).  One streaming query; its
    foreachBatch forks each micro-batch through run_pipeline and
    appends BOTH channels — per-epoch feature counts and per-stage
    error rows — to parquet delivery logs.  foreachBatch is the Spark
    idiom for exactly this one-source/two-sinks epoch fan-out: inside
    the hook the batch is a plain DataFrame, so the batch-proven A5-A17
    stages run verbatim and write atomically per epoch under the
    query's checkpoint.

    Returns {"features": n, "errors": {(stage, reason): n}} read back
    from the logs.  Scale notes are b138's (narrow stages, O(1)
    checkpoint); the second channel adds one more write of
    error-volume rows — data-proportional only to what FAILED."""
    from ..ingest.wildweb import flatten_features, run_pipeline
    from ..sources.http import read_centers_stream

    feat_dir = os.path.join(out_dir, "features")
    err_dir = os.path.join(out_dir, "errors")
    raw = read_centers_stream(
        spark, centers, max_polls=max_polls, transport=transport
    )

    def fork(batch_df, epoch_id: int) -> None:
        features, errors = run_pipeline(
            batch_df, incident_range, F.current_timestamp()
        )
        flatten_features(features).withColumn(
            "epoch", F.lit(epoch_id).cast("bigint")
        ).write.mode("append").parquet(feat_dir)
        errors.withColumn(
            "epoch", F.lit(epoch_id).cast("bigint")
        ).write.mode("append").parquet(err_dir)

    q = (
        raw.writeStream.foreachBatch(fork)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime="0 seconds")
        .start()
    )
    _drain(q, checkpoint_dir, max_polls, timeout_sec)
    feats = spark.read.parquet(feat_dir)
    errs = spark.read.parquet(err_dir)
    err_counts = {
        (r["stage"], r["reason"]): r["n"]
        for r in errs.groupBy("stage", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {"features": feats.count(), "errors": err_counts}


@query("b148_stream_error_channel")  # two-channel epoch fan-out → rows-only
def b148_stream_error_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19 under the production streaming shape: the 12-center demo
    feed (4 centers exercising the HTTP/decode/cardinality error
    paths) through the composed stream with BOTH channels delivered —
    features to one parquet log, per-stage error rows to another, per
    epoch, under one checkpoint.  Returns per-(stage, reason) error
    counts plus the feature total as rows.  Rows-only: epoch fan-out
    and delivery logs are execution facts; tests/test_stream_pipeline.py
    pins both channels equal to the batch pipeline's output x
    max_polls and that partial results ship despite failing centers
    (the task.ts:151-157 semantics)."""
    import shutil
    import tempfile

    from ..sources.http import _DEMO_CENTERS

    tmp = tempfile.mkdtemp(prefix="b148_")
    try:
        out = run_stream_pipeline_with_errors(
            spark,
            _DEMO_CENTERS,
            max_polls=2,
            out_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ck"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rows = [("features", "delivered", out["features"])] + [
        (stage, reason, n) for (stage, reason), n in sorted(out["errors"].items())
    ]
    return local_frame(spark, rows, "channel string, detail string, n bigint")
