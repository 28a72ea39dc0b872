"""b138: the composed source→A5-A17→sink streaming query.

Invariants the rows-only registry entry can't carry (VERDICT r5 #3):
stream ≡ batch feature sets over the same feed, and idempotent
manifests across a forced restart of the completed checkpoint.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark.sql import functions as F

MAX_POLLS = 2


@pytest.fixture(scope="module")
def batch_features(spark):
    """The BATCH pipeline over the same demo feed — the equivalence
    baseline.  One poll's worth: the fake transport is deterministic
    per center, so every streamed poll generation must reproduce
    exactly this set."""
    from etl_wildweb_spark.ingest.wildweb import flatten_features, run_pipeline
    from etl_wildweb_spark.sources.http import _DEMO_CENTERS, read_centers

    raw = read_centers(spark, _DEMO_CENTERS, transport="fake").cache()
    features, _ = run_pipeline(raw, None, F.current_timestamp())
    rows = flatten_features(features).collect()
    raw.unpersist()
    return sorted(tuple(r) for r in rows)


def test_stream_features_equal_batch_per_poll(spark, sf_dir, batch_features):
    """Source → A5-A17 into a memory sink: the streamed multiset is
    exactly MAX_POLLS copies of the batch pipeline's feature set —
    stage-for-stage equivalence of the streaming composition, not just
    matching counts."""
    from etl_wildweb_spark.ingest.wildweb import flatten_features, run_pipeline
    from etl_wildweb_spark.sources.http import (
        _DEMO_CENTERS,
        read_centers_stream,
    )

    import tempfile
    import time
    import uuid

    raw = read_centers_stream(
        spark, _DEMO_CENTERS, max_polls=MAX_POLLS, transport="fake"
    )
    features, _ = run_pipeline(raw, None, F.current_timestamp())
    name = f"b138_eq_{uuid.uuid4().hex[:12]}"
    q = (
        flatten_features(features)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="b138eq_"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    want = MAX_POLLS * len(batch_features)
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            if spark.table(name).count() >= want:
                break
            time.sleep(0.3)
        streamed = sorted(tuple(r) for r in spark.table(name).collect())
    finally:
        q.stop()
    assert streamed == sorted(batch_features * MAX_POLLS)


def test_composed_sink_manifests_and_restart(spark, tmp_path, batch_features):
    """The full composed query through the native sink: one manifest
    per poll generation, total delivered rows = MAX_POLLS x the batch
    feature count, zero failed chunks — and a forced restart on the
    completed checkpoint re-delivers nothing (same manifests, same
    files, byte-identical)."""
    from etl_wildweb_spark.sources.http import _DEMO_CENTERS
    from etl_wildweb_spark.streaming.pipeline import run_stream_pipeline

    mdir, ckdir = str(tmp_path / "m"), str(tmp_path / "ck")

    def run():
        return run_stream_pipeline(
            spark,
            _DEMO_CENTERS,
            max_polls=MAX_POLLS,
            manifest_dir=mdir,
            checkpoint_dir=ckdir,
            chunk_size=8,  # several chunks per task: chunking exercised
        )

    manifests = run()
    assert [m["batch_id"] for m in manifests] == list(range(MAX_POLLS))
    assert sum(m["n_rows"] for m in manifests) == MAX_POLLS * len(
        batch_features
    )
    # every generation delivers the full per-poll feature set
    assert all(m["n_rows"] == len(batch_features) for m in manifests)
    assert all(m["n_failed_chunks"] == 0 for m in manifests)
    # chunk_size=8 with ~20+ features per poll: chunking really engaged
    assert all(m["n_chunks"] >= 2 for m in manifests)

    snapshot = {
        p: open(p).read() for p in glob.glob(f"{mdir}/batch-*.json")
    }

    # forced restart: completed checkpoint → nothing re-delivered
    manifests2 = run()
    assert manifests2 == manifests
    assert {
        p: open(p).read() for p in glob.glob(f"{mdir}/batch-*.json")
    } == snapshot


def test_registered_query_shape(spark, sf_dir):
    """The registry entry returns one row per epoch with the declared
    schema (the driver's rows-only contract)."""
    from etl_wildweb_spark import registry

    registry.load_all()
    df = registry.QUERIES["b138_stream_pipeline_e2e"](spark, sf_dir)
    rows = df.collect()
    assert df.columns == [
        "batch_id",
        "n_rows",
        "n_chunks",
        "n_failed_chunks",
        "n_tasks",
    ]
    assert [r["batch_id"] for r in rows] == [0, 1]
    assert all(r["n_rows"] > 0 for r in rows)
    assert all(r["n_failed_chunks"] == 0 for r in rows)


def test_stream_error_channel_matches_batch(spark, sf_dir, batch_features):
    """b148: both channels under streaming equal max_polls x the batch
    dataflow over the same feed — features delivered AND per-stage
    error rows — proving partial results ship while failures
    accumulate (the reference's A19 semantics, task.ts:75-157)."""
    import pyspark.sql.functions as F

    from etl_wildweb_spark.ingest.wildweb import run_pipeline
    from etl_wildweb_spark.sources.http import _DEMO_CENTERS, read_centers
    from etl_wildweb_spark.streaming.pipeline import (
        run_stream_pipeline_with_errors,
    )

    raw = read_centers(spark, _DEMO_CENTERS, transport="fake").cache()
    _, batch_errors = run_pipeline(raw, None, F.current_timestamp())
    want_err = {
        (r["stage"], r["reason"]): r["n"] * MAX_POLLS
        for r in batch_errors.groupBy("stage", "reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    raw.unpersist()
    assert want_err, "fixture must exercise error paths"

    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="b148t_")
    try:
        out = run_stream_pipeline_with_errors(
            spark,
            _DEMO_CENTERS,
            max_polls=MAX_POLLS,
            out_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ck"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert out["features"] == MAX_POLLS * len(batch_features)
    assert out["errors"] == want_err


def test_composed_sink_posts_the_batch_items(spark, tmp_path, monkeypatch):
    """The composed query posts, per poll generation, exactly the Feature
    JSON items submit_features posts for the batch pipeline over the
    same feed, byte for byte: one serializer behind both sinks."""
    from etl_wildweb_spark import sinks
    from etl_wildweb_spark.ingest.wildweb import run_pipeline
    from etl_wildweb_spark.sources.http import _DEMO_CENTERS, read_centers
    from etl_wildweb_spark.streaming.pipeline import run_stream_pipeline

    from .test_sinks import posted_items, recording_post

    batch_dir, stream_dir = tmp_path / "batch", tmp_path / "stream"
    batch_dir.mkdir()
    stream_dir.mkdir()
    raw = read_centers(spark, _DEMO_CENTERS, transport="fake")
    features, _ = run_pipeline(raw, None, F.current_timestamp())
    sinks.submit_features(features, recording_post(str(batch_dir)), chunk_size=8).collect()

    monkeypatch.setattr(sinks, "fake_post", recording_post(str(stream_dir)))
    run_stream_pipeline(
        spark,
        _DEMO_CENTERS,
        max_polls=MAX_POLLS,
        manifest_dir=str(tmp_path / "m"),
        checkpoint_dir=str(tmp_path / "ck"),
        chunk_size=8,
    )
    batch = posted_items(str(batch_dir))
    assert batch
    assert posted_items(str(stream_dir)) == sorted(batch * MAX_POLLS)


class _StubQuery:
    """The slice of StreamingQuery that the commit-log drain reads."""

    def __init__(self, active: bool = True, exc: Exception | None = None):
        self.isActive = active
        self._exc = exc
        self.stopped = False

    def exception(self):
        return self._exc

    def stop(self) -> None:
        self.stopped = True


def _commit_log(checkpoint_dir, n: int) -> None:
    os.makedirs(os.path.join(checkpoint_dir, "commits"), exist_ok=True)
    for i in range(n):
        open(os.path.join(checkpoint_dir, "commits", str(i)), "w").close()


def test_drain_raises_the_dead_querys_exception(tmp_path):
    from etl_wildweb_spark.streaming.pipeline import _drain

    boom = RuntimeError("epoch failed")
    q = _StubQuery(active=False, exc=boom)
    with pytest.raises(RuntimeError) as info:
        _drain(q, str(tmp_path), max_polls=2, timeout_sec=30)
    assert info.value is boom
    assert q.stopped


def test_drain_times_out_short_of_max_polls(tmp_path):
    import time

    from etl_wildweb_spark.streaming.pipeline import _drain

    _commit_log(tmp_path, 1)
    q = _StubQuery()
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        _drain(q, str(tmp_path), max_polls=2, timeout_sec=0.5)
    assert time.monotonic() - t0 < 5
    assert q.stopped


def test_drain_returns_at_once_on_a_complete_commit_log(tmp_path):
    import time

    from etl_wildweb_spark.streaming.pipeline import _drain

    _commit_log(tmp_path, 2)
    q = _StubQuery()
    t0 = time.monotonic()
    _drain(q, str(tmp_path), max_polls=2, timeout_sec=30)
    assert time.monotonic() - t0 < 0.2
    assert q.stopped
