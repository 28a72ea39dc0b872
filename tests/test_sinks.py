"""A18 submit-sink tests: chunked delivery, partial-failure semantics,
the batch and streaming DataSource writers, and the one payload every
delivery path posts."""

from __future__ import annotations

import glob
import json
import os
import uuid

from etl_wildweb_spark import registry, sinks
from etl_wildweb_spark.ingest import wildweb as ww
from pyspark.sql import functions as F

from .test_wildweb import envelope_payload, incident

registry.load_all()

_FC_PREFIX = '{"type":"FeatureCollection","features":['


def recording_post(directory: str):
    """A transport double that accepts every chunk and keeps its body as
    one file in ``directory`` (executor processes share the filesystem)."""

    def post(fc_json: str) -> int:
        with open(os.path.join(directory, uuid.uuid4().hex), "w") as f:
            f.write(fc_json)
        return 200

    return post


def posted_items(directory: str) -> list[str]:
    """The Feature JSON texts of every body ``recording_post`` kept in
    ``directory``, byte for byte, sorted."""
    dec = json.JSONDecoder()
    items = []
    for path in glob.glob(os.path.join(directory, "*")):
        with open(path) as f:
            body = f.read()
        assert body.startswith(_FC_PREFIX) and body.endswith("]}"), body
        i = len(_FC_PREFIX)
        while body[i] != "]":
            _, end = dec.raw_decode(body, i)
            items.append(body[i:end])
            i = end + (body[end] == ",")
    return sorted(items)


def _features(spark, n=1000, poison_ids=()):
    rows = [(i, "POISON" if i in poison_ids else "ok") for i in range(n)]
    df = spark.createDataFrame(rows, "fid long, marker string")
    return df.select(
        F.struct(
            F.concat(F.lit("wildweb-"), F.col("fid")).alias("id"),
            F.col("marker").alias("marker"),
        ).alias("feature")
    )


def test_all_features_delivered_once(spark):
    feats = _features(spark, n=1000).repartition(7)
    st = sinks.submit_features(feats, sinks.fake_post, chunk_size=100)
    rows = st.collect()
    assert all(r.ok for r in rows)
    assert sum(r.n_features for r in rows) == 1000
    # chunk size respected
    assert all(r.n_features <= 100 for r in rows)


def test_partial_failure_ships_rest(spark):
    # one poisoned feature fails its chunk; every other chunk delivers
    feats = _features(spark, n=500, poison_ids=(123,)).repartition(5)
    st = sinks.submit_features(feats, sinks.fake_post, chunk_size=50).collect()
    failed = [r for r in st if not r.ok]
    assert len(failed) == 1 and failed[0].status == 500
    delivered = sum(r.n_features for r in st if r.ok)
    assert delivered == 500 - failed[0].n_features


def test_a18_registered_query(spark, sf_dir):
    out = {r.ok: r for r in registry.QUERIES["a18_submit_sink"](spark, sf_dir).collect()}
    assert True in out and False not in out
    # delivered total == pipeline output cardinality
    want = registry.QUERIES["wildweb_pipeline"](spark, sf_dir).count()
    assert out[True].n_features == want


def test_datasource_writer_manifest_counts(spark, sf_dir, tmp_path):
    """b94: the committed manifest's row total equals the delivered
    DataFrame's cardinality and chunk math holds."""
    import math

    from etl_wildweb_spark.io import table
    from etl_wildweb_spark.sinks import write_submit

    feats = (
        table(spark, sf_dir, "events")
        .select(F.struct("event_id", "event_type", "value").alias("feature"))
        .repartition(4)
    )
    n = feats.count()
    manifest = write_submit(feats, str(tmp_path / "m"), chunk_size=300)
    assert manifest["n_rows"] == n
    assert manifest["n_tasks"] == 4
    assert manifest["n_failed_chunks"] == 0
    # each task chunks independently: total chunks between ceil(n/300)
    # (perfect packing) and 4 partial tails
    assert math.ceil(n / 300) <= manifest["n_chunks"] <= math.ceil(n / 300) + 4


def test_datasource_writer_counts_failed_chunks(spark, tmp_path):
    """Partial-delivery semantics survive the writer API: poison rows
    fail their chunk (status row, not exception) and the commit still
    lands with the failure counted."""
    from etl_wildweb_spark.sinks import write_submit

    df = (
        spark.createDataFrame(
            [("ok-1",), ("ok-2",), ("POISON",), ("ok-3",)], "payload string"
        )
        .select(F.struct("payload").alias("feature"))
        .coalesce(1)
    )
    manifest = write_submit(df, str(tmp_path / "m2"), chunk_size=2)
    assert manifest["n_rows"] == 4
    assert manifest["n_failed_chunks"] >= 1
    assert manifest["n_chunks"] >= 2


def test_stream_sink_native_writer(spark, sf_dir, tmp_path):
    """b135: the native writeStream path delivers every row exactly
    once per epoch, writes one batchId-keyed manifest per micro-batch,
    and a restart against the same checkpoint neither re-delivers nor
    double-counts (the idempotent-commit contract).  A stale manifest
    from a FOREIGN checkpoint sitting in the same dir is excluded from
    the returned list (commit-log-scoped glob, ADVICE r5)."""
    import glob
    import json
    import os

    from etl_wildweb_spark.sinks import write_submit_stream
    from etl_wildweb_spark.streaming.windows import events_stream

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    mdir, ckdir = str(tmp_path / "m"), str(tmp_path / "ck")

    # a leftover from some earlier run with a different checkpoint:
    # its batch id (999) is not in this checkpoint's commit log
    os.makedirs(mdir, exist_ok=True)
    with open(os.path.join(mdir, "batch-999.json"), "w") as f:
        json.dump({"batch_id": 999, "n_rows": 7, "n_failed_chunks": 0}, f)

    def run():
        s = events_stream(spark, sf_dir).select(
            F.struct("event_id", "user_id", "event_type").alias("feature")
        )
        return write_submit_stream(s, mdir, ckdir, chunk_size=4096)

    manifests = run()
    assert 999 not in {m["batch_id"] for m in manifests}
    assert sum(m["n_rows"] for m in manifests) == n_events
    assert all(m["n_failed_chunks"] == 0 for m in manifests)
    files_before = sorted(glob.glob(f"{mdir}/batch-*.json"))

    # restart on the same checkpoint: availableNow finds nothing new
    manifests2 = run()
    files_after = sorted(glob.glob(f"{mdir}/batch-*.json"))
    assert files_after == files_before
    assert sum(m["n_rows"] for m in manifests2) == n_events  # unchanged


def test_post_chunks_bodies_sizes_and_transport_failure():
    """The chunk loop every path shares, without Spark: chunks of at most
    ``chunk_size``, the FeatureCollection body text, and a raising
    transport recorded as status 0 while later chunks still post."""
    bodies = []

    def post(fc_json: str) -> int:
        bodies.append(fc_json)
        if len(bodies) == 2:
            raise OSError("connection reset")
        return 201

    items = ['{"id":1}', '{"id":2}', '{"id":3}', '{"id":4}', '{"id":5}']
    assert list(sinks._post_chunks(items, post, 2)) == [(2, 201), (2, 0), (1, 201)]
    assert bodies == [
        _FC_PREFIX + '{"id":1},{"id":2}]}',
        _FC_PREFIX + '{"id":3},{"id":4}]}',
        _FC_PREFIX + '{"id":5}]}',
    ]
    assert list(sinks._post_chunks(iter([]), post, 2)) == []


def test_every_path_posts_the_same_geojson_features(spark, tmp_path, monkeypatch):
    """Each item a sink posts is one GeoJSON Feature whose metadata keeps
    all 16 incident fields, nulls as ``null`` (the reference's
    ``{...fire}`` spread, task.ts:132-134), and submit_features, the
    batch writer and the stream writer post byte-identical items for the
    same run_pipeline features."""
    src = str(tmp_path / "envelopes.parquet")
    rows = [
        ("C1", envelope_payload([incident(uuid="a"), incident(uuid="b", acres="3")]), True),
        ("C2", envelope_payload([incident(uuid="c", resources=[{"res": "E-1"}])]), True),
    ]
    spark.createDataFrame(rows, "center string, payload string, http_ok boolean").write.parquet(src)
    raw = spark.read.parquet(src)

    def features(raw_df):
        return ww.run_pipeline(raw_df, None, F.current_timestamp())[0]

    def record(name: str):
        d = tmp_path / name
        d.mkdir()
        return str(d)

    submitted = record("submit_features")
    statuses = sinks.submit_features(features(raw), recording_post(submitted), chunk_size=2)
    assert sum(r.n_features for r in statuses.collect()) == 3

    # the writers post through the module's transport double
    written, streamed = record("write_submit"), record("write_submit_stream")
    monkeypatch.setattr(sinks, "fake_post", recording_post(written))
    sinks.write_submit(features(raw), str(tmp_path / "m"), chunk_size=2)
    monkeypatch.setattr(sinks, "fake_post", recording_post(streamed))
    stream = spark.readStream.schema(raw.schema).parquet(src)
    sinks.write_submit_stream(
        features(stream), str(tmp_path / "sm"), str(tmp_path / "ck"), chunk_size=2
    )

    items = posted_items(submitted)
    assert len(items) == 3
    assert posted_items(written) == items
    assert posted_items(streamed) == items
    for item in items:
        feature = json.loads(item)
        assert set(feature) == {"id", "type", "properties", "geometry"}
        metadata = feature["properties"]["metadata"]
        assert list(metadata) == ww.INCIDENT_FIELDS
        assert metadata["ic"] is None and metadata["fuels"] is None
        assert metadata["webComment"] is None
    by_id = {json.loads(i)["id"]: json.loads(i)["properties"]["metadata"] for i in items}
    assert by_id["wildweb-a"]["acres"] is None and by_id["wildweb-b"]["acres"] == "3"
    assert by_id["wildweb-a"]["resources"] is None
    assert by_id["wildweb-c"]["resources"] == [{"res": "E-1"}]
