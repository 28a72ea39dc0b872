"""sources/files.py: JSONL/CSV ingest with corrupt-row error channel."""

from __future__ import annotations

import os

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql import functions as F

from etl_wildweb_spark.sources.files import read_csv, read_jsonl

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("score", DoubleType()),
    ]
)


def test_jsonl_clean_and_error_channels(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"doc_id": 1, "lang": "en", "score": 0.5}\n'
        "this is not json\n"
        '{"doc_id": 2, "lang": "de", "score": 0.9}\n'
        '{"doc_id": "NaN-ish", "lang": "fr"}\n'  # type mismatch -> corrupt
    )
    clean, errors = read_jsonl(spark, str(p), SCHEMA)
    got = {r.doc_id: (r.lang, r.score) for r in clean.collect()}
    assert got == {1: ("en", 0.5), 2: ("de", 0.9)}
    errs = errors.collect()
    assert len(errs) == 2
    assert all(e.error == "unparsable_row" for e in errs)
    assert any("not json" in e.raw for e in errs)


def test_csv_arity_and_type_errors(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "doc_id,lang,score\n"
        "1,en,0.5\n"
        "not_a_long,de,0.9\n"
        "3,fr,0.7\n"
    )
    clean, errors = read_csv(spark, str(p), SCHEMA)
    assert {r.doc_id for r in clean.collect()} == {1, 3}
    errs = errors.collect()
    assert len(errs) == 1 and "not_a_long" in errs[0].raw


def test_no_errors_is_empty_channel(spark, tmp_path):
    p = tmp_path / "ok.jsonl"
    p.write_text('{"doc_id": 7, "lang": "en", "score": 1.0}\n')
    clean, errors = read_jsonl(spark, str(p), SCHEMA)
    assert clean.count() == 1
    assert errors.count() == 0


def test_b36_leaves_no_fixture_directory(spark, sf_dir, tmp_path, monkeypatch):
    """b36 writes its fixture to a temporary directory and removes it
    before returning; the frame still collects both channels."""
    import collections
    import tempfile

    from etl_wildweb_spark.session import prepare
    from etl_wildweb_spark.sources.files import b36_file_ingest

    prepare(spark)  # ships the package zip to the real temp dir first
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    warehouse = "spark-warehouse"

    def listing(d):
        return sorted(os.listdir(d)) if os.path.isdir(d) else []

    before = listing(warehouse), listing(tmp_path)
    df = b36_file_ingest(spark, sf_dir)
    assert (listing(warehouse), listing(tmp_path)) == before
    rows = df.collect()
    assert collections.Counter(r.channel for r in rows) == {"clean": 2, "error": 2}


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC coverage (the other first-class columnar format): lossless
    round-trip of the documents table and filter pushdown reaching the
    ORC scan — format breadth is free when the engine is declarative,
    but only if nothing in the pipeline assumes parquet."""
    from etl_wildweb_spark.io import table

    d = table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_orc")
    d.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == d.schema
    assert back.count() == d.count()
    assert (
        back.exceptAll(d).count() == 0 and d.exceptAll(back).count() == 0
    )
    plan = (
        back.filter(F.col("lang") == "en")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "lang" in plan


def test_zorder_tightens_both_dimensions(spark, sf_dir):
    """b99: the z-sorted layout must shrink average row-group range on
    BOTH clustered columns vs the hash layout — multi-dimensional data
    skipping, not just a leading-column sort."""
    from etl_wildweb_spark.sources.files import b99_zorder_layout

    rows = {
        (r.layout, r.column): r.avg_range_frac
        for r in b99_zorder_layout(spark, sf_dir).collect()
    }
    assert rows[("zorder", "user_id")] < rows[("hash", "user_id")] * 0.7
    assert rows[("zorder", "day")] < rows[("hash", "day")] * 0.7
