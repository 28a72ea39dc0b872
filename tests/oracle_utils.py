"""Local twin of the driver's DuckDB differential check.

Runs a registered Spark query and its oracle SQL side by side and
compares row count, column-name set, and the order-insensitive multiset
of normalized row values — strict equality, no float tolerance, because
the engine's queries are built to be cross-engine deterministic
(functions/exact.py).
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb

from etl_wildweb_spark.io import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def assert_driver_sortable(name: str, schema) -> None:
    """No registered query may emit a top-level array/map column: the
    driver's canonicalizer sorts the pandas frame and ndarray/dict
    cells are unhashable (b134's round-6 red).  Pack into BIGINT
    (b134), array_join (b157), or explode instead."""
    from pyspark.sql.types import ArrayType, MapType

    bad = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType))
    ]
    assert not bad, (
        f"{name}: top-level array/map output column(s) {bad} crash the "
        "driver's pandas canonicalizer — pack (BIGINT), array_join, or "
        "explode before returning"
    )


def compare(spark, sf_dir: str, name: str, query_fn, oracle: str):
    sdf = query_fn(spark, sf_dir)
    assert_driver_sortable(name, sdf.schema)
    s_cols = list(sdf.columns)
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb_conn(sf_dir)
    try:
        res = con.execute(oracle)
        d_cols = [c[0] for c in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()

    assert s_cols == d_cols, f"{name}: column mismatch spark={s_cols} duckdb={d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count mismatch spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_ms = rows_multiset(s_cols, s_rows)
    d_ms = rows_multiset(d_cols, d_rows)
    if s_ms != d_ms:
        diffs = [(a, b) for a, b in zip(s_ms, d_ms) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs: {diffs}")
