"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

All real logic lives in the ``etl_wildweb_spark`` package; this module
is a thin adapter over its registry (etl_wildweb_spark/registry.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_wildweb_spark import registry

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by nation, 1996) on /root/testdata/sf0.001."""
    return registry.QUERIES["flagship_revenue_by_nation"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in name
    order (independent of the order the operator modules were imported)."""
    return dict(sorted(registry.QUERIES.items()))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checked query."""
    return dict(registry.ORACLES)
