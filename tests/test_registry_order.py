"""Driver-contract order: ``__spark_entry__.queries()`` lists every
registered query exactly once, sorted by name, so its order does not
depend on which operator module happened to be imported first, and every
``oracle_sql()`` key names one of those queries."""

from __future__ import annotations

import __spark_entry__ as m
from etl_wildweb_spark import registry


def test_queries_are_every_registered_name_in_sorted_order():
    names = list(m.queries())
    assert names == sorted(registry.QUERIES)
    # no duplicates, nothing dropped
    assert len(set(names)) == len(names) == len(registry.QUERIES)
    assert set(m.oracle_sql()) <= set(names)


def test_query_name_tables_name_registered_queries():
    """A deleted or renamed query must not linger in a hand-kept name
    table: bench.py would refuse to start, and a stale allowlist entry
    would silently allow nothing."""
    import bench
    from tests.test_degen_corpus import ROWS_ONLY_EXEC
    from tests.test_plans import _NESTED_LOOP_OK

    registry.load_all()
    for table, names in (
        ("bench.BENCH_QUERIES", bench.BENCH_QUERIES),
        ("test_plans._NESTED_LOOP_OK", _NESTED_LOOP_OK),
        ("test_degen_corpus.ROWS_ONLY_EXEC", ROWS_ONLY_EXEC),
    ):
        stale = sorted(set(names) - set(registry.QUERIES))
        assert not stale, (table, stale)
