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
