"""The package registers no session cache.

A ``.cache()`` / ``.persist(...)`` inside a query builder registers a
plan in the session's CacheManager and nothing ever unpersists it: the
builder returns a lazy frame, so there is no point after the action to
release it at.  A cache also promises less than it seems to: Spark may
evict it and recompute the plan.  Stages read more than once belong in
an eager ``localCheckpoint``, which the session does not track.  This
test walks the package's syntax trees (so comments and docstrings that
mention the calls do not count) and fails on any call site.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_wildweb_spark"
)


def _cache_sites() -> list[str]:
    sites = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("cache", "persist")
                ):
                    sites.append(f"{rel}:{node.lineno}")
    return sites


def test_package_has_no_cache_sites():
    sites = _cache_sites()
    assert not sites, (
        f".cache()/.persist() in {sites}: materialize a stage read more "
        "than once with an eager localCheckpoint owned by its builder"
    )
