"""Every session cache in the package is a deliberate, owned choice.

A ``.cache()`` / ``.persist(...)`` inside a query builder registers a
plan in the session's CacheManager and nothing ever unpersists it: the
builder returns a lazy frame, so there is no point after the action to
release it at.  Stages read more than once belong in an eager
``localCheckpoint``, which the session does not track.  This test walks
the package's syntax trees (so comments and docstrings that mention the
calls do not count) and fails on any call site missing from the
allowlist below, and on any allowlist entry that no longer has one.
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_wildweb_spark"
)

#: (file relative to the package, enclosing function) → why it caches
ALLOWED = {
    ("operators/dedup.py", "b29_minhash_near_dedup"): (
        "plan tests pin MapInPandas under the cached signature frame"
    ),
    ("operators/dedup.py", "b82_incremental_neardup"): (
        "plan tests pin MapInPandas under the cached signature frame"
    ),
    ("sources/http.py", "b33_http_ingest"): "one fetch per center",
    ("sources/files.py", "_split_channels"): "one parse feeds both channels",
}


def _cache_sites() -> set[tuple[str, str]]:
    sites = set()
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)

            def visit(node, fn="<module>"):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    fn = node.name
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("cache", "persist")
                ):
                    sites.add((rel, fn))
                for child in ast.iter_child_nodes(node):
                    visit(child, fn)

            visit(tree)
    return sites


def test_cache_sites_are_allowlisted():
    sites = _cache_sites()
    unlisted = sorted(sites - ALLOWED.keys())
    assert not unlisted, (
        f"unowned .cache()/.persist() in {unlisted}: use an eager "
        "localCheckpoint, or add the site to ALLOWED with its reason"
    )
    stale = sorted(ALLOWED.keys() - sites)
    assert not stale, f"allowlisted but no longer caching: {stale}"
