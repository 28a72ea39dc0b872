"""Every top-level helper in the package has a caller.

A function or class nobody calls still has to be read, kept in sync
with its neighbours and kept green under refactors.  This test walks the
package's syntax trees and fails on any top-level ``def`` or ``class``
whose name appears, as a whole word, nowhere outside its own definition:
not in the package, the tests, the tools, the benchmark, ``bench.py``
or ``__spark_entry__.py``.  Functions registered with ``@query`` are
reached through the registry by name string, so they are exempt.  There
is no allowlist: delete the helper, or call it.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "etl_wildweb_spark")
SEARCHED = (
    "etl_wildweb_spark", "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py"
)


def _sources() -> dict[str, list[str]]:
    out = {}
    for entry in SEARCHED:
        path = os.path.join(ROOT, entry)
        if os.path.isfile(path):
            paths = [path]
        else:
            paths = [
                os.path.join(d, f)
                for d, _, files in os.walk(path)
                for f in files
                if f.endswith(".py")
            ]
        for p in paths:
            with open(p, encoding="utf-8") as f:
                out[p] = f.read().splitlines()
    return out


def _registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in node.decorator_list
    )


def _unreferenced() -> list[str]:
    sources = _sources()
    # word -> every (file, line index) it occurs on; a maximal run of
    # word characters is exactly a word-bounded match
    where: dict[str, list[tuple[str, int]]] = {}
    for path, lines in sources.items():
        for i, line in enumerate(lines):
            for word in set(re.findall(r"\w+", line)):
                where.setdefault(word, []).append((path, i))
    dead = []
    for path, lines in sources.items():
        if not path.startswith(PKG + os.sep):
            continue
        for node in ast.parse("\n".join(lines), path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if _registered(node):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = range(first - 1, node.end_lineno)
            if all(p == path and i in own for p, i in where[node.name]):
                rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
                dead.append(f"{rel}:{node.lineno} {node.name}")
    return sorted(dead)


def test_every_top_level_helper_is_referenced():
    dead = _unreferenced()
    assert not dead, "top-level definitions nothing references:\n" + "\n".join(dead)
