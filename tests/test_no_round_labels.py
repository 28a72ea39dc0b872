"""Package source carries no development-round labels.

Comments and docstrings say why the code is the way it is; which round,
review or optimization pass changed it belongs to git and CHANGES.md.
This test scans every package source line, comments and docstrings
included, and fails on a round-labelled reference.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_wildweb_spark"
)

#: the case-insensitive alternative catches prose citations such as
#: "SCALE.md round-4" without matching "round-trip" or "round-robin"
ROUND_LABEL = re.compile(
    r"ROUND-\d|VERDICT r\d|ADVICE r\d|OPTIMIZATION_r\d|plans/r\d|(?i:\bround[- ]\d)"
)


def test_package_source_has_no_round_labels():
    hits = []
    for root, _, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                for lineno, line in enumerate(f, 1):
                    if ROUND_LABEL.search(line):
                        hits.append(f"{rel}:{lineno}: {line.strip()}")
    assert not hits, "round-labelled references in package source:\n" + "\n".join(
        hits
    )
