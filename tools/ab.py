#!/usr/bin/env python
"""Interleaved A/B probe: alternate tools/measure.py runs between two
checkouts (OLD, NEW) so host drift cannot masquerade as a code delta.
Each leg is a fresh process/session timing the named queries via the
noop sink (warmup + median-of-3, bench methodology).  The checkout that
runs first alternates from round to round, so neither side always gets
the warmer (or colder) host.  A leg whose child exits non-zero, or
prints no timing for a requested query, stops the probe with the
child's output.

  python tools/ab.py OLD_CHECKOUT NEW_CHECKOUT 3 q1 q2 ...
"""

from __future__ import annotations

import os
import re
import subprocess
import sys


def run_leg(root: str, names: list[str]) -> dict[str, tuple[float, float]]:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    p = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "measure.py"), "time", *names],
        cwd=root, env=env, capture_output=True, text=True, timeout=1800,
    )
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(
            f"leg {root} failed: measure.py exited with code {p.returncode}"
        )
    out: dict[str, tuple[float, float]] = {}
    for m in re.finditer(r"^(\S+): med=([\d.]+) min=([\d.]+)", p.stdout, re.M):
        out[m.group(1)] = (float(m.group(2)), float(m.group(3)))
    missing = [n for n in names if n not in out]
    if missing:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        raise SystemExit(f"leg {root}: measure.py printed no timing for {', '.join(missing)}")
    return out


def main() -> None:
    old_root, new_root, rounds, names = (
        sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4:]
    )
    acc: dict[str, dict[str, list[float]]] = {
        n: {"old_med": [], "old_min": [], "new_med": [], "new_min": []}
        for n in names
    }
    legs = (("old", old_root), ("new", new_root))
    for r in range(rounds):
        for tag, root in legs if r % 2 == 0 else legs[::-1]:
            got = run_leg(root, names)
            for n in names:
                med, mn = got[n]
                acc[n][f"{tag}_med"].append(med)
                acc[n][f"{tag}_min"].append(mn)
            print(f"round {r} {tag}: " + " ".join(
                f"{n}={got[n][0]:.2f}" for n in names
            ), flush=True)
    print("\n== summary (median-of-legs of per-leg med | min-of-legs of min) ==")
    for n in names:
        a = acc[n]
        om = sorted(a["old_med"])[len(a["old_med"]) // 2]
        nm = sorted(a["new_med"])[len(a["new_med"]) // 2]
        print(
            f"{n}: old med {om:.3f} min {min(a['old_min']):.3f} | "
            f"new med {nm:.3f} min {min(a['new_min']):.3f} | "
            f"med speedup {om / nm if nm else float('inf'):.2f}x"
        )


if __name__ == "__main__":
    main()
