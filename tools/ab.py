#!/usr/bin/env python
"""Interleaved A/B probe between two checkouts (OLD, NEW), so host drift
cannot masquerade as a code delta.  The checkout that runs first
alternates from round to round, so neither side always gets the warmer
(or colder) host.

Query mode: each leg is a fresh process/session running tools/measure.py,
which times the named queries via the noop sink (warmup + median-of-3,
bench methodology).  A leg whose child exits non-zero, or prints no
timing for a requested query, stops the probe with the child's output.

  python tools/ab.py OLD_CHECKOUT NEW_CHECKOUT 3 q1 q2 ...

Perfbench mode: each leg is one ``perfbench/run.py`` run of WORKLOAD at
seed N in its checkout; PAIRS pairs of legs.  For every end-to-end
metric of the run's last JSON line it prints each side's median and
quartiles, and in how many pairs NEW was better (the direction comes
from NEW's BENCHMARK.json).  A leg that exits non-zero, prints no JSON
line or reports ``"correct": false`` stops the probe, naming the leg.

  python tools/ab.py --perfbench wildweb_batch --seed 5 OLD NEW 10
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
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


def run_perfbench_leg(root: str, workload: str, seed: int, leg: str) -> dict[str, float]:
    """One ``perfbench/run.py`` run in ``root``: its end-to-end metric
    values, or SystemExit naming ``leg`` when the run failed."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)],
        cwd=root, capture_output=True, text=True, timeout=1800,
    )
    result = None
    for line in reversed(p.stdout.splitlines()):
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
            break
    if p.returncode != 0 or result is None or result.get("correct") is not True:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        why = (f"exited with code {p.returncode}" if p.returncode != 0
               else "printed no JSON line" if result is None
               else f"reported correct={result.get('correct')} "
                    f"({result.get('failed')} of {result.get('attempted')} operations failed)")
        raise SystemExit(f"leg {leg} ({root}): perfbench/run.py {why}")
    return {k: m["value"] for k, m in result["metrics"].items()}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def perfbench_main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="ab.py --perfbench")
    p.add_argument("--perfbench", required=True, metavar="WORKLOAD")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("old")
    p.add_argument("new")
    p.add_argument("pairs", type=int)
    args = p.parse_args(argv)
    with open(os.path.join(args.new, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}
    runs: dict[str, list[dict[str, float]]] = {"old": [], "new": []}
    legs = (("old", args.old), ("new", args.new))
    for r in range(args.pairs):
        for tag, root in legs if r % 2 == 0 else legs[::-1]:
            got = run_perfbench_leg(root, args.perfbench, args.seed, f"pair {r} {tag}")
            runs[tag].append(got)
            print(f"pair {r} {tag}: " + " ".join(
                f"{k}={got[k]:.3f}" for k in better if k in got), flush=True)
    print(f"\n== {args.perfbench} seed {args.seed}, {args.pairs} pairs: "
          "median [q1, q3] old -> new, pairs where new is better ==")
    for name, direction in better.items():
        old = [leg[name] for leg in runs["old"]]
        new = [leg[name] for leg in runs["new"]]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (o - n) > 0 for o, n in zip(old, new))
        (o1, om, o3), (n1, nm, n3) = quartiles(old), quartiles(new)
        print(f"{name} ({direction} is better): {om:.3f} [{o1:.3f}, {o3:.3f}] -> "
              f"{nm:.3f} [{n1:.3f}, {n3:.3f}]; new better in {wins}/{args.pairs}; "
              f"median gain {sign * (om - nm):+.3f} vs old IQR {o3 - o1:.3f}")


def main() -> None:
    if "--perfbench" in sys.argv[1:]:
        perfbench_main(sys.argv[1:])
        return
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
