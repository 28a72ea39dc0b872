#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N [--seconds S] [--trace 0|1] [--smoke]

Run it from the root of a checkout.  It generates the workload's inputs
from the seed (untimed), starts the program the way a user does
(``session.get_spark`` → ``registry.load_all`` → ``session.prepare``),
runs the workload's untimed warm passes, then runs complete passes in a closed loop
from this single process for ``S`` seconds (``run_seconds`` of
BENCHMARK.json unless given; at least the workload's ``min_passes``), checking every
pass's output against the generator's ground truth.  The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``;
the exit code is 0 only if every operation succeeded.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns
Spark's event log on, alternates traced and untraced passes, runs the
workload's traced-only extras once, and reports the per-layer table
(perfbench/README.md).  ``--smoke`` runs the same code on tiny inputs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
#: Driver heap, also its initial size: a heap that grows on demand made
#: pass times bimodal (runs whose heap stayed small were 20-40 % slower).
#: The JVM also touches the whole heap at start (``-XX:+AlwaysPreTouch``).
#: On a virtual machine that hands freed memory back to its host, the
#: first touch of a page costs a fault in the host; without pre-touching,
#: those faults land in the timed passes as the collector first walks
#: through the heap, and pass times drift down over the first ten passes.
DRIVER_MEM = "2g"

#: generator arguments per workload: (full size, smoke size).  The full
#: sizes keep one run, set-up included, near 50-65 s on a 4-core host
#: (perfbench/README.md, "Sizing").
SIZES = {
    "wildweb_batch": ({"n_centers": 100, "incidents": (20, 280)},
                      {"n_centers": 12, "incidents": (2, 6)}),
    "corpus_dedup": ({"n_base": 600, "tpch_sf": 0.01}, {"n_base": 60, "tpch_sf": 0.001}),
}


def parse_args(argv, run_seconds: int):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=run_seconds)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, same code")
    return p.parse_args(argv)


def configure_env(work: str, event_dir: str | None) -> None:
    """Keep every file the run writes inside ``work`` and size the
    session to this host; the event log is switched on here, through
    the environment, so the package's session factory is unchanged."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    confs = ["spark.ui.showConsoleProgress=false"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {c}" for c in confs]
            + [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"',
               "pyspark-shell"]),
    })


def generate(args, data_dir: str) -> dict:
    import numpy as np

    from perfbench import gen

    size = dict(SIZES[args.workload][1 if args.smoke else 0])
    rng = np.random.default_rng(args.seed)
    if args.workload == "wildweb_batch":
        return gen.wildweb(rng, data_dir, **size)
    gen.tpch(rng, os.path.join(data_dir, "tpch"), size.pop("tpch_sf"))
    return gen.corpus(rng, data_dir, **size)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process the
    run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    from perfbench import procs

    started = procs.tree()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = gateway.proc
        gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on end of its stdin
        jvm.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    procs.wait_gone(started, timeout=30)


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least 10 samples beyond it
    (nearest rank), or None when there are fewer than 20 samples."""
    n = len(values)
    if n < 20:
        return None
    p = math.floor(100 * (n - 10) / n)
    return p, sorted(values)[math.ceil(p * n / 100) - 1]


def run(args, spec: dict, work: str) -> int:
    traced = bool(args.trace)
    event_dir = os.path.join(work, "events") if traced else None
    configure_env(work, event_dir)

    from perfbench import procs, trace, workloads

    data_dir = os.path.join(work, "data")
    truth = generate(args, data_dir)
    if traced:
        import bench

        calib = [bench.host_calibration_sec()]

    from etl_wildweb_spark import registry, session

    tracer = trace.Tracer(traced)
    t0 = time.perf_counter()
    with tracer.span("session", "get_spark"):
        spark = session.get_spark("perfbench")
    start_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    app_id = spark.sparkContext.applicationId
    try:
        t0 = time.perf_counter()
        with tracer.span("registry", "load_all"):
            registry.load_all()
            session.prepare(spark)
        load_s = time.perf_counter() - t0

        wl = workloads.WORKLOADS[args.workload](spark, data_dir, truth)
        t0 = time.perf_counter()
        warm = []
        for _ in range(wl.warm_passes):
            t, c0 = time.perf_counter(), procs.work_cpu_seconds()
            with tracer.span(trace.WARM, args.workload):
                out = wl.run_pass(tracer)
            warm.append((time.perf_counter() - t, procs.work_cpu_seconds() - c0))
            bad = wl.check(out)
            if bad:
                raise AssertionError(f"warm pass output wrong: {bad}")
        warm_s = time.perf_counter() - t0
        print(f"setup: start {start_s:.2f} s, load {load_s:.2f} s, warm passes (wall/cpu) "
              + " ".join(f"{w:.2f}/{c:.2f}" for w, c in warm), file=sys.stderr)

        # A traced run alternates traced and untraced passes, so both
        # halves see the same warm-up drift; trace_overhead_frac compares
        # them.  Counts are sums over the traced passes.
        procs.reset_peaks()
        times = {True: [], False: []}
        cpus = {True: [], False: []}
        steals = []
        failed = chunks = failed_chunks = n = 0
        counts: dict = {}
        t_loop = time.perf_counter()
        # Passes go on until ``--seconds`` is up and the workload's
        # minimum number of passes is done (a traced run: half of them
        # traced, half untraced).
        need = math.ceil(wl.min_passes / 2) if traced else wl.min_passes
        while min(len(v) for v in (times.values() if traced else [times[True]])) < need \
                or time.perf_counter() - t_loop < args.seconds:
            on = not traced or n % 2 == 0
            tracer.enabled, tracer.pass_id = on, n
            n += 1
            try:
                c0, st0 = procs.work_cpu_seconds(), procs.steal_seconds()
                t = time.perf_counter()
                with tracer.span(trace.PASS, args.workload):
                    out = wl.run_pass(tracer)
                times[on].append(time.perf_counter() - t)
                cpus[on].append(procs.work_cpu_seconds() - c0)
                steals.append(procs.steal_seconds() - st0)
                bad = wl.check(out)
                c, f = wl.chunk_ops(out)
                chunks, failed_chunks = chunks + c, failed_chunks + f
                if on:
                    _add(counts, wl.counts(out))
            except Exception:
                traceback.print_exc()
                bad = ["pass raised"]
            if bad:
                failed += 1
                print(f"pass {n}: {bad}", file=sys.stderr)
        peak_mb = procs.peak_rss_mb()
        if traced:
            tracer.enabled, tracer.pass_id = True, n
            with tracer.span(trace.EXTRA, args.workload):
                extras = wl.extras(tracer, work)
    finally:
        tracer.sc = None
        stop_spark(spark)

    timed = times[True]
    if not timed:
        raise RuntimeError("every timed pass raised")
    pass_s = statistics.median(timed)
    pass_cpu_s = statistics.median(cpus[True])
    attempted = n + chunks
    failed += failed_chunks
    t = tail(timed)
    print(f"wall per pass: median {pass_s:.4f} s over {len(timed)} passes; "
          + (f"p{t[0]} {t[1]:.4f} s" if t else "no percentile has 10 samples beyond it")
          + f"; pass_cpu_s: median {pass_cpu_s:.3f} s; failed_ops_frac {failed}/{attempted}"
          + "\n  wall " + " ".join(f"{x:.3f}" for x in timed)
          + "\n  cpu " + " ".join(f"{x:.2f}" for x in cpus[True])
          + "\n  steal " + " ".join(f"{x:.2f}" for x in steals), file=sys.stderr)
    if not traced:
        values = {
            "setup_s": start_s + load_s + warm_s,
            "pass_cpu_s": pass_cpu_s,
            "peak_rss_mb": peak_mb,
        }
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    else:
        calib.append(bench.host_calibration_sec())
        log = trace.EventLog(os.path.join(event_dir, app_id))
        table = trace.layer_table(tracer.spans, log)
        n_traced = len(timed)
        table.update({k: v / n_traced for k, v in counts.items()})
        table.update(extras)
        table.update(_query_walls(tracer.spans))
        incidents = table.get("ingest.wildweb.incidents", 0)
        table.update({
            "ingest.wildweb.features_frac":
                table.get("ingest.wildweb.features", 0) / incidents if incidents else 0.0,
            "session.start_s": start_s,
            "registry.load_s": load_s,
            "session.warm_pass_s": warm_s,
            "bench.passes": n_traced,
            "bench.pass_wall_s": statistics.median(times[False]),
            "trace_overhead_frac": pass_s / statistics.median(times[False]) - 1,
            "host_calib_ratio": max(calib) / bench.CALIB_REF_SEC,
        })
        metrics = {m["name"]: (_layer_value(table, m["name"], wl), m["unit"])
                   for m in spec["per_layer"]}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.dump(), "table": table}, f, indent=1)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


def _add(acc: dict, new: dict) -> None:
    for k, v in new.items():
        acc[k] = acc.get(k, 0) + v


def _layer_value(table: dict, name: str, wl) -> float:
    """A per-layer metric from the table.  A metric of a layer this
    workload never calls reads 0; any other missing metric is an error."""
    if name in table:
        return table[name]
    from perfbench import trace

    layer = max((x for x in trace.LAYERS if name.startswith(x + ".")), key=len, default=None)
    if layer is not None and layer not in wl.layers:
        return 0.0
    raise trace.TraceError(f"the traced run produced no {name!r}")


def _query_walls(spans) -> dict:
    """Wall time of each traced relational / TPC-H entry point."""
    from perfbench import workloads

    return {f"{s.layer}.{s.label}.wall_s": s.wall
            for s in spans if s.label in workloads.TPCH_QUERIES}


def main(argv=None) -> int:
    try:
        with open(SPEC) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json: {e}", file=sys.stderr)
        return 2
    args = parse_args(argv, spec["run_seconds"])
    if not os.path.isfile(os.path.join(ROOT, "etl_wildweb_spark", "session.py")):
        print("perfbench: etl_wildweb_spark/ not found beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
