"""Spans recorded by the benchmark, and the per-layer table built from
them and Spark's event log.

A span is (id, layer, label, parent, pass id, start, end).  While a span
is open, every Spark job the driver thread starts carries the span id
as its job group, so the event log attributes each job, stage, task and
SQL execution to exactly one span (the innermost open one).  A span can
also claim job groups that Spark sets itself (a streaming query tags its
micro-batch jobs with its run id).  Spans live in memory and are written
out when the run ends.

The parser fails loudly: an unreadable log, a malformed line, a task
without its metrics, a stage or task that belongs to no submitted stage,
an action span that started no job, a SQL execution inside a timed pass
that carries no job group, or a Python plan node without its
Python-time metric raises ``TraceError``; it never returns ``nan``.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

#: The standard metric set every layer reports (per timed pass).
STANDARD = (
    "wall_s", "self_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
    "shuffle_bytes", "spill_bytes", "python_s", "driver_s",
)

#: Layers that carry the standard set: the package's modules the
#: workloads call into.
LAYERS = (
    "io", "ingest.wildweb", "sinks", "sources.http", "streaming.pipeline",
    "operators.dedup", "operators.sampling", "operators.packing",
    "operators.tpch", "operators.relational",
)

#: Root spans; they group a pass and are not layers.  Spans under PASS
#: are the production pass; spans under EXTRA are the traced-only
#: measurements, run once per traced run.
PASS, EXTRA, WARM = "bench.pass", "bench.extras", "bench.warm_pass"

#: Plan nodes that run Python workers; each must report Python time.
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "ArrowEvalPython", "BatchEvalPython", "AggregateInPandas", "WindowInPandas",
)
PYTHON_TIME = "time to run Python workers"


class TraceError(RuntimeError):
    pass


@dataclass
class Span:
    id: str
    layer: str
    label: str
    parent: str | None
    pass_id: int | None
    action: bool
    t0: float = 0.0
    t1: float = 0.0
    groups: list[str] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans and tags Spark jobs with the innermost span's id.
    Disabled, it records nothing and ``span`` costs one generator."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # set once the SparkContext exists
        self.pass_id: int | None = None
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str, label: str, action: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb-{len(self.spans)}", layer, label,
                 parent.id if parent else None, self.pass_id, action)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            self._tag(parent)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside; jobs keep the enclosing span's group."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.id, f"{s.layer}:{s.label}")

    def dump(self) -> list[dict]:
        return [s.__dict__.copy() for s in self.spans]


# ----------------------------------------------------------- event log

@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    execs: list = field(default_factory=list)


def _req(d: dict, key: str, where: str):
    try:
        return d[key]
    except (KeyError, TypeError):
        raise TraceError(f"event log: {where} has no {key!r}") from None


def _group_id(value) -> str | None:
    # the SQL listener writes a missing job group as the string "None"
    return None if value in (None, "None") else value


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application,
    grouped by job group (= span id)."""

    def __init__(self, path: str) -> None:
        try:
            with open(path) as f:
                lines = f.readlines()
        except OSError as e:
            raise TraceError(f"event log unreadable: {e}") from e
        if not lines:
            raise TraceError(f"event log {path} is empty")
        self.groups: dict[str | None, GroupStats] = {}
        self.stage_times: list[tuple[float, float]] = []
        self.acc: dict[int, int] = {}
        self.execs: dict[int, dict] = {}
        stage_group: dict[tuple[int, int], str | None] = {}
        complete = False
        for n, line in enumerate(lines, 1):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError as e:
                raise TraceError(f"event log line {n}: {e}") from e
            kind = _req(ev, "Event", f"line {n}")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self._group(_group_id(props.get("spark.jobGroup.id"))).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                info = _req(ev, "Stage Info", f"line {n}")
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_group[key] = _group_id((ev.get("Properties") or {}).get("spark.jobGroup.id"))
            elif kind == "SparkListenerStageCompleted":
                info = _req(ev, "Stage Info", f"line {n}")
                key = (info["Stage ID"], info["Stage Attempt ID"])
                if key not in stage_group:
                    raise TraceError(f"line {n}: stage {key} completed but never submitted")
                if "Submission Time" in info and "Completion Time" in info:
                    self.stage_times.append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                if key not in stage_group:
                    raise TraceError(f"line {n}: task of unsubmitted stage {key}")
                self._task(stage_group[key], ev, n)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.execs[int(ev["executionId"])] = {
                    "group": _group_id(ev.get("jobGroupId")),
                    "time": int(_req(ev, "time", f"line {n}")) / 1e3,
                    "plan": _req(ev, "sparkPlanInfo", f"line {n}"),
                    "text": ev.get("physicalPlanDescription", ""),
                }
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = self.execs.get(int(ev["executionId"]))
                if ex is None:
                    raise TraceError(f"line {n}: update of unknown SQL execution")
                ex["plan"] = _req(ev, "sparkPlanInfo", f"line {n}")
                ex["text"] += ev.get("physicalPlanDescription", "")
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    self.acc[acc_id] = self.acc.get(acc_id, 0) + int(value)
            elif kind == "SparkListenerApplicationEnd":
                complete = True
        if not complete:
            raise TraceError(f"event log {path} has no application end (run not stopped?)")
        for eid, ex in self.execs.items():
            self._group(ex["group"]).execs.append(eid)

    def _group(self, gid: str | None) -> GroupStats:
        return self.groups.setdefault(gid, GroupStats())

    def _task(self, gid: str | None, ev: dict, n: int) -> None:
        g = self._group(gid)
        g.tasks += 1
        reason = (ev.get("Task End Reason") or {}).get("Reason")
        info = _req(ev, "Task Info", f"task end line {n}")
        for a in info.get("Accumulables", []):
            if a.get("Metadata") == "sql" and "Update" in a:
                self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + int(a["Update"])
        if reason != "Success":
            return  # failed or killed attempts carry partial metrics only
        m = _req(ev, "Task Metrics", f"task end line {n}")
        where = f"task metrics line {n}"
        g.cpu_ns += _req(m, "Executor CPU Time", where)
        g.gc_ms += _req(m, "JVM GC Time", where)
        g.result_bytes += _req(m, "Result Size", where)
        g.spill_bytes += _req(m, "Memory Bytes Spilled", where) + _req(m, "Disk Bytes Spilled", where)
        g.shuffle_bytes += _req(_req(m, "Shuffle Write Metrics", where), "Shuffle Bytes Written", where)

    # ------------------------------------------------- SQL plan metrics

    def nodes(self, eid: int):
        """Every node of the execution's final plan."""
        todo = [self.execs[eid]["plan"]]
        while todo:
            node = todo.pop()
            yield node
            todo.extend(node.get("children", []))

    def metric(self, eid: int, node_prefix: str, name: str) -> tuple[int, float]:
        """(matching nodes, summed value) of one SQL metric; timings are
        converted to seconds.  A node whose metric never reported counts
        as a node with value 0; callers that need a value check it."""
        found, total = 0, 0.0
        for node in self.nodes(eid):
            if not node["nodeName"].startswith(node_prefix):
                continue
            for m in node.get("metrics", []):
                if m["name"] != name:
                    continue
                found += 1
                v = self.acc.get(m["accumulatorId"], 0)
                kind = m.get("metricType")
                total += v / 1e9 if kind == "nsTiming" else v / 1e3 if kind == "timing" else v
        return found, total

    def python_s(self, eid: int) -> float:
        """Python-worker time of one execution; raises if a Python node
        carries no Python-time metric."""
        total = 0.0
        for prefix in PYTHON_NODES:
            if not any(nd["nodeName"].startswith(prefix) for nd in self.nodes(eid)):
                continue
            found, value = self.metric(eid, prefix, PYTHON_TIME)
            if not found:
                raise TraceError(f"SQL execution {eid}: {prefix} reports no {PYTHON_TIME!r}")
            total += value
        return total


# ---------------------------------------------------------- layer table

def _covered(t0: float, t1: float, intervals) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    cut = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
    total, end = 0.0, t0
    for a, b in cut:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _root(s: Span, by_id: dict[str, Span]) -> Span:
    while s.parent:
        s = by_id[s.parent]
    return s


def layer_table(spans: list[Span], log: EventLog) -> dict[str, float]:
    """Per-pass means of the standard set for every layer, plus the
    counts that describe the production pass (jobs, scans, envelope
    decodes).  Spans under PASS roots are divided by the number of
    timed passes, spans under EXTRA roots by the number of extras runs."""
    by_id = {s.id: s for s in spans}
    roots = [s for s in spans if s.parent is None and s.layer in (PASS, EXTRA)]
    if not any(r.layer == PASS for r in roots):
        raise TraceError("no timed pass was traced")
    weight = {r.id: 1 / sum(x.layer == r.layer for x in roots) for r in roots}
    timed = [(s, weight[_root(s, by_id).id]) for s in spans
             if _root(s, by_id).id in weight]
    children: dict[str, list[Span]] = {}
    for s, _ in timed:
        if s.parent:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span):
        yield s
        for c in children.get(s.id, []):
            yield from subtree(c)

    def own(s: Span):
        for gid in (s.id, *s.groups):
            yield log.groups.get(gid, GroupStats())

    def groups(s: Span):
        for x in subtree(s):
            yield from own(x)

    for s, _ in timed:
        if s.action and not any(g.jobs for g in groups(s)):
            raise TraceError(f"span {s.layer}:{s.label} (pass {s.pass_id}) ran no Spark job")

    pass_windows = [(r.t0, r.t1) for r in roots if r.layer == PASS]
    for eid, ex in log.execs.items():
        if ex["group"] is None and any(a <= ex["time"] <= b for a, b in pass_windows):
            raise TraceError(f"SQL execution {eid} ran inside a timed pass with no job group")

    out = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in STANDARD}
    for s, w in timed:
        if s.layer not in LAYERS:
            continue
        p = f"{s.layer}."
        kids = [(c.t0, c.t1) for c in children.get(s.id, [])]
        out[p + "wall_s"] += w * s.wall
        out[p + "self_s"] += w * (s.wall - _covered(s.t0, s.t1, kids))
        out[p + "driver_s"] += w * (s.wall - _covered(s.t0, s.t1, log.stage_times))
        for g in groups(s):
            out[p + "jobs"] += w * g.jobs
            out[p + "tasks"] += w * g.tasks
            out[p + "exec_cpu_s"] += w * g.cpu_ns / 1e9
            out[p + "gc_s"] += w * g.gc_ms / 1e3
            out[p + "shuffle_bytes"] += w * g.shuffle_bytes
            out[p + "spill_bytes"] += w * g.spill_bytes
            out[p + "python_s"] += w * sum(log.python_s(e) for e in g.execs)

    in_pass = [(s, w) for s, w in timed if _root(s, by_id).layer == PASS]
    execs = [(e, w) for s, w in in_pass for g in own(s) for e in g.execs]
    scans = [(log.metric(e, "Scan parquet", "size of files read"), w) for e, w in execs]
    if any(found and not value for (found, value), _ in scans):
        raise TraceError("a parquet scan ran but reported no 'size of files read'")
    sent = [(log.metric(e, "MapInPandas", "data sent to Python workers"), w)
            for s, w in in_pass if s.layer == "sinks" for g in own(s) for e in g.execs]
    if sent and not any(v for (_, v), _ in sent):
        raise TraceError("the sink's MapInPandas reported no 'data sent to Python workers'")
    out.update({
        "bench.jobs_per_pass": sum(w * g.jobs for s, w in in_pass for g in own(s)),
        "io.scans": sum(w * f for (f, _), w in scans),
        "io.scan_bytes": sum(w * v for (_, v), w in scans),
        "ingest.wildweb.json_decodes": sum(
            w * ("from_json(" in log.execs[e]["text"]) for e, w in execs),
        "sinks.python_bytes_sent": sum(w * v for (_, v), w in sent),
        "operators.dedup.driver_result_bytes": sum(
            w * g.result_bytes for s, w in timed if s.layer == "operators.dedup" for g in own(s)),
    })
    return out
