"""Process-tree bookkeeping from /proc: CPU time, peak resident memory,
host steal time and shutdown.

The benchmark's process tree is this Python driver, the Spark JVM it
launches, and the Python workers the JVM forks.  Peak memory is read
from each process's kernel high-water mark (``VmHWM``), which the kernel
maintains without sampling; writing ``5`` to ``clear_refs`` resets it,
so the peak covers exactly the timed passes.  A process that exits
during the timed passes takes its peak with it; Spark reuses its Python
workers, so in practice the tree is stable once set-up is done.
"""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, start time in clock ticks), or None if gone (an
    exited, unreaped zombie counts as gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    fields = data[data.rindex(")") + 2:].split()
    if fields[0] == "Z":
        return None
    return int(fields[1]), int(fields[19])


def tree(root: int | None = None) -> dict[int, int]:
    """Descendants of ``root`` (default: this process) → their start time."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    starts: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        children.setdefault(st[0], []).append(int(name))
        starts[int(name)] = st[1]
    out, todo = {}, [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out[child] = starts[child]
            todo.append(child)
    return out


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"/proc/{pid}/status has no {key}")


def reset_peaks() -> None:
    """Restart the high-water mark of every process in the tree."""
    for pid in [os.getpid(), *tree()]:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except FileNotFoundError:
            pass  # exited meanwhile


def peak_rss_mb() -> float:
    """Sum of the high-water marks of the live process tree, in MiB."""
    total = 0
    for pid in [os.getpid(), *tree()]:
        try:
            total += _status_kb(pid, "VmHWM")
        except FileNotFoundError:
            pass  # exited meanwhile
    return total / 1024.0


#: thread names (``comm``, cut to 15 characters) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(path: str) -> list[int]:
    """utime, stime, cutime, cstime of a ``/proc/.../stat`` file."""
    with open(path) as f:
        data = f.read()
    return [int(x) for x in data[data.rindex(")") + 2:].split()[11:15]]


#: (pid, tid, start time) of every JIT compiler thread seen → its CPU
#: ticks when last read.  The JVM starts and stops compiler threads as
#: its compile queue grows and drains; a stopped thread's time stays in
#: its process's total, so it must stay in the JIT sum too.
_jit_seen: dict[tuple[int, str, int], int] = {}


def work_cpu_seconds() -> float:
    """CPU time (user + system) used so far by the live process tree,
    including children it has already reaped, less the time of the JVM's
    JIT compiler threads: compiling is a warm-up cost whose timing
    differs from run to run, not part of the work a pass does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *tree()]:
        try:
            total += sum(_cpu_ticks(f"/proc/{pid}/stat"))
            with open(f"/proc/{pid}/comm") as f:
                if f.read().rstrip("\n") != "java":
                    continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().rstrip("\n") not in JIT_THREADS:
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    data = f.read()
                fields = data[data.rindex(")") + 2:].split()
                _jit_seen[pid, tid, int(fields[19])] = int(fields[11]) + int(fields[12])
        except FileNotFoundError:
            continue  # exited meanwhile
    return (total - sum(_jit_seen.values())) / tick


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's CPUs so
    far, summed over all of them (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def wait_gone(procs: dict[int, int], timeout: float) -> None:
    """Wait for every (pid, start time) to end; after ``timeout`` send
    SIGKILL to the rest and wait for them too."""
    deadline, killed = time.monotonic() + timeout, False
    while True:
        alive = {p: s for p, s in procs.items() if (_stat(p) or (0, None))[1] == s}
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes survived SIGKILL: {sorted(alive)}")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline, killed = time.monotonic() + 10, True
        time.sleep(0.05)
