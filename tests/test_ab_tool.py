"""tools/ab.py with ``subprocess.run`` stubbed: which checkout each round
runs first, and a leg whose output lacks a requested query; the same
for the perfbench mode, plus its summary and its failed legs."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess

import pytest

_AB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py")


@pytest.fixture
def ab_stub(monkeypatch):
    spec = importlib.util.spec_from_file_location("ab_tool", _AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    calls: list[str] = []

    def fake_run(cmd, cwd, **_):
        calls.append(cwd)
        lines = [f"{n}: med=1.50 min=1.25" for n in cmd[3:] if n != "q_silent"]
        return subprocess.CompletedProcess(cmd, 0, "\n".join(lines) + "\n", "")

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    return mod, calls


def test_first_leg_alternates(ab_stub, monkeypatch, capsys):
    ab, calls = ab_stub
    monkeypatch.setattr("sys.argv", ["ab.py", "OLD", "NEW", "4", "q1"])
    ab.main()
    assert calls == ["OLD", "NEW", "NEW", "OLD", "OLD", "NEW", "NEW", "OLD"]
    assert "q1: old med 1.500 min 1.250 | new med 1.500" in capsys.readouterr().out


def test_missing_query_stops_naming_it(ab_stub, monkeypatch, capsys):
    ab, calls = ab_stub
    monkeypatch.setattr("sys.argv", ["ab.py", "OLD", "NEW", "2", "q1", "q_silent"])
    with pytest.raises(SystemExit) as stop:
        ab.main()
    assert "q_silent" in str(stop.value.code)
    assert calls == ["OLD"]
    assert "nan" not in capsys.readouterr().out


@pytest.fixture
def perfbench_stub(monkeypatch, tmp_path):
    """OLD and NEW checkouts whose perfbench legs report ``pass_cpu_s``
    from a per-side queue; a leg's fields can be overridden."""
    spec = importlib.util.spec_from_file_location("ab_tool", _AB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    roots = {}
    for side in ("old", "new"):
        root = tmp_path / side
        root.mkdir()
        (root / "BENCHMARK.json").write_text(json.dumps({"end_to_end": [
            {"name": "pass_cpu_s", "unit": "s", "better": "lower", "bound": 0.25},
            {"name": "peak_rss_mb", "unit": "MB", "better": "lower", "bound": 0.2},
        ]}))
        roots[side] = str(root)
    cpu = {roots["old"]: [2.0, 1.8, 1.9, 2.2], roots["new"]: [1.5, 1.6, 1.4, 1.9]}
    calls: list[str] = []
    override: dict = {}

    def fake_run(cmd, cwd, **_):
        assert cmd[1:] == ["perfbench/run.py", "--workload", "wildweb_batch", "--seed", "5"]
        calls.append(cwd)
        leg = {"correct": True, "attempted": 10, "failed": 0, "metrics": {
            "pass_cpu_s": {"value": cpu[cwd].pop(0), "unit": "s"},
            "peak_rss_mb": {"value": 3000.0, "unit": "MB"},
        }}
        code = 0
        if len(calls) in override:
            code, patch = override[len(calls)]
            leg.update(patch)
        out = "setup: ...\n" + json.dumps(leg) + "\n"
        return subprocess.CompletedProcess(cmd, code, out, "")

    monkeypatch.setattr(mod.subprocess, "run", fake_run)
    argv = ["ab.py", "--perfbench", "wildweb_batch", "--seed", "5", roots["old"], roots["new"]]
    return mod, calls, override, roots, argv


def test_perfbench_summary_quartiles_and_wins(perfbench_stub, monkeypatch, capsys):
    ab, calls, _, roots, argv = perfbench_stub
    monkeypatch.setattr("sys.argv", argv + ["4"])
    ab.main()
    old, new = roots["old"], roots["new"]
    assert calls == [old, new, new, old, old, new, new, old]
    out = capsys.readouterr().out
    # old 1.8 1.9 2.0 2.2, new 1.4 1.5 1.6 1.9; new lower in all four pairs
    assert ("pass_cpu_s (lower is better): 1.950 [1.875, 2.050] -> "
            "1.550 [1.475, 1.675]; new better in 4/4; median gain +0.400 "
            "vs old IQR 0.175") in out
    assert "peak_rss_mb (lower is better): 3000.000" in out
    assert "new better in 0/4" in out  # ties are not wins


@pytest.mark.parametrize("code, patch, why", [
    (1, {}, "exited with code 1"),
    (0, {"correct": False, "failed": 1}, "reported correct=False"),
], ids=["nonzero_exit", "incorrect"])
def test_perfbench_failed_leg_stops_naming_it(perfbench_stub, monkeypatch, code, patch, why):
    ab, calls, override, roots, argv = perfbench_stub
    override[3] = (code, patch)  # pair 1 runs NEW first
    monkeypatch.setattr("sys.argv", argv + ["2"])
    with pytest.raises(SystemExit) as stop:
        ab.main()
    msg = str(stop.value.code)
    assert msg.startswith(f"leg pair 1 new ({roots['new']})") and why in msg, msg
    assert len(calls) == 3
