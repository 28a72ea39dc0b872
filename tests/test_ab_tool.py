"""tools/ab.py with ``subprocess.run`` stubbed: which checkout each round
runs first, and a leg whose output lacks a requested query."""

from __future__ import annotations

import importlib.util
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
