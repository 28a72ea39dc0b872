"""Exhaustive sweeps as one pytest command that cannot be skipped
silently (they were once manual steps in .claude/skills/verify):

    python -m pytest -m exhaustive tests/ -q          # all three, ~25 min

They are deselected from the default run (pytest.ini addopts) because
the CI suite already takes ~14 min; `-m exhaustive` on the CLI
overrides the default `-m "not exhaustive"`.

The size/degen sweeps re-run tests/test_oracle.py in a SUBPROCESS
because the corpus dir is bound at conftest import time
(SPARK_GRAFT_TEST_SF_DIR) and the session-scoped SparkSession caches
per-corpus temp views — a fresh interpreter is the only clean way to
repoint the whole oracle suite at a different corpus.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Corpus roots resolved the way conftest resolves its default corpus:
#: SPARK_GRAFT_TEST_SF_DIR names a specific sf dir (default
#: /root/testdata/sf0.01); the sibling corpora the sweeps need live next
#: to it.  A host with corpora elsewhere exports the env var and the
#: gate follows; a missing corpus skips with a message instead of
#: failing spuriously while the default suite passes.
_DEFAULT_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
_TESTDATA_ROOT = os.path.dirname(os.path.abspath(_DEFAULT_SF))


def _corpus(name: str) -> str:
    path = os.path.join(_TESTDATA_ROOT, name)
    if not os.path.isdir(path):
        pytest.skip(
            f"corpus {path} absent (testdata root {_TESTDATA_ROOT!r} from "
            "SPARK_GRAFT_TEST_SF_DIR) — export SPARK_GRAFT_TEST_SF_DIR to a "
            "sibling of the sf corpora to run this sweep"
        )
    return path


pytestmark = pytest.mark.exhaustive


def _run(cmd: list[str], env_extra: dict[str, str] | None = None) -> None:
    env = dict(os.environ)
    env.update(env_extra or {})
    proc = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=3600
    )
    if proc.returncode != 0:
        tail = (proc.stdout + "\n" + proc.stderr)[-4000:]
        pytest.fail(f"{' '.join(cmd)} exited {proc.returncode}:\n{tail}")


def test_hostile_session_sweep() -> None:
    """Every registered query on a hostile vanilla session, strict
    DuckDB compare for all oracles (tests/hostile_sweep.py)."""
    _run([sys.executable, "tests/hostile_sweep.py", _corpus("sf0.01")])


def test_size_sensitivity_sweep_sf0001() -> None:
    """Full oracle suite at sf0.001 — a different corpus size moves
    percentile interpolation points, even/odd median counts, and
    rounding boundaries (it caught b10's median-of-doubles flipping at
    a .005 boundary while green at sf0.01)."""
    _run(
        [sys.executable, "-m", "pytest", "tests/test_oracle.py", "-q", "--tb=line"],
        {"SPARK_GRAFT_TEST_SF_DIR": _corpus("sf0.001")},
    )


def test_degenerate_corpus_sweep() -> None:
    """Build the degenerate-content corpus, then run the full oracle
    suite against it (it caught b80's ANSI-cast crash and the
    non-finite quarantine class)."""
    dest = "/tmp/degen_exhaustive"
    _run([sys.executable, "tests/degen_corpus.py", dest])
    _run(
        [sys.executable, "-m", "pytest", "tests/test_oracle.py", "-q", "--tb=line"],
        {"SPARK_GRAFT_TEST_SF_DIR": dest},
    )
