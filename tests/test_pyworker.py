"""pyworker.py: a Python worker keeps each zip importer's directory
while its archive is unchanged.

The gate's semantics are tested on one importer through the replacement
function itself, so this pytest process's ``zipimport`` is never
patched; the Spark tests look inside real worker tasks."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from etl_wildweb_spark import pyworker, registry, sinks

from .test_sinks import _features

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def _gated_importer(path):
    imp = zipimport.zipimporter(str(path))
    gated = pyworker._keeping(zipimport.zipimporter.invalidate_caches)
    gated(imp)  # the first call reads: no key recorded yet
    return imp, gated


def test_unchanged_archive_keeps_its_directory(tmp_path):
    path = tmp_path / "a.zip"
    _zip(path, {"a.py": "X = 1\n"})
    imp, gated = _gated_importer(path)
    files = imp._files
    gated(imp)
    gated(imp)
    assert imp._files is files
    # the interpreter's own method re-reads it every time
    zipimport.zipimporter.invalidate_caches(imp)
    assert imp._files is not files and imp._files == files


def test_rewritten_archive_is_reread(tmp_path):
    path = tmp_path / "a.zip"
    _zip(path, {"a.py": "X = 1\n"})
    imp, gated = _gated_importer(path)
    assert imp.find_spec("b") is None
    _zip(path, {"a.py": "X = 1\n", "b.py": "Y = 2\n"})
    gated(imp)
    spec = imp.find_spec("b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_deleted_archive_gets_the_original_behaviour(tmp_path):
    path = tmp_path / "a.zip"
    _zip(path, {"a.py": "X = 1\n"})
    imp, gated = _gated_importer(path)
    assert imp._files
    os.remove(path)
    gated(imp)
    assert imp._files == {}


def test_importing_the_package_leaves_this_process_unpatched():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert not getattr(method, "keeps_zip_directories", False)


def test_worker_tasks_reread_no_zip_directory(spark, sf_dir):
    """After the sink's ``mapInPandas`` and a by-reference package UDF,
    a task's ``importlib.invalidate_caches()`` replaces no zip
    importer's directory.  The sink's transport runs inside ``send``,
    so it sees whether ``send`` installed the gate first."""

    def gated_post(fc_json: str) -> int:
        method = zipimport.zipimporter.invalidate_caches
        return 200 if getattr(method, "keeps_zip_directories", False) else 500

    statuses = sinks.submit_features(
        _features(spark, n=10).coalesce(1), gated_post
    ).collect()
    assert [r.status for r in statuses] == [200]
    registry.load_all()
    assert registry.QUERIES["b29_simhash"](spark, sf_dir).collect()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import etl_wildweb_spark  # noqa: F401  (what unpickling a package function does)

        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        before = [f._files for f in zips]
        importlib.invalidate_caches()
        replaced = sum(f._files is not b for f, b in zip(zips, before))
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [len(zips)], "replaced": [replaced]})

    [row] = spark.range(1).coalesce(1).mapInPandas(
        probe, "zips int, replaced int"
    ).collect()
    assert row.zips > 0
    assert row.replaced == 0


def test_shipped_package_zip_is_removed_at_exit():
    """``_ship_package`` writes one zip per process to the temp dir; the
    interpreter removes it at exit."""
    code = (
        "import os, types\n"
        "from etl_wildweb_spark import session\n"
        "class SC:\n"
        "    def addPyFile(self, p):\n"
        "        print(p, os.path.exists(p))\n"
        "session._ship_package(types.SimpleNamespace(sparkContext=SC()))\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
        timeout=120, check=True,
    )
    path, existed = p.stdout.split()
    assert path.endswith(".zip") and existed == "True"
    assert not os.path.exists(path)
