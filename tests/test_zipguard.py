"""The stat-guarded ``zipimporter.invalidate_caches`` Python task workers
run (n5_dask_spark.zipguard): an unchanged archive is not re-read, a
rewritten one is, the driver keeps the stock method, and a task worker
has the guard once the package is imported there."""

from __future__ import annotations

import importlib
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

from n5_dask_spark import zipguard

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport re-reads lazily; no guard"
)


@pytest.fixture
def guarded(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipguard._guarded_invalidate_caches
    )


@pytest.fixture
def archive_on_path(tmp_path, monkeypatch):
    """A zip holding module zg_a, on sys.path with its importer cached."""
    path = tmp_path / "zg.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zg_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(path))
    for name in ("zg_a", "zg_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    importlib.import_module("zg_a")
    yield path
    sys.path_importer_cache.pop(str(path), None)


def _count_reads(monkeypatch, archive: pathlib.Path) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(guarded, archive_on_path, monkeypatch):
    importer = sys.path_importer_cache[str(archive_on_path)]
    reads = _count_reads(monkeypatch, archive_on_path)
    importer.invalidate_caches()  # first guarded call: no stamp yet, reads
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_archive_is_reread(guarded, archive_on_path, monkeypatch):
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive_on_path, "a") as z:
        z.writestr("zg_b.py", "VALUE = 'b'\n")
    reads = _count_reads(monkeypatch, archive_on_path)
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zg_b").VALUE == "b"


def test_driver_keeps_stock_invalidation():
    import n5_dask_spark  # noqa: F401  (the package installs on import)

    zipguard.install_in_task_worker()
    assert not zipguard.installed()


_TASK_REPORT = r"""
import os
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()

def report(batches):
    import pandas as pd
    from n5_dask_spark import zipguard
    for _ in batches:
        pass
    yield pd.DataFrame({"pid": [os.getpid()], "guarded": [zipguard.installed()]})

rows = spark.range(0, 4, 1, 4).mapInPandas(report, "pid long, guarded boolean").collect()
print("WORKER_PIDS", len({r.pid for r in rows}), "GUARDED", all(r.guarded for r in rows))
spark.stop()
"""


def test_task_worker_installs_guard(tmp_path):
    """A local[1] session in a subprocess: its one reused worker reports
    the guard from every task."""
    repo = str(pathlib.Path(__file__).resolve().parent.parent)
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", _TASK_REPORT],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-3000:]}"
    assert "WORKER_PIDS 1 GUARDED True" in r.stdout, r.stdout
