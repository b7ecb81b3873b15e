"""The Python worker daemon (``_worker_daemon``) and the worker path:
an unchanged zip is not re-read per task, a rewritten one is, and the
engine's UDFs import from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture()
def daemon(monkeypatch):
    """``_read_directory`` calls, counted with the daemon's
    ``invalidate_caches`` installed; the stock one is back after the test."""
    mod = importlib.import_module("curatorhadoopinterface_spark._worker_daemon")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", mod._invalidate_if_changed)
    reads = []
    stock_read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread(daemon, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()  # first call: this importer holds no stamp yet
    n = len(daemon)
    for _ in range(5):
        imp.invalidate_caches()
        importlib.invalidate_caches()
    assert len(daemon) == n
    assert imp.find_spec("alpha") is not None


def test_rewritten_zip_is_reread(daemon, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    n = len(daemon)
    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    imp.invalidate_caches()
    assert len(daemon) == n + 1
    assert imp.find_spec("beta") is not None
    imp.invalidate_caches()
    assert len(daemon) == n + 1


def test_removed_zip_empties_the_importer(daemon, tmp_path):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"alpha": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    archive.unlink()
    imp.invalidate_caches()
    assert imp.find_spec("alpha") is None


def test_udfs_run_from_any_working_directory(tmp_path):
    """The workers find the engine through the session's worker path,
    not through the calling process's cwd."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(REPO)!r})\n"
        "from curatorhadoopinterface_spark.io import records_from_texts\n"
        "from curatorhadoopinterface_spark.plans.provide import provide\n"
        "from curatorhadoopinterface_spark.session import get_spark\n"
        "spark = get_spark('cwd-test', cpus=2)\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "n = provide(records_from_texts(spark, ['Spark runs.', 'Hadoop ran.']), 'POS').count()\n"
        "print('COUNT', n)\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEMORY": "1g"}
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "COUNT 2" in out.stdout
