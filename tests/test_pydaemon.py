"""The engine's Python worker daemon (``pydaemon``): a zip archive on
``sys.path`` is re-read by ``importlib.invalidate_caches()`` only when it
changed, and local sessions start their workers from that daemon from
any cwd.

The gate tests drive a toy archive through ``importlib.invalidate_caches``
in this process; every patch goes through ``monkeypatch``.
"""

from __future__ import annotations

import importlib
import importlib.machinery
import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from nyc_yellow_taxi_trip_data_pipeline_spark import pydaemon
from nyc_yellow_taxi_trip_data_pipeline_spark.session import PYTHON_DAEMON_MODULE

ROOT = Path(__file__).resolve().parents[1]

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13 invalidates zip caches lazily"
)


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


def _load(archive: Path, name: str):
    """Import ``name`` from ``archive`` through the path finder (so its
    zipimporter is the one cached in ``sys.path_importer_cache``),
    leaving ``sys.modules`` alone."""
    spec = importlib.machinery.PathFinder.find_spec(name, [str(archive)])
    assert spec is not None, f"{name} not found in {archive}"
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture
def toy_archive(tmp_path, monkeypatch):
    """A zip holding ``toy_a``, imported once so its zipimporter sits in
    ``sys.path_importer_cache``; the gate installed; and a list of the
    archives ``zipimport._read_directory`` reads from then on."""
    archive = tmp_path / "toy.zip"
    _write_zip(archive, {"toy_a.py": "VALUE = 'a'\n"})
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert _load(archive, "toy_a").VALUE == "a"
    assert isinstance(sys.path_importer_cache[str(archive)], zipimport.zipimporter)

    # Registered before install() replaces it, so teardown restores the
    # stock method.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    return archive, reads


def test_unchanged_archive_is_not_reread(toy_archive):
    archive, reads = toy_archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads, reads


def test_rewritten_archive_is_reread(toy_archive):
    archive, reads = toy_archive
    before = archive.stat()
    _write_zip(
        archive,
        {"toy_a.py": "VALUE = 'a'\n", "toy_b.py": "VALUE = 'b'\n"},
    )
    # A new size alone changes the stamp; push the mtime too, so the
    # rewrite is seen on a file system with a coarse clock.
    assert archive.stat().st_size != before.st_size
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert _load(archive, "toy_b").VALUE == "b"
    assert reads.count(str(archive)) == 1, reads
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1, reads


def test_local_session_workers_run_the_engine_daemon_from_any_cwd(tmp_path):
    """A driver started outside the repository runs one ``pandas_udf`` on a
    ``get_spark`` session; the worker reports which module its
    ``zipimporter.invalidate_caches`` comes from."""
    code = (
        "import sys\n"
        f"sys.path.insert(0, {str(ROOT)!r})\n"
        "import pandas as pd\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark\n"
        "s = get_spark('pydaemon-test', master='local[1]')\n"
        "@pandas_udf('string')\n"
        "def probe(x: pd.Series) -> pd.Series:\n"
        "    import zipimport\n"
        "    m = zipimport.zipimporter.invalidate_caches.__module__\n"
        "    return pd.Series([m] * len(x))\n"
        "print('WORKER_MODULE', s.range(1).select(probe('id')).first()[0])\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=180,
        cwd=tmp_path,
        env=env,
    )
    assert f"WORKER_MODULE {PYTHON_DAEMON_MODULE}" in out.stdout, out.stderr[-2000:]
