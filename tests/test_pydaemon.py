"""The engine's Python worker daemon (``gmall_flink_yb_spark.pydaemon``).

Its directory memo parses a zip archive again only when the archive
changes, and a session built by ``get_spark`` starts its workers from it
in any working directory: a daemon that cannot import its module fails
every Python UDF with an EOF on the daemon port."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from gmall_flink_yb_spark import pydaemon

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict[str, str], mtime: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)
    os.utime(path, (mtime, mtime))


def test_directory_memo_parses_an_unchanged_archive_once(
    tmp_path, monkeypatch
):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"_memo_probe_a": "X = 1\n"}, 1_700_000_000)
    parsed = []
    uncached = pydaemon._read_directory_uncached

    def counting(path):
        parsed.append(path)
        return uncached(path)

    monkeypatch.setattr(zipimport, "_read_directory", pydaemon._read_directory)
    monkeypatch.setattr(pydaemon, "_DIRECTORIES", {})
    monkeypatch.setattr(pydaemon, "_read_directory_uncached", counting)
    for name in ("_memo_probe_a", "_memo_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    monkeypatch.syspath_prepend(str(archive))

    assert importlib.import_module("_memo_probe_a").X == 1
    before = parsed.count(str(archive))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert parsed.count(str(archive)) - before <= 1

    # one more module: a new size and mtime, so the next invalidation
    # parses the archive again and the module imports
    _write_zip(
        archive,
        {"_memo_probe_a": "X = 1\n", "_memo_probe_b": "Y = 2\n"},
        1_700_000_100,
    )
    importlib.invalidate_caches()
    assert importlib.import_module("_memo_probe_b").Y == 2

    archive.unlink()
    importlib.invalidate_caches()
    with pytest.raises(zipimport.ZipImportError):
        zipimport._read_directory(str(archive))
    with pytest.raises(zipimport.ZipImportError):
        zipimport.zipimporter(str(archive))


_IMPORTABILITY_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from gmall_flink_yb_spark.session import get_spark

spark = get_spark("daemon-importability", master="local[2]")
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(8, numPartitions=2).mapInPandas(
    lambda batches: batches, "id long"
).collect()
print("ROWS", len(rows))
spark.stop()
"""


def test_workers_import_the_daemon_from_any_working_directory(tmp_path):
    """The driver finds the package through ``sys.path`` alone, as
    ``tests/conftest.py`` arranges, and runs in a directory that does not
    hold it; the workers still start from the engine daemon."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _IMPORTABILITY_SCRIPT.format(repo=str(REPO))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 8" in proc.stdout
