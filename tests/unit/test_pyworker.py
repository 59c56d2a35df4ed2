"""The stat-guarded zip-importer cache (``rs_query_engine_spark.pyworker``):
an unchanged archive is not re-read on ``importlib.invalidate_caches()``,
a changed one is, and both kinds of Python worker run with the guard."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from rs_query_engine_spark import pyworker

REPO = Path(pyworker.__file__).resolve().parents[1]


def _invalidation_counter():
    """A function that runs ``importlib.invalidate_caches()`` and returns
    how many zip archive directories it read. Built as a local function
    so a task pickles it by value (workers cannot import this module)."""

    def counted_invalidate() -> int:
        reads = [0]
        read_directory = zipimport._read_directory

        def counting(path):
            reads[0] += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return reads[0]

    return counted_invalidate


def test_guard_skips_unchanged_archive_and_rereads_changed_one(tmp_path):
    guarded = zipimport.zipimporter.invalidate_caches
    pyworker.install()  # already installed on import: must not wrap twice
    assert zipimport.zipimporter.invalidate_caches is guarded

    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("rsqes_zipguard_a.py", "X = 1\n")
    sys.path.insert(0, archive)
    counted_invalidate = _invalidation_counter()
    try:
        assert importlib.import_module("rsqes_zipguard_a").X == 1
        counted_invalidate()  # an importer's first invalidation reads and stamps
        assert counted_invalidate() == 0

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("rsqes_zipguard_a.py", "X = 1\n")
            z.writestr("rsqes_zipguard_b.py", "Y = 2\n")
        assert counted_invalidate() >= 1
        assert importlib.import_module("rsqes_zipguard_b").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("rsqes_zipguard_a", None)
        sys.modules.pop("rsqes_zipguard_b", None)


def test_task_worker_runs_guarded_daemon(spark):
    """A Python task runs under the package's daemon module, and its
    second ``invalidate_caches()`` reads no archive."""
    counted_invalidate = _invalidation_counter()

    def probe(_):
        spec = sys.modules["__main__"].__spec__
        importers = [
            v
            for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        counted_invalidate()
        return spec.name if spec else None, len(importers), counted_invalidate()

    daemon, importers, reads = (
        spark.sparkContext.parallelize([0], 1).map(probe).collect()[0]
    )
    assert daemon == "rs_query_engine_spark.pyworker"
    assert importers > 0
    assert reads == 0


def test_pydatasource_import_installs_guard():
    """Planner workers always start plain ``pyspark.daemon``; the guard
    reaches them through the data-source module's import."""
    code = (
        "import zipimport\n"
        "def guarded():\n"
        "    return getattr(zipimport.zipimporter.invalidate_caches,"
        " 'stat_guarded', False)\n"
        "before = guarded()\n"
        "import rs_query_engine_spark.sources.pydatasource\n"
        "print(before, guarded())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.split() == ["False", "True"]
