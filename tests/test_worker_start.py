"""Task start in a Python worker: a zip archive on ``sys.path`` is re-read
by ``importlib.invalidate_caches()`` only when it changed (see
``octospark._stamp_zip_invalidation``)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import octospark


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _rereads() -> list:
    """The archives that one ``importlib.invalidate_caches()`` re-reads."""
    read = zipimport._read_directory
    archives: list = []

    def counting(archive):
        archives.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    return archives


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding module ``zipstamp_probe_a``, first on ``sys.path``."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipstamp_probe_a": 1})
    monkeypatch.syspath_prepend(path)
    for name in ("zipstamp_probe_a", "zipstamp_probe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    yield path
    sys.path_importer_cache.pop(path, None)


def test_changed_archive_is_reread_unchanged_is_not(archive):
    assert importlib.import_module("zipstamp_probe_a").VALUE == 1
    with pytest.raises(ImportError):
        importlib.import_module("zipstamp_probe_b")

    _write_zip(archive, {"zipstamp_probe_a": 1, "zipstamp_probe_b": 2})
    assert _rereads().count(archive) == 1
    assert importlib.import_module("zipstamp_probe_b").VALUE == 2
    # unchanged: no archive on the path is re-read
    assert _rereads() == []

    # an archive that cannot be stat'ed is re-read, as before
    os.unlink(archive)
    assert _rereads().count(archive) == 1


def test_install_wraps_once_and_only_before_3_13(monkeypatch):
    installed = zipimport.zipimporter.invalidate_caches
    assert sys.version_info >= (3, 13) or installed._stamped
    octospark._stamp_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is installed

    def plain(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    octospark._stamp_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is plain
    monkeypatch.setattr(sys, "version_info", (3, 12, 9))
    octospark._stamp_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches._stamped


def test_worker_task_start_rereads_no_archive(spark):
    """Run twice, a UDF re-reads no unchanged archive in its task's
    ``importlib.invalidate_caches()``, the call pyspark makes at every
    task start; before the stamp each call re-read 16 archives. The UDF
    repeats ``_rereads`` because a function of this module would be
    pickled by reference, and a worker need not be able to import it."""

    def rereads(batches):
        import importlib
        import os
        import sys
        import zipimport

        import octospark  # noqa: F401

        read = zipimport._read_directory
        archives: list = []

        def counting(archive):
            archives.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        for _ in batches:
            pass
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pd.DataFrame({"pid": [os.getpid()], "zips": [zips],
                            "rereads": [len(archives)]})

    schema = "pid long, zips long, rereads long"
    # the first run gives every idle worker a task (workers are handed
    # out first-in first-out), so each one has imported octospark
    spark.range(0, 64, 1, 64).mapInPandas(rereads, schema).collect()
    second = spark.range(0, 8, 1, 8).mapInPandas(rereads, schema).collect()
    assert len(second) == 8
    assert all(r.zips > 0 for r in second), second
    assert all(r.rereads == 0 for r in second), second
