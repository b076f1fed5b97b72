"""The stat-guarded `zipimporter.invalidate_caches` installed in Python
workers (`rpa_etl_spark/_worker.py`): an unchanged archive is not re-read,
a changed one is, the guard reaches the workers that run engine code, and
the driver keeps the stdlib method."""

from __future__ import annotations

import sys
import types
import zipfile
import zipimport

import pytest

from rpa_etl_spark import _worker
from rpa_etl_spark.sources import minipdf


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _exercise(tmp_path, make_guard) -> None:
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["mod_a"])
    rereads = []

    def counting_reread(self):
        rereads.append(self.archive)
        _worker._reread(self)

    invalidate = make_guard(counting_reread)
    importer = zipimport.zipimporter(str(archive))
    invalidate(importer)
    invalidate(importer)
    assert len(rereads) == 1, f"unchanged archive re-read {len(rereads)} times"

    _write_zip(archive, ["mod_a", "mod_b"])
    invalidate(importer)
    assert importer.find_spec("mod_b") is not None, "mod_b missing after the archive changed"


def test_stat_guard_rereads_only_changed_archives(tmp_path):
    _exercise(tmp_path, _worker.stat_guard)


def test_counting_fails_when_the_guard_always_rereads(tmp_path):
    with pytest.raises(AssertionError, match="re-read 2 times"):
        _exercise(tmp_path, lambda reread: reread)


def test_new_module_missed_when_the_guard_never_rereads(tmp_path):
    def read_once(reread):
        def invalidate(self):
            if not hasattr(self, "_archive_stamp"):
                reread(self)
                self._archive_stamp = True

        return invalidate

    with pytest.raises(AssertionError, match="mod_b missing"):
        _exercise(tmp_path, read_once)


def test_engine_import_installs_guard_in_python_workers(spark):
    def probe(rows):
        # minipdf is pickled by reference: unpickling imports the engine
        for _ in rows:
            text, _pages = minipdf.extract_text(minipdf.write_pdf([["ok"]]))
            yield text, zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    owner = "rpa_etl_spark._worker" if sys.version_info < (3, 13) else "zipimport"
    assert got == [("ok", owner)]


def test_driver_keeps_stdlib_invalidate_caches():
    assert "pyspark.worker" not in sys.modules
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_install_is_gated_on_worker_and_idempotent(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _worker._reread)
    _worker.install_zipimport_guard()
    assert zipimport.zipimporter.invalidate_caches is not _worker._guarded

    monkeypatch.setitem(sys.modules, "pyspark.worker", types.ModuleType("pyspark.worker"))
    _worker.install_zipimport_guard()
    _worker.install_zipimport_guard()
    # installed at most once: the class holds the one module-level wrapper
    assert (zipimport.zipimporter.invalidate_caches is _worker._guarded) == (
        sys.version_info < (3, 13)
    )
