"""The matcher's per-process setup: `importlib.invalidate_caches()`
re-reads a zip archive on `sys.path` only when the archive changed
(`operators/matcher.py::_stamped_zip_invalidation`). PySpark calls it at
the start of every Python task, and before CPython 3.13 every
zipimporter re-reads its archive's central directory on each call."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from loki_rs_spark.operators.matcher import _stamped_zip_invalidation

MODULES = ("stamped_zip_first", "stamped_zip_second")


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def _count_reads(monkeypatch):
    """Paths passed to `zipimport._read_directory` from now on."""
    reads = []
    read = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return reads


@pytest.fixture
def archive_on_path(tmp_path):
    """A zip holding one module, imported from `sys.path`; afterwards
    restores the zipimporter method and flag, `sys.path`, the importer
    cache and `sys.modules`."""
    cls = zipimport.zipimporter
    saved = {
        k: vars(cls)[k]
        for k in ("invalidate_caches", "_stamped_invalidation")
        if k in vars(cls)
    }
    archive = str(tmp_path / "stamped.zip")
    _write_zip(archive, MODULES[:1])
    sys.path.insert(0, archive)
    try:
        importlib.import_module(MODULES[0])
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in MODULES:
            sys.modules.pop(name, None)
        for k in ("invalidate_caches", "_stamped_invalidation"):
            if k in saved:
                setattr(cls, k, saved[k])
            elif k in vars(cls):
                delattr(cls, k)


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zipimporter caches lazily; the "
    "setup is a no-op there",
)
def test_invalidate_caches_rereads_only_a_changed_archive(
    archive_on_path, monkeypatch
):
    _stamped_zip_invalidation()
    patched = zipimport.zipimporter.invalidate_caches
    _stamped_zip_invalidation()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is patched

    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()  # no stamp yet: re-reads and stamps
    assert archive_on_path in reads
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive_on_path, MODULES)  # a new module: the size changes
    importlib.invalidate_caches()
    assert reads == [archive_on_path]
    assert importlib.import_module(MODULES[1]).NAME == MODULES[1]
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_worker_invalidate_caches_rereads_nothing(spark, sigs):
    """In a Python worker after an engine build, a second
    `importlib.invalidate_caches()` re-reads no archive (the worker holds
    zipimporters over pyspark.zip, the spark-core jar and the py4j zip)."""
    payload = sigs.to_payload()

    def probe(_rows):
        import importlib
        import sys
        import zipimport

        from loki_rs_spark.operators.matcher import _engine_for

        _engine_for(payload)
        importlib.invalidate_caches()  # stamps importers not stamped yet
        reads = []
        read = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield n_zip, len(reads)

    [(n_zip, n_reads)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert n_zip > 0
    assert n_reads == 0
