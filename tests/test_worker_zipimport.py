"""Lazy ``zipimporter.invalidate_caches`` for PySpark workers
(openlogreplicator_spark/worker_zipimport.py): an unchanged archive is
not re-read, a rewritten one is, and Spark's Python workers run with the
patch while the test process does not."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from openlogreplicator_spark import worker_zipimport


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def lazy_importer(tmp_path, monkeypatch):
    """A zipimporter over a temporary archive, with the lazy
    ``invalidate_caches`` patched in and ``_read_directory`` counted."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"olrs_zip_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_zipimport.lazy_invalidate_caches,
    )
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield zipimport.zipimporter(archive), archive, reads
    zipimport._zip_directory_cache.pop(archive, None)
    worker_zipimport._stamps.pop(archive, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(lazy_importer):
    importer, archive, reads = lazy_importer
    importer.invalidate_caches()
    before = len(reads)
    importer.invalidate_caches()
    assert len(reads) == before
    # a second importer of the same archive shares the cached directory
    other = zipimport.zipimporter(archive)
    other.invalidate_caches()
    assert len(reads) == before
    assert importer.find_spec("olrs_zip_a") is not None


def test_rewritten_archive_is_reread_and_new_module_imports(
    lazy_importer, monkeypatch
):
    importer, archive, reads = lazy_importer
    importer.invalidate_caches()
    before = len(reads)
    _write_zip(archive, {
        "olrs_zip_a": "VALUE = 'a'\n",
        "olrs_zip_b": "VALUE = 'b'\n",
    })
    # the rewrite may land within the filesystem's mtime tick; the size
    # changed regardless, but pin the mtime forward to make that explicit
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importer.invalidate_caches()
    assert reads[before:] == [archive]
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("olrs_zip_b").VALUE == "b"
    finally:
        sys.modules.pop("olrs_zip_b", None)


def test_only_pyspark_workers_are_patched(spark):
    """The test process keeps the interpreter's own ``invalidate_caches``; a
    Python worker that imports the package gets the lazy one, and a
    later ``importlib.invalidate_caches()`` there (what PySpark runs at
    every task start) reads no zip directory."""
    assert (
        zipimport.zipimporter.invalidate_caches
        is not worker_zipimport.lazy_invalidate_caches
    )

    def probe(_):
        import importlib
        import zipimport

        import openlogreplicator_spark  # noqa: F401  (installs the patch)
        from openlogreplicator_spark import worker_zipimport as wz

        patched = (
            zipimport.zipimporter.invalidate_caches
            is wz.lazy_invalidate_caches
        )
        importlib.invalidate_caches()   # first read after the patch
        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        zip_importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield (patched, len(reads), zip_importers)

    patched, reads, zip_importers = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).first()
    )
    if sys.version_info >= (3, 13):
        assert not patched
        return
    assert patched
    assert zip_importers > 0, "workers are expected to import from a zip"
    assert reads == 0
