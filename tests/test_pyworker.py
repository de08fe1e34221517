"""The worker-side wrap of `zipimporter.invalidate_caches` (dedup._pyworker):
an unchanged archive is not re-read, a rewritten one is, and only Spark
Python workers get the wrap."""

from __future__ import annotations

import os
import zipfile
import zipimport

import pytest

from dedup import _pyworker


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "X = 1\n")


@pytest.fixture
def reads(monkeypatch):
    """Install the wrap for one test and record each archive directory
    read (`zipimport._read_directory`)."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pyworker._invalidate_if_changed)
    return seen


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, ["pkg/__init__.py"])
    imp = zipimport.zipimporter(archive)
    del reads[:]
    for _ in range(3):
        imp.invalidate_caches()
    assert reads == [archive]  # the first call reads; no stamp yet


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, ["pkg/__init__.py"])
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    del reads[:]
    _write_zip(archive, ["pkg/__init__.py", "pkg/extra.py"])
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    imp.invalidate_caches()
    assert reads == [archive]
    assert "pkg/extra.py" in imp._files
    imp.invalidate_caches()
    assert reads == [archive]


def test_missing_archive_falls_through_to_stdlib(tmp_path, reads):
    """A failed stat always calls the stdlib method, which empties the
    importer; the archive is read again once it is back."""
    archive = str(tmp_path / "pkg.zip")
    _write_zip(archive, ["pkg/__init__.py"])
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    os.remove(archive)
    imp.invalidate_caches()
    assert imp._files == {}
    _write_zip(archive, ["pkg/__init__.py"])
    del reads[:]
    imp.invalidate_caches()
    assert reads == [archive] and imp._files


def test_spark_worker_is_wrapped_and_driver_is_not(spark):
    """A Python worker that imports `dedup` (as every UDF of the package
    does when it is unpickled) carries the wrap, and PySpark's per-task
    `importlib.invalidate_caches()` then re-reads none of its unchanged
    zip archives; the driver keeps the stdlib method."""

    def probe(batches):
        import importlib
        import sys

        import pandas as pd

        import dedup  # noqa: F401

        for _ in batches:
            pass
        real = zipimport._read_directory
        seen = []
        zipimport._read_directory = lambda p: seen.append(p) or real(p)
        try:
            importlib.invalidate_caches()
            seen.clear()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pd.DataFrame({
            "wrapped": [zipimport.zipimporter.invalidate_caches.__name__
                        == "_invalidate_if_changed"],
            "zip_importers": [sum(
                isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values()
            )],
            "rereads": [len(seen)],
        })

    rows = (
        spark.range(4).repartition(2)
        .mapInPandas(probe, "wrapped boolean, zip_importers long, rereads long")
        .collect()
    )
    assert rows and all(r.wrapped for r in rows)
    assert all(r.zip_importers > 0 and r.rereads == 0 for r in rows)
    assert zipimport.zipimporter.invalidate_caches is _pyworker._stdlib_invalidate
