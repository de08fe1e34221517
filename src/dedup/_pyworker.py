"""Cut the fixed cost of each Python task in a Spark worker.

PySpark's per-task `setup_spark_files` (`pyspark/worker_util.py`) ends in
`importlib.invalidate_caches()`. On Python 3.11 that calls
`zipimport.zipimporter.invalidate_caches` on every cached zip importer, and
each call re-reads the whole directory of its archive. A worker holds one
such importer per package it imported from `pyspark.zip` (1,328 entries),
so every task paid ~0.2 s of worker CPU re-reading archives that had not
changed. Python 3.12 made this invalidation lazy (CPython gh-103200).

`install()` wraps the method so that an importer re-reads its archive only
when the archive's (mtime_ns, size) differs from the stamp taken at its
last read, and on its first call or when `stat` fails. An archive that is
replaced in place is still re-read, which is what invalidation promises;
directory finders are not touched. `dedup/__init__.py` calls `install()`,
which wraps the method in Spark Python workers only: every UDF of the
package imports `dedup` when it is unpickled, so a reused worker is
patched from its second task on.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_dedup_stamp", None):
        _stdlib_invalidate(self)
        self._dedup_stamp = stamp


def install() -> None:
    """Wrap `zipimporter.invalidate_caches` when this process is a Spark
    Python worker. PySpark marks a worker in `setup_spark_files`, before
    it unpickles any UDF; on the driver the flag stays False. Reads
    `sys.modules` so that importing `dedup` never imports pyspark."""
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
