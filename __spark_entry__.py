"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship near-dup clustering over sf0.001 documents.
queries()      — every implemented operator (SURVEY.md section 2 + training-data
                 ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-equivalent SQL for the SQL-expressible subset; the
                 genuinely non-SQL channels are rows-only by design.

Self-containment contract: every callable returned here must run under a
STOCK SparkSession (plain `SparkSession.builder.getOrCreate()` — no
PYTHONPATH export, no tuned confs). `_prepare` makes that true at call time:
it ships the `dedup` package to Python workers via addPyFile (cloudpickle
serializes our pandas-UDF closures by reference, so workers must be able to
`import dedup`) and pins the runtime confs the queries' semantics and
performance rely on (UTC timezone for the DuckDB oracle, Arrow batching,
AQE, shuffle parallelism sized to the session's cores).
"""

from __future__ import annotations

import sys
import zipfile
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
_SRC = str(_REPO / "src")
if _SRC not in sys.path:
    sys.path.insert(0, _SRC)

from dedup.ops import registry  # noqa: E402 — needs the sys.path entry above

_PKG_ROOT = _REPO / "src" / "dedup"
_ZIP = _REPO / "dist" / "dedup.zip"
_PREPARED_APPS: set[str] = set()


def _write_zip(pkg_root: Path, dest: Path) -> None:
    """Zip the package's .py files into `dest`, byte-identical for
    identical sources: entries sorted by archive name, with a fixed
    timestamp and permissions instead of the files' mtime and mode (a
    fresh checkout stamps every file with the checkout time)."""
    names = sorted(
        ("dedup/" + p.relative_to(pkg_root).as_posix(), p)
        for p in pkg_root.rglob("*.py")
    )
    with zipfile.ZipFile(dest, "w") as z:
        for name, p in names:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            info.external_attr = 0o644 << 16
            z.writestr(info, p.read_bytes())


def _ensure_zip() -> Path:
    """(Re)build dist/dedup.zip whenever any source file is newer than the
    zip, so addPyFile always ships code matching the driver-side modules.
    A rebuild from unchanged sources leaves the bytes unchanged."""
    newest_src = max(p.stat().st_mtime for p in _PKG_ROOT.rglob("*.py"))
    if _ZIP.exists() and _ZIP.stat().st_mtime >= newest_src:
        return _ZIP
    _ZIP.parent.mkdir(exist_ok=True)
    tmp = _ZIP.with_name("dedup.zip.tmp")
    _write_zip(_PKG_ROOT, tmp)
    tmp.replace(_ZIP)
    return _ZIP


def _prepare(spark: SparkSession) -> SparkSession:
    """Make a stock SparkSession able to run every query correctly and fast.

    All confs set here are runtime-settable (SQLConf), so this works on a
    session someone else built. Idempotent per SparkContext.
    """
    sc = spark.sparkContext
    app = sc.applicationId
    if app not in _PREPARED_APPS:
        sc.addPyFile(str(_ensure_zip()))
        _PREPARED_APPS.add(app)
    conf = spark.conf
    # timestamp semantics must match the UTC-pinned DuckDB oracle
    conf.set("spark.sql.session.timeZone", "UTC")
    # Arrow transfer for pandas UDFs; small batches — `content` rows are fat
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
    # AQE: runtime coalescing + skew-join splitting for residual LSH skew
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # stock default of 200 shuffle partitions over-splits local runs; size to
    # the session's actual parallelism (a real cluster submit overrides this)
    conf.set("spark.sql.shuffle.partitions", str(sc.defaultParallelism))
    return spark


def _self_contained(fn):
    def runner(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_prepare(spark), sf_dir)

    runner.__name__ = getattr(fn, "__name__", "query")
    runner.__doc__ = fn.__doc__
    return runner


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full near-dup clustering
    (MinHash/LSH + SimHash candidates -> verify -> connected components)."""
    from dedup.ops.dedup_queries import neardup_clusters_documents

    return neardup_clusters_documents(_prepare(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _self_contained(fn) for name, (fn, _sql) in registry().items()
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in registry().items() if sql is not None
    }


if __name__ == "__main__":
    # `python3 __spark_entry__.py` (re)builds dist/dedup.zip for spark-submit
    print(_ensure_zip())
