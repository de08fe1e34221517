"""Guard the self-containment contract of __spark_entry__.

The driver harness builds a PLAIN SparkSession (no PYTHONPATH export, no
tuned confs, whatever OS timezone) and imports __spark_entry__ directly.
Round-1 failure mode: pandas-UDF closures referencing `dedup.*` modules are
cloudpickled by reference, so Python workers crashed with
ModuleNotFoundError unless the repo's own build_session had exported
PYTHONPATH first. This test reproduces the driver environment in a clean
subprocess (PYTHONPATH stripped) and runs every previously-failing channel
plus a timezone-sensitive query under a stock session.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
import __spark_entry__ as e

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.ui.enabled", "false")
    # driver sessions are stock: deliberately NO timezone / Arrow / AQE confs
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
q = e.queries()
SF = "/root/testdata/sf0.001"
# the four round-1 worker-import failures + one TZ-sensitive window query
for name in ["minhash_lsh_candidates", "simhash_candidates",
             "neardup_clusters_documents", "media_extract_features",
             "sessionize_events"]:
    n = q[name](spark, SF).count()
    assert n >= 0, name
    print("OK", name, n)
df = e.entry(spark)
assert df.count() > 0
print("OK entry")
spark.stop()
"""


def test_queries_run_under_stock_session_clean_env():
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=str(REPO))],
        env=env,
        cwd="/tmp",  # not the repo: imports must come from sys.path insert
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, (
        f"stdout:\n{proc.stdout[-4000:]}\n\nstderr:\n{proc.stderr[-4000:]}"
    )
    assert "OK entry" in proc.stdout


def test_package_zip_is_byte_identical_across_builds(tmp_path):
    """dist/dedup.zip depends only on the sources' names and bytes, not on
    their mtime or mode, so a rebuild after a fresh checkout leaves the
    committed zip unchanged."""
    import zipfile

    import __spark_entry__ as e

    a, b = tmp_path / "a" / "dedup", tmp_path / "b" / "dedup"
    for root in (a, b):
        shutil.copytree(e._PKG_ROOT, root,
                        ignore=shutil.ignore_patterns("__pycache__"))
    for p in b.rglob("*.py"):
        os.utime(p, (1_700_000_000, 1_700_000_000))
        p.chmod(0o600)
    e._write_zip(a, tmp_path / "a.zip")
    e._write_zip(b, tmp_path / "b.zip")
    e._write_zip(e._PKG_ROOT, tmp_path / "repo.zip")
    data = (tmp_path / "a.zip").read_bytes()
    assert data == (tmp_path / "b.zip").read_bytes()
    assert data == (tmp_path / "repo.zip").read_bytes()
    names = zipfile.ZipFile(tmp_path / "a.zip").namelist()
    assert names == sorted(names) and "dedup/__init__.py" in names


def test_committed_package_zip_is_current(tmp_path):
    """The committed dist/dedup.zip equals a fresh build of src/dedup.
    `_ensure_zip` rebuilds only when a source is newer than the zip, and a
    fresh checkout stamps both with the checkout time, so a stale committed
    zip would ship as is. Rebuild it with `python3 __spark_entry__.py`."""
    import __spark_entry__ as e

    e._write_zip(e._PKG_ROOT, tmp_path / "fresh.zip")
    assert (tmp_path / "fresh.zip").read_bytes() == e._ZIP.read_bytes(), (
        "dist/dedup.zip is stale: run `python3 __spark_entry__.py`"
    )
