"""spark-submit --py-files launch mode, exercised end-to-end (VERDICT r4 #1).

The north star names exactly one launch contract — `spark-submit --py-files
dist/dedup.zip jobs/run_pipeline.py` — and until this test nothing executed
it (bench.py subprocesses run `python`). This builds the zip from src/,
runs the job TWICE against one work_dir through a real spark-submit, and
asserts (a) a full first run with every stage computed, (b) a resume run
where every committed stage is skipped (pipeline.py:138-155 ledger replay),
and (c) the entire work_dir — clusters table, indexes, ledger, catalog — is
byte-identical across the resume: a resumed run reads, it never rewrites.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _build_zip(tmp: Path) -> Path:
    """The dist/dedup.zip recipe (README), built hermetically into tmp."""
    zpath = tmp / "dedup.zip"
    src = REPO / "src"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((src / "dedup").rglob("*.py")):
            z.write(f, f.relative_to(src))
    return zpath


def _submit(zpath: Path, work: Path) -> dict:
    cmd = [
        shutil.which("spark-submit") or "spark-submit",
        "--py-files", str(zpath),
        str(REPO / "jobs" / "run_pipeline.py"),
        "--synthetic", "300",
        "--work-dir", str(work),
        "--master", "local[8]",
        "--shuffle-partitions", "8",
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=600, cwd=REPO
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    summary_lines = [
        ln for ln in proc.stdout.splitlines() if ln.startswith("{")
    ]
    assert summary_lines, proc.stdout[-2000:]
    return json.loads(summary_lines[-1])


def _dir_digest(root: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(root.rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


@pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)
def test_spark_submit_pyfiles_resume_byte_identical(tmp_path):
    zpath = _build_zip(tmp_path)
    work = tmp_path / "run"

    s1 = _submit(zpath, work)
    assert s1["files"] == 300
    assert [st["name"] for st in s1["stages"]] == [
        "sha256", "signatures", "verify", "cluster"
    ]
    assert all(not st["skipped"] for st in s1["stages"])
    assert s1["duplicates"] > 0  # the planted clones were found
    digest1 = _dir_digest(work)

    s2 = _submit(zpath, work)
    assert all(st["skipped"] for st in s2["stages"])
    assert (s2["docs"], s2["clusters"], s2["duplicates"]) == (
        s1["docs"], s1["clusters"], s1["duplicates"]
    )
    # byte-identity of the WHOLE work_dir: clusters and every other table,
    # the stage ledger, and the snapshot catalog are untouched by a resume
    assert _dir_digest(work) == digest1
