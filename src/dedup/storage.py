"""Atomic-snapshot table store with a single versioned catalog.

Production target is Iceberg (`df.writeTo(tbl)` + snapshot commits); the
sandbox has no Iceberg runtime jar, so this module provides the documented
fallback (SURVEY.md section 7 hard-parts): immutable parquet segment
directories plus ONE catalog file per commit. The semantics mirror an
Iceberg catalog with multi-table transactions:

- data lands in fresh immutable segment dirs, invisible until committed;
- a commit writes `_catalog/v{N+1}.json` via os.link, which FAILS if that
  version already exists — a true compare-and-swap, so concurrent writers
  cannot silently drop each other's tables. Losers re-read and retry under
  a budgeted backoff (retry.attempt_with_backoff — the reference's
  pollStrategy shape, Config.scala:36-54);
- `commit_many` updates any number of tables in ONE catalog CAS: either
  every table in the transaction becomes visible or none does. This is what
  makes incremental ingest crash-safe (ADVICE r1: committing `hashed`
  before the index tables let a retried ingest skip never-indexed docs);
- a table is a list of segments: `replace` installs a new list (snapshot
  overwrite), `append` extends it (incremental index growth without
  rewriting the corpus-sized table);
- readers resolve the latest catalog version first — snapshot isolation;
  old catalog files and segments are kept (time travel);
- every catalog version records the store's `format` (Iceberg's
  `format-version`); a store whose latest catalog holds tables at another
  format is refused with StoreFormatError, never read or migrated.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col

from .retry import BACKOFF, CommitConflict, RetryStrategy, attempt_with_backoff

# Any change to the layout of a table written through TableStore increments this.
STORE_FORMAT = 3

# The bucket indexes: each is hive-partitioned on its bucket column, one file
# per bucket, so a probe reads only the partitions its batch touches.
PARTITIONED: dict[str, str] = {
    "bands": "pbucket",
    "sim_blocks": "sbucket",
    "emb_buckets": "pbucket",
    "span_index": "pbucket",
}


class StoreFormatError(RuntimeError):
    """The store was written at a format this code does not read. There is
    no migration: rebuild the store from its input files."""


class StaleReplaceError(RuntimeError):
    """A replace-mode commit was derived from a table state that is no
    longer current. Deliberately NOT a CommitConflict: blind retry would
    re-install a payload computed from the stale read, silently discarding
    the racing writer's merge (ADVICE r2). The caller must re-derive its
    replace payload from the current state and commit again."""


@dataclass(frozen=True)
class TableUpdate:
    """A staged change to one table: data already on disk, not yet visible."""

    mode: str                 # "replace" | "append"
    segments: list[str]

    def __post_init__(self) -> None:
        if self.mode not in ("replace", "append"):
            raise ValueError(f"unknown update mode {self.mode!r}")


class TableStore:
    def __init__(self, root: str | os.PathLike,
                 retry: RetryStrategy = BACKOFF):
        self.root = Path(root)
        self.retry = retry
        (self.root / "_catalog").mkdir(parents=True, exist_ok=True)
        _, cat = self._latest()
        found = cat.get("format", 0)  # a catalog written before the stamp has none
        if cat.get("tables") and found != STORE_FORMAT:
            raise StoreFormatError(
                f"store {self.root} is at format {found}, this code reads "
                f"format {STORE_FORMAT}; rebuild it with jobs/run_pipeline.py "
                "--input <files> --work-dir <fresh dir>"
            )

    def _table_dir(self, name: str) -> Path:
        return self.root / name

    # -- catalog -------------------------------------------------------------

    def _catalog_dir(self) -> Path:
        return self.root / "_catalog"

    def _latest(self) -> tuple[int, dict]:
        """(version, parsed catalog) of the newest catalog file, (0, {}) if none."""
        files = sorted(self._catalog_dir().glob("v*.json"))
        if not files:
            return 0, {}
        return int(files[-1].stem[1:]), json.loads(files[-1].read_text())

    def _load_catalog(self) -> tuple[int, dict]:
        version, cat = self._latest()
        return version, cat.get("tables", {})

    def _try_commit(self, version: int, tables: dict) -> bool:
        """CAS: os.link fails with EEXIST if `version` was already taken."""
        target = self._catalog_dir() / f"v{version:012d}.json"
        tmp = self._catalog_dir() / f".tmp-{uuid.uuid4().hex[:8]}"
        tmp.write_text(json.dumps(
            {"format": STORE_FORMAT, "tables": tables, "ts": time.time()}
        ))
        try:
            os.link(tmp, target)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink()

    # -- staging (data on disk, not visible) ----------------------------------

    def stage(
        self,
        df: DataFrame,
        name: str,
        mode: str = "replace",
        partition_by: list[str] | None = None,
    ) -> TableUpdate:
        """Write `df` as a new immutable segment; returns the staged update.
        Nothing is visible until commit_many publishes the catalog.

        partition_by=None lays out a PARTITIONED table on its bucket column,
        repartitioned first so each bucket is one file."""
        if partition_by is None and name in PARTITIONED:
            partition_by = [PARTITIONED[name]]
            df = df.repartition(F_col(PARTITIONED[name]))
        tdir = self._table_dir(name)
        tdir.mkdir(parents=True, exist_ok=True)
        seg = f"seg-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(tdir / seg))
        return TableUpdate(mode, [seg])

    # -- commit protocol -------------------------------------------------------

    def commit_many(
        self,
        updates: dict[str, TableUpdate],
        expected: dict[str, str | None] | None = None,
    ) -> None:
        """Publish any number of staged updates in ONE atomic catalog CAS.

        Append merges against the CURRENT segment list inside the CAS
        attempt, so a retry after losing the race appends to the winner's
        state instead of clobbering it.

        `expected` guards replace-mode read-modify-write payloads (merged
        stats, recomputed clusters): it maps table -> the snapshot the
        payload was DERIVED from. If the table moved past that snapshot —
        whether detected before the CAS or on a retry after losing it —
        the commit raises StaleReplaceError instead of silently installing
        data computed from a stale read (ADVICE r2: appends self-heal under
        retry, replacements don't). Pure-function replaces (the batch
        pipeline's stage outputs, recomputed from committed inputs) need no
        guard and pass expected=None."""

        def attempt():
            version, tables = self._load_catalog()
            for name, snap in (expected or {}).items():
                entry = tables.get(name)
                cur = None if entry is None else "+".join(entry["segments"])
                if cur != snap:
                    raise StaleReplaceError(
                        f"table {name!r} moved from snapshot {snap!r} to "
                        f"{cur!r} since this replace payload was derived; "
                        "re-derive from the current state and retry"
                    )
            merged = dict(tables)
            for name, u in updates.items():
                if u.mode == "replace":
                    merged[name] = {"segments": list(u.segments)}
                else:
                    prev = merged.get(name, {"segments": []})["segments"]
                    merged[name] = {"segments": list(prev) + list(u.segments)}
            if not self._try_commit(version + 1, merged):
                raise CommitConflict(f"catalog v{version + 1} already exists")

        attempt_with_backoff(attempt, self.retry)

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Snapshot-overwrite `name` with `df`; returns the snapshot id."""
        self.commit_many({name: self.stage(df, name, "replace", partition_by)})
        return self.current_snapshot(name)

    def append(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
    ) -> str:
        """Append `df` as a new segment of `name`; returns the snapshot id."""
        self.commit_many({name: self.stage(df, name, "append", partition_by)})
        return self.current_snapshot(name)

    def append_pandas(self, pdf, name: str) -> str:
        """Append a pandas DataFrame as a new segment — O(new rows) per
        call, unlike read-concat-rewrite which is O(history) (ADVICE r4:
        per-stage control-table writes grew with every run sharing a
        work_dir)."""
        return self._commit_pandas(pdf, name, "append")

    def commit_pandas_replace(
        self, pdf, name: str, expected: dict[str, str | None]
    ) -> str:
        """Snapshot-replace a pandas control table under the commit_many
        CAS `expected` guard — for read-modify-write folds (ADVICE r5: an
        unguarded replace can drop a segment appended by a concurrent
        writer between the read and the replace)."""
        return self._commit_pandas(pdf, name, "replace", expected)

    def _commit_pandas(
        self, pdf, name: str, mode: str,
        expected: dict[str, str | None] | None = None,
    ) -> str:
        tdir = self._table_dir(name)
        tdir.mkdir(parents=True, exist_ok=True)
        seg = f"seg-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        (tdir / seg).mkdir()
        pdf.to_parquet(tdir / seg / "part-0.parquet", index=False)
        self.commit_many({name: TableUpdate(mode, [seg])}, expected=expected)
        return self.current_snapshot(name)

    # -- reads -------------------------------------------------------------

    def _segments(self, name: str) -> list[str] | None:
        _, tables = self._load_catalog()
        entry = tables.get(name)
        return None if entry is None else entry["segments"]

    def current_snapshot(self, name: str) -> str | None:
        """Stable identity of the table's visible state (segment list)."""
        segs = self._segments(name)
        return None if segs is None else "+".join(segs)

    def exists(self, name: str) -> bool:
        return self._segments(name) is not None

    def paths(self, name: str) -> list[str]:
        segs = self._segments(name)
        if segs is None:
            raise FileNotFoundError(f"table {name!r} has no committed snapshot")
        return [str(self._table_dir(name) / s) for s in segs]

    def partition_cols(self, name: str) -> list[str]:
        """Hive partition columns of `name`, detected from the segment layout
        (single level: our indexes partition on one bucket column)."""
        for p in self.paths(name):
            for child in sorted(Path(p).iterdir()):
                if child.is_dir() and "=" in child.name:
                    return [child.name.split("=", 1)[0]]
        return []

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """Union of all committed segments.

        Unpartitioned tables read every segment in ONE multi-path scan node
        (plan width stays O(1) in the segment count — VERDICT r2: the
        driver-side unionByName loop grew the plan per append until
        compaction). Hive-partitioned segments keep the per-segment loop:
        each segment is its own partition-discovery root (a shared basePath
        would see the non-hive `seg-*` level), and these tables are exactly
        the ones whose probes prune partitions, so the unioned scans stay
        cheap and `compact()` bounds the count. Data-less segments (e.g. an
        idempotent-replay append of zero rows) are skipped."""
        paths = self.paths(name)
        if len(paths) == 1:
            return spark.read.parquet(paths[0])
        live = [p for p in paths if any(Path(p).rglob("*.parquet"))]
        if not live:
            live = paths[:1]
        if not self.partition_cols(name):
            return spark.read.parquet(*live)
        dfs = [spark.read.parquet(p) for p in live]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def compact(self, spark: SparkSession, name: str,
                min_segments: int = 2) -> bool:
        """Rewrite a multi-segment table as ONE segment (same rows, same
        partition layout). Pure maintenance: guarded by the snapshot the
        rewrite was derived from, so a racing append makes this a no-op
        (False) instead of silently discarding the append (the Iceberg
        rewrite_data_files contract)."""
        segs = self._segments(name)
        if segs is None or len(segs) < max(2, min_segments):
            return False
        snap = "+".join(segs)
        part = self.partition_cols(name)
        df = self.read(spark, name)
        if part:
            df = df.repartition(*[F_col(c) for c in part])
        update = self.stage(df, name, "replace", part or None)
        try:
            self.commit_many({name: update}, expected={name: snap})
        except StaleReplaceError:
            return False
        return True

    def read_pandas(self, name: str):
        import pandas as pd

        files: list[Path] = []
        for p in self.paths(name):
            files.extend(sorted(Path(p).rglob("*.parquet")))
        return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
