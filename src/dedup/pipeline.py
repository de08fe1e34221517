"""Pipeline orchestrator — stages wired through the checkpoint ledger.

This is the batch realization of the reference's protect lifecycle
(SURVEY.md section 3.4). For each stage, in order:

    claim (ledger.claim, R6/R9/R11) -> compute (DataFrame transform, R12)
    -> atomic data commit (TableStore snapshot, R7 phase 1)
    -> completion record with metrics (ledger.mark_completed, R7 phase 2)

Stages (STAGES): `sha256` (exact dedup, representatives), `signatures`
(ONE fused pandas-UDF pass over the representatives: MinHash bands and LSH
candidates, SimHash blocks and Hamming candidates, and the verify stage's
winnowed fingerprints, committed as the `signatures`, `bands`,
`sim_blocks`, `candidates` and `winnow_fps` tables), `verify`
(screens + pairwise verification against the stored fingerprints) and
`cluster` (connected components). The store-free composition
(`near_dup_labels`, `run_dataframe_pipeline`), these stages and the
incremental ingest all build candidates with `candidate_edges` and verify
them with `verified_edges`.

Store format: the work_dir's TableStore stamps `storage.STORE_FORMAT` into
every catalog version, and any change to a table's layout increments it.
A work_dir written at another format is refused with StoreFormatError when
it is opened; rebuild it with `jobs/run_pipeline.py --input <files>
--work-dir <fresh dir>`. No stage migrates an older layout.

Resume: a COMPLETED stage whose output snapshot still exists is skipped
(duplicate call replays the stored result — DeduplicationContext.scala:163-167);
TIMEOUT/EXPIRED claims are taken over via CAS and recomputed (Ledger.claim,
the same claim every incremental ingest makes), which is safe because every
stage is a deterministic function of (input snapshot, config) — SURVEY.md
section 2.3 invariants 1/4/5.

Per-stage `_metrics` (row counts per output table — the batch form of the
reference's duplicate-detected callback counting, R4) and `_lineage`
(input/output snapshots, config hash, wall time) tables are appended on every
commit. Counts ride the staging write itself via `df.observe` (VERDICT r3
#3): no committed table is ever re-scanned for bookkeeping — at 100 TB the
old re-read doubled stage read I/O.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .ledger import Ledger
from .storage import TableStore
from .stages import cluster as stage_cluster
from .stages import exact as stage_exact
from .stages import minhash_lsh as stage_minhash
from .stages import simhash as stage_simhash
from .stages import verify as stage_verify

STAGES = ["sha256", "signatures", "verify", "cluster"]


def candidate_edges(
    sigs: DataFrame, config: DedupConfig, *more: DataFrame
) -> DataFrame:
    """(src, dst) candidates of `sigs(doc_id, sig, simhash, blocks)`: the
    LSH and SimHash channels plus any further edge sets (`more`, e.g. an
    ingest's index probes), deduplicated ONCE — the union's single
    dropDuplicates is the only shuffle the candidate set pays (see
    pairs_from_buckets)."""
    edges = stage_minhash.candidate_pairs(
        stage_minhash.band_rows(sigs), config, dedup=False
    ).unionByName(stage_simhash.candidate_pairs(
        sigs.select("doc_id", "simhash", "blocks"), config, dedup=False
    ))
    for extra in more:
        edges = edges.unionByName(extra)
    return edges.dropDuplicates(["src", "dst"])


def verified_edges(
    edges: DataFrame,
    reps: DataFrame,
    sigs: DataFrame,
    config: DedupConfig,
    num_partitions: int | None,
    fps: DataFrame | None = None,
) -> DataFrame:
    """The accepted rows of `edges` after the pre-verify screens and the
    content verification (stages.verify); `num_partitions` is the verify
    stage's Python task count (None keeps the input partitioning), `fps`
    the winnowed fingerprints when `sigs` does not carry them
    (stages.verify.prepare_pairs)."""
    return stage_verify.verify_edges(
        stage_verify.prepare_pairs(edges, reps, sigs, config, fps=fps),
        config,
        num_partitions=num_partitions,
    ).where("accepted")


def near_dup_labels(
    reps: DataFrame, config: DedupConfig, num_partitions: int | None = None
) -> tuple[DataFrame, int]:
    """Near-duplicate components over `reps(doc_id, content)` as one lazy
    composition: ((doc_id, cluster_id) for every doc on an accepted edge,
    CC rounds). Shared by `run_dataframe_pipeline` and the
    `neardup_clusters_documents` query.

    One fused UDF pass computes both signature channels AND the verify
    fingerprints (content crosses Arrow once, normalization and shingle
    hashing shared). `sigs` feeds three consumers and is persisted; the
    verified edges have one reader, CC's eager checkpoint, so they are
    not. `sigs` is released once CC returns: that checkpoint has cut its
    lineage."""
    sigs = stage_minhash.joint_signatures(reps, config, with_fp=True).persist()
    verified = verified_edges(
        candidate_edges(sigs, config), reps, sigs, config, num_partitions
    )
    labels, rounds = stage_cluster.connected_components(verified)
    sigs.unpersist()
    return labels, rounds


def run_dataframe_pipeline(files: DataFrame, config: DedupConfig) -> DataFrame:
    """The whole pipeline as one lazy DataFrame composition — no checkpoint
    store (bench / ad-hoc use; the resumable path is `Pipeline.run`).

    `reps` feeds two consumers (the fused signature pass and the verify
    content join), so it is persisted once instead of recomputing the
    scan + shuffle per consumer — the in-memory analogue of the
    store-backed pipeline materializing it; it is released once
    `near_dup_labels` has run connected components.
    """
    hashed = stage_exact.hash_content(files)
    reps = stage_exact.representatives(hashed).persist()
    exact_cl = stage_exact.exact_clusters(hashed)
    labels, _ = near_dup_labels(reps, config, config.shuffle_partitions)
    reps.unpersist()
    return stage_cluster.assign_clusters(exact_cl, labels)


_STAGE_KEY = "__stage__"  # one work unit per stage at this scale; a sharded
# deployment uses one ledger id per partition range under the same context_id


@dataclass
class StageResult:
    name: str
    skipped: bool
    wall_s: float
    snapshots: dict[str, str] = field(default_factory=dict)


class Pipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig,
        work_dir: str | Path,
    ):
        self.spark = spark
        self.config = config
        self.work_dir = Path(work_dir)
        self.store = TableStore(self.work_dir / "tables")
        self.ledger = Ledger(self.work_dir / "ledger")
        self.results: list[StageResult] = []
        # DataFrames the running stage persisted; released once its commit ran
        self._cached: list[DataFrame] = []
        # snapshot of each table the running stage read (_read): its lineage
        self._inputs: dict[str, str] = {}

    # ------------------------------------------------------------------ API

    def run(self, files: DataFrame, resume: bool = True) -> DataFrame:
        """Run all stages over `files(repo, path, commit, lang, content)`;
        returns the final clusters DataFrame."""
        # The committed `files` snapshot is the pipeline's input of record: a
        # resumed run MUST see the exact bytes the original run saw (stages
        # are pure functions of (input snapshot, config) — SURVEY.md 2.3).
        # resume=False always re-snapshots; a fresh work_dir snapshots once.
        if not resume or not self.store.exists("files"):
            self.store.write(files, "files")
        self._stage("sha256", self._stage_sha256, resume)
        self._stage("signatures", self._stage_signatures, resume)
        self._stage("verify", self._stage_verify, resume)
        self._stage("cluster", self._stage_cluster, resume)
        from .incremental import read_clusters

        return read_clusters(self.spark, self.store)

    def ingest(self, new_files: DataFrame) -> DataFrame:
        """Incrementally cluster a new batch against the committed index —
        no recompute of previously ingested docs. See incremental.ingest_batch."""
        from .incremental import ingest_batch

        return ingest_batch(self.spark, self.config, self.store, self.ledger,
                            new_files)

    # ----------------------------------------------------------- protocol

    def _stage(self, name: str, fn, resume: bool) -> None:
        # a COMPLETED stage replays only while every snapshot it committed is
        # still the table's current state; otherwise it recomputes
        payload = self.ledger.claim(
            _STAGE_KEY, name, self.config, time.time(),
            replayable=lambda p: resume and all(
                self.store.current_snapshot(t) == s
                for t, s in p["snapshots"].items()
            ),
        )
        if payload is not None:
            self.results.append(StageResult(name, True, 0.0, payload["snapshots"]))
            return
        t0 = time.time()
        self._inputs = {}
        try:
            outputs = fn()
            # stage all data first, then ONE atomic catalog CAS for the whole
            # stage — a crash mid-stage leaves no partially visible table set.
            # Row counts ride the write job as observed metrics: one aggregate
            # row per table reaches the driver, no post-commit re-scan.
            observations: dict[str, Observation] = {}
            updates = {}
            for t, df in outputs.items():
                obs = Observation()
                observations[t] = obs
                updates[t] = self.store.stage(
                    df.observe(obs, F.count(F.lit(1)).alias("n_rows")), t
                )
            self.store.commit_many(updates)
        finally:
            for df in self._cached:
                df.unpersist()
            self._cached.clear()
        snapshots = {t: self.store.current_snapshot(t) for t in outputs}
        wall = time.time() - t0
        self._append_metrics(name, observations, wall)
        self._append_lineage(name, snapshots, wall)
        self.ledger.mark_completed(
            _STAGE_KEY,
            name,
            {"snapshots": snapshots, "wall_s": wall,
             "config_hash": self.config.config_hash()},
            time.time(),
            self.config.ttl_s,
        )
        self.results.append(StageResult(name, False, wall, snapshots))

    def _append_metrics(
        self, stage: str, observations: dict[str, Observation], wall: float
    ) -> None:
        """One row per committed table, from the counts the staging write
        already computed (Observation.get is a driver-side dict lookup once
        the write action has run — never a new Spark job)."""
        rows = [
            dict(stage=stage, table=t, n_rows=int(obs.get["n_rows"]),
                 wall_s=wall)
            for t, obs in observations.items()
        ]
        pdf = pd.DataFrame(rows or [dict(stage=stage, table="", n_rows=0,
                                         wall_s=wall)])
        self._append_control("_metrics", pdf)

    def _append_lineage(self, stage: str, snapshots: dict[str, str], wall: float) -> None:
        pdf = pd.DataFrame([
            dict(stage=stage, inputs=json.dumps(self._inputs),
                 outputs=json.dumps(snapshots),
                 config_hash=self.config.config_hash(),
                 committed_at=time.time(), wall_s=wall)
        ])
        self._append_control("_lineage", pdf)

    def _append_control(self, table: str, pdf: pd.DataFrame) -> None:
        """O(new rows) per stage: each write is an appended segment; the
        occasional fold back to one segment amortizes reads (the same
        append+compact treatment every other index gets — VERDICT r4 #5).

        The fold is CAS-guarded (ADVICE r5): a concurrent run sharing the
        work_dir can append a segment between our read and the replace,
        which an unguarded replace would silently drop. On
        StaleReplaceError the fold is simply skipped — it is maintenance
        only, and the next writer past the threshold retries it."""
        self.store.append_pandas(pdf, table)
        if len(self.store.paths(table)) > self.config.compact_segments:
            from .storage import StaleReplaceError

            expected = {table: self.store.current_snapshot(table)}
            folded = self.store.read_pandas(table)
            try:
                self.store.commit_pandas_replace(folded, table, expected)
            except StaleReplaceError:
                pass

    # ------------------------------------------------------------- stages

    def _read(self, table: str) -> DataFrame:
        """Read a committed table for the running stage, recording its
        snapshot as one of the stage's lineage inputs."""
        self._inputs[table] = self.store.current_snapshot(table)
        return self.store.read(self.spark, table)

    def _stage_sha256(self) -> dict[str, DataFrame]:
        files = self._read("files")
        hashed = stage_exact.hash_content(files)
        return {
            # content pruned from the scan the moment the hash exists
            "hashed": hashed.select("doc_id", "repo", "path", "commit", "lang", "sha"),
            "reps": stage_exact.representatives(hashed),
            "exact_clusters": stage_exact.exact_clusters(hashed),
        }

    def _stage_signatures(self) -> dict[str, DataFrame]:
        reps = self._read("reps")
        # ONE pandas-UDF pass: both signature channels and the verify
        # fingerprints are pure functions of reps, so one fused pass does
        # less work than one stage per channel, even on a resume
        sigs = stage_minhash.joint_signatures(reps, self.config, with_fp=True)
        self._cached.append(sigs.persist())
        return {
            # `signatures` feeds the verify stage's est-Jaccard gate
            "signatures": sigs.select("doc_id", "sig"),
            # `bands` IS the persistent LSH index (incremental batches probe
            # it): hive-partitioned on pbucket (storage.PARTITIONED) so probes
            # prune; a probe derives the per-bucket (size, pivot) it caps hot
            # buckets with from the pruned rows
            "bands": stage_minhash.with_pbucket(stage_minhash.band_rows(sigs)),
            # the probeable Hamming-block index: exploded rows, hive-
            # partitioned on sbucket (same layout as `bands`/pbucket)
            "sim_blocks": stage_simhash.with_sbucket(stage_simhash.block_rows(
                sigs.select("doc_id", "simhash", "blocks")
            )),
            "candidates": candidate_edges(sigs, self.config),
            # fingerprints persist as their own index table: incremental
            # ingests then fingerprint only their new reps (ADVICE r2)
            "winnow_fps": sigs.select("doc_id", "fp", "nlen"),
        }

    def _stage_verify(self) -> dict[str, DataFrame]:
        return {"edges_verified": verified_edges(
            self._read("candidates"), self._read("reps"),
            self._read("signatures"), self.config,
            self.config.shuffle_partitions, fps=self._read("winnow_fps"),
        )}

    def _stage_cluster(self) -> dict[str, DataFrame]:
        edges = self._read("edges_verified")
        exact_clusters = self._read("exact_clusters")
        labels, rounds = stage_cluster.connected_components(edges)
        # `_v` = log-structured version stamp: incremental ingests append
        # delta segments at higher _v; readers resolve latest-wins per doc
        # (incremental.read_clusters)
        clusters = stage_cluster.assign_clusters(exact_clusters, labels).withColumn(
            "_v", F.lit(0).cast("int")
        )
        self._append_control(
            "_metrics",
            pd.DataFrame([dict(stage="cluster", table="cc_rounds",
                               n_rows=rounds, wall_s=0.0)]),
        )
        return {"clusters": clusters}
