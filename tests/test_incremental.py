"""Incremental ingest: batch clustering against the existing index.

The equivalence oracle is the batch pipeline itself: clustering corpus A
then ingesting batch B must (a) place B's exact copies and near-dup variants
into A's clusters, (b) keep untouched A clusters stable, and (c) agree with
a from-scratch run over A ∪ B on (almost) every doc. Re-ingesting the same
batch is a ledger-protected no-op.
"""

from __future__ import annotations

import pandas as pd
import pytest

from dedup.config import DedupConfig
from dedup.corpus import generate_corpus
from dedup.pipeline import Pipeline

CFG = DedupConfig(shuffle_partitions=8)
N_TOTAL = 500
N_BASE = 350


@pytest.fixture(scope="module")
def split_corpus():
    c = generate_corpus(N_TOTAL, seed=42)
    # clone groups are emitted contiguously, so a row split leaves some
    # groups straddling the boundary — exactly the interesting case
    files_a = c.files.iloc[:N_BASE].reset_index(drop=True)
    files_b = c.files.iloc[N_BASE:].reset_index(drop=True)
    return c, files_a, files_b


@pytest.fixture(scope="module")
def incremental_clusters(spark, split_corpus, tmp_path_factory):
    _, files_a, files_b = split_corpus
    work = tmp_path_factory.mktemp("incr")
    pipe = Pipeline(spark, CFG, work)
    pipe.run(spark.createDataFrame(files_a))
    out = pipe.ingest(spark.createDataFrame(files_b)).toPandas()
    return pipe, out


@pytest.fixture(scope="module")
def batch_clusters(spark, split_corpus, tmp_path_factory):
    c, _, _ = split_corpus
    work = tmp_path_factory.mktemp("full")
    pipe = Pipeline(spark, CFG, work)
    return pipe.run(spark.createDataFrame(c.files)).toPandas()


def _partition_pairs(cl: pd.DataFrame) -> set[tuple[int, int]]:
    pairs = set()
    for _, grp in cl.groupby("cluster_id"):
        ids = sorted(grp.doc_id)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def test_all_docs_assigned(incremental_clusters):
    _, incr = incremental_clusters
    assert len(incr) == N_TOTAL
    assert incr.doc_id.is_unique
    mins = incr.groupby("cluster_id").doc_id.min()
    assert (mins.index == mins.values).all()


def test_matches_batch_recompute(incremental_clusters, batch_clusters):
    """Cluster partitions from incremental ingest vs from-scratch batch run
    must agree almost exactly (candidate sets differ slightly around the
    bucket cap, but verified components must coincide)."""
    _, incr = incremental_clusters
    p_incr = _partition_pairs(incr)
    p_batch = _partition_pairs(batch_clusters)
    inter = len(p_incr & p_batch)
    union = len(p_incr | p_batch)
    assert union > 0
    jacc = inter / union
    assert jacc >= 0.99, (
        f"partition agreement {jacc:.4f}: "
        f"only_incr={len(p_incr - p_batch)} only_batch={len(p_batch - p_incr)}"
    )


def test_reingest_is_noop(spark, split_corpus, incremental_clusters):
    _, _, files_b = split_corpus
    pipe, first = incremental_clusters
    snaps = {t: pipe.store.current_snapshot(t)
             for t in ["hashed", "reps", "signatures", "bands", "clusters"]}
    again = pipe.ingest(spark.createDataFrame(files_b)).toPandas()
    for t, s in snaps.items():
        assert pipe.store.current_snapshot(t) == s, t
    a = first.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_index_grew(incremental_clusters):
    pipe, incr = incremental_clusters
    hashed = pipe.store.read(pipe.spark, "hashed")
    assert hashed.count() == N_TOTAL
    bands = pipe.store.read(pipe.spark, "bands")
    reps = pipe.store.read(pipe.spark, "reps")
    assert bands.select("doc_id").distinct().count() == reps.count()


# ---------------------------------------------------------------------------
# round-2 guards: probe skew cap + crash recovery
# ---------------------------------------------------------------------------

def test_probe_band_index_caps_hot_buckets(spark):
    """ADVICE r1: a boilerplate band bucket with B old members probed by b
    new rows must emit b star edges, not B*b pairs. The bucket sizes and
    pivots come from the old rows the probe is handed."""
    from dedup.incremental import probe_index

    cfg = DedupConfig(bucket_cap=8, shuffle_partitions=8)
    # old index: hot bucket (0, 111) with 50 members, cold bucket (1, 222)
    # with 3 members
    old_rows = [(d, 0, 111) for d in range(100, 150)] + [
        (d, 1, 222) for d in (200, 201, 202)
    ]
    bands_old = spark.createDataFrame(
        old_rows, "doc_id long, band_id int, band_hash long"
    )
    new_rows = [(900, 0, 111), (901, 0, 111), (902, 1, 222), (903, 5, 999)]
    bands_new = spark.createDataFrame(
        new_rows, "doc_id long, band_id int, band_hash long"
    )
    got = {
        (r["src"], r["dst"])
        for r in probe_index(
            bands_new, bands_old, ["band_id", "band_hash"], cfg
        ).collect()
    }
    # hot bucket: one star edge per new row, to pivot 100
    # cold bucket: full join (3 old members); unknown bucket 999: nothing
    assert got == {
        (100, 900), (100, 901),
        (200, 902), (201, 902), (202, 902),
    }


def test_probe_block_index_caps_and_filters(spark):
    """The SimHash probe: probe_index carries the simhash as the member
    payload, so the popcount filter applies to the hot bucket's star edge."""
    from dedup.incremental import probe_index
    from dedup.stages.simhash import block_rows, within_radius

    cfg = DedupConfig(bucket_cap=2, hamming_radius=3, shuffle_partitions=8)
    # old hot bucket (block 0, val 7): members 10..14 (bsz=5 > cap 2),
    # pivot 10 with simhash 0
    sims_old = spark.createDataFrame(
        [(d, 0, [7]) for d in range(10, 15)],
        "doc_id long, simhash long, blocks array<long>",
    )
    # new rows: 900 within radius of pivot (popcount(7^0)=3), 901 too far
    new = spark.createDataFrame(
        [(900, 7, 0, 7), (901, 255, 0, 7)],
        "doc_id long, simhash long, block_id int, block_val long",
    )
    got = {
        (r["src"], r["dst"])
        for r in within_radius(probe_index(
            new, block_rows(sims_old), ["block_id", "block_val"], cfg,
            payload="simhash",
        ), cfg).collect()
    }
    assert got == {(10, 900)}  # star edge passes popcount, 901 filtered


def test_crash_between_commit_and_ledger_is_recovered(
    spark, tmp_path, monkeypatch
):
    """ADVICE r1 (high): the only remaining crash window is after the atomic
    catalog commit but before the ledger completion row. A retried ingest
    must then be a pure no-op: no duplicate index rows, identical clusters
    to an uninterrupted run."""
    import dedup.ledger as ledger_mod

    cfg = DedupConfig(shuffle_partitions=8)
    c = generate_corpus(160, seed=11)
    fa = c.files.iloc[:120].reset_index(drop=True)
    fb = c.files.iloc[120:].reset_index(drop=True)

    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(fa))

    real = ledger_mod.Ledger.mark_completed
    state = {"crashed": False}

    def flaky(self, id, context_id, result, now, ttl_s):
        if context_id == "ingest" and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("simulated crash after catalog commit")
        return real(self, id, context_id, result, now, ttl_s)

    monkeypatch.setattr(ledger_mod.Ledger, "mark_completed", flaky)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.ingest(spark.createDataFrame(fb))
    out = pipe.ingest(spark.createDataFrame(fb)).toPandas()  # retry

    hashed = pipe.store.read(spark, "hashed").toPandas()
    assert len(hashed) == 160 and hashed.doc_id.is_unique
    bands = pipe.store.read(spark, "bands").toPandas()
    assert not bands.duplicated(["doc_id", "band_id"]).any()

    pipe2 = Pipeline(spark, cfg, tmp_path / "w2")
    pipe2.run(spark.createDataFrame(fa))
    ref = pipe2.ingest(spark.createDataFrame(fb)).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("doc_id").reset_index(drop=True),
        ref.sort_values("doc_id").reset_index(drop=True),
    )


def test_ingest_writes_o_touched_clusters_delta(incremental_clusters):
    """VERDICT r3 #6 done-criterion: an ingest's clusters write is a DELTA
    segment holding only (batch docs + members of touched old clusters),
    never a corpus rewrite. The default compact threshold (16) keeps the
    base and delta segments separate here, so segment sizes are assertable."""
    import pyarrow.parquet as pq
    from pathlib import Path

    pipe, incr = incremental_clusters
    segs = pipe.store.paths("clusters")
    assert len(segs) == 2, "expected base segment + one ingest delta"

    def seg_rows(seg):
        return sum(
            pq.read_metadata(f).num_rows
            for f in Path(seg).rglob("*.parquet")
        )

    base_rows, delta_rows = seg_rows(segs[0]), seg_rows(segs[1])
    assert base_rows == N_BASE
    n_batch = N_TOTAL - N_BASE
    # the delta contains every batch doc plus touched old members — bounded
    # far below the corpus (clone groups straddle the split, so SOME old
    # members are rewritten, but untouched clusters never are)
    assert n_batch <= delta_rows < N_TOTAL, delta_rows
    # resolved view stays exactly one row per doc
    assert len(incr) == N_TOTAL and incr.doc_id.is_unique


def test_clusters_log_folds_past_threshold(spark, tmp_path):
    """Once the clusters log crosses config.compact_segments, the semantic
    fold rewrites it to ONE _v=0 segment of latest-wins rows only."""
    import pyarrow.parquet as pq
    from pathlib import Path

    cfg = DedupConfig(shuffle_partitions=8, compact_segments=2)
    c = generate_corpus(200, seed=11)
    batches = [c.files.iloc[i::3].reset_index(drop=True) for i in range(3)]
    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(batches[0]))
    for b in batches[1:]:
        out = pipe.ingest(spark.createDataFrame(b)).toPandas()
    segs = pipe.store.paths("clusters")
    assert len(segs) == 1
    physical = sum(
        pq.read_metadata(f).num_rows
        for s in segs for f in Path(s).rglob("*.parquet")
    )
    assert physical == 200  # superseded rows dropped by the fold
    assert len(out) == 200 and out.doc_id.is_unique


def test_ingest_auto_compacts_appended_indexes(spark, tmp_path):
    """Repeated ingests must not grow index segment counts without bound:
    once an appended table crosses config.compact_segments, maintenance
    folds it back to ONE segment (same rows, same partition layout), so
    read fan-in stays O(threshold) regardless of ingest count."""
    cfg = DedupConfig(shuffle_partitions=8, compact_segments=2)
    c = generate_corpus(200, seed=11)
    batches = [c.files.iloc[i::4].reset_index(drop=True) for i in range(4)]
    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(batches[0]))
    for b in batches[1:]:
        out = pipe.ingest(spark.createDataFrame(b)).toPandas()
    for t in ("hashed", "reps", "signatures", "bands", "sim_blocks",
              "winnow_fps"):
        assert len(pipe.store.paths(t)) <= cfg.compact_segments, t
    # compaction changed layout only: every doc still assigned, minima canon
    assert len(out) == 200
    assert pipe.store.partition_cols("bands") == ["pbucket"]
    assert pipe.store.partition_cols("sim_blocks") == ["sbucket"]
    mins = out.groupby("cluster_id").doc_id.min()
    assert (mins.index == mins.values).all()


def _lcs_only_pair(cfg: DedupConfig) -> tuple[str, str]:
    """Two 1201-char docs sharing a 400-char run: the LCS threshold is
    max(60, 0.25 * 1201) = 300, so the LCS branch accepts them, while their
    MinHash estimate sits under the Jaccard gate (asserted), so LCS is
    their only accept path."""
    import random

    import numpy as np

    from dedup import kernels as K

    rng = random.Random(5)

    def words(n):
        out = []
        while len(" ".join(out)) < n:
            out.append("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                               for _ in range(rng.randint(2, 8))))
        return " ".join(out)[:n]

    block = words(400)
    old_doc, new_doc = words(800) + " " + block, block + " " + words(800)
    a, b = K.make_minhash_coeffs(cfg.num_perm, cfg.seed)
    sig = K.minhash_batch([old_doc, new_doc], cfg.shingle_k, a, b)
    assert np.mean(sig[0] == sig[1]) < cfg.jaccard_floor_gate()
    return old_doc, new_doc


def test_ingest_clusters_lcs_only_pair_split_across_run_and_ingest(
    spark, tmp_path
):
    """An LCS-only near-dup whose old half was committed by `run` and whose
    new half arrives in an ingest is clustered: the ingest probes the
    persisted indexes and screens the pair against the committed
    `winnow_fps` of the old doc."""
    # 64x2 bands make the planted Jaccard-0.2 pair an LSH candidate
    cfg = DedupConfig(shuffle_partitions=8, bands=64, rows_per_band=2)
    c = generate_corpus(160, seed=11)
    old_doc, new_doc = _lcs_only_pair(cfg)
    planted = pd.DataFrame({
        "repo": "org/planted", "path": ["old.txt", "new.txt"],
        "commit": "c0", "lang": "text", "content": [old_doc, new_doc],
    })
    fa = pd.concat([c.files.iloc[:120], planted.iloc[:1]], ignore_index=True)
    fb = pd.concat([c.files.iloc[120:], planted.iloc[1:]], ignore_index=True)
    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(fa))

    out = pipe.ingest(spark.createDataFrame(fb)).toPandas()
    assert len(out) == 162 and out.doc_id.is_unique
    # the appended indexes cover old AND new docs, sim_blocks partitioned
    # for pruning
    reps = pipe.store.read(spark, "reps")
    for t in ("sim_blocks", "winnow_fps"):
        got = pipe.store.read(spark, t).select("doc_id").distinct().count()
        assert got == reps.count(), t
    assert pipe.store.partition_cols("sim_blocks") == ["sbucket"]
    ids = spark.createDataFrame(planted).selectExpr(
        "xxhash64(repo, path, commit) AS doc_id").toPandas().doc_id
    cl = out.set_index("doc_id").cluster_id
    assert cl[ids[0]] == cl[ids[1]], "LCS-only near-dup not clustered"
