"""End-to-end pipeline: recall/precision vs planted truth + resume protocol.

Maps the reference's integration layer (DeduplicationSuite.scala) onto the
batch pipeline: recall >= 0.99 on planted clone pairs (BASELINE.md), exact
re-run is a no-op (idempotency, :121-136 analogue), takeover/recompute after
simulated failure yields identical clusters (:99-119 analogue).
"""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.corpus import generate_corpus
from dedup.ledger import Status
from dedup.pipeline import STAGES, Pipeline

CFG = DedupConfig(shuffle_partitions=8)
N_ROWS = 600


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(N_ROWS, seed=42)


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("pipeline")


@pytest.fixture(scope="module")
def clusters(spark, corpus, run_dir):
    files = spark.createDataFrame(corpus.files)
    pipe = Pipeline(spark, CFG, run_dir)
    out = pipe.run(files)
    return out.toPandas(), pipe


def _pairs_from_clusters(cl: pd.DataFrame) -> set[tuple[int, int]]:
    pairs = set()
    for _, grp in cl.groupby("cluster_id"):
        ids = sorted(grp.doc_id)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def _truth_pairs_docids(spark, corpus, run_dir) -> tuple[set, dict]:
    """Planted truth pairs mapped to doc_ids via the Spark-side xxhash64."""
    from dedup.storage import TableStore

    hashed = (
        TableStore(run_dir / "tables").read(spark, "hashed")
        .select("doc_id", "repo", "path", "commit")
        .toPandas()
    )
    key_to_id = {
        (r.repo, r.path, r.commit): r.doc_id for r in hashed.itertuples()
    }
    truth = corpus.truth
    pairs = set()
    by_type = {}
    dup = truth[truth.clone_type != "unique"]
    for (cid), grp in dup.groupby("truth_cluster_id"):
        ids = sorted(
            key_to_id[(r.repo, r.path, r.commit)] for r in grp.itertuples()
        )
        ctype = grp.clone_type.iloc[0]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
                by_type.setdefault(ctype, set()).add((ids[i], ids[j]))
    return pairs, by_type


def test_recall_ge_99(spark, corpus, run_dir, clusters):
    cl, _ = clusters
    found = _pairs_from_clusters(cl)
    truth, by_type = _truth_pairs_docids(spark, corpus, run_dir)
    recall = len(found & truth) / len(truth)
    per_type = {
        t: len(found & p) / len(p) for t, p in sorted(by_type.items())
    }
    assert recall >= 0.99, f"recall={recall:.4f} per-type={per_type}"


def test_precision_no_unique_merged(spark, corpus, run_dir, clusters):
    """Pairs between different truth clusters are precision errors; allow a
    tiny tolerance for grammar-generated accidental near-dups."""
    cl, _ = clusters
    found = _pairs_from_clusters(cl)
    truth, _ = _truth_pairs_docids(spark, corpus, run_dir)
    false_pairs = found - truth
    precision = 1 - len(false_pairs) / max(len(found), 1)
    assert precision >= 0.97, f"precision={precision:.4f} ({len(false_pairs)} false pairs)"


def test_all_docs_assigned_exactly_once(clusters, corpus):
    cl, _ = clusters
    assert len(cl) == len(corpus.files)
    assert cl.doc_id.is_unique
    # every cluster's id is its min member (canonical election invariant)
    mins = cl.groupby("cluster_id").doc_id.min()
    assert (mins.index == mins.values).all()
    # exactly one canonical per cluster
    canon = cl.groupby("cluster_id").is_canonical.sum()
    assert (canon == 1).all()


def test_all_stages_completed(clusters):
    _, pipe = clusters
    for s in STAGES:
        assert pipe.ledger.status("__stage__", s, CFG.max_processing_time_s,
                                  __import__("time").time()) is Status.COMPLETED
    # one fused stage commits both signature channels' indexes, their
    # once-deduplicated candidates and the verify fingerprints
    by_name = {r.name: r for r in pipe.results}
    assert [r.name for r in pipe.results] == STAGES
    assert set(by_name["signatures"].snapshots) == {
        "signatures", "bands", "sim_blocks", "candidates", "winnow_fps",
    }


def test_rerun_is_noop(spark, corpus, run_dir, clusters):
    """Re-running a committed pipeline recomputes nothing (duplicate call
    replays stored result — reference DeduplicationSuite.scala:121-136)."""
    _, first = clusters
    snaps_before = {
        t: first.store.current_snapshot(t)
        for t in ["hashed", "reps", "exact_clusters", "candidates",
                  "edges_verified", "clusters"]
    }
    pipe2 = Pipeline(spark, CFG, run_dir)
    files = spark.createDataFrame(corpus.files)
    pipe2.run(files)
    assert all(r.skipped for r in pipe2.results), [
        (r.name, r.skipped) for r in pipe2.results
    ]
    for t, s in snaps_before.items():
        assert pipe2.store.current_snapshot(t) == s, t


def test_resume_after_simulated_failure(spark, corpus, run_dir, clusters):
    """Kill after stage 2 (simulated: delete ledger rows for later stages),
    re-run, final clusters byte-identical; earlier stages untouched."""
    cl_before, first = clusters
    early = ["sha256", "signatures"]
    snaps_early = {t: first.store.current_snapshot(t)
                   for t in ["hashed", "reps", "exact_clusters",
                             "candidates"]}
    for s in ["verify", "cluster"]:
        first.ledger.delete("__stage__", s)
    pipe3 = Pipeline(spark, CFG, run_dir)
    files = spark.createDataFrame(corpus.files)
    out = pipe3.run(files).toPandas()
    by_name = {r.name: r for r in pipe3.results}
    for s in early:
        assert by_name[s].skipped, s
    for s in ["verify", "cluster"]:
        assert not by_name[s].skipped, s
    for t, s in snaps_early.items():
        assert pipe3.store.current_snapshot(t) == s, t
    a = cl_before.sort_values("doc_id").reset_index(drop=True)
    b = out.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_recall_fixtures_tier_2000(spark, tmp_path):
    """FIXTURES.md test-tier corpus (~2000 rows): recall >= 0.99 via the
    pure-DataFrame pipeline (heavier than the module fixture; end-of-suite
    confidence run)."""
    from pyspark.sql import functions as F

    from dedup.pipeline import run_dataframe_pipeline

    corpus = generate_corpus(2000, seed=42)
    files = spark.createDataFrame(corpus.files)
    out = run_dataframe_pipeline(files, CFG).toPandas()
    hashed = (
        files.select("repo", "path", "commit")
        .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
        .toPandas()
    )
    key_to_id = {(r.repo, r.path, r.commit): r.doc_id for r in hashed.itertuples()}
    truth_pairs = set()
    merged = corpus.truth
    for _, grp in merged[merged.clone_type != "unique"].groupby("truth_cluster_id"):
        ids = sorted(key_to_id[(r.repo, r.path, r.commit)] for r in grp.itertuples())
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                truth_pairs.add((ids[i], ids[j]))
    found = _pairs_from_clusters(out)
    recall = len(found & truth_pairs) / len(truth_pairs)
    precision = 1 - len(found - truth_pairs) / max(len(found), 1)
    assert recall >= 0.99, f"recall={recall:.4f}"
    assert precision >= 0.97, f"precision={precision:.4f}"


def test_metrics_and_lineage_written(clusters, spark):
    _, pipe = clusters
    metrics = pipe.store.read_pandas("_metrics")
    lineage = pipe.store.read_pandas("_lineage")
    assert set(STAGES) <= set(metrics.stage)
    assert set(STAGES) <= set(lineage.stage)
    assert (metrics.n_rows >= 0).all()
    assert lineage.config_hash.nunique() == 1
    # the observed counts must equal the committed tables' true row counts
    for table in ("hashed", "clusters", "edges_verified"):
        observed = int(metrics[metrics.table == table].n_rows.iloc[-1])
        assert observed == pipe.store.read(spark, table).count()


def test_lineage_records_each_stage_reads(clusters):
    """Each stage's lineage inputs are exactly the tables it read, at the
    snapshots it read them."""
    _, pipe = clusters
    lineage = pipe.store.read_pandas("_lineage").drop_duplicates(
        "stage", keep="first"
    ).set_index("stage")
    expected = {
        "sha256": {"files"},
        "signatures": {"reps"},
        "verify": {"reps", "signatures", "candidates", "winnow_fps"},
        "cluster": {"edges_verified", "exact_clusters"},
    }
    outputs = {}
    for stage in STAGES:
        inputs = json.loads(lineage.loc[stage, "inputs"])
        assert set(inputs) == expected[stage], stage
        outputs.update(json.loads(lineage.loc[stage, "outputs"]))
    for stage in STAGES:
        for t, snap in json.loads(lineage.loc[stage, "inputs"]).items():
            if t in outputs:
                assert snap == outputs[t], (stage, t)


def test_metrics_ride_the_write_no_rescan(spark, corpus, tmp_path):
    """VERDICT r3 #3: per-stage metrics come from df.observe on the staging
    write, not a post-commit re-read. `hashed` is never an input to any
    stage computation, so under observed metrics it must never be READ at
    all during a run — previously _append_metrics re-scanned every
    committed table (corpus-sized I/O at scale, purely for bookkeeping)."""
    files = spark.createDataFrame(corpus.files)
    pipe = Pipeline(spark, CFG, tmp_path / "w")
    reads: list[str] = []
    orig_read = pipe.store.read

    def spying_read(sess, name, *a, **k):
        reads.append(name)
        return orig_read(sess, name, *a, **k)

    pipe.store.read = spying_read
    pipe.run(files)
    assert "hashed" not in reads
    # compute-path reads stay, each a bounded number of times
    assert reads.count("reps") <= 3


def test_one_shot_pipeline_matches_checkpointed(spark, tmp_path):
    """run_dataframe_pipeline (no store) and Pipeline.run (checkpointed
    stages, verify fingerprints read back from the store) must assign
    IDENTICAL clusters — the store is a checkpoint only."""
    corpus = generate_corpus(400, seed=5)
    files = spark.createDataFrame(corpus.files)
    from dedup.pipeline import Pipeline, run_dataframe_pipeline

    one_shot = run_dataframe_pipeline(files, CFG).toPandas()
    staged = Pipeline(spark, CFG, tmp_path / "w").run(files).toPandas()
    a = one_shot.sort_values("doc_id").reset_index(drop=True)
    b = staged.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])


def test_compositions_release_what_they_persist(spark, tmp_path):
    """Each composition unpersists the DataFrames it persisted once they
    are no longer needed, so nothing stays cached for the rest of the
    session: the store-free compositions after connected components, the
    signatures stage after its commit, the embedding near-dup query after
    connected components and the embedding index build after its commit."""
    import numpy as np

    from dedup.incremental_ann import build_embedding_index
    from dedup.ops.similarity import embedding_neardup_clusters
    from dedup.pipeline import near_dup_labels, run_dataframe_pipeline
    from dedup.stages import exact as stage_exact
    from dedup.storage import TableStore

    files = spark.createDataFrame(generate_corpus(80, seed=3).files)
    cache = spark._jsparkSession.sharedState().cacheManager()
    reps = stage_exact.representatives(stage_exact.hash_content(files))
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((6, 64))
    emb = pd.DataFrame({
        "vec_id": np.arange(24, dtype=np.int64),
        "embedding": [
            (centers[i % 6] + 0.01 * rng.standard_normal(64))
            .astype("float32").tolist()
            for i in range(24)
        ],
    })
    emb.to_parquet(tmp_path / "embeddings.parquet")
    for compose in (
        lambda: near_dup_labels(reps, CFG),
        lambda: run_dataframe_pipeline(files, CFG),
        lambda: Pipeline(spark, CFG, tmp_path / "w").run(files),
        lambda: embedding_neardup_clusters(spark, str(tmp_path)),
        lambda: build_embedding_index(
            spark, CFG, TableStore(tmp_path / "emb"),
            spark.read.parquet(str(tmp_path / "embeddings.parquet")), 0.9,
        ),
    ):
        spark.catalog.clearCache()
        compose()
        assert cache.isEmpty()
