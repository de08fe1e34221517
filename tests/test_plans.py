"""Physical-plan audits: the plans we'd want at 100 TB, asserted at test scale.

Catalyst decisions are scale-dependent (AQE, broadcast thresholds), so these
assert structural properties that hold at any scale: pushdown reaching the
scan, no cartesian products, partial aggregation before bucket shuffles,
codegen in the hot expressions.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dedup.config import DedupConfig
from dedup.corpus import generate_corpus
from dedup.pipeline import run_dataframe_pipeline
from dedup.stages import exact as SE, minhash_lsh as SM, verify as SV

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def files(spark, tmp_path_factory):
    # go through parquet so scan-level assertions (pushdown, pruning) apply
    d = tmp_path_factory.mktemp("plans") / "files"
    corpus = generate_corpus(300, seed=42)
    spark.createDataFrame(corpus.files).write.parquet(str(d))
    return spark.read.parquet(str(d))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_has_no_cartesian_product(spark, files):
    plan = _plan(run_dataframe_pipeline(files, CFG))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_pruning_after_hash(spark, files):
    """exact_clusters must not drag `content` through its shuffle — only
    (doc_id, sha) reach the aggregation."""
    plan = _plan(SE.exact_clusters(SE.hash_content(files)))
    # the scan beneath the agg must read only the natural-key + content cols
    # needed to compute doc_id/sha; the agg exchange itself must be narrow.
    assert "content" in plan  # hashed from the scan...
    exchange_sections = [
        s for s in plan.split("Exchange") if "hashpartitioning(sha" in s
    ]
    assert exchange_sections, "expected a hash exchange keyed on sha"
    assert all("content" not in s.split("+- ")[0] for s in exchange_sections)


def test_bucket_pairs_use_partial_aggregation(spark, files):
    """The bucket-size aggregation must run partial (map-side) before its
    exchange — the shuffle carries one row per distinct bucket."""
    hashed = SE.hash_content(files)
    reps = SE.representatives(hashed)
    sigs = SM.joint_signatures(reps, CFG).select("doc_id", "sig", "bands")
    plan = _plan(SM.candidate_pairs(SM.band_rows(sigs), CFG))
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_verify_runs_one_python_task_per_slot(spark):
    """verify_edges hash-partitions the pair rows on (src, dst) into exactly
    `num_partitions` partitions right beneath its MapInPandas: every Python
    task costs a fixed ~200 ms of worker CPU, so the stage gets one task per
    core slot, not a multiple of it."""
    pairs = spark.createDataFrame(
        [(1, 2, 0.9, "a" * 200, "a" * 200)],
        "src long, dst long, est_jaccard double, "
        "content_src string, content_dst string",
    )
    lines = _plan(SV.verify_edges(pairs, CFG, num_partitions=3)).splitlines()
    (mip,) = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    exchanges = [i for i, ln in enumerate(lines) if "Exchange " in ln]
    assert exchanges and min(exchanges) > mip
    assert re.search(r"Exchange hashpartitioning\(src#\d+L?, dst#\d+L?, 3\)",
                     lines[min(exchanges)])
    between = lines[mip + 1:min(exchanges)]
    assert all("Sort [src" in ln for ln in between if "Sort" in ln)


def test_scan_pushdown_on_filtered_read(spark, files):
    q = files.where(F.col("lang") == "python").select("repo", "path")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,python)]" in plan
    assert "ReadSchema: struct<repo:string,path:string,lang:string>" in plan


def test_whole_stage_codegen_in_status_classifier(spark):
    from dedup.ledger import status_column

    df = spark.createDataFrame(
        [("a", "c", None, None, None)],
        "id string, context_id string, started_at timestamp, "
        "expires_on timestamp, result string",
    ).withColumn("status", status_column(300.0, 0.0))
    # '*(n)' prefixes mark operators inside a WholeStageCodegen span
    plan = _plan(df)
    assert "*(1) Project" in plan and "CASE WHEN" in plan


def test_zscore_grouped_map_is_salted_not_whole_language(spark):
    """VERDICT r4 #2 done-criterion: doc_zscore_by_lang must never feed a
    whole language into one pandas frame (at 10^12 files one language is
    most of the corpus). The plan must show (a) per-lang moments from a
    partial (map-side) aggregate, (b) those moments broadcast back onto the
    rows, and (c) the grouped-map UDF keyed on the SALTED column, not lang."""
    from dedup.ops.textops import doc_zscore_by_lang

    plan = _plan(doc_zscore_by_lang(spark, "/root/testdata/sf0.001"))
    assert "partial_avg" in plan and "partial_stddev_samp" in plan
    assert "BroadcastHashJoin" in plan
    gm = plan[plan.index("FlatMapGroupsInPandas"):].splitlines()[0]
    key = gm.split("]", 1)[0]  # 'FlatMapGroupsInPandas [<grouping keys>'
    assert "_g" in key and "lang" not in key

def test_ivf_assignment_is_one_arrow_pass_no_joins(spark):
    """The IVF docstring's scale claims, pinned at plan level (r6): the
    N x K assignment is ONE vectorized Arrow pass over the scan — no
    crossJoin (not even a broadcast nested-loop), no groupBy(vec_id), no
    re-join of the assignment onto the vectors; the only exchanges are the
    per-cell cap window, the cell probe equi-join and the final per-query
    ranking window."""
    from dedup.ops.similarity import embedding_ann_ivf

    plan = _plan(embedding_ann_ivf(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan            # the assignment pass
    assert "hashpartitioning(vec_id" not in plan  # no assignment re-join
    assert "hashpartitioning(cell" in plan  # per-cell cap + probe join
    assert "hashpartitioning(q_id" in plan  # final ranking window


def test_topk_cosine_emits_batch_local_topk_not_pair_stream(spark):
    """r6 plan pin for the brute-force baseline: the N/50 x N scoring runs
    inside ONE MapInPandas over the index scan (query matrix broadcast as a
    numpy array), so the plan has no crossJoin of any kind and the only
    exchange is the final per-query ranking window."""
    from dedup.ops.similarity import embedding_topk_cosine

    plan = _plan(embedding_topk_cosine(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan
    assert "hashpartitioning(q_id" in plan


def test_span_crossdoc_flag_has_no_per_h_sort(spark):
    """VERDICT r5 #4 done-criterion: doc_dup_span_stats flags cross-doc
    hashes via hash aggregation + a same-partition shuffled-hash join, not
    count() OVER (PARTITION BY h) — the plan must contain no Sort at all
    (the islands windows of the coverage query are doc-local and keep
    theirs) and no sort-merge join, and the h-join must add no exchange
    beyond the shared repartition('h'). (The two isomorphic exchange
    subtrees dedupe at runtime via AQE stage reuse — not visible in the
    pre-execution plan string; single-pass cost verified by timing in
    OPTIMIZATION_r06.md.)"""
    from dedup.ops.spans import doc_dup_span_stats

    plan = _plan(doc_dup_span_stats(spark, "/root/testdata/sf0.001"))
    assert "Sort " not in plan and "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" in plan
    # exchanges: 2x the shared repartition('h') subtree + the final
    # groupBy(doc_id) — nothing keyed on h beyond the repartition itself
    assert plan.count("Exchange hashpartitioning(h") == 2
    assert all("ENSURE_REQUIREMENTS" not in ln
               for ln in plan.splitlines()
               if "Exchange hashpartitioning(h" in ln)


def test_span_index_build_has_no_per_h_sort(spark, tmp_path):
    """The persistent span index build stages its stats through the query's
    own fold (ops.spans.dup_span_counts): the staged `span_stats` plan has
    no Window and no Sort, the bar the query above sets."""
    from dedup.incremental_spans import build_span_index
    from dedup.storage import TableStore

    store = TableStore(tmp_path / "tables")
    plans: dict[str, str] = {}
    orig_stage = store.stage

    def spying_stage(df, table, *a, **k):
        plans[table] = _plan(df)
        return orig_stage(df, table, *a, **k)

    store.stage = spying_stage
    shared = "shared boilerplate header line for every document " * 3
    docs = spark.createDataFrame(
        [(i, f"{shared} doc {i} " + f"unique words {i} " * 12)
         for i in range(12)],
        "doc_id long, text string",
    )
    build_span_index(spark, CFG, store, docs)
    plan = plans["span_stats"]
    assert "Window" not in plan
    assert "Sort " not in plan and "SortMergeJoin" not in plan


def test_prepare_pairs_reads_signatures_once_per_side(spark, tmp_path):
    """With no separate `fps` (the one-shot composition's signatures carry
    `fp` and `nlen`), the screen reads the signature relation on the src
    and dst sides only: no self-join of the signatures onto their own
    fingerprint columns."""
    d = str(tmp_path / "sigs")
    spark.createDataFrame(
        [(1, [1, 2], [7, 8], 90), (2, [1, 3], [8, 9], 95)],
        "doc_id long, sig array<bigint>, fp array<bigint>, nlen int",
    ).write.parquet(d)
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    reps = spark.createDataFrame(
        [(1, "a" * 90), (2, "b" * 95)], "doc_id long, content string"
    )
    plan = _plan(SV.prepare_pairs(edges, reps, spark.read.parquet(d), CFG))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and d in ln]
    assert len(scans) == 2
    assert all("fp" in ln and "nlen" in ln and "sig" in ln for ln in scans)


def _outside_cached(plan: str) -> list[str]:
    """The lines of `plan` not inside an InMemoryRelation: a cached plan is
    printed under every scan of it, but computed once."""
    out, cache_indent = [], None
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip(" :|+-"))
        if cache_indent is not None and indent > cache_indent:
            continue
        cache_indent = indent if "InMemoryRelation" in ln else None
        out.append(ln)
    return out


def test_embedding_bucket_udf_runs_once_per_vector(spark, tmp_path,
                                                   monkeypatch):
    """The pair generator reads the probe rows in several subtrees; the
    compositions that release what they persist persist the rows, so the
    bucket UDF runs inside that one cached relation and nowhere else in
    the edges plan that connected components receives."""
    import numpy as np

    from dedup.incremental_ann import build_embedding_index
    from dedup.ops.similarity import embedding_neardup_clusters_t40
    from dedup.stages import cluster as SC
    from dedup.storage import TableStore

    plans = []
    orig_cc = SC.connected_components

    def spying_cc(edges, *a, **k):
        plans.append(_plan(edges))
        return orig_cc(edges, *a, **k)

    monkeypatch.setattr(SC, "connected_components", spying_cc)
    embedding_neardup_clusters_t40(spark, "/root/testdata/sf0.001")
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(64).astype("float32").tolist())
         for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    build_embedding_index(spark, CFG, TableStore(tmp_path / "emb"), emb, 0.4)
    assert len(plans) == 2
    for plan in plans:
        assert "ArrowEvalPython" in plan
        assert not any("ArrowEvalPython" in ln for ln in _outside_cached(plan))
