"""Dedup-family queries over the generic `documents` table.

These expose every dedup channel of the engine as a driver-checkable query
(SURVEY.md section 2.2 dedup-specific row): exact sha256 dedup (SQL oracle),
MinHash/LSH and SimHash candidate generation and the full near-dup
clustering (pandas-UDF-backed => rows-only oracle).

`documents.text` plays the role of `code_files.content`; doc_id is given.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..pipeline import near_dup_labels
from ..stages import minhash_lsh as SM
from ..stages import simhash as SS
from . import load_table, oracle_u64

# documents are short (50-550 chars) word-salad rows from a ~40-word vocab:
# k=5 shingles make the shingle space so small that random pairs average
# J~0.17 and the LSH banding floods with noise candidates (measured: 2.6% of
# ALL pairs collide at b=32/r=4). k=7 pushes random pairs to J~0.07 (0.06%
# collision) while any genuinely similar text still scores far above the
# 0.35 floor.
DOC_CFG = DedupConfig(
    shingle_k=7, lcs_min_chars=30, lcs_min_ratio=0.2, jaccard_floor=0.35
)


def _docs_as_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )


def exact_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc exact cluster: min doc_id over identical sha256(text)."""
    docs = load_table(spark, sf_dir, "documents")
    # r6 note: an ensure_parallelism round-robin was tried here and REVERTED
    # — measured 0.70 s -> 1.04 s at sf1.0: JVM sha256 is cheap enough that
    # shuffling the text costs more than the serialized hash saves.
    hashed = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))
    owners = hashed.groupBy("sha").agg(F.min("doc_id").alias("cluster_id"))
    return (
        hashed.join(owners, "sha")
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
    )


EXACT_DEDUP_SQL = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY sha256(text)) AS cluster_id,
       doc_id = min(doc_id) OVER (PARTITION BY sha256(text)) AS is_canonical
FROM documents
"""


def exact_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_distinct"),
    )


EXACT_STATS_SQL = """
SELECT count(*) AS n_docs, count(DISTINCT sha256(text)) AS n_distinct
FROM documents
"""


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = SM.joint_signatures(_docs_as_reps(spark, sf_dir), DOC_CFG)
    return SM.candidate_pairs(SM.band_rows(sigs), DOC_CFG)


def simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = SM.joint_signatures(_docs_as_reps(spark, sf_dir), DOC_CFG)
    return SS.candidate_pairs(
        sigs.select("doc_id", "simhash", "blocks"), DOC_CFG
    )


def neardup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup flow on documents, composed as pure DataFrame ops
    (no checkpoint store — the store-backed path is jobs/run_pipeline.py):
    the pipeline's own composition (pipeline.near_dup_labels), with every
    doc outside an accepted edge its own cluster."""
    reps = _docs_as_reps(spark, sf_dir)
    labels, _ = near_dup_labels(reps, DOC_CFG)
    docs = reps.select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# Full value-hash oracles for the signature channels (VERDICT r2 #2/#3):
# the uint64 kernel chain inlined as literal-constant DuckDB SQL, pair
# generation mirrored closed-form, clustering via a recursive CTE. The
# clusters oracle applies the PURE verify rule (jaccard OR common-run).
# The Spark path's winnowed-fingerprint screen never drops a pair the
# common-run branch accepts; its only probabilistic cut is the 4-sigma
# est-Jaccard gate on the Jaccard branch (config.jaccard_floor_gate), whose
# miss probability is small enough that both sides agree on the test
# corpora — asserted by the driver gate per round.
MINHASH_LSH_CANDIDATES_SQL = oracle_u64.minhash_lsh_candidates_sql(DOC_CFG)
SIMHASH_CANDIDATES_SQL = oracle_u64.simhash_candidates_sql(DOC_CFG)
NEARDUP_CLUSTERS_SQL = oracle_u64.neardup_clusters_documents_sql(DOC_CFG)

QUERIES = {
    "exact_dedup_clusters": (exact_dedup_clusters, EXACT_DEDUP_SQL),
    "exact_dedup_stats": (exact_dedup_stats, EXACT_STATS_SQL),
    "minhash_lsh_candidates": (minhash_lsh_candidates, MINHASH_LSH_CANDIDATES_SQL),
    "simhash_candidates": (simhash_candidates, SIMHASH_CANDIDATES_SQL),
    "neardup_clusters_documents": (neardup_clusters_documents, NEARDUP_CLUSTERS_SQL),
}
