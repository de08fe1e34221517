"""Stage 3 — SimHash + Hamming-ball candidate generation.

A second, independent near-dup channel (union'd with LSH candidates before
verification — SURVEY.md section 2.2 set-ops row): 64-bit SimHash per content,
candidates = pairs within Hamming distance <= config.hamming_radius. The
per-doc SimHash and its blocks come from the fused signature pass
(minhash_lsh.joint_signatures); this module indexes and pairs them.

Candidate generation is the pigeonhole construction: split 64 bits into
(radius+1) blocks; any two hashes within the radius agree exactly on at least
one block, so an equi-join on (block_id, block_value) is a COMPLETE generator
for the Hamming ball; the join is then filtered by true popcount distance —
all JVM-side (`bit_count(a ^ b)`), no Python in the join path.

Skew: block buckets get the same cap/star treatment as LSH buckets. A star
edge to the bucket pivot is only kept if it passes the Hamming filter, so for
mega-buckets SimHash intentionally under-generates; the LSH channel and the
verify stage's pivot edges cover those (boilerplate families are
near-identical, so pivot edges pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig


def block_rows(simhash_df: DataFrame) -> DataFrame:
    return simhash_df.select(
        "doc_id", "simhash",
        F.posexplode("blocks").alias("block_id", "block_val"),
    )


# partition count of the persistent sim_blocks index — same treatment as the
# LSH bands index (minhash_lsh.N_PBUCKETS): incremental probes prune the
# scan to the sbuckets their batch touches instead of reading O(index) rows
# per ingest (VERDICT r2: the SimHash probe was the last unpruned one)
N_SBUCKETS = 256


def with_sbucket(blocks_df: DataFrame) -> DataFrame:
    return blocks_df.withColumn(
        "sbucket", F.pmod(F.col("block_val"), F.lit(N_SBUCKETS)).cast("int")
    )


def within_radius(pairs: DataFrame, config: DedupConfig) -> DataFrame:
    """(src, dst) of the payload-carrying pairs (pairs_from_buckets,
    incremental.probe_index) whose simhash payloads lie within the Hamming
    radius — the JVM popcount filter, no Python."""
    return pairs.where(
        F.expr(f"bit_count(payload_src ^ payload_dst) <= {config.hamming_radius}")
    ).select("src", "dst")


def candidate_pairs(
    simhash_df: DataFrame, config: DedupConfig, dedup: bool = True
) -> DataFrame:
    """Candidate edges (src < dst) within the Hamming ball, skew-capped.

    Bucket-pair generation is shared with the LSH channel
    (minhash_lsh.pairs_from_buckets); the simhash value rides along as the
    bucket payload so the JVM popcount filter needs no extra join.
    `dedup=False` defers (src, dst) dedup to a union composition's single
    global pass (see pairs_from_buckets) — the popcount filter is a pure
    function of the pair, so applying it to duplicate rows is harmless.
    """
    from .minhash_lsh import pairs_from_buckets

    return within_radius(pairs_from_buckets(
        block_rows(simhash_df), ["block_id", "block_val"], config,
        payload_col="simhash", dedup=dedup,
    ), config)
