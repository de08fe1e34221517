"""Stage 2 — MinHash signatures + LSH band bucketing + candidate pairs.

Signature math is vectorized numpy inside an Arrow-batched pandas UDF
(BASELINE.json input_hint: no per-row Python); banding and the bucket
self-join are pure DataFrame ops so Catalyst/AQE own the physical plan.

The near-dup "key" generalizes the reference's stable `id`: two contents
sharing any (band_id, band_hash) are candidate duplicates, exactly as two
calls sharing `id` are duplicates in the reference (README.md:14-16) — but
probabilistic, so candidates flow to the verify stage instead of being final.

Skew (SURVEY.md section 4.2.1 — the explicit part of the north rule): boilerplate
contents produce mega-buckets whose all-pairs join is quadratic. Buckets over
`bucket_cap` are star-linked: every member gets one edge to the bucket's min
doc_id (pivot). This preserves connectivity of the bucket in the final
clustering (linear edges, no quadratic blowup) and the verify stage still
checks each such edge pairwise. AQE skew-join handles residual imbalance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from .. import kernels as K


def ensure_parallelism(df: DataFrame, target: int) -> DataFrame:
    """Repartition only when the input is under-split (e.g. a single small
    parquet file -> 1 scan partition would serialize the pandas UDFs). A
    well-partitioned input at cluster scale passes through untouched — no
    gratuitous shuffle of fat content rows."""
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def drop_empty_normalized(reps: DataFrame, text_col: str = "content") -> DataFrame:
    """Exclude docs whose normalized text is empty from signature
    generation (ADVICE r3): the oracle's shingle CTE drops them
    (strlen(t) > 0 — no shingle rows), while sentinel signatures
    (all-MAX_HASH_32 MinHash, SimHash 0) would bucket every empty doc
    together and cluster them at jaccard 1.0. Excluding them symmetrically
    keeps empty/whitespace-only docs singletons on BOTH engines. The
    whitespace collapse is mirrored before the trim (Spark's trim strips
    spaces only — a tab/newline-only doc must also count as empty, as it
    does under kernels.normalize_text and the oracle's regexp); for the
    ASCII corpus contract this is a cheap JVM predicate, not a UDF."""
    collapsed = F.regexp_replace(F.col(text_col), r"\s+", " ")
    return reps.where(F.trim(collapsed) != "")


def joint_signatures(
    reps: DataFrame, config: DedupConfig, with_fp: bool = False
) -> DataFrame:
    """(doc_id, sig, bands, simhash, blocks[, fp, nlen]) — the ONE pandas
    UDF that hashes content: both signature channels from a single pass
    (kernels.minhash_simhash_batch, shared shingle hashing), and with
    `with_fp=True` also the verify stage's winnowed LCS fingerprints
    (kernels.winnow_fingerprints at L = lcs_min_chars) and normalized
    lengths, sharing the normalization and the Arrow content hop.

    `sig` is the full MinHash signature (the verify stage's JVM-side
    estimated-Jaccard gate folds over it, so noise pairs never reach
    Python or drag content through a shuffle); `bands` folds each band's
    rows into one 64-bit key kernel-side; `blocks` are the SimHash's
    pigeonhole blocks. Docs whose normalized text is empty are dropped
    (drop_empty_normalized): they have no shingles and can never be a
    candidate endpoint.

    Every caller projects the columns it needs: the checkpointed
    Pipeline's `signatures` stage and the one-shot compositions pass
    `with_fp=True` (all three parts are pure functions of the reps, so one
    fused pass does less work than one per part, even on a resume); the
    candidate-only queries pass False."""
    k = config.shingle_k
    bands, rows = config.bands, config.rows_per_band
    n_blocks = config.hamming_radius + 1
    a, b = K.make_minhash_coeffs(config.num_perm, config.seed)
    width = config.lcs_min_chars

    fields = [
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("bands", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
        T.StructField("blocks", T.ArrayType(T.LongType())),
    ]
    if with_fp:
        fields += [
            T.StructField("fp", T.ArrayType(T.LongType())),
            T.StructField("nlen", T.IntegerType()),
        ]

    @F.pandas_udf(T.StructType(fields))
    def joint_udf(texts: pd.Series) -> pd.DataFrame:
        ts = [K.normalize_text(t) for t in texts]
        sigs, sims = K.minhash_simhash_batch(ts, k, a, b, normalize=False)
        bh = K.band_hashes(sigs, bands, rows)
        blocks = K.hamming_blocks(sims, n_blocks)
        out = {
            "sig": list(sigs.view(np.int64)),
            "bands": list(bh),
            "simhash": sims,
            "blocks": list(blocks),
        }
        if with_fp:
            out["fp"] = [
                K.winnow_fingerprints(t, width).view(np.int64).tolist()
                for t in ts
            ]
            out["nlen"] = [len(t) for t in ts]
        return pd.DataFrame(out)

    cols = ["sig", "bands", "simhash", "blocks"] + (
        ["fp", "nlen"] if with_fp else []
    )
    reps = ensure_parallelism(drop_empty_normalized(reps),
                              config.shuffle_partitions)
    return reps.select("doc_id", joint_udf("content").alias("s")).select(
        "doc_id", *[F.col(f"s.{c}").alias(c) for c in cols]
    )


def band_rows(sig_df: DataFrame) -> DataFrame:
    """Explode band keys into (doc_id, band_id, band_hash) bucket rows.
    The full `sig` column is deliberately NOT carried: band rows are
    num_perm/rows_per_band per doc and feed a shuffle."""
    return sig_df.select(
        "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
    )


# partition count of the persistent bands index: incremental probes prune
# the scan to the pbuckets their batch actually touches (a batch of b docs
# hits <= b*bands of the N_PBUCKETS partitions)
N_PBUCKETS = 256


def with_pbucket(bands_df: DataFrame) -> DataFrame:
    return bands_df.withColumn(
        "pbucket", F.pmod(F.col("band_hash"), F.lit(N_PBUCKETS)).cast("int")
    )


def pairs_from_buckets(
    rows: DataFrame,
    key_cols: list[str],
    config: DedupConfig,
    payload_col: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Candidate edges (src < dst) from equi-key buckets, skew-capped.

    Shared by the LSH and SimHash channels. Physical design (the reason this
    is NOT a window + self-join):

    1. bucket sizes + pivot via groupBy agg — partial (map-side) aggregation,
       so the shuffle carries one row per distinct bucket, not per member;
    2. one join of the bucket rows against the (size, pivot) table — the
       join's hash partitioning on the bucket key is then REUSED by the
       groupBy below (no extra shuffle, no per-partition window sort);
    3. buckets of size 2..bucket_cap expand to all pairs INSIDE an array
       expression (collect_list bounded by the cap, then a nested transform
       — whole-stage codegen, no join that recomputes its input);
    4. buckets above the cap emit linear star edges to the bucket pivot via
       plain projection — no collect of unbounded member lists, so a
       million-member boilerplate bucket streams through without memory risk.

    Output: (src, dst, payload_src, payload_dst); payload defaults to 0L.

    `dedup=False` skips the per-channel `dropDuplicates` shuffle: a pair
    found in several buckets (or several bands) is emitted once per hit.
    Composition paths that union multiple channels and then dedup ONCE on
    (src, dst) should pass False — the global dedup subsumes the
    per-channel one, and because map-side combine cannot collapse
    duplicates produced in different bucket partitions anyway, a single
    global pass shuffles strictly fewer pair rows than per-channel dedup
    followed by a second dedup of the union. Duplicate rows for one
    (src, dst) are exact duplicates (payloads are functions of the doc,
    not the bucket), so downstream per-pair predicates stay deterministic.
    """
    payload = F.col(payload_col) if payload_col else F.lit(0).cast("long")
    rows = rows.select(
        *key_cols,
        F.struct(F.col("doc_id").alias("d"), payload.alias("p")).alias("m"),
    )
    buckets = rows.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("bsz"), F.min("m").alias("pivot")
    ).where(F.col("bsz") >= 2)
    joined = rows.join(buckets, key_cols)

    # max_bucket_pairs is a HARD emission cap per bucket on top of the
    # quadratic bound C(bucket_cap, 2). Truncation is connectivity-safe:
    # the flattened expansion starts with i=0, the complete star of the
    # smallest member, and max_bucket_pairs >= bucket_cap-1 is enforced in
    # DedupConfig.__post_init__, so every member keeps at least one edge.
    expansion = (
        "slice(flatten(transform(sequence(0, size(ms)-2), i -> "
        "transform(slice(ms, i+2, size(ms)-i-1), y -> "
        "struct(ms[i].d AS src, y.d AS dst, "
        "ms[i].p AS payload_src, y.p AS payload_dst)))), "
        f"1, {int(config.max_bucket_pairs)})"
    )
    small_pairs = (
        joined.where(F.col("bsz") <= config.bucket_cap)
        .groupBy(*key_cols)
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .select(F.explode(F.expr(expansion)).alias("e"))
        .select("e.src", "e.dst", "e.payload_src", "e.payload_dst")
    )
    big_pairs = (
        joined.where(
            (F.col("bsz") > config.bucket_cap)
            & (F.col("m.d") != F.col("pivot.d"))
        )
        .select(
            F.col("pivot.d").alias("src"),
            F.col("m.d").alias("dst"),
            F.col("pivot.p").alias("payload_src"),
            F.col("m.p").alias("payload_dst"),
        )
    )
    pairs = small_pairs.unionByName(big_pairs)
    return pairs.dropDuplicates(["src", "dst"]) if dedup else pairs


def candidate_pairs(
    bands_df: DataFrame, config: DedupConfig, dedup: bool = True
) -> DataFrame:
    """LSH candidate edges (src < dst), skew-capped (see pairs_from_buckets)."""
    return pairs_from_buckets(
        bands_df, ["band_id", "band_hash"], config, dedup=dedup
    ).select("src", "dst")
