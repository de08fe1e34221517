"""Cross-document duplicated-SPAN detection (exact substring dedup).

The channel the other dedup operators don't cover: MinHash/SimHash find
mostly-similar DOCUMENTS; this finds exact shared SUBSTRINGS of length >= L
anywhere in the corpus — boilerplate headers, license blocks, templated
paragraphs — the signal "Deduplicating Training Data Makes Language Models
Better" (Lee et al., ACL 2022) removes with a corpus-wide suffix array.

Spark-first design (NOT a suffix array — that needs a global sort over every
byte of a 100 TB corpus). Instead, MOSS-style mod-p winnowing over rolling
hashes:

1. per doc, hash EVERY length-L character window of the normalized text with
   the O(n) rolling kernel (`kernels.run_hashes` — prefix sums + inverse
   powers, splitmix64-finalized), then keep only windows whose hash
   satisfies h % p == 0. Selection depends on window CONTENT alone, so two
   copies of a span select the SAME windows regardless of position or
   surrounding text — a shared span of length S >= L is detected with
   probability 1 - (1 - 1/p)^(S - L + 1), deterministically per content
   (same corpus always yields the same answer, which is what makes the
   channel oracle-able).
2. emit (doc_id, h) for sampled windows only: the shuffle carries ~n/p
   16-byte rows per n chars of corpus — no content, no positions — then
   everything downstream is map-side-combinable JVM aggregation.

At 100 TB: the Python boundary is one Arrow-batched mapInPandas over the
content scan (numpy kernel per doc, O(n) regardless of L); the emit is the
only corpus-sized exchange and p scales it down linearly; the per-(h, doc)
combine happens map-side before the exchange; no collect, no crossJoin, no
driver loop. Skewed hashes (a license block in 10^8 docs) concentrate one
key's rows, but each row is 16 bytes and the first groupBy collapses them
to one row per (h, doc) before the per-h count.

Oracle: `oracle_u64.runwin_ctes` renders the identical uint64 chain as
DuckDB SQL (HUGEINT limb arithmetic), so both queries are value-hash
checked end to end, not rows-only.

No reference twin: the reference (ovotech/comms-deduplication) is a keyed
idempotency wrapper; this is a training-data-pipeline operator from the
brief's dedup list, same family as stages/minhash_lsh.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import kernels as K
from . import load_table
from .oracle_u64 import norm_cte, runwin_ctes

# Window length: a match means "these two docs share >= 64 identical
# normalized chars" — long enough to be boilerplate, not phrase reuse
# (Lee et al. use 50 BPE tokens ~ 200+ chars at web scale; the synthetic
# docs average ~300 chars, so 64 keeps the channel non-vacuous at test SF).
SPAN_L = 64
# mod-p sampling rate: 1/8 of windows emitted. At 100 TB this is the knob
# that trades shuffle volume (linear in 1/p) against the minimum reliably
# detected span length (~L + a few p).
SPAN_P = 8

_I64_MIN_AS_U64 = 1 << 63
_MOD = 1 << 64

_SIGNED_H = (
    f"(h::HUGEINT - CASE WHEN h >= {_I64_MIN_AS_U64} THEN {_MOD}::HUGEINT"
    " ELSE 0 END)::BIGINT"
)


def sampled_span_hashes(docs: DataFrame, L: int = SPAN_L, p: int = SPAN_P,
                        with_pos: bool = False) -> DataFrame:
    """(doc_id, h): mod-p sampled rolling-hash values of every length-L
    window of the normalized text, one row per sampled POSITION (within-doc
    repeats kept — they are the intra-doc repetition signal). With
    `with_pos`, rows carry (doc_id, pos, n, h): the window's start offset
    and the normalized doc length, for interval/coverage consumers.

    h is the uint64 kernel value viewed as int64 (Spark LongType), the same
    convention as the LSH band keys; sampling tests the low bits, which the
    two's-complement view preserves.
    """
    if p < 1 or p & (p - 1):
        raise ValueError(f"p must be a power of two (h % p == low bits), got {p}")
    mask = np.uint64(p - 1)

    def _emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # r6: one concatenated rolling-hash pass per Arrow batch
        # (kernels.run_hashes_batch — bit-identical by exact modular
        # arithmetic) and vectorized selection, instead of per-doc numpy
        # setup — the per-doc overhead dominated the emit (guide §4.2/§4.5)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            ts = [K.normalize_text(t or "") for t in pdf["text"].values]
            h, counts = K.run_hashes_batch(ts, L)
            if h.size == 0:
                continue
            doc_rep = np.repeat(ids, counts)
            keep = (h & mask) == np.uint64(0)
            if not keep.any():
                continue
            out = {"doc_id": doc_rep[keep]}
            if with_pos:
                # window start within its own doc: global window index
                # minus the doc's first window index
                total = int(counts.sum())
                win_off = np.concatenate(([0], np.cumsum(counts)))[:-1]
                pos = (np.arange(total, dtype=np.int64)
                       - np.repeat(win_off, counts))
                nlen = np.repeat(
                    np.array([len(t) for t in ts], dtype=np.int64), counts
                )
                out["pos"] = pos[keep]
                out["n"] = nlen[keep]
            out["h"] = h[keep].view(np.int64)
            yield pd.DataFrame(out)

    schema = ("doc_id long, pos long, n long, h long" if with_pos
              else "doc_id long, h long")
    return docs.select("doc_id", "text").mapInPandas(_emit, schema)


def _per_doc_counts(spans: DataFrame) -> DataFrame:
    """(h, doc_id, cnt) hash-partitioned on h ALONE. The explicit
    repartition("h") is the plan-shaping move: hashpartitioning(h) satisfies
    ClusteredDistribution for BOTH the (h, doc_id) count and every downstream
    h-keyed operator (the inventory's groupBy(h), the stats' cross-doc
    flag), so the whole chain runs on ONE exchange of the sampled stream
    instead of re-shuffling the per-(h, doc) rows a second time — at 100 TB
    that second exchange is another full pass over the channel's largest
    intermediate.
    (Trade-off: the first count loses its pre-shuffle partial-agg, but
    sampled hashes are almost all unique per (h, doc), so the combine was
    removing ~nothing while the extra exchange cost a full stream.)

    The explicit isNotNull(h) is vacuously true (the emit kernel always
    yields an int64 h) but LOAD-BEARING for plan identity: the r6 cross-doc
    flag joins a second consumer onto this stream, and the join pushes
    isnotnull(h) below ITS copy of the exchange — without the filter being
    present on both branches the exchange subtrees differ and ReusedExchange
    cannot fire, doubling the corpus scan (plan-pinned in test_plans)."""
    return (
        spans.where(F.col("h").isNotNull())
        .repartition("h")
        .groupBy("h", "doc_id")
        .agg(F.count("*").alias("cnt"))
    )


def dup_span_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span inventory: every sampled window hash that
    occurs in >= 2 distinct documents, with its document count and total
    sampled occurrence count. The corpus-curation view: rank by n_docs and
    you have the boilerplate blocks worth stripping before training."""
    per_doc = _per_doc_counts(
        sampled_span_hashes(load_table(spark, sf_dir, "documents"))
    )
    return (
        per_doc.groupBy("h")
        .agg(F.count("*").alias("n_docs"), F.sum("cnt").alias("n_hits"))
        .filter(F.col("n_docs") >= 2)
        .select(F.col("h").alias("span_hash"), "n_docs", "n_hits")
    )


def dup_span_counts(per_doc: DataFrame) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans) over `per_doc(h, doc_id, cnt)` rows
    (_per_doc_counts): every sampled position, and those whose hash occurs
    in >= 2 distinct documents. The one stats fold of the span channel —
    the one-shot query and the persistent index build
    (incremental_spans.build_span_index) both run it.

    Cross-doc flag WITHOUT a per-h window sort (VERDICT r5 #4): a
    boilerplate hash shared by 10^8 docs made `count(*) OVER (PARTITION
    BY h)` sort that key's rows inside one task. per_doc is already
    hash-partitioned on h, so the groupBy below is a streaming hash-agg
    on the SAME exchange and the h-keyed join adds no exchange either
    (the shared repartition("h") is planned once + ReusedExchange —
    plan-pinned in tests/test_plans.py). nd >= 2 over per-(h, doc) rows
    == "h occurs in >= 2 distinct documents" == the old window flag."""
    dup_h = (
        per_doc.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("isdup"))
    )
    # shuffle_hash hint: both sides are already h-partitioned, and a
    # sort-merge join would re-introduce a per-h sort of the probe side —
    # the exact straggler the window removal is for. The build side is one
    # row per cross-doc h.
    flagged = per_doc.join(dup_h.hint("shuffle_hash"), "h", "left")
    dup_cnt = F.sum(
        F.when(F.col("isdup").isNotNull(), F.col("cnt")).otherwise(F.lit(0))
    ).alias("n_dup_spans")
    return flagged.groupBy("doc_id").agg(F.sum("cnt").alias("n_spans"), dup_cnt)


def with_dup_ratio(counts: DataFrame) -> DataFrame:
    """(doc_id, n_spans, n_dup_spans, dup_ratio): the duplicated share of a
    doc's sampled positions, floor-half-up rounded to 4 decimals."""
    return counts.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (F.floor(F.col("n_dup_spans") / F.col("n_spans") * 10000
                 + F.lit(0.5)) / 10000).alias("dup_ratio"),
    )


def doc_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span exposure: of this doc's sampled windows,
    how many are shared verbatim with ANOTHER document? `dup_ratio` is the
    Lee-et-al-style filter signal (drop/trim docs dominated by text that
    exists elsewhere in the corpus).

    ONE corpus scan: the sampled emit collapses to (h, doc_id, cnt), a
    streaming hash-agg + same-partition join flags cross-doc hashes (no
    per-h window sort — see dup_span_counts), and the final groupBy folds
    both totals per doc — no self-join, no second pass over content.
    """
    return with_dup_ratio(dup_span_counts(_per_doc_counts(
        sampled_span_hashes(load_table(spark, sf_dir, "documents"))
    )))


def doc_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CHARACTER coverage of cross-document duplicated spans —
    the signal Lee et al. actually act on (trim/drop the covered range, not
    the whole doc). A sampled window at `pos` witnesses duplicated chars
    [pos, pos+L); overlapping witnesses merge by gaps-and-islands (running
    max of interval end over a doc-ordered window), so chars are counted
    once however many windows cover them. Output: docs with >= 1 duplicated
    window, their covered char count, normalized length, and the fraction.

    Scale shape (r6, VERDICT r5 #4): the cross-doc flag is two stacked
    hash-aggregations over the one h-exchange — per (h, doc) then per h,
    both streaming, no per-h sort — followed by a LEFT-SEMI join of the
    span rows against the >= 2-doc hashes on the SAME partitioning (the
    shared repartition("h") subtree is planned once + ReusedExchange). A
    row survives iff its h occurs in >= 2 distinct docs, which is exactly
    the old `n_all > n_own` window predicate, with no single-task sort on
    a mega-hot hash; islands then run doc-local on the doc_id exchange.
    """
    spans = (
        sampled_span_hashes(
            load_table(spark, sf_dir, "documents"), with_pos=True
        )
        # vacuously-true filter for exchange-subtree identity across the
        # two consumers — see _per_doc_counts
        .where(F.col("h").isNotNull())
        .repartition("h")
    )
    dup_h = (
        spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("h").agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    # shuffle_hash: see doc_dup_span_stats — keeps the probe side unsorted
    flagged = (
        spans.join(dup_h.hint("shuffle_hash"), "h", "semi")
        .select("doc_id", "pos", "n")
    )
    wp = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + SPAN_L).over(
        wp.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = flagged.withColumn(
        "new_i",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_i").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"),
        F.max(F.col("pos") + SPAN_L).alias("e"),
        F.max("n").alias("n"),
    )
    return (
        per_island.groupBy("doc_id")
        .agg(
            F.sum(F.col("e") - F.col("s")).alias("covered_chars"),
            F.max("n").alias("n_chars_norm"),
        )
        .select(
            "doc_id",
            "covered_chars",
            "n_chars_norm",
            (F.floor(F.col("covered_chars") / F.col("n_chars_norm") * 10000
                     + F.lit(0.5)) / 10000).alias("dup_coverage_frac"),
        )
    )


def source_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE contamination matrix: for every pair of sources, how
    many distinct sampled window hashes they share verbatim. The corpus
    audit that catches benchmark leakage / mirrored crawls BEFORE training:
    a hot (src_a, src_b) row means one source's text exists inside the
    other's.

    Scale shape: spans compact to distinct (h, doc) map-side, pick up
    `source` by doc_id equi-join (dim-keyed, AQE broadcasts when small),
    dedup to (h, source), then per-h source sets expand to ordered pairs
    IN-ARRAY (sorted collect_set + slice/transform — the minhash channel's
    star-expansion idiom, stages/minhash_lsh.py) so there is NO self-join
    and no second derivation of the channel. collect_set is bounded by the
    SOURCE cardinality (a catalog-sized dimension), not by document count.
    """
    docs = load_table(spark, sf_dir, "documents")
    spans = sampled_span_hashes(docs)
    hs = (
        spans.dropDuplicates(["h", "doc_id"])
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("h", "source")
        .dropDuplicates()
    )
    sets = (
        hs.groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = F.expr(
        "flatten(transform(sequence(0, size(ss)-2), i -> "
        "transform(slice(ss, i+2, size(ss)-i-1), y -> "
        "struct(ss[i] AS src_a, y AS src_b))))"
    )
    return (
        sets.select(F.explode(pairs).alias("pr"))
        .groupBy(F.col("pr.src_a").alias("src_a"),
                 F.col("pr.src_b").alias("src_b"))
        .agg(F.count("*").alias("n_shared_spans"))
    )


def _with_ctes(body: str) -> str:
    return f"WITH {norm_cte()},\n{runwin_ctes(SPAN_L, SPAN_P)},\n{body}"


DUP_SPAN_INVENTORY_SQL = _with_ctes(f"""
per_doc AS (SELECT h, doc_id, count(*) AS cnt FROM rwin GROUP BY h, doc_id)
SELECT {_SIGNED_H} AS span_hash,
       count(*) AS n_docs,
       CAST(sum(cnt) AS BIGINT) AS n_hits
FROM per_doc
GROUP BY h
HAVING count(*) >= 2
""")

DOC_DUP_SPAN_STATS_SQL = _with_ctes(f"""
per_doc AS (SELECT h, doc_id, count(*) AS cnt FROM rwin GROUP BY h, doc_id),
flagged AS (SELECT doc_id, cnt, count(*) OVER (PARTITION BY h) AS nd
            FROM per_doc)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       floor(sum(CASE WHEN nd >= 2 THEN cnt ELSE 0 END)
             / sum(cnt) * 10000 + 0.5) / 10000 AS dup_ratio
FROM flagged
GROUP BY doc_id
""")


DOC_DUP_SPAN_COVERAGE_SQL = _with_ctes(f"""
flagged AS (
  SELECT doc_id, pos, n FROM (
    SELECT doc_id, pos, n,
           count(*) OVER (PARTITION BY h) AS n_all,
           count(*) OVER (PARTITION BY h, doc_id) AS n_own
    FROM rwin
  ) WHERE n_all > n_own
),
isl AS (
  SELECT doc_id, pos, n,
         CASE WHEN max(pos + {SPAN_L}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + {SPAN_L}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_i
  FROM flagged
),
isl2 AS (
  SELECT doc_id, pos, n,
         sum(new_i) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
per_island AS (
  SELECT doc_id, island, min(pos) AS s, max(pos + {SPAN_L}) AS e,
         max(n) AS n
  FROM isl2 GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(sum(e - s) AS BIGINT) AS covered_chars,
       CAST(max(n) AS BIGINT) AS n_chars_norm,
       floor(sum(e - s) / max(n) * 10000 + 0.5) / 10000 AS dup_coverage_frac
FROM per_island GROUP BY doc_id
""")


SOURCE_CONTAMINATION_SQL = _with_ctes("""
hs AS (SELECT DISTINCT h, d.source
       FROM rwin r JOIN documents d ON r.doc_id = d.doc_id)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared_spans
FROM hs a JOIN hs b USING (h)
WHERE a.source < b.source
GROUP BY a.source, b.source
""")


QUERIES = {
    "dup_span_inventory": (dup_span_inventory, DUP_SPAN_INVENTORY_SQL),
    "source_contamination_pairs": (
        source_contamination_pairs, SOURCE_CONTAMINATION_SQL,
    ),
    "doc_dup_span_stats": (doc_dup_span_stats, DOC_DUP_SPAN_STATS_SQL),
    "doc_dup_span_coverage": (doc_dup_span_coverage, DOC_DUP_SPAN_COVERAGE_SQL),
}
