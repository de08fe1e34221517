"""Incremental duplicated-SPAN ingest — maintain the corpus-wide
duplicated-substring statistics as new documents arrive, without rescanning
old content.

Completes the O(batch + touched) ingest contract across ALL four dedup
channels: minhash/simhash (incremental.py), embedding-cosine
(incremental_ann.py), and now the duplicated-span channel (ops/spans.py —
Lee-et-al exact substring dedup via mod-p winnowed rolling hashes). Each
ingest runs under the one ingest protocol, incremental.run_ingest (ledger
claim/replay, one guarded commit, log fold); previously-ingested documents
are never re-hashed.

Why this is O(batch + touched): a batch can change an OLD document's stats
in exactly one way — a window hash that previously lived in ONE document
gains a second document, flipping that document's positions for that hash
from clean to duplicated. Every such hash is in the batch, so the update
reads only the index partitions the batch's hashes land in
(incremental.touched_slice, the bands/pbucket idiom) and rewrites
stats rows only for the batch docs plus the flipped old docs, appended as
a log-structured delta (latest-wins reads, semantic fold past
compact_segments). Old content is NEVER re-read: the index stores per
(h, doc) position counts, which is all the flip needs.

Tables (TableStore):

- ``span_meta`` (L, p): the frozen window length and sampling rate.
  Changing either is a rebuild (the hashes are incomparable), exactly like
  re-banding MinHash.
- ``span_index`` (pbucket, h, doc_id, cnt): distinct sampled (hash, doc)
  pairs with their position counts, hive-partitioned (storage.PARTITIONED)
  on pbucket = pmod(h, N_PBUCKETS_SPANS); grows by appends, plain
  compaction.
- ``span_stats`` (doc_id, n_spans, n_dup_spans, _v): log-structured
  per-doc stats deltas; `read_span_stats` folds latest-wins and derives
  dup_ratio with ops.spans.with_dup_ratio, so an ingest sequence is
  row-identical to the one-shot `doc_dup_span_stats` over the union
  corpus (test-pinned).

The build shares the one-shot query's steps (ops.spans._per_doc_counts and
dup_span_counts) rather than copying them, so its cross-document flag is
the query's streaming hash-agg, not a per-h window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .incremental import (
    _read_latest,
    batch_fingerprint,
    run_ingest,
    touched_slice,
)
from .ledger import Ledger
from .ops.spans import (
    SPAN_L,
    SPAN_P,
    _per_doc_counts,
    dup_span_counts,
    sampled_span_hashes,
    with_dup_ratio,
)
from .storage import TableStore

_CTX = "ingest_spans"

# hive-partition fanout of span_index; a batch probe reads at most
# min(distinct batch pbuckets, N_PBUCKETS_SPANS) partitions
N_PBUCKETS_SPANS = 64


def read_span_stats(spark: SparkSession, store: TableStore) -> DataFrame:
    """Latest-wins view of the log-structured stats, with dup_ratio derived
    by ops.spans.with_dup_ratio, the step doc_dup_span_stats ends in."""
    return with_dup_ratio(_read_latest(spark, store, "span_stats", ["doc_id"]))


def _index_rows(docs: DataFrame, L: int, p: int) -> DataFrame:
    """(h, doc_id, cnt, pbucket): the one-shot query's per-(hash, doc)
    position counts (ops.spans._per_doc_counts) plus their hive partition —
    the index row shape."""
    return _per_doc_counts(sampled_span_hashes(docs, L=L, p=p)).withColumn(
        "pbucket", F.pmod(F.col("h"), F.lit(N_PBUCKETS_SPANS)).cast("int")
    )


def build_span_index(
    spark: SparkSession,
    config: DedupConfig,
    store: TableStore,
    docs: DataFrame,
    L: int = SPAN_L,
    p: int = SPAN_P,
) -> DataFrame:
    """Build the persistent span index + initial stats from a base corpus
    (columns doc_id, text). L and p are FROZEN into span_meta; every later
    ingest samples under them. The stats are the one-shot query's fold
    (ops.spans.dup_span_counts) over the index rows. Returns the stats
    DataFrame."""
    per_doc = _index_rows(docs.select("doc_id", "text"), L, p).persist()
    try:
        stats = dup_span_counts(per_doc).withColumn(
            "_v", F.lit(0).cast("int")
        )
        meta = spark.createDataFrame([(int(L), int(p))], "L int, p int")
        store.commit_many({
            "span_meta": store.stage(meta, "span_meta", "replace"),
            "span_index": store.stage(per_doc, "span_index", "replace"),
            "span_stats": store.stage(stats, "span_stats", "replace"),
        })
        return read_span_stats(spark, store)
    finally:
        per_doc.unpersist()


def ingest_spans(
    spark: SparkSession,
    config: DedupConfig,
    store: TableStore,
    ledger: Ledger,
    new_docs: DataFrame,
) -> DataFrame:
    """Fold `new_docs` (doc_id, text) into the span index and stats;
    returns the updated stats DataFrame. Idempotent per batch
    (incremental.run_ingest)."""
    new_docs = new_docs.select("doc_id", "text")

    def body(persist):
        meta = store.read_pandas("span_meta")
        L, p = int(meta["L"].iloc[0]), int(meta["p"].iloc[0])
        stats_old = _read_latest(spark, store, "span_stats", ["doc_id"])

        # -- 1. drop re-ingested doc_ids (commits are all-or-nothing, so a
        # doc_id in span_stats implies its index rows landed too; docs with
        # zero sampled windows re-hash to nothing — harmless)
        fresh = new_docs.join(stats_old.select("doc_id"), "doc_id", "left_anti")

        # -- 2. sample under the FROZEN (L, p) -------------------------------
        per_new = persist(_index_rows(fresh, L, p))

        # -- 3. pruned probe: old index rows in the batch's pbuckets, for
        # the batch's hashes only ------------------------------------------
        index_matched = persist(touched_slice(
            spark, store, "span_index", "pbucket", per_new, ["h"]
        ))

        # -- 4. per-hash doc counts on both sides ----------------------------
        old_h = index_matched.groupBy("h").agg(
            F.count(F.lit(1)).alias("n_docs_old")
        )
        new_h = per_new.groupBy("h").agg(
            F.count(F.lit(1)).alias("n_docs_new")
        )

        # -- 5. batch-doc stats: a position is duplicated when its hash
        # exists in the old corpus OR in a second batch doc -----------------
        flagged_new = (
            per_new.join(new_h, "h")
            .join(old_h, "h", "left")
            .withColumn(
                "dup",
                (F.coalesce("n_docs_old", F.lit(0)) >= 1)
                | (F.col("n_docs_new") >= 2),
            )
        )
        stats_new = flagged_new.groupBy("doc_id").agg(
            F.sum("cnt").alias("n_spans"),
            F.sum(F.when(F.col("dup"), F.col("cnt")).otherwise(F.lit(0)))
            .alias("n_dup_spans"),
        )

        # -- 6. flipped OLD docs: a hash that had exactly ONE old doc and
        # gained a batch doc flips that old doc's positions to duplicated.
        # (n_docs_old >= 2 hashes were already duplicated for every old
        # holder; nothing changes.) ------------------------------------------
        flips = (
            index_matched.join(
                old_h.where(F.col("n_docs_old") == 1), "h", "left_semi"
            )
            .groupBy("doc_id")
            .agg(F.sum("cnt").alias("flip_cnt"))
        )
        stats_flipped = (
            flips.join(stats_old, "doc_id")
            .select(
                "doc_id",
                "n_spans",
                (F.col("n_dup_spans") + F.col("flip_cnt"))
                .alias("n_dup_spans"),
            )
        )

        # -- 7. delta = batch docs + flipped old docs ------------------------
        return {"span_index": per_new}, stats_new.unionByName(stats_flipped)

    run_ingest(
        spark, config, store, ledger,
        batch_fingerprint(new_docs, "spanbatch", "doc_id, sha2(text, 256)"),
        _CTX, "span_stats", ["doc_id"], body,
    )
    return read_span_stats(spark, store)
