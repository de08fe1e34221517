"""Incremental embedding ingest — cluster NEW vectors against a persistent
hyperplane-LSH bucket index without re-scoring the corpus.

The minhash/simhash channels already honor the O(batch + touched) ingest
contract (incremental.py); this module extends it to the embedding-cosine
near-dup channel, the third signal a training-data pipeline dedupes on.
Each ingest runs under the one ingest protocol, incremental.run_ingest
(ledger claim/replay, one guarded commit, log fold); previously-ingested
vectors are never re-bucketed.

The build IS the one-shot channel's composition
(ops.similarity.neardup_graph) with its bucket rows stored, and an ingest
reuses its bucket-row, tau-edge and labelling steps, so the two paths
cannot drift. The index key is the multi-probe hyperplane bucket of that
channel (ops.similarity.neardup_probe_rows) — not the IVF cell of the ANN
query path. Deliberate: an LSH bucket is a SIMILARITY
statement (collision implies high cosine w.h.p.), so the shared cap/star
skew machinery is sound there — a star edge to a mega-bucket's pivot
survives the tau filter exactly when the members really are near-dups. An
IVF cell is a coarse PARTITION of space: star-capping a hot cell links
dissimilar vectors whose edges the tau filter then kills, silently
fragmenting every non-pivot cluster in the cell (measured: 90 clusters
instead of 27 on a planted corpus whose largest cell crossed the cap).
Frozen-plane semantics come for free — the plane pool is deterministic
module data — so only the plane COUNT is frozen at build (emb_meta),
making an ingest sequence equal a one-shot build of the union under the
same n_planes (test-pinned).

Tables (TableStore):

- ``emb_meta`` (n_planes): the frozen bucket-space size. Widening planes
  for a grown corpus is a rebuild, exactly like re-banding MinHash.
- ``emb_vectors`` (vec_id, v, nv): vectors + norms, joined by vec_id to
  score candidate pairs; grows by appends, plain compaction.
- ``emb_buckets`` (vec_id, bucket, pbucket): the exploded multi-probe
  rows, hive-partitioned (storage.PARTITIONED) on pbucket =
  pmod(bucket, N_PBUCKETS_EMB) so a batch probe reads only the partitions
  its buckets land in (PartitionFilters at the scan — mirroring
  bands/pbucket and sim_blocks/sbucket).
- ``emb_clusters`` (vec_id, cluster_id, _v): log-structured assignment;
  each ingest appends a delta holding ONLY the batch plus the members of
  old clusters its edges touched, latest-wins reads via
  incremental._read_latest, folded to one segment past compact_segments.

new-new candidates run through the SAME skew-capped generator as every
other channel (stages/minhash_lsh.pairs_from_buckets); new-old candidates
come from the SAME probe as the MinHash/SimHash ingest
(incremental.probe_index over incremental.touched_slice): per-bucket
(size, pivot) is derived from the pruned partitions only — exact, since a
bucket's rows all sit in its pbucket — and hot buckets contribute ONE star
edge to their pivot (sound here: an LSH bucket is a similarity bucket, and
the tau filter validates every edge). Every candidate then passes the
exact rounded-cosine >= tau filter (ops.similarity.neardup_cosine_edges), and
connected components run over the touched subgraph only
(stages.cluster.touched_components).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DedupConfig
from .incremental import (
    _read_latest,
    batch_fingerprint,
    probe_index,
    run_ingest,
    touched_slice,
)
from .ledger import Ledger
from .ops.similarity import (
    _DIM,
    ann_n_planes,
    neardup_assign,
    neardup_probe_rows,
    neardup_graph,
    neardup_cosine_edges,
    prep_vectors,
)
from .stages import cluster as stage_cluster
from .stages.minhash_lsh import pairs_from_buckets
from .storage import TableStore

_CTX = "ingest_emb"

# hive-partition fanout of emb_buckets; each probe touches at most
# min(batch buckets, N_PBUCKETS_EMB) partitions
N_PBUCKETS_EMB = 64


def read_emb_clusters(spark: SparkSession, store: TableStore) -> DataFrame:
    """Latest-wins view of the log-structured assignment."""
    return _read_latest(spark, store, "emb_clusters", ["vec_id"]).select(
        "vec_id", "cluster_id"
    )


def _with_pbucket(rows: DataFrame) -> DataFrame:
    """The stored index row: (vec_id, bucket) plus its hive partition."""
    return rows.withColumn(
        "pbucket", F.pmod(F.col("bucket"), F.lit(N_PBUCKETS_EMB)).cast("int")
    )


def _check_dim(emb: DataFrame, what: str) -> None:
    """Fail fast, with a typed error and before anything is committed, on
    vectors whose dimension is not the plane pool's: the bucket UDF would
    only fail later inside a worker (numpy's matmul core-dimension
    mismatch)."""
    first = emb.select(F.size("embedding").alias("d")).head(1)
    if first and int(first[0]["d"]) != _DIM:
        raise ValueError(
            f"{what}: embedding dim {int(first[0]['d'])} != plane-pool dim "
            f"{_DIM}; the hyperplane pool is fixed-dimension"
        )


def build_embedding_index(
    spark: SparkSession,
    config: DedupConfig,
    store: TableStore,
    emb: DataFrame,
    tau: float,
    n_planes: int | None = None,
) -> DataFrame:
    """Build the persistent bucket index + initial clusters from a base
    corpus (columns vec_id, embedding). n_planes defaults to the occupancy
    sizing the one-shot channel uses (ann_n_planes) and is FROZEN into
    emb_meta — every later ingest buckets under it. The index is the
    one-shot channel's own composition (ops.similarity.neardup_graph) with
    its bucket rows stored. Returns the clusters DataFrame."""
    _check_dim(emb, "build_embedding_index")
    base = prep_vectors(emb).persist()
    rows = None
    try:
        if n_planes is None:
            n_planes = ann_n_planes(base.count())
        # the pair generator and the emb_buckets commit read the probe rows
        rows = neardup_probe_rows(base, n_planes).persist()
        edges = neardup_graph(base, rows, config, tau)
        labels, _ = stage_cluster.connected_components(
            edges.select("src", "dst")
        )
        clusters = neardup_assign(base.select("vec_id"), labels).withColumn(
            "_v", F.lit(0).cast("int")
        )
        meta = spark.createDataFrame([(int(n_planes),)], "n_planes int")
        store.commit_many({
            "emb_meta": store.stage(meta, "emb_meta", "replace"),
            "emb_vectors": store.stage(
                base.select("vec_id", "v", "nv"), "emb_vectors", "replace"
            ),
            "emb_buckets": store.stage(
                _with_pbucket(rows), "emb_buckets", "replace"
            ),
            "emb_clusters": store.stage(clusters, "emb_clusters", "replace"),
        })
        return read_emb_clusters(spark, store)
    finally:
        if rows is not None:
            rows.unpersist()
        base.unpersist()


def ingest_embeddings(
    spark: SparkSession,
    config: DedupConfig,
    store: TableStore,
    ledger: Ledger,
    new_emb: DataFrame,
    tau: float,
) -> DataFrame:
    """Cluster `new_emb` against the existing index; returns the updated
    clusters DataFrame. Idempotent per batch (incremental.run_ingest)."""

    def body(persist):
        vectors_old = store.read(spark, "emb_vectors")
        n_planes = int(store.read_pandas("emb_meta")["n_planes"].iloc[0])
        clusters_old = read_emb_clusters(spark, store)

        # -- 0. dimension guard: a wrong-dim batch must not commit anything
        _check_dim(new_emb, "ingest_embeddings")

        # -- 1. drop re-ingested vec_ids (commits are all-or-nothing, so a
        # vec_id in emb_vectors implies its bucket/cluster rows landed too)
        fresh = persist(
            prep_vectors(new_emb).join(
                vectors_old.select("vec_id"), "vec_id", "left_anti"
            )
        )

        # -- 2. bucket under the FROZEN plane count --------------------------
        rows_new = persist(_with_pbucket(neardup_probe_rows(fresh, n_planes)))

        # -- 3. candidates: new-new (capped) + new-old (pruned probe) -------
        new_docs = rows_new.withColumnRenamed("vec_id", "doc_id")
        buckets_old = persist(touched_slice(
            spark, store, "emb_buckets", "pbucket", rows_new, ["bucket"]
        ).withColumnRenamed("vec_id", "doc_id"))
        cand = (
            pairs_from_buckets(new_docs, ["bucket"], config, dedup=False)
            .unionByName(probe_index(new_docs, buckets_old, ["bucket"], config))
            .select("src", "dst")
            .dropDuplicates(["src", "dst"])
        )

        # -- 4. exact cosine >= tau, then CC over the touched subgraph ------
        vecs = vectors_old.select("vec_id", "v", "nv").unionByName(
            fresh.select("vec_id", "v", "nv")
        )
        labels, members_old = stage_cluster.touched_components(
            neardup_cosine_edges(cand, vecs, tau).select("src", "dst"),
            clusters_old.withColumnRenamed("vec_id", "doc_id"),
        )

        # -- 5. delta = batch + touched members -----------------------------
        delta_ids = fresh.select("vec_id").unionByName(
            members_old.select(F.col("doc_id").alias("vec_id"))
        )
        clusters_delta = neardup_assign(delta_ids, labels)
        appends = {
            "emb_vectors": fresh.select("vec_id", "v", "nv"),
            "emb_buckets": rows_new,
        }
        return appends, clusters_delta

    # ADVICE r5: the batch id folds the embedding VALUES in, not just vec_id
    # — a re-submitted batch with the same ids but different vectors must
    # not replay the stored result
    run_ingest(
        spark, config, store, ledger,
        batch_fingerprint(new_emb, "embbatch", "vec_id, embedding"),
        _CTX, "emb_clusters", ["vec_id"], body,
    )
    return read_emb_clusters(spark, store)
