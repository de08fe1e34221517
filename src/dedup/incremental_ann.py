"""Incremental embedding ingest — cluster NEW vectors against a persistent
hyperplane-LSH bucket index without re-scoring the corpus.

The minhash/simhash channels already honor the O(batch + touched) ingest
contract (incremental.py); this module extends it to the embedding-cosine
near-dup channel, the third signal a training-data pipeline dedupes on.
Each ingest runs under the one ingest protocol, incremental.run_ingest
(ledger claim/replay, one guarded commit, log fold); previously-ingested
vectors are never re-bucketed.

The index key is the multi-probe hyperplane bucket of the ONE-SHOT
embedding channel (ops.similarity._np_bucket_norm_udf/_probes_col) — not
the IVF cell of the ANN query path. Deliberate: an LSH bucket is a SIMILARITY
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
exact rounded-cosine >= tau filter, and connected components run over the
touched subgraph only (stages.cluster.touched_components).
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
    _np_bucket_norm_udf,
    _probes_col,
    _sim4,
    ann_n_planes,
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


def _bucket_rows(base: DataFrame, n_planes: int) -> DataFrame:
    """(vec_id, bucket, pbucket): one row per multi-probe bucket of each
    vector — the symmetric probing of the one-shot channel, so two vectors
    meet whenever their sign buckets are within the probe radius."""
    # the bucket is projected on its own first: _probes_col references it
    # n_planes + 1 times, and a Python UDF must run once per vector
    bucketed = base.select(
        "vec_id",
        _np_bucket_norm_udf(n_planes)(F.col("v"))["bucket"].alias("b"),
    )
    return (
        bucketed.select(
            "vec_id",
            F.explode(_probes_col(F.col("b"), n_planes)).alias("bucket"),
        )
        .withColumn(
            "pbucket",
            F.pmod(F.col("bucket"), F.lit(N_PBUCKETS_EMB)).cast("int"),
        )
    )


def _tau_edges(pairs: DataFrame, vecs: DataFrame, tau: float) -> DataFrame:
    """Exact rounded-cosine filter over candidate (src, dst) pairs."""
    return (
        pairs.join(
            vecs.select(
                F.col("vec_id").alias("src"), F.col("v").alias("v_src"),
                F.col("nv").alias("n_src"),
            ),
            "src",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("dst"), F.col("v").alias("v_dst"),
                F.col("nv").alias("n_dst"),
            ),
            "dst",
        )
        .where(
            _sim4(
                F.col("v_src"), F.col("v_dst"),
                F.col("n_src"), F.col("n_dst"),
            ) >= tau
        )
        .select("src", "dst")
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
    emb_meta — every later ingest buckets under it. Returns the clusters
    DataFrame."""
    base = prep_vectors(emb).persist()
    try:
        first = base.select(F.size("v").alias("d")).first()
        if first is not None and first["d"] != _DIM:
            raise ValueError(
                f"embedding dim {first['d']} != plane-pool dim {_DIM}: the "
                "hyperplane pool is fixed-dimension; zip_with against a "
                "shorter vector NULLs every dot and collapses all buckets "
                "to 0"
            )
        if n_planes is None:
            n_planes = ann_n_planes(base.count())
        rows = _bucket_rows(base, n_planes)
        pairs = pairs_from_buckets(
            rows.withColumnRenamed("vec_id", "doc_id"), ["bucket"], config
        ).select("src", "dst")
        edges = _tau_edges(pairs, base, tau)
        labels, _ = stage_cluster.connected_components(edges)
        clusters = (
            base.select("vec_id")
            .join(
                labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
            )
            .select(
                "vec_id",
                F.coalesce("cluster_id", "vec_id").alias("cluster_id"),
            )
            .withColumn("_v", F.lit(0).cast("int"))
        )
        meta = spark.createDataFrame([(int(n_planes),)], "n_planes int")
        store.commit_many({
            "emb_meta": store.stage(meta, "emb_meta", "replace"),
            "emb_vectors": store.stage(
                base.select("vec_id", "v", "nv"), "emb_vectors", "replace"
            ),
            "emb_buckets": store.stage(rows, "emb_buckets", "replace"),
            "emb_clusters": store.stage(clusters, "emb_clusters", "replace"),
        })
        return read_emb_clusters(spark, store)
    finally:
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

        # -- 0. dimension guard (ADVICE r5): build_embedding_index raises on
        # dim != _DIM, but a wrong-dim ingest batch would silently bucket
        # every vector to 0 (zip_with NULLs the dot) and commit the bad rows
        # permanently. Fail fast on the first row instead.
        bad = new_emb.select(F.size("embedding").alias("d")).head(1)
        if bad and int(bad[0]["d"]) != _DIM:
            raise ValueError(
                f"ingest_embeddings: embedding dim {int(bad[0]['d'])} != "
                f"index dim {_DIM}"
            )

        # -- 1. drop re-ingested vec_ids (commits are all-or-nothing, so a
        # vec_id in emb_vectors implies its bucket/cluster rows landed too)
        fresh = persist(
            prep_vectors(new_emb).join(
                vectors_old.select("vec_id"), "vec_id", "left_anti"
            )
        )

        # -- 2. bucket under the FROZEN plane count --------------------------
        rows_new = persist(_bucket_rows(fresh, n_planes))

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
            _tau_edges(cand, vecs, tau),
            clusters_old.withColumnRenamed("vec_id", "doc_id"),
        )

        # -- 5. delta = batch + touched members -----------------------------
        delta_ids = fresh.select("vec_id").unionByName(
            members_old.select(F.col("doc_id").alias("vec_id"))
        )
        clusters_delta = delta_ids.join(
            labels.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left"
        ).select(
            "vec_id", F.coalesce("cluster_id", "vec_id").alias("cluster_id")
        )
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
