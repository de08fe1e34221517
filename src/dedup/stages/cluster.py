"""Stage 5 — connected components, in two phases.

While the edge set is big, the driver loops the Kiveris et al. MapReduce
connected-components algorithm (alternating large-star / small-star;
SURVEY.md section 4.2.3, load-balancing context in PAPERS.md BTS entry) on
plain DataFrame ops — GraphFrames is not assumed. Each round is two
groupBy/join jobs; lineage is truncated per round with an eager
localCheckpoint, whose observed (count, xor-hash) fingerprint both detects
convergence and reports the edge count. Once that count is at most
_LOCAL_MAX_EDGES, the edges are collected and finished on the driver by a
numpy union-find (`_local_labels`), so a small graph — every near-dup pass
at bench scale — pays one checkpoint and one collect, no star rounds.

Both phases label a vertex with cluster_id = min(doc_id) of its component —
the deterministic canonical election that replaces the reference's
first-writer-wins (SURVEY.md section 2.3 invariant 3). The star rounds
converge to a star onto each component's min; the union-find only ever
hooks a root under a smaller root, so each root is its component's min.
The switch point therefore never changes the output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge count at or below which the rest of CC runs on the driver: the
# collect is two int64 columns (~16 MB at the bound) and the union-find
# finishes 1M edges in about half a second (shuffled chain, 14 passes).
_LOCAL_MAX_EDGES = 1_000_000
_MAX_ROUNDS = 50  # star rounds; a chain of length L needs O(log L)


class ConvergenceError(RuntimeError):
    """The star loop ran _MAX_ROUNDS rounds without reaching a fixed point
    while its edge set stayed above _LOCAL_MAX_EDGES."""


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form: (u = max, v = min), self-loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .withColumn("m", F.least("u", "mn"))
        .select("u", "m")
    )
    out = (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _small_star(edges: DataFrame, canonical: bool = False) -> DataFrame:
    """Attach every smaller neighbor (and u itself) to the min neighbor.

    canonical=True skips the re-canonicalization distinct when the caller
    guarantees the input already satisfies _canon's postcondition (u > v,
    no self-loops, distinct) — _large_star's output does (its final
    projection emits new_u = old v > new_v = min(...) and ends in
    where(u != v).distinct()), so the alternation saves one exchange per
    round (r6, guide §2.4)."""
    d = edges if canonical else _canon(edges)  # u > v for every row
    mins = d.groupBy("u").agg(F.min("v").alias("mn"))
    joined = d.join(mins, "u")
    out = joined.select(F.col("v").alias("u"), F.col("mn").alias("v")).unionByName(
        mins.select(F.col("u"), F.col("mn").alias("v"))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def _ckpt_with_fingerprint(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """Eager localCheckpoint + edge-set fingerprint from the SAME action
    (r6, guide §1.5/§2.4): the fingerprint rides the checkpoint
    materialization as observed metrics instead of a second aggregate job
    per round — halving the per-round job count of the CC loop."""
    from pyspark.sql import Observation

    obs = Observation()
    out = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return out, (int(m["n"]), int(m["h"]))


def _local_labels(edges: DataFrame) -> DataFrame:
    """(doc_id, cluster_id = component min) for every vertex of the
    checkpointed `edges(u, v)`, by a numpy union-find on the driver.

    Each pass hooks every root that still has an edge to a foreign root
    under the smaller root (`minimum.at`, so a root takes its smallest
    offer), then pointer-jumps until every node points at a root. A pass
    at least halves the components, so O(log n) passes; hooking roots, not
    nodes, is what keeps a long chain from taking O(n) passes."""
    pdf = edges.toPandas()
    n = len(pdf)
    ids, idx = np.unique(
        np.concatenate([pdf["u"].to_numpy(np.int64), pdf["v"].to_numpy(np.int64)]),
        return_inverse=True,
    )
    a, b = idx[:n], idx[n:]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb  # an edge whose endpoints share a root stays done
        if not live.any():
            break
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"doc_id": ids, "cluster_id": ids[parent]}),
        "doc_id long, cluster_id long",
    )


def connected_components(edges: DataFrame) -> tuple[DataFrame, int]:
    """(doc_id, cluster_id) for every vertex appearing in `edges`, plus the
    number of star rounds run on Spark (0 when the input is already small
    enough to finish on the driver).

    `edges` needs columns (src, dst); isolated vertices are the caller's
    concern (left-join + coalesce to self).
    """
    # The initial eager checkpoint is LOAD-BEARING, not overhead: the star
    # transforms reference their input twice (symmetrize = input union
    # swapped-input), so an unmaterialized upstream DAG — e.g. the whole
    # UDF-heavy verify pipeline — would recompute per reference, per round;
    # and the local finish collects from it. r6: the fingerprint is
    # observed on the checkpoint action itself (one job per round, not
    # two), and the small-star skips its re-canonicalization distinct since
    # large-star's output is already canonical (one exchange fewer/round).
    cur, fp = _ckpt_with_fingerprint(
        _canon(edges.select(F.col("src").alias("u"), F.col("dst").alias("v")))
    )
    rounds = 0
    while fp[0] > _LOCAL_MAX_EDGES:
        if rounds == _MAX_ROUNDS:
            raise ConvergenceError(
                f"connected components did not converge in {_MAX_ROUNDS} "
                f"star rounds ({fp[0]} edges left)"
            )
        rounds += 1
        prev_fp = fp
        cur, fp = _ckpt_with_fingerprint(
            _small_star(_large_star(cur), canonical=True)
        )
        if fp == prev_fp:
            # Converged state: every edge is (member, root). Labels = min
            # neighbor per node across both directions, coalesced with self.
            sym = cur.unionByName(
                cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            labels = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
                F.col("u").alias("doc_id"), F.least("u", "mn").alias("cluster_id")
            )
            return labels, rounds
    return _local_labels(cur), rounds


def touched_components(
    new_edges: DataFrame, clusters_old: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Connected components of an incremental ingest over the TOUCHED
    subgraph only (VERDICT r3 #6): returns (labels(doc_id, cluster_id),
    members_old), where members_old are the `clusters_old(doc_id,
    cluster_id)` rows of every old cluster a new edge touches.

    Only components connected to the batch can change: new edges always
    have >= 1 new endpoint, and an old cluster is a star onto its
    cluster_id. So CC runs over the new edges plus those stars —
    O(batch + touched members), never O(corpus) — and the caller rewrites
    exactly the batch plus members_old."""
    # O(batch) rows read by two consumers (endpoints, CC input): the eager
    # checkpoint keeps both from re-deriving the ingest's verify chain, and
    # cuts the union-of-self-referencing-branches plan shape that trips
    # Catalyst's rewriteConstraints
    new_edges = new_edges.localCheckpoint()
    endpoints = (
        new_edges.select(F.col("src").alias("doc_id"))
        .unionByName(new_edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    touched = (
        clusters_old.join(endpoints, "doc_id").select("cluster_id").distinct()
    )
    # O(touched) rows; eagerly checkpointed, NOT persisted: the self-join of
    # clusters_old (`touched` is derived from it) inside the later union
    # trips Catalyst's union constraint rewriting (key-not-found in
    # rewriteConstraints), and cutting the lineage here also stops CC
    # re-deriving the probe chain per round
    members_old = clusters_old.join(touched, "cluster_id").localCheckpoint()
    stars = members_old.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")
    )
    labels, _ = connected_components(new_edges.unionByName(stars))
    return labels, members_old


def assign_clusters(
    exact_clusters: DataFrame, near_labels: DataFrame
) -> DataFrame:
    """Final clusters table merging exact groups with near-dup components.

    near_labels are over exact-representative doc_ids; members of an exact
    group inherit their representative's component (result replay to every
    duplicate — reference DeduplicationContext.scala:163-167 semantics).
    Output: clusters(doc_id, cluster_id, is_canonical, method).
    """
    # exact_clusters: (doc_id, cluster_id=rep_id, is_canonical, method)
    rep_component = near_labels.withColumnRenamed("doc_id", "rep_id").withColumnRenamed(
        "cluster_id", "component_id"
    )
    merged = (
        exact_clusters.select(
            "doc_id", F.col("cluster_id").alias("rep_id"), "method"
        )
        .join(rep_component, "rep_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "rep_id").alias("cluster_id"),
            F.when(F.col("component_id").isNull(), F.col("method"))
            .otherwise(F.lit("near"))
            .alias("method"),
        )
    )
    return merged.withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    ).select("doc_id", "cluster_id", "is_canonical", "method")
