"""Stage 4 — pairwise verification of candidate edges.

Candidates from LSH/SimHash are probabilistic; this stage is the ground-truth
gate before clustering (the batch analogue of the reference decoding the
STORED result instead of trusting the caller — DeduplicationContext.scala:163-167:
a duplicate claim must be proven against the actual content).

Per candidate pair, on the normalized contents:
- exact k-shingle Jaccard (vectorized set intersection of shingle hashes),
- if Jaccard is inconclusive (below the fast-accept floor but above the
  reject gate), an EXACT O(n) common-run probe decides `LCS >= threshold`
  (Rabin-Karp window hashes memoized per doc + substring-compare
  confirmation, kernels.run_hashes/_confirm_common_run); the exact
  evidence length for probe-accepted pairs comes from a binary search
  over the same probe (kernels.longest_common_run_from — identical value
  to the suffix-array LCS at ~1/5 the cost); the O(n log n) suffix array
  (prefix doubling + binary-lifting LCP — the SURVEY.md section 7 step-5
  kernel) remains the probe's collision fallback and the test oracle.

Accept iff jaccard >= jaccard_floor OR lcs >= max(lcs_min_chars,
lcs_min_ratio * min(len_a, len_b)).

Physical plan: two repartition-joins attach contents by doc_id, then an
explicit `repartition(content-bearing pair rows)` bounds task payload before
mapInPandas (pair rows carry TWO contents — SURVEY.md section 4.2.2), and the
verification runs one Arrow batch at a time with no Spark-side per-row Python.
The repartition makes one partition per core slot, not more: every Spark
task that evaluates Python pays ~200 ms of worker CPU whatever its size
(README "Performance notes"), so a Python stage gets one task per slot
unless its data needs more.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .. import kernels as K

_OUT_SCHEMA = (
    "src long, dst long, jaccard double, lcs long, accepted boolean"
)


def prepare_pairs(
    edges: DataFrame,
    reps: DataFrame,
    sig_df: DataFrame,
    config: DedupConfig,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs with contents attached, pruned BEFORE any content
    bytes move — (src, dst, est_jaccard, content_src, content_dst). A pair
    survives when either accept branch is still possible:

    1. Jaccard-possible: its MinHash estimate (a JVM fold over the
       signatures) is at least config.jaccard_floor_gate(), 4 sigma under
       jaccard_floor. This is the only probabilistic cut before verify;
    2. LCS-possible: its LCS threshold fits in the shorter doc AND the
       winnowed fingerprints overlap. The LCS threshold is never below
       lcs_min_chars, and a common run of that length always yields a
       shared winnowed fingerprint, so this screen never drops a pair the
       LCS branch would accept; hash collisions only keep extra pairs.

    `fps(doc_id, fp, nlen)` holds the winnowed fingerprints and normalized
    lengths: the persisted `winnow_fps` index the checkpointed and
    incremental paths read, so no doc is fingerprinted twice. None means
    `sig_df` carries them itself (minhash_lsh.joint_signatures(with_fp=True)),
    and the signature relation is read once per pair side, with no join.

    Only SURVIVORS join against the content table. The screen's own
    exchange carries each side's signature plus its fingerprints, about
    2/(w+1) of its window positions at 8 B each (w = lcs_min_chars -
    lcs_min_chars // 2 + 1): ~0.5 B per char at lcs_min_chars=60, ~110
    fingerprints for a 1.8 KB code file. Rejected pairs never move content.
    """
    light = (
        sig_df.select("doc_id", "sig", "fp", "nlen") if fps is None
        else sig_df.select("doc_id", "sig").join(fps, "doc_id")
    )
    n = float(config.num_perm)
    est = (
        F.aggregate(
            F.zip_with("sig_src", "sig_dst", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.lit(n)
    )
    src_side = light.select(
        F.col("doc_id").alias("src"),
        F.col("sig").alias("sig_src"),
        F.col("fp").alias("fp_src"),
        F.col("nlen").alias("nlen_src"),
    )
    dst_side = light.select(
        F.col("doc_id").alias("dst"),
        F.col("sig").alias("sig_dst"),
        F.col("fp").alias("fp_dst"),
        F.col("nlen").alias("nlen_dst"),
    )
    min_len = F.least("nlen_src", "nlen_dst")
    threshold = F.greatest(
        F.lit(config.lcs_min_chars),
        F.floor(F.lit(config.lcs_min_ratio) * min_len).cast("int"),
    )
    jaccard_possible = F.col("est_jaccard") >= F.lit(config.jaccard_floor_gate())
    lcs_fits = threshold <= min_len
    keep = jaccard_possible | (
        lcs_fits & F.arrays_overlap("fp_src", "fp_dst")
    )
    survivors = (
        edges.join(src_side, "src")
        .join(dst_side, "dst")
        .withColumn("est_jaccard", est)
        .where(keep)
        .select("src", "dst", "est_jaccard")
    )
    content = reps.select("doc_id", "content")
    return (
        survivors.join(
            content.select(F.col("doc_id").alias("src"),
                           F.col("content").alias("content_src")),
            "src",
        )
        .join(
            content.select(F.col("doc_id").alias("dst"),
                           F.col("content").alias("content_dst")),
            "dst",
        )
        .select("src", "dst", "est_jaccard", "content_src", "content_dst")
    )


def verify_edges(pairs_with_content: DataFrame, config: DedupConfig,
                 num_partitions: int | None = None) -> DataFrame:
    """Score and filter candidate pairs; returns accepted edges with evidence.

    Decision per pair (the PURE documented rule — no Jaccard gate on the
    LCS path):  accepted iff  exact_jaccard >= jaccard_floor
                          OR  LCS >= max(lcs_min_chars, lcs_min_ratio*min_len)

    Cost shape (the point of this implementation): the overwhelming
    majority of candidate pairs are rejects, and a reject must never pay
    the suffix array or even an O(n) pass it doesn't need:
      1. exact Jaccard runs only when the MinHash estimate is within 4
         sigma of the floor (below that, the Jaccard branch provably —
         P < 4e-5 — cannot accept, and the LCS branch doesn't need j);
      2. a memoized LEVEL screen (Rabin-Karp window hashes at the largest
         grid level <= threshold; grid = lcs_min * 1.5^i, so the per-doc
         memo hits across pairs with different thresholds) rejects pairs
         with no level-length common run — sound, since a threshold-length
         run contains a level-length run;
      3. survivors face the EXACT O(n) probe at the pair's true threshold
         (kernels._confirm_common_run: hash hits confirmed by substring
         compare — collisions cost work, never a wrong answer);
      4. only probe-accepted pairs (real near-dups) pay the evidence-
         length computation — a binary search over the exact probe, not
         a suffix array (same value, ~5x cheaper; dominant accept cost).
    Rejected pairs report lcs=0 ("not computed"); pairs skipped by (1)
    report jaccard=-1.0 ("not computed") — downstream consumes accepted
    rows only.
    """
    _verify = make_verifier(config)
    df = pairs_with_content
    if num_partitions:
        # Hash-repartition on BOTH pair ids + sort within partitions:
        # - hash on (src, dst) load-balances by pair count — a hot pivot's
        #   edges spread across partitions instead of pinning one straggler
        #   task (measured 2->8 scaling of this stage before: 0.44);
        # - sortWithinPartitions keeps same-src pairs contiguous so the
        #   per-TASK memo (r6: generator-scope, char-budget-bounded) evicts
        #   less under its epoch clears; a hot doc re-normalizes once per
        #   partition it lands in — bounded;
        # - unlike the previous repartitionByRange, a hash exchange needs
        #   no range-boundary sampling pass, which re-evaluated the whole
        #   screens + content-join subtree a second time;
        # - one partition per core slot: each Python task costs ~200 ms
        #   of worker CPU whatever its size (README "Performance notes"),
        #   so finer partitions to even out per-pair cost skew cost more
        #   than the skew when a partition holds few pairs; at scale each
        #   partition holds many pairs and the (src, dst) hash balances.
        df = df.repartition(num_partitions, "src", "dst") \
               .sortWithinPartitions("src", "dst")
    return df.mapInPandas(_verify, _OUT_SCHEMA)


def make_verifier(config: DedupConfig):
    """Build the per-batch verification worker (the mapInPandas callable).

    Module-level factory (rather than a closure inside verify_edges) so the
    worker is directly callable from tests and profilers without a Spark
    job; captures only scalars, so Spark serialization is unchanged.
    """
    k = config.shingle_k
    floor = config.jaccard_floor
    lcs_min = config.lcs_min_chars
    lcs_ratio = config.lcs_min_ratio
    # below this estimate the Jaccard branch cannot realistically accept
    floor_gate = config.jaccard_floor_gate()

    def _verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def level_of(threshold: int) -> int:
            lvl = lcs_min
            while int(lvl * 1.5) <= threshold:
                lvl = int(lvl * 1.5)
            return min(lvl, threshold)

        # Per-TASK memo (r6): a doc appears in ~dozens of pairs spread
        # across MANY Arrow batches (the batch size is a transfer knob, not
        # a locality unit), and the per-doc setup — normalize + RunHasher
        # prefix state + level hashes — was 60% of measured worker time
        # when rebuilt per batch (OPTIMIZATION_r06.md). The memo now lives
        # at generator scope and survives across batches, bounded by a
        # normalized-char budget: when the tracked text mass exceeds
        # _MEMO_CHAR_BUDGET every map is cleared (epoch eviction — O(1),
        # no LRU bookkeeping; derived state is ~25x the char count, so the
        # budget caps worker memory at ~130 MB regardless of corpus size).
        _MEMO_CHAR_BUDGET = 4 << 20
        texts: dict[int, str] = {}
        shingle_sets: dict[int, "np.ndarray"] = {}
        level_hashes: dict[tuple[int, int], "np.ndarray"] = {}
        hashers: dict[int, "K.RunHasher"] = {}
        memo_chars = 0

        def text_of(doc_id: int, raw: str) -> str:
            nonlocal memo_chars
            t = texts.get(doc_id)
            if t is None:
                t = K.normalize_text(raw)
                if memo_chars + len(t) > _MEMO_CHAR_BUDGET:
                    texts.clear()
                    shingle_sets.clear()
                    level_hashes.clear()
                    hashers.clear()
                    memo_chars = 0
                texts[doc_id] = t
                memo_chars += len(t)
            return t

        def hasher_of(doc_id: int, text: str) -> "K.RunHasher":
            # memoized rolling-hash state: encode + prefix/inverse-power
            # setup once per doc; every window length afterwards (level
            # grid, pair thresholds, binary-search midpoints) is ~3
            # vector ops instead of a fresh O(n) setup
            h = hashers.get(doc_id)
            if h is None:
                h = K.RunHasher(text)
                hashers[doc_id] = h
            return h

        def shingles_of(doc_id: int, text: str) -> "np.ndarray":
            # LAZY: the k-shingle pass costs O(k*n); ~97% of candidate
            # pairs sit below the floor gate and never need Jaccard, so
            # shingling only happens for plausible accepts
            s = shingle_sets.get(doc_id)
            if s is None:
                s = K.char_shingle_hashes(text, k)
                shingle_sets[doc_id] = s
            return s

        def levelh(doc_id: int, text: str, lvl: int) -> "np.ndarray":
            key = (doc_id, lvl)
            h = level_hashes.get(key)
            if h is None:
                h = np.sort(hasher_of(doc_id, text).hashes(lvl))
                level_hashes[key] = h
            return h

        def exact_jaccard(sa, sb) -> float:
            if sa.size == 0 and sb.size == 0:
                return 1.0
            inter = np.intersect1d(sa, sb, assume_unique=True).size
            return inter / float(sa.size + sb.size - inter)

        for pdf in batches:
            n = len(pdf)
            jac = [-1.0] * n
            lcs = [0] * n
            ok = [False] * n
            src_ids = pdf["src"].to_numpy()
            dst_ids = pdf["dst"].to_numpy()
            raw_src = pdf["content_src"].to_numpy()
            raw_dst = pdf["content_dst"].to_numpy()
            est = (
                pdf["est_jaccard"].to_numpy()
                if "est_jaccard" in pdf.columns
                else np.full(n, 1.0)
            )
            for i in range(n):
                ca = text_of(src_ids[i], raw_src[i])
                cb = text_of(dst_ids[i], raw_dst[i])
                if est[i] >= floor_gate:
                    j = exact_jaccard(
                        shingles_of(src_ids[i], ca), shingles_of(dst_ids[i], cb)
                    )
                    jac[i] = j
                    if j >= floor:
                        ok[i] = True
                        continue
                la, lb = len(ca), len(cb)
                threshold = max(lcs_min, int(lcs_ratio * min(la, lb)))
                if threshold > min(la, lb):
                    continue  # LCS can never reach the threshold
                # sound level screen: no level-length run => no threshold run
                lvl = level_of(threshold)
                ha = levelh(src_ids[i], ca, lvl)
                hb = levelh(dst_ids[i], cb, lvl)
                if ha.size == 0 or hb.size == 0:
                    continue
                pos = np.searchsorted(hb, ha)
                pos[pos == hb.size] = hb.size - 1
                if not (hb[pos] == ha).any():
                    continue
                # exact probe at the pair's true threshold (memoized
                # rolling-hash state; confirm step is collision-proof)
                h_a = hasher_of(src_ids[i], ca)
                h_b = hasher_of(dst_ids[i], cb)
                if not K._confirm_common_run(
                    ca, cb, threshold,
                    h_a.hashes(threshold), h_b.hashes(threshold),
                ):
                    continue
                # real near-dup: record full evidence. Binary search over
                # the exact probe (threshold is known feasible) returns the
                # same max-run length as the suffix array ~5x cheaper —
                # this was the dominant verify cost once accepts are many.
                ln = K.longest_common_run_from(ca, cb, threshold,
                                               hasher_a=h_a, hasher_b=h_b)
                lcs[i] = ln
                ok[i] = ln >= threshold
                if ok[i] and jac[i] < 0.0:
                    jac[i] = exact_jaccard(
                        shingles_of(src_ids[i], ca), shingles_of(dst_ids[i], cb)
                    )
            yield pd.DataFrame(
                {"src": pdf["src"], "dst": pdf["dst"], "jaccard": jac,
                 "lcs": lcs, "accepted": ok}
            )

    return _verify
