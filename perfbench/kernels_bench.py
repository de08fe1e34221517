"""Spark-free microbenchmarks of the kernel layer and the verify worker.

The kernels run on seed-generated code text in this process. The verify
worker (`stages.verify.make_verifier`) runs single-threaded over a pair
batch recorded from the workload's own candidate pairs, cut into Arrow
sized chunks in (src, dst) order as the executors see them.
"""

from __future__ import annotations

import time

import pandas as pd

_MIN_TIMED_S = 0.3


def _rate(fn, units: float) -> float:
    """units per second of `fn`, repeated until at least _MIN_TIMED_S."""
    fn()  # first call pays lazy set-up (native build, coefficient tables)
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        el = time.perf_counter() - t0
        if el >= _MIN_TIMED_S:
            return n * units / el


def kernel_metrics(seed: int) -> dict[str, float]:
    from dedup import _native
    from dedup import kernels as K
    from dedup.config import DEFAULT_CONFIG as C
    from dedup.corpus import generate_corpus
    from dedup.ops.spans import SPAN_L

    texts = list(generate_corpus(300, seed=seed).files["content"])
    norm = [K.normalize_text(t) for t in texts]
    chars = float(sum(len(t) for t in norm))
    a, b = K.make_minhash_coeffs(C.num_perm, C.seed)
    return {
        "kernels.minhash_simhash_batch.docs_per_s": _rate(
            lambda: K.minhash_simhash_batch(texts, C.shingle_k, a, b),
            len(texts)),
        "kernels.char_shingle_hashes.chars_per_s": _rate(
            lambda: [K.char_shingle_hashes(t, C.shingle_k) for t in norm],
            chars),
        "kernels.run_hashes_batch.chars_per_s": _rate(
            lambda: K.run_hashes_batch(texts, SPAN_L),
            float(sum(len(t) for t in texts))),
        "kernels.native_loaded": float(_native.LIB is not None),
    }


def verify_worker_metrics(pairs: pd.DataFrame, config,
                          batch_rows: int) -> dict[str, float]:
    """pairs: (src, dst, est_jaccard, content_src, content_dst) as
    `prepare_pairs` emits them."""
    from dedup.stages.verify import make_verifier

    if pairs.empty:
        return {"verify.worker.pairs_per_s": 0.0,
                "verify.worker.accept_ratio": 0.0}
    pairs = pairs.sort_values(["src", "dst"]).reset_index(drop=True)
    batches = [pairs.iloc[i:i + batch_rows]
               for i in range(0, len(pairs), batch_rows)]
    t0 = time.perf_counter()
    accepted = sum(int(out["accepted"].sum())
                   for out in make_verifier(config)(iter(batches)))
    wall = time.perf_counter() - t0
    return {"verify.worker.pairs_per_s": len(pairs) / wall,
            "verify.worker.accept_ratio": accepted / len(pairs)}
