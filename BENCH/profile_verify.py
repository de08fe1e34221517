"""Profile the verify stage's Python worker in isolation.

Builds the bench corpus, runs the REAL candidate-generation + screening
plan (joint signatures, pipeline.candidate_edges, prepare_pairs) on
Spark, collects the surviving content-bearing pairs to the driver, then
cProfiles `stages.verify.make_verifier(config)` single-threaded over the
same Arrow-batch shape the executors see (sorted by (src, dst), chunked).

This isolates the per-pair kernel cost from Spark scheduling/shuffle, so
optimizations target the real hotspot instead of a guess.

Usage:  python BENCH/profile_verify.py [--rows 150000] [--line-scale 1]
                                       [--sample-pairs 0 (=all)]
"""

from __future__ import annotations

import argparse
import cProfile
import io
import pstats
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "src"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=150_000)
    ap.add_argument("--line-scale", type=float, default=1.0)
    ap.add_argument("--sample-pairs", type=int, default=0)
    ap.add_argument("--batch-rows", type=int, default=10_000)
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    from dedup.config import DedupConfig
    from dedup.corpus import generate_corpus
    from dedup.pipeline import candidate_edges
    from dedup.session import build_session
    from dedup.stages import exact as stage_exact
    from dedup.stages import minhash_lsh as stage_minhash
    from dedup.stages import verify as stage_verify

    config = DedupConfig(shuffle_partitions=args.cpus * 2)
    spark = build_session(
        "profile-verify", master=f"local[{args.cpus}]", config=config
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = generate_corpus(args.rows, seed=42, line_scale=args.line_scale)
    files = spark.createDataFrame(corpus.files)

    hashed = stage_exact.hash_content(files)
    reps = stage_exact.representatives(hashed).persist()
    sigs = stage_minhash.joint_signatures(reps, config, with_fp=True).persist()
    edges = candidate_edges(sigs, config)

    def noop(df) -> float:
        t0 = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t0

    # Materialize the persisted inputs once so sub-plan timings are clean.
    t0 = time.monotonic()
    n_reps = reps.count()
    t_reps = time.monotonic() - t0
    t0 = time.monotonic()
    n_sigs = sigs.count()
    t_sigs = time.monotonic() - t0
    print(f"reps: {n_reps} ({t_reps:.1f}s)  sigs: {n_sigs} ({t_sigs:.1f}s)")

    # Sub-plan walls (each includes its upstream lazy work EXCEPT the
    # persisted reps/sigs, so deltas attribute cost to plan segments).
    t_edges = noop(edges)
    edges_p = edges.persist()
    n_edges = edges_p.count()  # warm the persist so downstream reuses it
    pairs = stage_verify.prepare_pairs(edges_p, reps, sigs, config)
    t_pairs = noop(pairs)
    ver = stage_verify.verify_edges(pairs, config,
                                    num_partitions=args.cpus)
    t_verify = noop(ver)
    print(f"candidates: {n_edges} pairs, union+dedup wall {t_edges:.1f}s")
    print(f"screens+content-join wall (from persisted edges): {t_pairs:.1f}s")
    print(f"full verify stage wall (from persisted edges): {t_verify:.1f}s")

    t0 = time.monotonic()
    pdf = pairs.toPandas()
    t_prep = time.monotonic() - t0
    print(f"content-bearing pairs: {len(pdf)}  (collect {t_prep:.1f}s)")

    pdf = pdf.sort_values(["src", "dst"], ignore_index=True)
    if args.sample_pairs and args.sample_pairs < len(pdf):
        pdf = pdf.sample(n=args.sample_pairs, random_state=7).sort_values(
            ["src", "dst"], ignore_index=True
        )
        print(f"sampled down to {len(pdf)} pairs")

    batches = [
        pdf.iloc[i:i + args.batch_rows]
        for i in range(0, len(pdf), args.batch_rows)
    ]
    worker = stage_verify.make_verifier(config)

    # untimed first batch warms numpy/native dispatch
    _ = list(worker(iter(batches[:1])))

    t0 = time.monotonic()
    prof = cProfile.Profile()
    prof.enable()
    out = list(worker(iter(batches)))
    prof.disable()
    wall = time.monotonic() - t0

    import pandas as pd
    res = pd.concat(out, ignore_index=True)
    n_acc = int(res["accepted"].sum())
    print(f"single-thread verify wall: {wall:.2f}s over {len(pdf)} pairs "
          f"({len(pdf) / max(wall, 1e-9):,.0f} pairs/s), accepts={n_acc}")

    s = io.StringIO()
    ps = pstats.Stats(prof, stream=s).sort_stats("cumulative")
    ps.print_stats(30)
    print(s.getvalue())

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
