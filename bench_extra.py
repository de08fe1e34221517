"""Round-6 optimization harness (guide §1.4): per-query noop-sink timing,
plan capture, and stage-level breakdowns. bench.py is FROZEN for
measurement; all extra evidence cited in OPTIMIZATION_r06.md comes from
here.

Usage:
  python bench_extra.py --sf-dir /root/testdata/sf1.0 \
      --queries embedding_topk_cosine,embedding_ann_ivf [--trials 2] \
      [--plans-dir plans/r06 --plans-suffix before]
  python bench_extra.py --breakdown neardup --sf-dir /root/testdata/sf1.0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

SRC = str(Path(__file__).resolve().parent / "src")
if SRC not in sys.path:
    sys.path.insert(0, SRC)


def _force(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _session(cpus: str):
    from dedup.config import DedupConfig
    from dedup.session import build_session

    config = DedupConfig(shuffle_partitions=int(cpus))
    return build_session(
        "dedup-bench-extra", master=f"local[{cpus}]", config=config
    )


def run_queries(sf_dir: str, cpus: str, names: list[str], trials: int,
                plans_dir: str | None, plans_suffix: str) -> dict:
    from dedup.ops import registry

    spark = _session(cpus)
    q = registry()
    timings: dict[str, float] = {}
    # untimed warmup (same rationale as bench.py)
    warm_fn, _ = q["q1_pricing_summary"]
    _force(warm_fn(spark, sf_dir))
    for _ in range(trials):
        for name in names:
            fn, _sql = q[name]
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            w = _force(fn(spark, sf_dir))
            timings[name] = min(timings.get(name, w), w)
    # plan capture AFTER the timed loop: constructing a query for explain
    # can itself run eager sub-jobs and persist() intermediates, which
    # would prime caches for the timed runs (observed: neardup read 0.18 s)
    for name in names:
        fn, _sql = q[name]
        if plans_dir:
            df = fn(spark, sf_dir)
            Path(plans_dir).mkdir(parents=True, exist_ok=True)
            out = Path(plans_dir) / f"{name}_{plans_suffix}.txt"
            out.write_text(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")))
    spark.stop()
    return timings


def breakdown_neardup(sf_dir: str, cpus: str) -> dict:
    """Stage-level wall clock of neardup_clusters_documents."""
    from pyspark.sql import functions as F

    from dedup.ops import load_table
    from dedup.ops.dedup_queries import DOC_CFG
    from dedup.pipeline import candidate_edges
    from dedup.stages import cluster as SC
    from dedup.stages import minhash_lsh as SM
    from dedup.stages import verify as SV

    spark = _session(cpus)
    out: dict[str, float] = {}
    reps = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("content")
    )
    t0 = time.perf_counter()
    sigs = SM.joint_signatures(reps, DOC_CFG, with_fp=True).persist()
    sigs.count()
    out["1_joint_signatures"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    edges = candidate_edges(sigs, DOC_CFG).persist()
    n_edges = edges.count()
    out["2_candidate_pairs"] = round(time.perf_counter() - t0, 3)
    out["n_candidate_pairs"] = n_edges

    t0 = time.perf_counter()
    prepared = SV.prepare_pairs(edges, reps, sigs, DOC_CFG)
    verified = SV.verify_edges(prepared, DOC_CFG).where("accepted").persist()
    n_acc = verified.count()
    out["3_verify"] = round(time.perf_counter() - t0, 3)
    out["n_accepted"] = n_acc

    t0 = time.perf_counter()
    labels, rounds = SC.connected_components(verified)
    docs = reps.select("doc_id")
    res = (
        docs.join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id"))
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )
    res.write.format("noop").mode("overwrite").save()
    out["4_cc_and_join"] = round(time.perf_counter() - t0, 3)
    out["cc_rounds"] = rounds
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--queries", default="")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plans-suffix", default="before")
    ap.add_argument("--breakdown", default=None, choices=[None, "neardup"])
    args = ap.parse_args()

    if args.breakdown == "neardup":
        out = breakdown_neardup(args.sf_dir, args.cpus)
    else:
        names = [n for n in args.queries.split(",") if n]
        out = run_queries(args.sf_dir, args.cpus, names, args.trials,
                          args.plans_dir, args.plans_suffix)
    print(json.dumps({"sf_dir": args.sf_dir, **out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
