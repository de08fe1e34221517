"""Connected-components skew stress: planted mega-star / chain / broom.

Measures connected components (stages/cluster.py) on adversarial edge
shapes at increasing scale: the Kiveris large-star/small-star rounds while
the edge set is above `_LOCAL_MAX_EDGES`, and the driver union-find that
finishes it once it is at or below. Above the bound it shows whether the
star rounds need BTS-style load balancing (PAPERS.md) or whether
map-side-combined min-aggregations + AQE skew-join splitting already keep
the mega-star linear:

- star(H):   one hub, H leaves — the LSH bucket-cap's output shape for a
             boilerplate mega-bucket (stages/minhash_lsh.pairs_from_buckets
             emits exactly this, pivot = hub);
- chain(L):  a path of length L — worst case for ROUND COUNT (diameter);
- broom(H,L): a star whose hub hangs off a chain — both at once.

Usage: python BENCH/cc_stress.py [--cpus 4] [--sizes 100000 400000 1600000]
Writes one JSON line per shape/size with wall seconds, star rounds and the
core count.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

SRC = str(Path(__file__).resolve().parent.parent / "src")
if SRC not in sys.path:
    sys.path.insert(0, SRC)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[100_000, 400_000, 1_600_000])
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--chain-len", type=int, default=4096)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from dedup.session import build_session
    from dedup.stages.cluster import connected_components

    spark = build_session("cc-stress", master=f"local[{args.cpus}]")
    spark.conf.set("spark.sql.shuffle.partitions", str(args.cpus))

    def star(h):
        return spark.range(1, h + 1).select(
            F.lit(0).alias("src"), F.col("id").alias("dst")
        )

    def chain(l):
        return spark.range(0, l).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )

    def broom(h, l):
        # chain 0..l, hub at node l, leaves l+1 .. l+h
        return chain(l).unionByName(
            spark.range(l + 1, l + h + 1).select(
                F.lit(l).alias("src"), F.col("id").alias("dst")
            )
        )

    results = []
    for h in args.sizes:
        for name, edges, want_components in (
            ("star", star(h), 1),
            ("broom", broom(h, args.chain_len), 1),
        ):
            t0 = time.time()
            labels, rounds = connected_components(edges)
            n_comp = labels.select("cluster_id").distinct().count()
            wall = round(time.time() - t0, 2)
            row = {"shape": name, "size": h, "wall_s": wall,
                   "rounds": rounds, "components": n_comp,
                   "ok": n_comp == want_components, "cpus": args.cpus}
            results.append(row)
            print(json.dumps(row), flush=True)
    # chain round-count scaling (diameter stress, fixed small sizes)
    for l in (1024, 8192):
        t0 = time.time()
        labels, rounds = connected_components(chain(l))
        n_comp = labels.select("cluster_id").distinct().count()
        row = {"shape": "chain", "size": l,
               "wall_s": round(time.time() - t0, 2), "rounds": rounds,
               "components": n_comp, "ok": n_comp == 1, "cpus": args.cpus}
        results.append(row)
        print(json.dumps(row), flush=True)
    out = Path(__file__).parent / "cc_stress_results.json"
    out.write_text(json.dumps(results, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
