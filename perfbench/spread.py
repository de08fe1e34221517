"""Repeat the benchmark over seeds and summarise each end-to-end metric.

    python3 perfbench/spread.py --workloads code_corpus,query_mix \
        --seeds 1-10 [--trace-seed 1] [--label seed] [--out FILE]

For each workload: one `run.py --trace 0` per seed (a run that leaves a
process running fails), then the median and
the quartile spread (Q3 - Q1) / median of every end-to-end metric, as
`statistics.quantiles(values, n=4)` gives the quartiles; with
`--trace-seed`, one traced run whose per-layer table is kept. `--out`
appends the result as one trajectory point to a JSON list.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
TAG = "PERFBENCH_SPREAD_RUN"


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def tagged(token: str) -> list[str]:
    """Processes still running whose environment carries `token`: every
    process a run started inherits it, wherever it was reparented."""
    mark, out = f"{TAG}={token}".encode(), []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if mark not in f.read().split(b"\0"):
                    continue
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out.append(f"{entry} {cmd[:200]}")
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    token = f"{os.getpid()}-{workload}-{seed}-{time.monotonic_ns()}"
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900,
                          env={**os.environ, TAG: token})
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: rc={proc.returncode}")
    left = tagged(token)
    if left:
        raise RuntimeError(f"{workload} seed {seed}: processes left "
                           f"running: {left}")
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["context"] = [ln for ln in lines[:-1] if not ln.startswith("layer ")]
    out["process_wall_s"] = wall
    return out


def summarise(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--label", default="")
    ap.add_argument("--out")
    args = ap.parse_args()
    bench = json.loads((Path.cwd() / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    point = {"label": args.label, "seconds": seconds, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in _seeds(args.seeds):
            r = run_once(wl, seed, seconds, 0)
            runs.append(r)
            print(f"{wl:14s} seed={seed} " + " ".join(
                f"{k}={v['value']:.4f}" for k, v in r["metrics"].items())
                + f" wall={r['process_wall_s']:.1f}s "
                + " ".join(c for c in r["context"]
                           if c.startswith(("context", "metric op_walls"))),
                flush=True)
        res = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "max_process_wall_s": max(r["process_wall_s"] for r in runs),
            "metrics": {},
        }
        for name in bounds:
            res["metrics"][name] = summarise(
                [r["metrics"][name]["value"] for r in runs])
            s = res["metrics"][name]
            print(f"{wl:14s} {name:12s} median={s['median']:.4f} "
                  f"spread={s['spread']:.4f} bound={bounds[name]}",
                  flush=True)
        res["context"] = runs[-1]["context"]
        if args.trace_seed is not None:
            t = run_once(wl, args.trace_seed, seconds, 1)
            res["traced"] = {"correct": t["correct"],
                             "process_wall_s": t["process_wall_s"],
                             "layers": {k: v["value"] for k, v in
                                        t["metrics"].items()},
                             "context": t["context"]}
            print(f"{wl:14s} traced run {t['process_wall_s']:.1f}s "
                  f"correct={t['correct']}", flush=True)
        point["workloads"][wl] = res
    if args.out:
        path = Path(args.out)
        points = json.loads(path.read_text()) if path.exists() else []
        points.append(point)
        path.write_text(json.dumps(points, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
