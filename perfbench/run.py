"""dedup benchmark: one workload per invocation, one JSON line at the end.

    python3 perfbench/run.py --workload code_corpus --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. `--trace 0` measures the end-to-end metrics
(set-up time, operation latency, peak memory) with tracing off. `--trace 1`
is the separate traced run: Spark event log on, stage-by-stage rebuild,
kernel and verify-worker microbenchmarks, storage/ledger timing shims, and
the per-layer metrics they give. Every operation's output is checked; a
wrong answer counts as a failed operation. Lines before the last one are
human-readable context (`metric`, `layer`, `span`, `context`); everything
the run writes stays under `.bench_work/` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path.cwd()
WORK_ROOT = ROOT / ".bench_work"
SETUP_REPEATS = 3
SPARK_GROUPS = ("pass", "stages.signatures", "stages.candidates",
                "stages.verify", "stages.cluster", "neardup", "store")


def _isolate(work: Path) -> None:
    """Keep every file the run and its child processes write under `work`:
    Spark scratch, the JVM temp dir, Python temp files, and the native
    kernel build cache (shared by the runs of one checkout)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["XDG_CACHE_HOME"] = str(WORK_ROOT / "cache")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _session(work: Path, cores: int, config, extra: dict[str, str]):
    from dedup.session import build_session

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **extra}
    spark = build_session("dedup-perfbench", master=f"local[{cores}]",
                          config=config, extra=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _emit(kind: str, name: str, value, unit: str = "") -> None:
    print(f"{kind} {name} {value} {unit}".rstrip())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for p in (ROOT / "src", ROOT, Path(__file__).resolve().parent):
        sys.path.insert(0, str(p))
    if not (ROOT / "src" / "dedup" / "__init__.py").is_file():
        print("perfbench: run from the repository root (src/dedup missing)",
              file=sys.stderr)
        return 2
    import procmon
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    work = WORK_ROOT / f"{args.workload}-{os.getpid()}"
    _isolate(work)
    try:
        result = _run(args, work, W, procmon)
        return _report(args, result, procmon.host_probe())
    finally:
        # no process the run started (the JVM, Spark's Python workers, the
        # native kernel build, the host probe) may outlive it
        _stop_spark(procmon)
        if not procmon.reap_descendants(30):
            print("perfbench: killed processes still running at exit",
                  file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)


def _run_ops(fn, spark, tracer, tag: str, ops: list, W) -> list:
    """One operation (or one mix pass) under job description `tag`; a
    failed operation is counted, not fatal."""
    with tracer.job_group(tag):
        try:
            res = fn(spark)
        except Exception:
            traceback.print_exc()
            res = [W.OpResult("error", 0.0, False)]
    spark.catalog.clearCache()
    ops.extend(res)
    return res


def _run(args, work: Path, W, procmon) -> dict:
    import eventlog
    import tracing as T
    from dedup.config import DedupConfig

    cores = len(os.sched_getaffinity(0))
    wl = W.WORKLOADS[args.workload](args.seed, work, cores)
    tracer = T.Tracer()
    extra = eventlog.event_log_conf(work / "eventlog") if args.trace else {}
    ops: list = []

    # peak memory over a fixed amount of work: set-up, cold pass and the
    # first timed pass (the JVM heap keeps growing with every later pass)
    rss = procmon.PeakRss()
    rss.start()
    # set-up: (re)start the SparkContext, make and persist the inputs;
    # repeated, median reported. The first one also launches the JVM.
    # The traced run sets up once.
    spark, setups = None, []
    for _ in range(1 if args.trace else SETUP_REPEATS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _session(work, cores, DedupConfig(shuffle_partitions=cores),
                         extra)
        tracer.spark = spark
        wl.prepare(spark)
        setups.append(time.perf_counter() - t0)
    out = {"setup_runs_s": setups, "input_docs": wl.input_docs, "ops": ops,
           "first_op_at_s": time.perf_counter() - T_START}
    if args.trace:
        out["layers"] = _traced(args, spark, wl, work, tracer, ops, W, T)
    else:
        t0 = time.perf_counter()
        _run_ops(wl.run_pass, spark, tracer, "cold", ops, W)
        out["cold_pass_s"] = time.perf_counter() - t0
        out["setup_s"] = statistics.median(setups) + out["cold_pass_s"]
        walls, cpus, per_op = [], [], {}
        host = procmon.HostCpu()
        t_meas = time.perf_counter()
        while not walls or time.perf_counter() - t_meas < args.seconds:
            cpu0 = procmon.tree_cpu_s(os.getpid())
            res = _run_ops(wl.run_pass, spark, tracer, "pass", ops, W)
            cpus.append(procmon.tree_cpu_s(os.getpid()) - cpu0)
            rss.stop()
            # a pass is its operations' walls: output checks are not timed
            walls.append(sum(r.wall_s for r in res))
            for r in res:
                per_op.setdefault(r.name, []).append(r.wall_s)
        out.update(walls=walls, cpus=cpus, per_op=per_op,
                   steal_share=host.steal_share())
    rss.stop()
    out["peak_rss_mb"] = rss.peak_mb
    _stop_spark(procmon)
    if args.trace:
        out["layers"].update(_spark_layers(eventlog.summarize(
            work / "eventlog")))
        out["spans"] = tracer.totals()
    return out


def _stop_spark(procmon) -> None:
    """Stop the active session, if any, then the JVM, and wait for every
    process they started (the JVM and its Python workers) to end. Safe to
    call twice and on a run that failed half-way through set-up."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    started = procmon.descendants(os.getpid())
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            traceback.print_exc()
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:
            traceback.print_exc()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    if not procmon.wait_gone(started, 30):
        print("perfbench: Spark processes still running", file=sys.stderr)


def _traced(args, spark, wl, work, tracer, ops, W, T) -> dict[str, float]:
    """Per-layer numbers. The traced operation is cold, as is the untraced
    run's cold pass it is compared with: the mix pass on query_mix, the
    stage-by-stage rebuild (summed stage walls) on code_corpus."""
    import kernels_bench as KB

    m: dict[str, float] = {}
    with tracer.span("kernels"):
        m.update(KB.kernel_metrics(args.seed))
    traced_s = None
    if isinstance(wl, W.QueryMix):
        with tracer.span("ops"):
            res = _run_ops(wl.run_pass, spark, tracer, "pass", ops, W)
        traced_s = sum(r.wall_s for r in res)
        m.update({f"ops.{r.name}.s": r.wall_s for r in res})
    with tracer.span("stages"):
        stage_m, pairs, cfg, stage_ops = wl.breakdown(spark, tracer)
    m.update(stage_m)
    ops.extend(stage_ops)
    if traced_s is None:
        traced_s = sum(m[f"stages.{s}.s"] for s in W.BREAKDOWN_STAGES)
    untraced = _last_untraced(args.workload)
    m["trace.overhead_s"] = traced_s - untraced if untraced else 0.0
    m["trace.traced_op_s"] = traced_s
    with tracer.span("verify.worker"):
        m.update(KB.verify_worker_metrics(
            pairs, cfg, cfg.arrow_max_records_per_batch))
    if isinstance(wl, W.QueryMix):
        with tracer.span("ops.neardup"):
            res = _run_ops(lambda s: wl.run_queries(s, [W.NEARDUP]), spark,
                           tracer, "neardup", ops, W)
        m[f"ops.{W.NEARDUP}.s"] = res[0].wall_s
    if isinstance(wl, W.CodeCorpus):
        shims = T.Shims(tracer)
        shims.install()
        try:
            store_m, store_ops = W.store_cycle(
                spark, args.seed, wl.cores, work, tracer)
        finally:
            shims.remove()
        m.update(store_m)
        ops.extend(store_ops)
        m["storage.compactions"] = shims.compactions
        m["storage.stale_replace"] = shims.stale_replace
    totals = tracer.totals()
    for name in T.STORAGE_METHODS:
        tot, _, n = totals.get(f"storage.{name}", (0.0, 0.0, 0))
        m[f"storage.{name}.s"], m[f"storage.{name}.calls"] = tot, n
    led = [v for k, v in totals.items() if k.startswith("ledger.")]
    m["ledger.ops"] = sum(n for _, _, n in led)
    m["ledger.s"] = sum(t for t, _, _ in led)
    return m


def _spark_layers(summary: dict[str, dict[str, float]]) -> dict[str, float]:
    from eventlog import METRICS

    out = {}
    for g in SPARK_GROUPS:
        got = summary.get(g, {})
        for k in METRICS:
            out[f"spark.{g}.{k}"] = got.get(k, 0.0)
    out["spark.pass.python_bytes_sent"] = summary.get("pass", {}).get(
        "python_bytes_sent", 0.0)
    return out


def _report(args, r: dict, probe: dict) -> int:
    ops = r["ops"]
    failed = sum(not o.ok for o in ops)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    _emit("metric", "setup_runs_s", [round(x, 3) for x in r["setup_runs_s"]])
    _emit("metric", "first_op_at_s", round(r["first_op_at_s"], 3), "s")
    if not args.trace:
        op_s = statistics.median(r["walls"])
        op_cpu_s = statistics.median(r["cpus"])
        n = len(r["walls"])
        _emit("metric", "setup_s", round(r["setup_s"], 4), "s")
        _emit("metric", "cold_pass_s", round(r["cold_pass_s"], 4), "s")
        _emit("metric", "op_s", f"{op_s:.4f} (median of {n} passes)", "s")
        _emit("metric", "op_walls_s", [round(w, 3) for w in r["walls"]])
        _emit("metric", "op_cpu_s", f"{op_cpu_s:.4f} (median of {n} "
              "passes)", "s")
        _emit("metric", "op_max_s", f"{max(r['walls']):.4f} (no percentile "
              f"has 10 samples beyond it at n={n})", "s")
        if args.workload == "query_mix":
            _emit("metric", "mix_s", round(op_s, 4), "s")
        else:
            _emit("metric", "docs_per_s", round(r["input_docs"] / op_s, 2),
                  "docs/s")
    recalls = [o.info["recall"] for o in ops if "recall" in o.info]
    if recalls:
        _emit("metric", "dup_pair_recall", round(min(recalls), 5), "ratio")
        _emit("metric", "dup_pair_precision", round(min(
            o.info["precision"] for o in ops if "precision" in o.info), 5),
            "ratio")
    mism = [o.info["oracle_mismatch_rows"] for o in ops
            if "oracle_mismatch_rows" in o.info]
    if mism:
        _emit("metric", "oracle_mismatch_rows", sum(mism), "rows")
    _emit("metric", "failed_ops_ratio", f"{failed / len(ops):.4f} "
          f"(base {len(ops)} ops)", "ratio")
    _emit("metric", "peak_rss_mb", round(r["peak_rss_mb"], 1), "MB")
    for o in ops:
        if not o.ok:
            _emit("failed", o.name, json.dumps(o.info))
    _emit("context", "host_probe", json.dumps(probe))

    if args.trace:
        layers = r["layers"]
        for name, (tot, self_t, calls) in sorted(r["spans"].items()):
            _emit("span", name, f"total={tot:.4f}s self={self_t:.4f}s "
                  f"calls={calls}")
        for k, v in sorted(layers.items()):
            _emit("layer", k, v)
        # layers a workload does not exercise report 0
        values = {m["name"]: float(layers.get(m["name"], 0.0))
                  for m in bench["per_layer"]}
        specs = bench["per_layer"]
    else:
        for q, ws in sorted(r["per_op"].items()):
            _emit("op", q, round(statistics.median(ws), 4), "s")
        _emit("context", "steal_share", f"{r['steal_share']:.4f} (CPU time "
              "the hypervisor took from this guest while timing)")
        _save_untraced(args.workload, r["cold_pass_s"])
        values = {"setup_s": r["setup_s"], "op_s": op_s,
                  "op_cpu_s": op_cpu_s, "peak_rss_mb": r["peak_rss_mb"]}
        specs = bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in specs}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    return 0


def _untraced_file(workload: str) -> Path:
    return WORK_ROOT / "untraced" / f"{workload}.json"


def _save_untraced(workload: str, cold_pass_s: float) -> None:
    p = _untraced_file(workload)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps({"cold_pass_s": cold_pass_s}))


def _last_untraced(workload: str) -> float | None:
    try:
        return json.loads(_untraced_file(workload).read_text())["cold_pass_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    raise SystemExit(main())
