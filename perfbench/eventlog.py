"""Reduce Spark event logs to per-group engine metrics.

Spark writes one JSON event per line when `spark.eventLog.enabled` is set.
Jobs carry the description the benchmark set (`spark.job.description`,
"group" or "group:detail"); every task of every stage of a job is charged
to the job's group. A stage shared by two jobs is charged once, to the
first job that listed it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

METRICS = (
    "executor_run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks", "jobs",
)
# SQL metric the Python runners report per task (absent on JVM-only jobs)
_PY_SENT = "data sent to Python workers"


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """`build_session(extra=...)` settings that switch the event log on."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",  # one file per app
    }


def summarize(log_dir: Path) -> dict[str, dict[str, float]]:
    """group -> {metric: value} over every event log file in `log_dir`."""
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(METRICS + ("python_bytes_sent",), 0.0))
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description") or "untagged"
                    group = desc.split(":", 1)[0]
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "untagged")
                    _add_task(out[group], ev)
    return dict(out)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                  + rd.get("Local Bytes Read", 0))
    wr = m.get("Shuffle Write Metrics") or {}
    acc["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    for acc_item in (ev.get("Task Info") or {}).get("Accumulables", []):
        if acc_item.get("Name") == _PY_SENT:
            acc["python_bytes_sent"] += float(acc_item.get("Update", 0))
