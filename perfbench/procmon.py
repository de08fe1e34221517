"""Process-tree memory sampling and a fixed-work host probe, from /proc.

`PeakRss` samples the summed resident set of this process and every
descendant (the driver JVM and the Python workers it forks) on a
background thread; `tree_cpu_s` sums their CPU time. `HostCpu` gives the
steal share of a time span, and `host_probe` times a fixed integer loop in
1..nproc processes: flat walls mean the cores were free while the
benchmark ran. `reap_descendants` makes sure no process the run started
outlives it.
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def _tree(root: int) -> list[int]:
    tree = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(tree.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used by `root` and its descendants,
    including reaped children (the Python workers Spark forks and ends)."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def descendants(root: int) -> list[int]:
    return _tree(root)[1:]


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of `pids` is running (exited or zombie)."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    state = f.read().rsplit(")", 1)[1].split()[0]
            except OSError:
                continue
            if state not in ("Z", "X"):
                alive.append(pid)
        if not alive:
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
        pids = alive


def reap_descendants(timeout_s: float) -> bool:
    """Wait for every process below this one to end; kill what is left
    after `timeout_s`. True when none had to be killed."""
    pids = descendants(os.getpid())
    if wait_gone(pids, timeout_s):
        return True
    for pid in descendants(os.getpid()) + pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    wait_gone(pids, 10)
    return False


def _rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of `root` and all its descendants."""
    return _rss_bytes(_tree(root))


class PeakRss:
    """Peak summed RSS of this process tree between start() and stop().

    Reading the RSS of the known tree is cheap; finding the tree walks all
    of /proc, so it is refreshed once a second only (Spark's Python daemon
    and its workers live for the whole run)."""

    def __init__(self, interval_s: float = 0.1, rescan_every: int = 10):
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        tick = 0
        pids = [root]
        while not self._stop.is_set():
            if tick % self.rescan_every == 0:
                pids = _tree(root)
            tick += 1
            self.peak_bytes = max(self.peak_bytes, _rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join()
            self.peak_bytes = max(self.peak_bytes,
                                  tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


class HostCpu:
    """Share of this guest's CPU time the hypervisor gave to others (steal)
    since construction, from the aggregate `cpu` line of /proc/stat."""

    def __init__(self):
        self._t0 = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]

    def steal_share(self) -> float:
        d = [b - a for a, b in zip(self._t0, self._read())]
        return d[7] / sum(d) if sum(d) else 0.0


# the child says it is ready once its interpreter is up, then runs the loop
# when its stdin closes, so the timed span holds the loops only
_ALU = """import sys
print(flush=True)
sys.stdin.read()
x = 12345
for _ in range(1_000_000):
    x = (x * 1103515245 + 12345) & 0x7FFFFFFF
"""


def _alu_wall(n: int) -> float:
    procs = []
    try:
        for _ in range(n):
            procs.append(subprocess.Popen(
                [sys.executable, "-c", _ALU], stdin=subprocess.PIPE,
                stdout=subprocess.PIPE))
        for p in procs:
            p.stdout.readline()
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.close()
        for p in procs:
            p.wait()
        return time.perf_counter() - t0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
            p.stdout.close()


def host_probe() -> dict[str, float]:
    """Wall of the same per-process loop run by 1, nproc/2 and nproc
    processes at once. Every child is waited for: none outlives the call."""
    nproc = len(os.sched_getaffinity(0))
    return {f"alu_{n}proc_s": round(_alu_wall(n), 3)
            for n in sorted({1, max(1, nproc // 2), nproc})}
