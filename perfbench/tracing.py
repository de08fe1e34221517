"""Spans recorded from the benchmark's own files, and timing shims.

A span is (name, start, end, parent, run id), kept in memory until the
run ends. Spans come from two places: `Tracer.span` around the benchmark's
calls into each module, and `Shims`, which wraps the public
methods of `storage.TableStore` and `ledger.Ledger` for the traced run
only. A shim also tags the Spark jobs its call starts with a job
description, so the event log can attribute write jobs to the method.
"""

from __future__ import annotations

import functools
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

STORAGE_METHODS = ("write", "stage", "commit_many", "append_pandas",
                   "commit_pandas_replace", "read", "read_pandas", "compact")
LEDGER_METHODS = (
    "get", "create", "mark_completed", "attempt_replacing", "status",
    "delete", "rows",
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None  # when set, job groups become job descriptions
        self.group = "untagged"

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def job_group(self, group: str):
        """Spark jobs started inside are described as `group[:detail]`."""
        prev = self.group
        self.group = group
        self._describe(group)
        try:
            yield
        finally:
            self.group = prev
            self._describe(prev)

    def _describe(self, desc: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(desc)

    def totals(self) -> dict[str, tuple[float, float, int]]:
        """name -> (total duration, total self time, call count). Self time
        is a span's duration minus the time its direct children cover."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, tuple[float, float, int]] = {}
        for i, s in enumerate(self.spans):
            dur = s.end - s.start
            tot, self_t, n = out.get(s.name, (0.0, 0.0, 0))
            out[s.name] = (tot + dur, self_t + dur - child_time[i], n + 1)
        return out


class Shims:
    """Timing wrappers over TableStore/Ledger methods; `remove` restores."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.compactions = 0
        self.stale_replace = 0
        self._saved: list[tuple[type, str, object]] = []

    def install(self) -> None:
        from dedup import ledger, storage

        for cls, prefix, names in (
            (storage.TableStore, "storage", STORAGE_METHODS),
            (ledger.Ledger, "ledger", LEDGER_METHODS),
        ):
            for name in names:
                orig = getattr(cls, name)
                self._saved.append((cls, name, orig))
                setattr(cls, name, self._wrap(orig, f"{prefix}.{name}",
                                              storage.StaleReplaceError))

    def _wrap(self, orig, span_name: str, stale_exc: type):
        shims = self
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            outer = tracer.group
            tracer._describe(f"{outer}:{span_name}")
            try:
                with tracer.span(span_name):
                    out = orig(*args, **kwargs)
            except stale_exc:
                shims.stale_replace += 1
                raise
            finally:
                tracer._describe(outer)
            # a fold of an appended table back to one segment: an index
            # compaction, or a control-table replace
            if (span_name == "storage.compact" and out) or (
                    span_name == "storage.commit_pandas_replace"):
                shims.compactions += 1
            return out

        return wrapper

    def remove(self) -> None:
        for cls, name, orig in reversed(self._saved):
            setattr(cls, name, orig)
        self._saved.clear()
