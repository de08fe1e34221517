"""Checkpoint ledger — the graft of the reference's keyed-idempotency protocol.

The reference wraps an effect so it runs best-effort-once per (id, contextId),
persisting a Process row through a two-phase commit (claim -> run -> complete)
with a 5-state lifecycle (reference: src/main/scala/deduplication/model.scala:10-26,
DeduplicationContext.scala:188-216, README.md:177-189). Here the "effect" is a
pipeline stage and the store is a directory of atomic JSON records:

- `create`       = atomic insert-or-peek claim, the batch form of DynamoDB
                   `if_not_exists(startedAt)` + ALL_OLD (MeteorProcessRepo.scala:28-44)
- `mark_completed` = phase-2 commit: result + expiry (MeteorProcessRepo.scala:46-73)
- `attempt_replacing` = CAS takeover of a stale claim, guarded on started_at
                   (MeteorProcessRepo.scala:86-117)
- `process_status` = the pure 5-state classifier with the exact precedence of
                   DeduplicationContext.scala:188-216 (property-tested against
                   the ProcessStatusSuite truth table)
- `claim`        = the protect lifecycle's entry (DeduplicationContext.scala:95-111):
                   replay a matching completion, else claim or take over the
                   key. The ONLY copy of this state machine: the pipeline
                   stages and every incremental ingest call it.

Keys: `id` is the stage-scoped unit of work, `context_id` is the stage name —
the same namespacing the reference uses (README.md:16-20); identical ids under
different contexts never interact.
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from enum import Enum
from pathlib import Path

from pyspark.sql import Column
from pyspark.sql import functions as F


class ClaimLost(RuntimeError):
    """A rival run took over the same stale claim first (its CAS won); this
    run must not compute the unit of work beside it."""


class Status(str, Enum):
    NOT_STARTED = "not_started"
    RUNNING = "running"
    COMPLETED = "completed"
    TIMEOUT = "timeout"
    EXPIRED = "expired"


@dataclass
class Process:
    """One ledger row — mirror of the reference Process (model.scala:20-26)."""

    id: str
    context_id: str
    started_at: float                 # epoch seconds
    expires_on: float | None = None   # None = never expires
    result: str | None = None         # JSON payload; None = not completed


def process_status(
    p: Process | None, max_processing_time_s: float, now: float
) -> Status:
    """Pure 5-state classifier.

    Precedence is EXACTLY the reference's (DeduplicationContext.scala:188-216):
      1. no row                         -> NOT_STARTED   (:193)
      2. expires_on set and < now       -> EXPIRED       (:194-202, even with result)
      3. result present                 -> COMPLETED     (:204-205)
      4. started_at + maxProcessing < now -> TIMEOUT     (:206-208, even with future expiry)
      5. otherwise                      -> RUNNING       (:209-211)
    """
    if p is None:
        return Status.NOT_STARTED
    if p.expires_on is not None and p.expires_on < now:
        return Status.EXPIRED
    if p.result is not None:
        return Status.COMPLETED
    if p.started_at + max_processing_time_s < now:
        return Status.TIMEOUT
    return Status.RUNNING


def status_column(
    max_processing_time_s: float,
    now_epoch: float,
    started_at: str = "started_at",
    expires_on: str = "expires_on",
    result: str = "result",
) -> Column:
    """The same classifier as a single Catalyst when/otherwise chain, for
    classifying ledger DataFrames at scale (rows absent from the ledger are
    NOT_STARTED by construction of the anti-join that finds them).

    Timestamp columns are TimestampType; `now_epoch` is passed as a literal so
    one batch evaluates against ONE clock reading — the analogue of the
    reference taking `now` once per protect call (DeduplicationContext.scala:101).
    """
    now = F.lit(now_epoch)
    started = F.unix_timestamp(F.col(started_at)).cast("double")
    expires = F.unix_timestamp(F.col(expires_on)).cast("double")
    return (
        F.when(F.col(expires_on).isNotNull() & (expires < now), Status.EXPIRED.value)
        .when(F.col(result).isNotNull(), Status.COMPLETED.value)
        .when(started + F.lit(float(max_processing_time_s)) < now, Status.TIMEOUT.value)
        .otherwise(Status.RUNNING.value)
    )


class Ledger:
    """File-backed ledger with atomic claim semantics.

    One JSON file per (context_id, id); claims use O_CREAT|O_EXCL so exactly
    one contender wins a new key, and the read-modify-write operations
    (attempt_replacing, mark_completed) serialize on a per-key flock so the
    started_at CAS is atomic across PROCESSES, not just within one — the
    single-HOST analogue of the DynamoDB conditional write, demonstrated by
    the N-process contention tests in tests/test_ledger.py (mirror of
    DeduplicationSuite.scala:83-119's 100-contender suite). Cross-machine
    deployments replace this module with Iceberg MERGE INTO / DynamoDB;
    flock is advisory, which suffices because every writer is this class.
    """

    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def _key_path(self, id: str, context_id: str) -> Path:
        safe = f"{context_id}__{id}".replace("/", "_").replace(":", "_")
        return self.root / f"{safe}.json"

    @contextmanager
    def _key_lock(self, path: Path):
        """Exclusive per-key advisory lock (sidecar `.lock` file, so `rows()`
        globbing *.json never sees it). Held across read-check-write so two
        processes cannot both pass the same CAS precondition."""
        lock = path.with_name(path.name + ".lock")
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    # -- R8: point lookup (ProcessRepo.scala:62-65) ------------------------

    def get(self, id: str, context_id: str) -> Process | None:
        p = self._key_path(id, context_id)
        try:
            d = json.loads(p.read_text())
        except FileNotFoundError:
            return None
        return Process(**d)

    # -- R6: atomic insert-or-peek (ProcessRepo.scala:31-35) ---------------

    def create(self, id: str, context_id: str, now: float) -> Process | None:
        """Claim the key if new (returns None, like the reference's ALL_OLD
        empty response); otherwise return the existing row UNMODIFIED
        (MeteorProcessRepoSuite 'create never mutates existing').

        Publication is an os.link CAS from a fully-written tmp file, so the
        row is never visible half-written: the earlier O_CREAT|O_EXCL +
        write form let a racing get() read an empty file between claim and
        content (caught by the N-process contention test)."""
        path = self._key_path(id, context_id)
        row = Process(id=id, context_id=context_id, started_at=now)
        tmp = path.with_name(f".claim-{uuid.uuid4().hex[:8]}")
        tmp.write_text(json.dumps(asdict(row)))
        try:
            os.link(tmp, path)
        except FileExistsError:
            return self.get(id, context_id)
        finally:
            tmp.unlink()
        return None

    # -- R7: phase-2 commit (ProcessRepo.scala:47-53) ----------------------

    def mark_completed(
        self,
        id: str,
        context_id: str,
        result: dict | str,
        now: float,
        ttl_s: float | None,
    ) -> None:
        path = self._key_path(id, context_id)
        with self._key_lock(path):
            existing = self.get(id, context_id)
            started = existing.started_at if existing else now
            row = Process(
                id=id,
                context_id=context_id,
                started_at=started,
                expires_on=(now + ttl_s) if ttl_s is not None else None,
                result=json.dumps(result) if isinstance(result, dict)
                else result,
            )
            self._atomic_write(path, row)

    # -- R9: CAS takeover (ProcessRepo.scala:84-89) ------------------------

    def attempt_replacing(
        self, id: str, context_id: str, old_started_at: float, new_started_at: float
    ) -> bool:
        """Reset the claim iff started_at still equals old_started_at; clears
        result and expiry like the reference's REMOVE #result, #expiresOn
        (MeteorProcessRepo.scala:98-110). Returns False on CAS failure.
        The check-and-write holds the per-key lock, so among N concurrent
        takeover attempts from the same old_started_at exactly one wins —
        the property DynamoDB's conditional write gives the reference."""
        path = self._key_path(id, context_id)
        with self._key_lock(path):
            existing = self.get(id, context_id)
            if existing is None or existing.started_at != old_started_at:
                return False
            row = Process(
                id=id, context_id=context_id, started_at=new_started_at
            )
            self._atomic_write(path, row)
            return True

    # -- R11: the protect entry (DeduplicationContext.scala:95-111) ----------

    def claim(
        self,
        id: str,
        context_id: str,
        config,
        now: float,
        replayable: Callable[[dict], bool] = lambda payload: True,
    ) -> dict | None:
        """Replay or claim one unit of work under `config` (a DedupConfig).

        Returns the stored payload when the key COMPLETED under the same
        `config_hash` and `replayable(payload)` holds (the duplicate call
        replays, DeduplicationContext.scala:163-167). Otherwise the key is
        ours and None is returned: a stale completion is deleted and claimed
        afresh, a TIMEOUT/EXPIRED claim is taken over by CAS (R9; losing it
        raises ClaimLost), and a RUNNING claim proceeds — in a single-driver
        run it means an earlier attempt died before its commit, and every
        unit of work is a deterministic function of (input, config), so
        recomputing is safe (at-least-once, reference README.md:211-219)."""
        proc = self.get(id, context_id)
        status = process_status(proc, config.max_processing_time_s, now)
        if status is Status.COMPLETED:
            payload = json.loads(proc.result)
            if (payload.get("config_hash") == config.config_hash()
                    and replayable(payload)):
                return payload
            self.delete(id, context_id)
            status = Status.NOT_STARTED
        if status in (Status.TIMEOUT, Status.EXPIRED):
            if not self.attempt_replacing(id, context_id, proc.started_at, now):
                raise ClaimLost(
                    f"{context_id}/{id}: another run took over the stale claim"
                )
        elif status is Status.NOT_STARTED:
            self.create(id, context_id, now)
        return None

    # -- R10 over the store -------------------------------------------------

    def status(
        self, id: str, context_id: str, max_processing_time_s: float, now: float
    ) -> Status:
        return process_status(self.get(id, context_id), max_processing_time_s, now)

    def delete(self, id: str, context_id: str) -> None:
        p = self._key_path(id, context_id)
        if p.exists():
            p.unlink()

    def rows(self) -> list[Process]:
        out = []
        for f in sorted(self.root.glob("*.json")):
            out.append(Process(**json.loads(f.read_text())))
        return out

    @staticmethod
    def _atomic_write(path: Path, row: Process) -> None:
        tmp = path.with_suffix(f".tmp-{uuid.uuid4().hex[:8]}")
        tmp.write_text(json.dumps(asdict(row)))
        os.replace(tmp, path)
