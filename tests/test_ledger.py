"""Ledger: the 5-state classifier truth table + repo contract.

Direct graft of the reference's test layers:
- ProcessStatusSuite.scala:13-159 (7 classifier properties)
- MeteorProcessRepoSuite.scala:21-178 (repo contract: context segregation,
  create-inserts / create-returns-existing / create-never-mutates,
  markAsCompleted expiry math, attemptReplacing CAS)
plus `Ledger.claim`, the one claim state machine of the pipeline stages and
the incremental ingests (no Spark needed).
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

from dedup.config import DedupConfig
from dedup.ledger import (
    ClaimLost,
    Ledger,
    Process,
    Status,
    process_status,
    status_column,
)

MPT = 300.0  # max_processing_time_s
NOW = 1_700_000_000.0


# ---------------------------------------------------------------------------
# classifier truth table (ProcessStatusSuite graft)
# ---------------------------------------------------------------------------

def test_missing_row_not_started():  # :13-24
    assert process_status(None, MPT, NOW) is Status.NOT_STARTED


def test_result_no_expiry_completed():  # :26-43
    p = Process("k", "c", started_at=NOW - 10, expires_on=None, result="{}")
    assert process_status(p, MPT, NOW) is Status.COMPLETED


def test_result_future_expiry_completed():  # :45-62
    p = Process("k", "c", started_at=NOW - 10, expires_on=NOW + 100, result="{}")
    assert process_status(p, MPT, NOW) is Status.COMPLETED


def test_past_expiry_expired_even_with_result():  # :64-79
    p = Process("k", "c", started_at=NOW - 10, expires_on=NOW - 1, result="{}")
    assert process_status(p, MPT, NOW) is Status.EXPIRED


def test_stale_claim_timeout():  # :81-99
    p = Process("k", "c", started_at=NOW - MPT - 1, expires_on=None, result=None)
    assert process_status(p, MPT, NOW) is Status.TIMEOUT


def test_stale_claim_timeout_even_with_future_expiry():  # :101-119
    p = Process("k", "c", started_at=NOW - MPT - 1, expires_on=NOW + 9999, result=None)
    assert process_status(p, MPT, NOW) is Status.TIMEOUT


def test_fresh_claim_running():  # :121-159
    p = Process("k", "c", started_at=NOW - 1, expires_on=None, result=None)
    assert process_status(p, MPT, NOW) is Status.RUNNING


# property sweep mirroring Generators.scala:19-35 (±90d windows)
@given(
    started_delta=st.floats(min_value=-90 * 86400, max_value=90 * 86400),
    expires_delta=st.one_of(st.none(), st.floats(min_value=-90 * 86400, max_value=90 * 86400)),
    has_result=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_classifier_precedence_property(started_delta, expires_delta, has_result):
    p = Process(
        "k", "c",
        started_at=NOW + started_delta,
        expires_on=None if expires_delta is None else NOW + expires_delta,
        result="{}" if has_result else None,
    )
    got = process_status(p, MPT, NOW)
    if p.expires_on is not None and p.expires_on < NOW:
        assert got is Status.EXPIRED
    elif has_result:
        assert got is Status.COMPLETED
    elif p.started_at + MPT < NOW:
        assert got is Status.TIMEOUT
    else:
        assert got is Status.RUNNING


# ---------------------------------------------------------------------------
# Spark column classifier == pure classifier
# ---------------------------------------------------------------------------

def test_status_column_matches_pure(spark):
    cases = [
        Process("a", "c", NOW - 10, None, "{}"),          # completed
        Process("b", "c", NOW - 10, NOW + 100, "{}"),     # completed
        Process("c", "c", NOW - 10, NOW - 1, "{}"),       # expired
        Process("d", "c", NOW - MPT - 1, None, None),     # timeout
        Process("e", "c", NOW - MPT - 1, NOW + 999, None),# timeout
        Process("f", "c", NOW - 1, None, None),           # running
        Process("g", "c", NOW - 1, NOW - 5, None),        # expired
    ]
    rows = [
        (
            p.id,
            p.context_id,
            dt.datetime.fromtimestamp(p.started_at, dt.timezone.utc),
            dt.datetime.fromtimestamp(p.expires_on, dt.timezone.utc)
            if p.expires_on is not None else None,
            p.result,
        )
        for p in cases
    ]
    df = spark.createDataFrame(
        rows, "id string, context_id string, started_at timestamp, "
              "expires_on timestamp, result string"
    )
    got = {
        r["id"]: r["status"]
        for r in df.withColumn("status", status_column(MPT, NOW)).collect()
    }
    for p in cases:
        assert got[p.id] == process_status(p, MPT, NOW).value, p.id


# ---------------------------------------------------------------------------
# repo contract (MeteorProcessRepoSuite graft)
# ---------------------------------------------------------------------------

@pytest.fixture()
def ledger(tmp_path):
    return Ledger(tmp_path / "ledger")


def test_context_segregation(ledger):  # :21-43
    assert ledger.create("id1", "ctx1", NOW) is None
    assert ledger.create("id1", "ctx2", NOW) is None  # same id, other context: new
    assert ledger.get("id1", "ctx1").context_id == "ctx1"
    assert ledger.get("id1", "ctx2").context_id == "ctx2"


def test_create_inserts_and_returns_existing(ledger):  # :45-74
    assert ledger.create("k", "c", NOW) is None
    existing = ledger.create("k", "c", NOW + 50)
    assert existing is not None
    assert existing.started_at == NOW  # never mutated (:76-91)


def test_mark_completed_sets_result_and_expiry(ledger):  # :93-111
    ledger.create("k", "c", NOW)
    ledger.mark_completed("k", "c", {"rows": 10}, NOW + 5, ttl_s=100.0)
    p = ledger.get("k", "c")
    assert p.result is not None
    assert p.expires_on == NOW + 5 + 100.0
    assert p.started_at == NOW  # claim time preserved


def test_no_ttl_no_expiry(ledger):  # :113-130
    ledger.create("k", "c", NOW)
    ledger.mark_completed("k", "c", {"ok": True}, NOW + 5, ttl_s=None)
    assert ledger.get("k", "c").expires_on is None


def test_attempt_replacing_cas(ledger):  # :132-178
    ledger.create("k", "c", NOW)
    ledger.mark_completed("k", "c", {"ok": True}, NOW + 5, ttl_s=None)
    # wrong old_started_at -> CAS fails, row untouched
    assert ledger.attempt_replacing("k", "c", NOW - 123, NOW + 100) is False
    assert ledger.get("k", "c").result is not None
    # correct old_started_at -> claim reset, result/expiry cleared
    assert ledger.attempt_replacing("k", "c", NOW, NOW + 100) is True
    p = ledger.get("k", "c")
    assert p.started_at == NOW + 100
    assert p.result is None and p.expires_on is None
    # second contender with the stale timestamp loses (exactly-one-winner,
    # DeduplicationSuite.scala:99-119 analogue)
    assert ledger.attempt_replacing("k", "c", NOW, NOW + 101) is False


def test_status_lifecycle(ledger):
    assert ledger.status("k", "c", MPT, NOW) is Status.NOT_STARTED
    ledger.create("k", "c", NOW)
    assert ledger.status("k", "c", MPT, NOW + 1) is Status.RUNNING
    assert ledger.status("k", "c", MPT, NOW + MPT + 1) is Status.TIMEOUT
    ledger.mark_completed("k", "c", {"ok": 1}, NOW + 10, ttl_s=50.0)
    assert ledger.status("k", "c", MPT, NOW + 20) is Status.COMPLETED
    # TTL re-opens the key (DeduplicationSuite.scala:183-200 analogue)
    assert ledger.status("k", "c", MPT, NOW + 10 + 51) is Status.EXPIRED


# ---------------------------------------------------------------------------
# Ledger.claim: replay / claim / takeover (DeduplicationContext.scala:95-111)
# ---------------------------------------------------------------------------

CFG = DedupConfig(max_processing_time_s=MPT)


def _complete(ledger, cfg=CFG, **payload):
    assert ledger.claim("k", "c", cfg, NOW) is None
    ledger.mark_completed(
        "k", "c", {**payload, "config_hash": cfg.config_hash()}, NOW + 5,
        ttl_s=None,
    )


def test_claim_new_key_creates_running_claim(ledger):
    assert ledger.claim("k", "c", CFG, NOW) is None
    assert ledger.get("k", "c").started_at == NOW
    assert ledger.status("k", "c", MPT, NOW + 1) is Status.RUNNING


def test_claim_replays_completion_under_matching_config(ledger):
    _complete(ledger, snapshots={"t": "seg-1"})
    payload = ledger.claim("k", "c", CFG, NOW + 10)
    assert payload["snapshots"] == {"t": "seg-1"}
    assert ledger.get("k", "c").result is not None  # replay leaves the row


def test_claim_after_config_change_claims_afresh(ledger):
    _complete(ledger)
    other = DedupConfig(max_processing_time_s=MPT, bucket_cap=8)
    assert other.config_hash() != CFG.config_hash()
    assert ledger.claim("k", "c", other, NOW + 10) is None
    p = ledger.get("k", "c")
    # the stale completion is gone and the key is claimed again: a crash
    # now leaves a RUNNING claim, not an unclaimed key
    assert p is not None and p.result is None and p.started_at == NOW + 10


def test_claim_not_replayable_claims_afresh(ledger):
    _complete(ledger, snapshots={"t": "seg-1"})
    seen = []

    def replayable(payload):
        seen.append(payload["snapshots"])
        return False

    assert ledger.claim("k", "c", CFG, NOW + 10, replayable) is None
    assert seen == [{"t": "seg-1"}]
    p = ledger.get("k", "c")
    assert p.result is None and p.started_at == NOW + 10


def test_claim_running_claim_proceeds_unchanged(ledger):
    assert ledger.claim("k", "c", CFG, NOW) is None
    # an earlier attempt died before its commit: the claim is ours
    assert ledger.claim("k", "c", CFG, NOW + 1) is None
    assert ledger.get("k", "c").started_at == NOW


@pytest.mark.parametrize("stale", ["timeout", "expired"])
def test_claim_timeout_takeover_moves_started_at(ledger, stale):
    if stale == "timeout":
        assert ledger.claim("k", "c", CFG, NOW) is None
    else:
        ledger.create("k", "c", NOW)
        ledger.mark_completed("k", "c", {"config_hash": CFG.config_hash()},
                              NOW + 5, ttl_s=10.0)
    later = NOW + MPT + 1
    assert ledger.status("k", "c", MPT, later) is Status(stale)
    assert ledger.claim("k", "c", CFG, later) is None
    p = ledger.get("k", "c")
    assert p.started_at == later
    assert p.result is None and p.expires_on is None


def test_claim_lost_takeover_raises(ledger, monkeypatch):
    """A rival run takes the stale claim over between this run's read and
    its CAS: this run must stop rather than compute beside the winner."""
    assert ledger.claim("k", "c", CFG, NOW) is None
    real = ledger.attempt_replacing
    rival = NOW + MPT + 2

    def rival_wins_first(id, context_id, old, new):
        assert real(id, context_id, old, rival)
        return real(id, context_id, old, new)

    monkeypatch.setattr(ledger, "attempt_replacing", rival_wins_first)
    with pytest.raises(ClaimLost):
        ledger.claim("k", "c", CFG, NOW + MPT + 1)
    assert ledger.get("k", "c").started_at == rival
