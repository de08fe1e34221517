"""Retry strategies (reference pollStrategy graft, Config.scala:36-54) and
the table-store catalog: CAS conflicts, atomic multi-table commits, append
segments, and partition-pruned reads of the bands index."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup.retry import (
    BACKOFF, LINEAR, CommitConflict, RetryStrategy, attempt_with_backoff,
)
from dedup.storage import (
    STORE_FORMAT, StoreFormatError, TableStore, TableUpdate,
)


# ---------------------------------------------------------------------------
# retry strategies
# ---------------------------------------------------------------------------

@given(
    st.floats(min_value=0.001, max_value=2.0),
    st.floats(min_value=1.0, max_value=3.0),
    st.floats(min_value=0.01, max_value=5.0),
    st.floats(min_value=0.01, max_value=30.0),
)
@settings(max_examples=200, deadline=None)
def test_delay_budget_never_exceeded(initial, factor, max_delay, max_total):
    """Mirror of the reference's poll-budget property
    (DeduplicationSuite.scala:202-221): total sleep <= maxPollTime, always."""
    s = RetryStrategy(initial, factor, max_delay, max_total)
    delays = list(s.delays())
    assert sum(delays) <= max_total + 1e-9
    assert all(d > 0 for d in delays)
    assert all(d <= max_delay + 1e-12 for d in delays)


def test_linear_strategy_constant_interval():
    ds = list(RetryStrategy(0.1, 1.0, 1.0, 1.05).delays())
    assert ds == pytest.approx([0.1] * 10)


def test_backoff_strategy_grows_then_caps():
    ds = list(RetryStrategy(0.1, 1.5, 0.3, 2.0).delays())
    assert ds[0] == pytest.approx(0.1)
    assert ds[1] == pytest.approx(0.15)
    assert ds[2] == pytest.approx(0.225)
    assert all(d == pytest.approx(0.3) for d in ds[3:])


def test_attempt_with_backoff_retries_then_succeeds():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] < 4:
            raise CommitConflict("lost race")
        return "ok"

    out = attempt_with_backoff(flaky, BACKOFF, sleep=sleeps.append)
    assert out == "ok"
    assert calls["n"] == 4
    assert len(sleeps) == 3
    assert sleeps == sorted(sleeps)  # backoff grows


def test_attempt_with_backoff_gives_up_after_budget():
    sleeps: list[float] = []

    def always_fails():
        raise CommitConflict("never")

    strategy = RetryStrategy(0.1, 1.0, 0.1, 0.35)  # budget: 3 sleeps
    with pytest.raises(CommitConflict):
        attempt_with_backoff(always_fails, strategy, sleep=sleeps.append)
    assert len(sleeps) == 3
    assert sum(sleeps) <= 0.35


def test_non_retryable_exceptions_propagate():
    def boom():
        raise ValueError("not a conflict")

    with pytest.raises(ValueError):
        attempt_with_backoff(boom, LINEAR, sleep=lambda _: None)


# ---------------------------------------------------------------------------
# catalog CAS + atomic multi-table commit
# ---------------------------------------------------------------------------

def test_commit_many_is_one_catalog_version(spark, tmp_path):
    store = TableStore(tmp_path / "t")
    a = spark.range(5).toDF("x")
    b = spark.range(3).toDF("y")
    store.commit_many({
        "ta": store.stage(a, "ta"),
        "tb": store.stage(b, "tb"),
    })
    versions = sorted((tmp_path / "t" / "_catalog").glob("v*.json"))
    assert len(versions) == 1  # both tables in ONE commit
    assert json.loads(versions[-1].read_text())["format"] == STORE_FORMAT
    cat = json.loads(versions[-1].read_text())["tables"]
    assert set(cat) == {"ta", "tb"}
    assert store.read(spark, "ta").count() == 5
    assert store.read(spark, "tb").count() == 3


def test_unstamped_store_is_refused_by_every_opener(spark, tmp_path):
    """A catalog written before the format stamp counts as format 0, a
    format-1 catalog still holds the per-bucket stats logs this code no
    longer keeps, and a format-2 catalog holds per-channel candidate tables
    instead of one `candidates` table: once any of them holds tables, the
    store, the pipeline and the protect engine all refuse it, naming the
    rebuild command, instead of reading or migrating its tables."""
    from dedup.api import Deduplication
    from dedup.config import DedupConfig
    from dedup.pipeline import Pipeline

    for found, stamp in [(0, {}), (1, {"format": 1}), (2, {"format": 2})]:
        work = tmp_path / f"w{found}"
        cat = work / "tables" / "_catalog"
        cat.mkdir(parents=True)
        (cat / "v000000000001.json").write_text(
            json.dumps({**stamp, "tables": {}})
        )
        TableStore(work / "tables")  # no tables, no layout to refuse
        (cat / "v000000000002.json").write_text(json.dumps(
            {**stamp, "tables": {"reps": {"segments": ["seg-0"]}}, "ts": 0.0}
        ))
        openers = [
            lambda: TableStore(work / "tables"),
            lambda: Pipeline(spark, DedupConfig(), work),
            lambda: Deduplication(spark, work / "tables"),
        ]
        for open_store in openers:
            with pytest.raises(StoreFormatError) as err:
                open_store()
            msg = str(err.value)
            assert f"format {found}," in msg
            assert f"format {STORE_FORMAT};" in msg
            assert str(work / "tables") in msg
            assert "jobs/run_pipeline.py --input <files> --work-dir" in msg


def test_cas_conflict_retries_and_preserves_other_writers(spark, tmp_path):
    """A competing commit that steals our version number must not be lost:
    the loser re-reads the catalog and lands on the next version."""
    store = TableStore(tmp_path / "t")
    store.write(spark.range(1).toDF("x"), "mine")
    v, tables = store._load_catalog()
    # simulate another writer winning version v+1 with a different table
    other = dict(tables)
    other["theirs"] = tables["mine"]
    assert store._try_commit(v + 1, other)
    # our commit must retry onto v+2 and keep BOTH tables
    store.write(spark.range(2).toDF("x"), "mine")
    v2, tables2 = store._load_catalog()
    assert v2 == v + 2
    assert set(tables2) == {"mine", "theirs"}
    assert store.read(spark, "mine").count() == 2


def test_staged_data_invisible_until_commit(spark, tmp_path):
    store = TableStore(tmp_path / "t")
    staged = store.stage(spark.range(4).toDF("x"), "tx")
    assert not store.exists("tx")
    store.commit_many({"tx": staged})
    assert store.exists("tx")
    assert store.read(spark, "tx").count() == 4


def test_append_extends_segments_and_snapshot_changes(spark, tmp_path):
    store = TableStore(tmp_path / "t")
    store.write(spark.range(4).toDF("x"), "tx")
    s1 = store.current_snapshot("tx")
    store.append(spark.range(6).toDF("x"), "tx")
    s2 = store.current_snapshot("tx")
    assert s1 != s2 and s2.startswith(s1 + "+")
    assert store.read(spark, "tx").count() == 10
    assert len(store.paths("tx")) == 2


def test_append_of_empty_df_is_readable(spark, tmp_path):
    store = TableStore(tmp_path / "t")
    base = spark.range(4).toDF("x")
    store.write(base, "tx")
    store.append(base.where("x < 0"), "tx")  # crash-replay no-op append
    assert store.read(spark, "tx").count() == 4


def test_update_mode_validated():
    with pytest.raises(ValueError):
        TableUpdate("merge", [])


# ---------------------------------------------------------------------------
# partitioned bands index: probe reads prune the scan
# ---------------------------------------------------------------------------

def test_bands_probe_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from dedup.config import DedupConfig
    from dedup.corpus import generate_corpus
    from dedup.pipeline import Pipeline

    cfg = DedupConfig(shuffle_partitions=8)
    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(generate_corpus(150, seed=7).files))

    bands = pipe.store.read(spark, "bands")
    all_files = bands.select(F.input_file_name()).distinct().count()
    touched = [0, 1, 2, 3, 4]  # a tiny batch touches few pbuckets
    pruned = bands.where(F.col("pbucket").isin(touched))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pbucket" in plan
    read_files = pruned.select(F.input_file_name()).distinct().count()
    # one file per touched pbucket; must be a small fraction of the index
    assert read_files <= len(touched)
    assert read_files < all_files / 10


def test_sim_blocks_probe_partition_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from dedup.config import DedupConfig
    from dedup.corpus import generate_corpus
    from dedup.pipeline import Pipeline

    cfg = DedupConfig(shuffle_partitions=8)
    pipe = Pipeline(spark, cfg, tmp_path / "w")
    pipe.run(spark.createDataFrame(generate_corpus(150, seed=7).files))

    blocks = pipe.store.read(spark, "sim_blocks")
    all_files = blocks.select(F.input_file_name()).distinct().count()
    touched = [0, 1, 2, 3, 4]  # a tiny batch touches few sbuckets
    pruned = blocks.where(F.col("sbucket").isin(touched))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sbucket" in plan
    read_files = pruned.select(F.input_file_name()).distinct().count()
    assert read_files <= len(touched)
    assert read_files < all_files / 10


def test_stale_replace_rejected(spark, tmp_path):
    """A replace payload derived from a superseded snapshot must NOT commit
    (ADVICE r2: blind CAS retry would discard the racing writer's merge)."""
    import pytest as _pytest

    from dedup.storage import StaleReplaceError, TableStore

    store = TableStore(tmp_path / "t")
    store.write(spark.range(3).toDF("x"), "stats")
    base = store.current_snapshot("stats")
    # derived payload staged from `base` ...
    staged = store.stage(spark.range(5).toDF("x"), "stats", "replace")
    # ... but a racing writer moves the table first
    store.write(spark.range(9).toDF("x"), "stats")
    with _pytest.raises(StaleReplaceError):
        store.commit_many({"stats": staged}, expected={"stats": base})
    # the winner's data is intact
    assert store.read(spark, "stats").count() == 9
    # re-derived from the CURRENT snapshot -> commits fine
    cur = store.current_snapshot("stats")
    staged2 = store.stage(spark.range(5).toDF("x"), "stats", "replace")
    store.commit_many({"stats": staged2}, expected={"stats": cur})
    assert store.read(spark, "stats").count() == 5


# ---------------------------------------------------------------------------
# segmented reads stay bounded: multi-path scans + compaction
# ---------------------------------------------------------------------------

def test_unpartitioned_multi_segment_read_is_one_scan(spark, tmp_path):
    """Appended flat tables read through ONE multi-path scan node — plan
    width must not grow with the segment count (VERDICT r2 minor: the
    unionByName loop widened the plan per append)."""
    store = TableStore(tmp_path / "t")
    store.write(spark.range(4).toDF("x"), "tx")
    for i in range(5):
        store.append(spark.range(3).toDF("x"), "tx")
    df = store.read(spark, "tx")
    assert df.count() == 4 + 5 * 3
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan


def test_partitioned_multi_segment_read_keeps_partition_column(spark, tmp_path):
    from pyspark.sql import functions as F

    store = TableStore(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("x"), (F.col("id") % 4).cast("int").alias("pb")
    )
    store.write(df, "tp", partition_by=["pb"])
    store.append(df, "tp", partition_by=["pb"])
    assert store.partition_cols("tp") == ["pb"]
    out = store.read(spark, "tp")
    assert set(out.columns) == {"x", "pb"}
    assert out.where("pb = 2").count() == 10


def test_compact_folds_segments_preserving_rows_and_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    store = TableStore(tmp_path / "t")
    df = spark.range(30).select(
        F.col("id").alias("x"), (F.col("id") % 4).cast("int").alias("pb")
    )
    store.write(df, "tp", partition_by=["pb"])
    for _ in range(3):
        store.append(df, "tp", partition_by=["pb"])
    before = store.read(spark, "tp").groupBy("pb").count().collect()
    assert store.compact(spark, "tp")
    assert len(store.paths("tp")) == 1
    assert store.partition_cols("tp") == ["pb"]  # layout survives
    after = store.read(spark, "tp").groupBy("pb").count().collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # already one segment -> no-op
    assert not store.compact(spark, "tp")


def test_compact_threshold_and_race_guard(spark, tmp_path):
    store = TableStore(tmp_path / "t")
    store.write(spark.range(2).toDF("x"), "tx")
    store.append(spark.range(2).toDF("x"), "tx")
    # below the threshold -> no-op
    assert not store.compact(spark, "tx", min_segments=8)
    # racing append between derive and commit -> guarded no-op, rows kept
    real_commit = store.commit_many

    def racing_commit(updates, expected=None):
        # the race: another writer appends AFTER compact derived its payload
        up = store.stage(spark.range(5).toDF("x"), "tx", "append")
        real_commit({"tx": up})
        return real_commit(updates, expected=expected)

    store.commit_many = racing_commit
    try:
        assert not store.compact(spark, "tx")
    finally:
        store.commit_many = real_commit
    assert store.read(spark, "tx").count() == 9  # nothing lost
