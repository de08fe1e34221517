"""Batch protect API — graft of the reference DeduplicationSuite scenarios.

Each test cites the reference scenario it mirrors
(src/it/scala/deduplication/DeduplicationSuite.scala).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dedup.api import Deduplication
from dedup.config import DedupConfig


class CountingCompute:
    """Instrumented effect (TestUtils.scala:19-52 analogue): records how many
    ids it was actually invoked on."""

    def __init__(self):
        self.invocations = 0
        self.ids_seen: list[str] = []

    def __call__(self, new_keys):
        pdf = new_keys.toPandas()
        self.invocations += 1
        self.ids_seen.extend(pdf.id.tolist())
        spark = new_keys.sparkSession
        out = pdf.assign(result="r-" + pdf.id)
        if len(out) == 0:
            return spark.createDataFrame([], "id string, result string")
        return spark.createDataFrame(out[["id", "result"]])


@pytest.fixture()
def engine(spark, tmp_path):
    return Deduplication(spark, tmp_path / "protect")


def _ids(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "id string")


def test_result_passthrough(spark, engine):  # :21-32
    ctx = engine.context("t1")
    out = ctx.protect(_ids(spark, "a", "b"), CountingCompute()).toPandas()
    assert dict(zip(out.id, out.result)) == {"a": "r-a", "b": "r-b"}


def test_cached_replay_not_recomputed(spark, engine):  # :121-136
    ctx = engine.context("t2")
    c1, c2 = CountingCompute(), CountingCompute()
    ctx.protect(_ids(spark, "a", "b"), c1)
    out = ctx.protect_detailed(_ids(spark, "a", "b", "c"), c2).toPandas()
    assert sorted(c2.ids_seen) == ["c"]  # only the new key computed
    dup = dict(zip(out.id, out.is_duplicate))
    assert dup == {"a": True, "b": True, "c": False}
    # replayed result is the STORED one
    res = dict(zip(out.id, out.result))
    assert res["a"] == "r-a"


def test_duplicate_callback_count(spark, engine):  # :138-153
    ctx = engine.context("t3")
    ctx.protect(_ids(spark, "x", "y"), CountingCompute())
    seen = []
    ctx.protect(_ids(spark, "x", "y", "z"), CountingCompute(), seen.append)
    assert seen == [2]


def test_context_segregation(spark, engine):  # MeteorProcessRepoSuite:21-43
    c1, c2 = CountingCompute(), CountingCompute()
    engine.context("ctxA").protect(_ids(spark, "k"), c1)
    engine.context("ctxB").protect(_ids(spark, "k"), c2)
    assert c1.ids_seen == ["k"]
    assert c2.ids_seen == ["k"]  # same id, other context: recomputed


def test_ttl_reruns_expired(spark, tmp_path):  # :183-200
    eng = Deduplication(
        spark, tmp_path / "ttl", DedupConfig(ttl_s=0.0)  # expire immediately
    )
    ctx = eng.context("t5")
    ctx.protect(_ids(spark, "a"), CountingCompute())
    import time

    time.sleep(1.1)
    c2 = CountingCompute()
    out = ctx.protect_detailed(_ids(spark, "a"), c2).toPandas()
    assert c2.ids_seen == ["a"]  # expired -> treated as absent -> re-run
    assert out.is_duplicate.tolist() == [False]


def test_protect_appends_log_segments_not_rewrites(spark, engine):
    """VERDICT r1: each protect call must append O(batch) rows, leaving the
    earlier ledger segments untouched (log-structured, not rewrite-all)."""
    ctx = engine.context("seg")
    ctx.protect_detailed(_ids(spark, "a", "b"), CountingCompute())
    snap1 = engine.store.current_snapshot("_protect_seg")
    assert "+" not in snap1  # one segment
    ctx.protect_detailed(_ids(spark, "b", "c"), CountingCompute())
    snap2 = engine.store.current_snapshot("_protect_seg")
    assert snap2.startswith(snap1 + "+")  # first segment untouched, appended
    led = engine.store.read(spark, "_protect_seg").toPandas()
    assert sorted(led.id) == ["a", "b", "c"]  # only new ids in segment 2


def test_compact_folds_log_and_preserves_results(spark, tmp_path):
    import time

    eng = Deduplication(
        spark, tmp_path / "p", DedupConfig(ttl_s=0.05)
    )
    ctx = eng.context("c")
    ctx.protect_detailed(_ids(spark, "x", "y"), CountingCompute())
    time.sleep(0.2)  # both rows expire
    comp = CountingCompute()
    ctx.protect_detailed(_ids(spark, "x"), comp)  # recompute appends a row
    led = eng.store.read(spark, "_protect_c").toPandas()
    assert len(led) == 3  # log holds both generations of "x"
    before = ctx._latest_rows().toPandas().sort_values("id").reset_index(drop=True)
    ctx.compact()
    led2 = eng.store.read(spark, "_protect_c").toPandas()
    assert len(led2) == 2  # one row per id after compaction
    after = ctx._latest_rows().toPandas().sort_values("id").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)


def test_compact_is_cas_guarded_against_racing_protect(spark, engine):
    """ADVICE r4: compact's snapshot replace must be CAS-guarded. A protect
    that appends a completed batch BETWEEN compact's fold-read and its
    commit must not have its segment dropped from the catalog — compact
    re-derives from the post-append state and retries."""
    ctx = engine.context("r")
    ctx.protect_detailed(_ids(spark, "a"), CountingCompute())
    ctx.protect_detailed(_ids(spark, "b"), CountingCompute())  # 2 segments

    store = engine.store
    orig_commit = store.commit_many
    raced = {"fired": False}

    def racing_commit(updates, expected=None):
        # first guarded (replace) commit = compact's: inject a concurrent
        # protect completing id "z" after the fold payload was derived
        if expected and "_protect_r" in expected and not raced["fired"]:
            raced["fired"] = True
            ctx.protect_detailed(_ids(spark, "z"), CountingCompute())
        return orig_commit(updates, expected=expected)

    store.commit_many = racing_commit
    try:
        ctx.compact()
    finally:
        store.commit_many = orig_commit
    assert raced["fired"]
    led = store.read(spark, "_protect_r").toPandas()
    assert sorted(led.id) == ["a", "b", "z"]  # z's completion survived
    # and z's result replays (effect NOT re-run) — the contract the
    # unguarded write would have broken
    comp = CountingCompute()
    out = ctx.protect_detailed(_ids(spark, "z"), comp).toPandas()
    assert comp.ids_seen == []
    assert out.is_duplicate.tolist() == [True]


def test_typed_result_codec_roundtrip_through_ledger(spark, engine):
    """ResultCodec graft: typed results survive store + replay, and a ledger
    written under one codec refuses to decode under another."""
    from dedup import codecs as C

    ctx = engine.context("typed")

    def compute(new_keys):
        return new_keys.select("id", (F.length("id") * 100).alias("result"))

    out1 = ctx.protect_detailed(
        _ids(spark, "a", "bb"), compute, result_codec=C.long_codec
    ).toPandas().set_index("id")
    assert out1.loc["a", "result"] == 100
    assert out1.loc["bb", "result"] == 200
    # replay: decoded back to longs, marked duplicate
    out2 = ctx.protect_detailed(
        _ids(spark, "bb", "ccc"), compute, result_codec=C.long_codec
    ).toPandas().set_index("id")
    assert bool(out2.loc["bb", "is_duplicate"]) is True
    assert out2.loc["bb", "result"] == 200
    assert out2.loc["ccc", "result"] == 300
    # stored form is tagged
    led = engine.store.read(spark, "_protect_typed").toPandas()
    assert all(r.startswith("long:") for r in led.result)
    # wrong codec on replay -> hard error, not silent reinterpretation
    with pytest.raises(Exception, match="cannot be decoded"):
        ctx.protect_detailed(
            _ids(spark, "bb"), compute, result_codec=C.string_codec
        ).collect()


def test_protect_ledger_partition_pruning(spark, tmp_path):
    """Ledger log segments are kbucket-partitioned: a small key batch's
    replay scan prunes to the kbuckets it touches (VERDICT r2 #7)."""
    from pyspark.sql import functions as F

    from dedup.api import Deduplication, _with_kbucket

    eng = Deduplication(spark, tmp_path / "s")
    ctx = eng.context("prune")
    ids = spark.range(2000).select(F.col("id").cast("string").alias("id"))
    ctx.protect_detailed(ids, lambda k: k.withColumn("result", F.lit("r")))

    ledger = ctx._ledger()
    assert "kbucket" in ledger.columns
    all_files = ledger.select(F.input_file_name()).distinct().count()
    pruned = ctx._ledger(kbuckets=[0, 1, 2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "kbucket" in plan
    read_files = pruned.select(F.input_file_name()).distinct().count()
    assert read_files < all_files / 10

    # a one-id batch replays correctly through the pruned path
    one = spark.createDataFrame([("7",)], "id string")
    out = ctx.protect_detailed(
        one, lambda k: k.withColumn("result", F.lit("SHOULD-NOT-RUN"))
    ).collect()
    assert len(out) == 1 and out[0]["is_duplicate"] and out[0]["result"] == "r"

    # compact preserves the partitioning and the latest-wins contents
    ctx.compact()
    again = ctx._ledger(kbuckets=_kb_of(spark, "7"))
    assert again.where("id = '7'").count() == 1


def _kb_of(spark, id_str):
    from pyspark.sql import functions as F

    from dedup.api import _with_kbucket

    row = _with_kbucket(
        spark.createDataFrame([(id_str,)], "id string")
    ).collect()[0]
    return [int(row["kbucket"])]
