"""Duplicated-span channel (ops/spans.py): content-defined sampling
guarantees, planted-span detection, per-doc stats semantics, plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dedup import kernels as K
from dedup.ops.spans import (
    SPAN_L,
    SPAN_P,
    doc_dup_span_stats,
    dup_span_inventory,
    sampled_span_hashes,
)

# a boilerplate block comfortably longer than SPAN_L + a few SPAN_P, so the
# mod-p sample selects at least one window of it with near-certainty
_BLOCK = (
    "this license block is replicated verbatim across documents and long "
    "enough that the content defined sampler must select shared windows "
    "from it regardless of where in a document it appears"
)
assert len(_BLOCK) > SPAN_L + 8 * SPAN_P


def _docs_dir(tmp_path, rows):
    d = tmp_path / "sf"
    d.mkdir(parents=True)
    pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["t"] * len(rows),
            "n_chars": [len(r[1]) for r in rows],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _unique(i: int, n: int = 400) -> str:
    """Deterministic filler with no long cross-doc repeats."""
    rng = np.random.default_rng(1000 + i)
    words = rng.integers(0, 10**9, size=n // 8)
    return " ".join(f"w{w:09d}"[: 8] for w in words)


def test_sampling_is_position_independent(spark):
    """The same block must yield the same sampled hashes at ANY offset —
    the property that makes mod-p winnowing sound (selection depends on
    window content only, never position)."""
    a = _BLOCK + " " + _unique(1)
    b = _unique(2) + " tail of different length " + _BLOCK + " " + _unique(3)
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    rows = sampled_span_hashes(docs).toPandas()
    ha = set(rows[rows.doc_id == 1].h)
    hb = set(rows[rows.doc_id == 2].h)
    shared = ha & hb
    assert shared, "shared block selected no common window hash"
    # every shared hash must come from the block: recompute the block's own
    # sampled window set and check containment
    t = K.normalize_text(_BLOCK)
    hblk = K.run_hashes(t, SPAN_L)
    blk = set(
        hblk[(hblk & np.uint64(SPAN_P - 1)) == np.uint64(0)].view(np.int64)
    )
    assert shared <= blk


def test_planted_block_detected_unique_docs_clean(spark, tmp_path):
    sf = _docs_dir(
        tmp_path,
        [
            (1, _unique(10) + " " + _BLOCK),
            (2, _BLOCK + " " + _unique(11)),
            (3, _unique(12)),
            (4, _unique(13)),
        ],
    )
    inv = dup_span_inventory(spark, sf).toPandas()
    assert len(inv) > 0
    assert (inv.n_docs == 2).all()  # only docs 1 and 2 share content
    stats = doc_dup_span_stats(spark, sf).toPandas().set_index("doc_id")
    assert stats.loc[1, "n_dup_spans"] > 0
    assert stats.loc[2, "n_dup_spans"] > 0
    for clean in (3, 4):
        if clean in stats.index:
            assert stats.loc[clean, "n_dup_spans"] == 0
            assert stats.loc[clean, "dup_ratio"] == 0.0


def test_stats_invariants(spark, tmp_path):
    sf = _docs_dir(
        tmp_path,
        [(i, _unique(20 + i) + (" " + _BLOCK if i % 2 == 0 else ""))
         for i in range(1, 9)],
    )
    stats = doc_dup_span_stats(spark, sf).toPandas()
    assert (stats.n_dup_spans <= stats.n_spans).all()
    assert (stats.n_spans > 0).all()
    assert ((stats.dup_ratio >= 0) & (stats.dup_ratio <= 1)).all()
    # within-doc repeats are counted per POSITION: a doc that contains the
    # block twice accrues twice the hits in the inventory
    sf2 = _docs_dir(
        tmp_path / "b",
        [(1, _BLOCK + " " + _unique(40) + " " + _BLOCK), (2, _BLOCK)],
    )
    inv = dup_span_inventory(spark, sf2).toPandas()
    assert (inv.n_hits >= inv.n_docs).all()
    assert (inv.n_hits == 3).any(), "doubled block should yield 3-hit hashes"


def test_short_and_empty_docs_emit_nothing(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "shorter than L"), (4, "x" * (SPAN_L - 1))],
        "doc_id long, text string",
    )
    assert sampled_span_hashes(docs).count() == 0


def test_sampling_rate_must_be_power_of_two(spark):
    """The mod-p sample tests the low bits of h, so p must be a power of
    two; anything else raises ValueError (not an assert, which `python -O`
    strips)."""
    docs = spark.createDataFrame([(1, _BLOCK)], "doc_id long, text string")
    for p in (3, 0, 24):
        with pytest.raises(ValueError, match="power of two"):
            sampled_span_hashes(docs, p=p)


def test_plan_has_no_cartesian_and_one_python_stage(spark, tmp_path):
    sf = _docs_dir(tmp_path, [(i, _unique(60 + i)) for i in range(6)])
    plan = doc_dup_span_stats(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # r6: the cross-doc flag is a hash-agg + same-partition shuffled-hash
    # join instead of a per-h window sort (VERDICT r5 #4). The join makes
    # the shared emit+repartition('h') subtree appear TWICE in the plan
    # string (self-join attribute dedup); the two isomorphic shuffle stages
    # dedupe at runtime via AQE stage reuse, so the executed query still
    # runs one emit pass — timed in OPTIMIZATION_r06.md.
    assert plan.count("MapInPandas") == 2
    assert "SortMergeJoin" not in plan and "Sort " not in plan
    assert "ShuffledHashJoin" in plan
    # shuffles in-plan: 2x the shared h-repartition + doc_id for the fold
    assert plan.count("Exchange") <= 3
    inv_plan = dup_span_inventory(spark, sf)._jdf.queryExecution().executedPlan().toString()
    # inventory never leaves h-space after the emit: ONE exchange total
    assert inv_plan.count("Exchange") <= 1


def test_coverage_merges_overlaps_and_ignores_intra_doc_repeats(spark, tmp_path):
    from dedup.ops.spans import doc_dup_span_coverage

    # an internal-only block DISJOINT from _BLOCK (not a substring of it)
    intra = "internal refrain " * 8
    sf = _docs_dir(
        tmp_path,
        [
            (1, _unique(80) + " " + _BLOCK + " " + _unique(81)),
            (2, _BLOCK),
            # doc 3 repeats a block INTERNALLY but shares nothing across
            # docs: must not appear (the flag is exists-in-ANOTHER-doc)
            (3, intra + " " + _unique(82) + " " + intra),
        ],
    )
    cov = doc_dup_span_coverage(spark, sf).toPandas().set_index("doc_id")
    assert set(cov.index) <= {1, 2}
    assert {1, 2} <= set(cov.index)
    assert 3 not in cov.index
    # doc 2 IS the block: sampled duplicated windows tile most of it, and
    # the island merge must never exceed the doc length
    assert (cov.covered_chars <= cov.n_chars_norm).all()
    assert cov.loc[2, "dup_coverage_frac"] > 0.5
    # doc 1 embeds the same block in ~2x unique filler: its covered chars
    # come from the block alone, so the fraction must be well under doc 2's
    assert cov.loc[1, "dup_coverage_frac"] < cov.loc[2, "dup_coverage_frac"]
    # interval-union sanity against a direct recomputation for doc 2
    import numpy as np

    from dedup.ops.spans import SPAN_L, SPAN_P
    t = K.normalize_text(_BLOCK)
    h = K.run_hashes(t, SPAN_L)
    keep = np.nonzero((h & np.uint64(SPAN_P - 1)) == np.uint64(0))[0]
    covered = 0
    end = -1
    for s in keep:  # every sampled window of doc 2 is shared with doc 1
        lo = max(int(s), end)
        covered += max(0, int(s) + SPAN_L - lo)
        end = max(end, int(s) + SPAN_L)
    assert cov.loc[2, "covered_chars"] == covered


def test_source_contamination_pairs_planted(spark, tmp_path):
    from dedup.ops.spans import source_contamination_pairs

    d = tmp_path / "src"
    d.mkdir(parents=True)
    rows = [
        (1, _unique(90) + " " + _BLOCK, "alpha"),
        (2, _BLOCK + " " + _unique(91), "beta"),
        (3, _unique(92) + " " + _BLOCK, "gamma"),
        (4, _unique(93), "clean"),
        (5, _unique(94), "alpha"),  # same-source extra doc: no new pairs
    ]
    pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
         "lang": ["en"] * len(rows), "source": [r[2] for r in rows],
         "n_chars": [len(r[1]) for r in rows]}
    ).to_parquet(d / "documents.parquet", index=False)

    got = (source_contamination_pairs(spark, str(d)).toPandas()
           .sort_values(["src_a", "src_b"]).reset_index(drop=True))
    # the block lives in alpha, beta, gamma -> exactly the 3 ordered pairs,
    # each sharing the SAME sampled hash count; 'clean' appears nowhere
    assert list(map(tuple, got[["src_a", "src_b"]].values)) == [
        ("alpha", "beta"), ("alpha", "gamma"), ("beta", "gamma")
    ]
    assert got.n_shared_spans.nunique() == 1
    assert (got.n_shared_spans > 0).all()
