"""Ops-layer quality checks beyond the oracle equality gate."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.01"


def test_ann_lsh_recall_vs_bruteforce(spark, tmp_path):
    """The bucketed ANN must recover most exact top-5 neighbors on data with
    actual cluster structure. (The driver `embeddings` table is isotropic
    noise — top-5 sims ~0.32 — on which any sublinear LSH is blind by
    construction, so the recall assertion uses planted clusters instead;
    the noise table is still exercised by the oracle-gate tests.)"""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((40, 64))
    rows = []
    vid = 0
    for label, c in enumerate(centers):
        for _ in range(10):
            v = c + 0.15 * rng.standard_normal(64)
            rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32), label))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    pdf["embedding"] = pdf.embedding.map(list)
    d = tmp_path / "ann"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet", index=False)

    from dedup.ops.similarity import embedding_ann_lsh, embedding_topk_cosine

    exact = {
        (r["q_id"], r["vec_id"])
        for r in embedding_topk_cosine(spark, str(d)).collect()
    }
    approx = {
        (r["q_id"], r["vec_id"])
        for r in embedding_ann_lsh(spark, str(d)).collect()
    }
    assert len(exact) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"ANN recall too low: {recall:.3f}"


def test_embedding_neardup_clusters_planted(spark, tmp_path):
    """Planted near-identical vector pairs must cluster; distant vectors
    must stay singletons."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    rows = []
    vid = 0
    truth_pairs = []
    for _ in range(30):
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        near = v + 0.02 * rng.standard_normal(64)
        near /= np.linalg.norm(near)
        rows.append((vid, v.astype(np.float32).tolist(), 0))
        rows.append((vid + 1, near.astype(np.float32).tolist(), 0))
        truth_pairs.append((vid, vid + 1))
        vid += 2
    for _ in range(60):  # unrelated singletons
        v = rng.standard_normal(64)
        rows.append((vid, (v / np.linalg.norm(v)).astype(np.float32).tolist(), 1))
        vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    d = tmp_path / "nd"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet", index=False)

    from dedup.ops.similarity import embedding_neardup_clusters

    out = embedding_neardup_clusters(spark, str(d)).toPandas()
    cl = dict(zip(out.vec_id, out.cluster_id))
    clustered = sum(cl[a] == cl[b] for a, b in truth_pairs)
    assert clustered >= 0.8 * len(truth_pairs), f"{clustered}/{len(truth_pairs)}"
    # singletons stay alone
    singles = out[out.vec_id >= 60]
    assert (singles.vec_id == singles.cluster_id).mean() > 0.95


def test_revenue_by_nation_broadcasts_dims(spark):
    """The small dims must be broadcast, not shuffled (SURVEY.md section 2.2)."""
    from dedup.ops.relational import revenue_by_nation

    plan = revenue_by_nation(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_q1_filter_pushed_down(spark):
    """The shipdate filter must reach the parquet scan."""
    from dedup.ops.relational import q1_pricing_summary

    plan = q1_pricing_summary(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_ann_probe_join_bounded_by_bucket_cap(spark):
    """A planted mega-bucket (every vector in the same sign bucket) cannot
    make the probe join emit more than cap index rows per (query, probe):
    the index side is row_number-capped per bucket (VERDICT r2 #5)."""
    import numpy as np
    from pyspark.sql import functions as F

    from dedup.ops.similarity import _PLANES, _ann_topk

    # all vectors = the same direction (+ tiny id-scaled noise along it):
    # one bucket holds the whole corpus
    base_dir = np.ones(64) / 8.0
    rows = [
        (i, (base_dir * (1.0 + i * 1e-6)).astype("float32").tolist())
        for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cap = 16
    out = _ann_topk(emb, probe_cap=cap).collect()
    # results exist and every candidate the join produced is from the capped
    # prefix: with ORDER BY vec_id, only vec_ids < cap survive the index side
    assert len(out) > 0
    assert all(r["vec_id"] < cap for r in out)


def test_ann_n_planes_sizing():
    from dedup.ops.similarity import _MAX_PLANES, _N_PLANES, ann_n_planes

    assert ann_n_planes(10_000) == max(_N_PLANES, 4)
    assert ann_n_planes(10**12, target_bucket=1024) == 30
    assert ann_n_planes(100) == _N_PLANES  # small corpora keep the default
    assert ann_n_planes(10**18) == _MAX_PLANES  # pool-bounded


def _planted_cluster_corpus(tmp_path, noise=0.05, n_centers=40, per=10):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    rows = []
    vid = 0
    for c in rng.standard_normal((n_centers, 64)):
        for _ in range(per):
            v = c + noise * rng.standard_normal(64)
            rows.append((vid, (v / np.linalg.norm(v)).astype("float32").tolist()))
            vid += 1
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    d = tmp_path / "widened"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


def test_ann_widened_planes_keep_recall(spark, tmp_path):
    """VERDICT r3 #1 / r4 #4 done-criterion: when the plane count widens
    beyond the oracled 8 (the production ann_n_planes path at large
    corpora), ANN recall vs brute-force top-5 must hold — the bucket space
    growing must not degrade into the probe cap OR past the probe radius.
    Planted clusters (sim ~0.995 within); planes 12/14 exercise the
    Hamming-1 band, 20/24 the query-directed multi-probe band
    (2^20 = 1,048,576 and 2^24 = 16.7M buckets for 400 vectors — far wider
    than occupancy sizing would ever pick: 2^n >> corpus/target_bucket)."""
    d = _planted_cluster_corpus(tmp_path)
    from dedup.ops import load_table
    from dedup.ops.similarity import _ann_topk, embedding_topk_cosine

    exact = {
        (r["q_id"], r["vec_id"])
        for r in embedding_topk_cosine(spark, d).collect()
    }
    assert exact
    emb = load_table(spark, d, "embeddings")
    for n_planes in (12, 14, 20, 24):
        got = {
            (r["q_id"], r["vec_id"])
            for r in _ann_topk(emb, n_planes=n_planes).collect()
        }
        recall = len(exact & got) / len(exact)
        assert recall >= 0.9, f"n_planes={n_planes}: recall {recall:.3f}"


def test_ivf_recall_vs_bruteforce(spark, tmp_path):
    """The IVF path must recover the exact top-5 on clustered data: members
    of a tight cluster share a nearest centroid, so the nprobe=2 cell probe
    sees (nearly) every true neighbor — the data-adaptive counterpart of the
    LSH recall gate, and it should clear a HIGHER bar than LSH's 0.7."""
    d = _planted_cluster_corpus(tmp_path)
    from dedup.ops.similarity import embedding_ann_ivf, embedding_topk_cosine

    exact = {
        (r["q_id"], r["vec_id"])
        for r in embedding_topk_cosine(spark, d).collect()
    }
    assert exact
    got = {
        (r["q_id"], r["vec_id"])
        for r in embedding_ann_ivf(spark, d).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"IVF recall too low: {recall:.3f}"


def test_ivf_stride_sizing():
    """Driver tiers keep the oracled literal stride (hash-gate safety); past
    _IVF_MAX_CELLS centroids the stride grows so the centroid set stays
    broadcastable."""
    import math

    from dedup.ops.similarity import (
        _IVF_CENTROID_MOD, _IVF_MAX_CELLS, ivf_centroid_mod,
    )

    for n in (500, 10_000, 1_000_000, _IVF_CENTROID_MOD * _IVF_MAX_CELLS):
        assert ivf_centroid_mod(n) == _IVF_CENTROID_MOD
    big = 10**12
    mod = ivf_centroid_mod(big)
    assert mod == math.ceil(big / _IVF_MAX_CELLS)
    assert math.ceil(big / mod) <= _IVF_MAX_CELLS


def _embeddings_dir(tmp_path, vec_ids):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "vec_id": np.asarray(vec_ids, dtype=np.int64),
        "embedding": [rng.standard_normal(64).astype("float32").tolist()
                      for _ in vec_ids],
    })
    d = tmp_path / "ids"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


def test_check_packable_bounds():
    """The top-k sort key packs ids into [0, 2^_TOPK_ID_SHIFT); anything
    outside raises ValueError (not an assert, which `python -O` strips)."""
    import numpy as np

    from dedup.ops.similarity import _TOPK_ID_SHIFT, _check_packable

    top = (1 << _TOPK_ID_SHIFT) - 1
    _check_packable(np.array([0, top], dtype=np.int64), "id")
    _check_packable(np.array([], dtype=np.int64), "id")
    for bad in (top + 1, -1):
        with pytest.raises(ValueError, match="outside"):
            _check_packable(np.array([0, bad], dtype=np.int64), "id")


def test_topk_cosine_rejects_unpackable_vec_id(spark, tmp_path):
    """An index-side vec_id past the key packing fails the query with the
    worker's ValueError instead of mis-ranking."""
    from dedup.ops.similarity import _TOPK_ID_SHIFT, embedding_topk_cosine

    d = _embeddings_dir(tmp_path, [0, 1, 2, 1 << _TOPK_ID_SHIFT])
    with pytest.raises(Exception, match="ValueError: vec_id outside"):
        embedding_topk_cosine(spark, d).collect()


def test_topk_cosine_bounds_the_query_collect(spark, tmp_path, monkeypatch):
    """The query set is sized from the parquet footer before it is collected
    to the driver; a set past _TOPK_MAX_QUERIES raises ValueError."""
    from dedup.ops import similarity

    d = _embeddings_dir(tmp_path, list(range(200)))  # 200 // 50 = 4 queries
    monkeypatch.setattr(similarity, "_TOPK_MAX_QUERIES", 3)
    with pytest.raises(ValueError, match="_TOPK_MAX_QUERIES=3"):
        similarity.embedding_topk_cosine(spark, d)
    monkeypatch.setattr(similarity, "_TOPK_MAX_QUERIES", 4)
    assert similarity.embedding_topk_cosine(spark, d).count() > 0


def test_ivf_rejects_unpackable_centroid_id(spark, tmp_path):
    """A centroid id past the key packing raises ValueError on the driver,
    before the probe packs it."""
    from dedup.ops.similarity import (
        _IVF_CENTROID_MOD, _TOPK_ID_SHIFT, embedding_ann_ivf,
    )

    big = _IVF_CENTROID_MOD * ((1 << _TOPK_ID_SHIFT) // _IVF_CENTROID_MOD + 1)
    d = _embeddings_dir(tmp_path, [0, 1, 2, big])
    with pytest.raises(ValueError, match="centroid vec_id outside"):
        embedding_ann_ivf(spark, d)


def test_ann_derives_plane_count_from_corpus(spark, tmp_path):
    """The query path calls ann_n_planes(count): at driver-tier sizes the
    derivation returns the oracled 8, so _ann_topk(emb) must be row-identical
    to the explicit literal-8 run (hash-gate safety), and the plane pool must
    be prefix-stable so bucket bit j never changes meaning as planes widen."""
    import numpy as np

    d = _planted_cluster_corpus(tmp_path)
    from dedup.ops import load_table
    from dedup.ops.similarity import _ann_topk, _PLANE_POOL, _PLANES

    np.testing.assert_array_equal(_PLANE_POOL[:, : _PLANES.shape[1]], _PLANES)
    emb = load_table(spark, d, "embeddings")
    derived = sorted(map(tuple, _ann_topk(emb).collect()))
    literal8 = sorted(map(tuple, _ann_topk(emb, n_planes=8).collect()))
    assert derived == literal8


def test_repetition_signals_planted(spark, tmp_path):
    """Planted repetition: a fully-looping doc maxes every fraction, a
    no-repeat doc zeroes them, and sub-3-token docs are excluded."""
    import pandas as pd

    d = tmp_path / "rep"
    d.mkdir()
    rows = [
        (1, "a a a a a a"),                   # loop: all repeats
        (2, "w1 w2 w3 w4 w5 w6"),             # clean: no repeats
        (3, "x y x y x y x y"),               # 2-period loop
        (4, "lonely pair"),                   # < 3 tokens: excluded
    ]
    pd.DataFrame(
        {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows],
         "lang": ["en"] * 4, "source": ["t"] * 4,
         "n_chars": [len(r[1]) for r in rows]}
    ).to_parquet(d / "documents.parquet", index=False)

    from dedup.ops.textops import doc_repetition_signals

    got = (doc_repetition_signals(spark, str(d)).toPandas()
           .set_index("doc_id").sort_index())
    assert list(got.index) == [1, 2, 3]
    # doc 1: 6 tokens 1 distinct -> 1 - 1/6; 5 identical 2-grams -> 1 - 1/5
    assert abs(got.loc[1, "dup_token_frac"] - (1 - 1 / 6)) < 1e-4
    assert abs(got.loc[1, "dup_2gram_frac"] - (1 - 1 / 5)) < 1e-4
    assert abs(got.loc[1, "dup_3gram_frac"] - (1 - 1 / 4)) < 1e-4
    assert (got.loc[2, ["dup_token_frac", "dup_2gram_frac",
                        "dup_3gram_frac"]] == 0).all()
    # doc 3: 8 tokens 2 distinct; 7 2-grams, 2 distinct; 6 3-grams, 2 distinct
    assert abs(got.loc[3, "dup_token_frac"] - (1 - 2 / 8)) < 1e-4
    assert abs(got.loc[3, "dup_2gram_frac"] - (1 - 2 / 7)) < 1e-4
    assert abs(got.loc[3, "dup_3gram_frac"] - (1 - 2 / 6)) < 1e-4


def test_token_vocab_topk_order_and_ties(spark, tmp_path):
    import pandas as pd

    d = tmp_path / "voc"
    d.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["b b b a a c", "a c  c"],
         "lang": ["en"] * 2, "source": ["t"] * 2, "n_chars": [11, 6]}
    ).to_parquet(d / "documents.parquet", index=False)

    from dedup.ops.textops import token_vocab_topk

    got = token_vocab_topk(spark, str(d)).toPandas()
    # counts: a=3, b=3, c=3 -> tie broken by token asc; empty split tokens
    # (the double space) never count
    assert list(got.token) == ["a", "b", "c"]
    assert list(got.cnt) == [3, 3, 3]
