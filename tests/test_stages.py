"""Per-stage unit tests against pandas/networkx oracles (FIXTURES.md section 4)."""

from __future__ import annotations

import hashlib

import networkx as nx
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedup import kernels as K
from dedup.config import DedupConfig
from dedup.corpus import generate_corpus
from dedup.stages import cluster as SC
from dedup.stages import exact as SE
from dedup.stages import minhash_lsh as SM
from dedup.stages import simhash as SS
from dedup.stages import verify as SV

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(400, seed=42)


@pytest.fixture(scope="module")
def files_df(spark, corpus):
    return spark.createDataFrame(corpus.files)


@pytest.fixture(scope="module")
def hashed(files_df):
    df = SE.hash_content(files_df)
    df.cache().count()
    return df


# ---------------------------------------------------------------------------
# exact stage
# ---------------------------------------------------------------------------

def test_sha256_per_row_invariant(hashed, corpus):
    """Spark sha2(content, 256) == hashlib.sha256 over utf-8 bytes — the
    per-row invariant vs the reference (BASELINE.json input_hint)."""
    got = {
        (r["repo"], r["path"], r["commit"]): r["sha"]
        for r in hashed.select("repo", "path", "commit", "sha").collect()
    }
    sample = corpus.files.sample(50, random_state=0)
    for _, row in sample.iterrows():
        expect = hashlib.sha256(row.content.encode("utf-8")).hexdigest()
        assert got[(row.repo, row.path, row.commit)] == expect


def test_doc_ids_unique(hashed):
    n = hashed.count()
    assert hashed.select("doc_id").distinct().count() == n


def test_exact_clusters_match_pandas_oracle(hashed, corpus):
    clusters = SE.exact_clusters(hashed).toPandas()
    docs = hashed.select("doc_id", "sha").toPandas()
    oracle = docs.groupby("sha").doc_id.transform("min")
    merged = docs.assign(expect=oracle).merge(clusters, on="doc_id")
    assert (merged.cluster_id == merged.expect).all()
    # canonical iff own cluster id
    assert ((merged.doc_id == merged.cluster_id) == merged.is_canonical).all()


def test_representatives_one_per_sha(hashed):
    reps = SE.representatives(hashed)
    n_sha = hashed.select("sha").distinct().count()
    assert reps.count() == n_sha
    assert reps.select("sha").distinct().count() == n_sha


# ---------------------------------------------------------------------------
# minhash/LSH stage
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def reps(hashed):
    df = SE.representatives(hashed)
    df.cache().count()
    return df


def test_signature_udf_matches_kernel(spark, reps):
    sig_df = SM.joint_signatures(reps, CFG).select("doc_id", "sig", "bands")
    got = {r["doc_id"]: r["bands"] for r in sig_df.collect()}
    sample = reps.limit(10).select("doc_id", "content").collect()
    a, b = K.make_minhash_coeffs(CFG.num_perm, CFG.seed)
    for r in sample:
        sigs = K.minhash_batch([r["content"]], CFG.shingle_k, a, b)
        expect = K.band_hashes(sigs, CFG.bands, CFG.rows_per_band)[0]
        assert list(expect) == got[r["doc_id"]]


def test_lsh_candidates_cover_high_jaccard_pairs(spark, reps, corpus):
    """Every type2 rep pair (J >= ~0.8) must appear as an LSH candidate."""
    sig_df = SM.joint_signatures(reps, CFG).select("doc_id", "sig", "bands")
    edges = SM.candidate_pairs(SM.band_rows(sig_df), CFG).toPandas()
    edge_set = {(min(s, d), max(s, d)) for s, d in zip(edges.src, edges.dst)}

    rp = reps.select("doc_id", "repo", "path", "commit").toPandas()
    key_to_id = {(r.repo, r.path, r.commit): r.doc_id for r in rp.itertuples()}
    merged = corpus.files.merge(corpus.truth, on=["repo", "path", "commit"])
    missing = 0
    total = 0
    for _, grp in merged[merged.clone_type == "type2"].groupby("truth_cluster_id"):
        ids = [key_to_id.get((r.repo, r.path, r.commit)) for r in grp.itertuples()]
        ids = sorted(i for i in ids if i is not None)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                total += 1
                if (ids[i], ids[j]) not in edge_set:
                    missing += 1
    assert total > 20
    assert missing <= max(1, int(0.01 * total)), f"missing {missing}/{total}"


def test_pairs_from_buckets_matches_oracle(spark):
    """The in-array pair expansion + star capping must equal the brute-force
    definition: all pairs for buckets of 2..cap, star-to-min above cap."""
    import random

    rng = random.Random(3)
    cap = 5
    cfg = DedupConfig(bucket_cap=cap, shuffle_partitions=8)
    rows = []
    for bucket in range(40):
        size = rng.choice([1, 2, 3, 5, 6, 9, 17])
        members = rng.sample(range(10000), size)
        for m in members:
            rows.append((bucket, m, m * 7))  # payload = 7*doc_id
    df = spark.createDataFrame(rows, "bucket long, doc_id long, payload long")

    got = {
        (r["src"], r["dst"], r["payload_src"], r["payload_dst"])
        for r in SM.pairs_from_buckets(df, ["bucket"], cfg, "payload").collect()
    }

    expect = set()
    by_bucket: dict[int, list[int]] = {}
    for bucket, m, _ in rows:
        by_bucket.setdefault(bucket, []).append(m)
    for members in by_bucket.values():
        ms = sorted(members)
        if len(ms) < 2:
            continue
        if len(ms) <= cap:
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    expect.add((ms[i], ms[j], ms[i] * 7, ms[j] * 7))
        else:
            pivot = ms[0]
            for m in ms[1:]:
                expect.add((pivot, m, pivot * 7, m * 7))
    assert got == expect


def test_deferred_dedup_edge_set_identical(spark, reps):
    """dedup=False per channel + ONE global dropDuplicates (what the union
    composition paths run) must yield exactly the default per-channel edge
    set — the duplicate rows differ, the (src, dst) set must not."""
    sigs = SM.joint_signatures(reps, CFG).persist()
    try:
        e_lsh = SM.candidate_pairs(SM.band_rows(sigs), CFG)
        e_sim = SS.candidate_pairs(
            sigs.select("doc_id", "simhash", "blocks"), CFG
        )
        baseline = {
            (r["src"], r["dst"])
            for r in e_lsh.unionByName(e_sim)
            .dropDuplicates(["src", "dst"]).collect()
        }
        raw = SM.candidate_pairs(
            SM.band_rows(sigs), CFG, dedup=False
        ).unionByName(
            SS.candidate_pairs(
                sigs.select("doc_id", "simhash", "blocks"), CFG, dedup=False
            )
        )
        deferred = {
            (r["src"], r["dst"])
            for r in raw.dropDuplicates(["src", "dst"]).collect()
        }
        assert deferred == baseline
        # the raw stream must actually carry multi-band/multi-block
        # duplicates, or the deferral isn't exercising anything
        assert raw.count() > len(deferred)
    finally:
        sigs.unpersist()


def test_mega_bucket_star_capped(spark, reps):
    """Boilerplate family must produce linear (not quadratic) edges."""
    cfg = DedupConfig(bucket_cap=8, shuffle_partitions=8)
    sig_df = SM.joint_signatures(reps, cfg).select("doc_id", "sig", "bands")
    edges = SM.candidate_pairs(SM.band_rows(sig_df), cfg)
    n_reps = reps.count()
    # with cap 8, total edges must stay far below quadratic in family size
    assert edges.count() < 40 * n_reps


# ---------------------------------------------------------------------------
# simhash stage
# ---------------------------------------------------------------------------

def test_simhash_candidates_within_radius(spark, reps):
    sh = SM.joint_signatures(reps, CFG).select("doc_id", "simhash", "blocks")
    sh.cache().count()
    edges = SS.candidate_pairs(sh, CFG)
    hm = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    import numpy as np

    for r in edges.limit(200).collect():
        d = K.hamming_distance(
            np.array([hm[r["src"]]], dtype=np.int64),
            np.array([hm[r["dst"]]], dtype=np.int64),
        )[0]
        assert d <= CFG.hamming_radius


# ---------------------------------------------------------------------------
# verify stage
# ---------------------------------------------------------------------------

def test_verify_accepts_near_rejects_far(spark):
    rows = [
        (1, 2, "a" * 500, "a" * 500),                        # identical
        (3, 4, "x" * 300 + "common block " * 30, "y" * 300 + "common block " * 30),
        (5, 6, "completely different text one two three " * 20,
               "nothing alike here at all zebra quantum " * 20),
    ]
    df = spark.createDataFrame(
        rows, "src long, dst long, content_src string, content_dst string"
    )
    out = {(r["src"], r["dst"]): r for r in SV.verify_edges(df, CFG).collect()}
    assert out[(1, 2)]["accepted"] is True
    assert out[(3, 4)]["accepted"] is True   # big common substring
    assert out[(5, 6)]["accepted"] is False


# ---------------------------------------------------------------------------
# connected components vs networkx
# ---------------------------------------------------------------------------

def test_cc_matches_networkx_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(80 + 40 * trial)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        labels, rounds = SC.connected_components(df)
        got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}

        g = nx.Graph()
        g.add_edges_from(edges)
        for comp in nx.connected_components(g):
            expect = min(comp)
            for v in comp:
                assert got[v] == expect, f"trial {trial} vertex {v}"
        assert rounds < 20


def test_cc_chain_graph(spark):
    """Worst-case diameter: a long path must still converge (log rounds)."""
    n = 200
    edges = [(i, i + 1) for i in range(n - 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    labels, rounds = SC.connected_components(df)
    got = labels.collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert len(got) == n
    assert rounds <= 15


# ---------------------------------------------------------------------------
# round-2 skew / recall guards
# ---------------------------------------------------------------------------

def test_max_bucket_pairs_hard_cap_preserves_connectivity(spark):
    """max_bucket_pairs truncates sub-cap bucket expansion, but the kept
    prefix starts with the smallest member's full star, so the bucket must
    remain one connected component."""
    cfg = DedupConfig(bucket_cap=64, max_bucket_pairs=63, shuffle_partitions=8)
    rows = [(1, m, 0) for m in range(40)]  # C(40,2)=780 pairs uncapped
    df = spark.createDataFrame(rows, "bucket long, doc_id long, payload long")
    edges = SM.pairs_from_buckets(df, ["bucket"], cfg, "payload").collect()
    assert 39 <= len(edges) <= 63
    g = nx.Graph()
    g.add_nodes_from(range(40))
    g.add_edges_from((r["src"], r["dst"]) for r in edges)
    assert nx.number_connected_components(g) == 1


def test_lcs_band_pairs_survive_prefilter(spark):
    """ADVICE round 1: pairs with true shingle-Jaccard in [lcs_gate, 0.20)
    whose long common block the LCS path accepts must NOT be pruned by the
    est-Jaccard prefilter (it now sits 1.5 sigma below the gate)."""
    import random
    import string

    rng = random.Random(7)

    def rand_text(n):
        return "".join(
            rng.choice(string.ascii_lowercase + " ") for _ in range(n)
        )

    cfg = DedupConfig(shuffle_partitions=8)
    rows = []
    for i in range(5):
        common = rand_text(220)
        a = rand_text(550) + common
        b = common + rand_text(550)
        tj = K.jaccard_shingles(a, b, cfg.shingle_k, normalize=False)
        assert 0.10 <= tj < 0.20, f"pair {i}: J={tj:.3f}"
        rows.append((2 * i, 2 * i + 1, a, b))

    reps = spark.createDataFrame(
        [(r[0], r[2]) for r in rows] + [(r[1], r[3]) for r in rows],
        "doc_id long, content string",
    )
    edges = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "src long, dst long"
    )
    sig_df = SM.joint_signatures(reps, cfg, with_fp=True)
    pairs = SV.prepare_pairs(edges, reps, sig_df, cfg,
                             fps=sig_df.select("doc_id", "fp", "nlen"))
    kept = {(r["src"], r["dst"]) for r in pairs.select("src", "dst").collect()}
    assert kept == {(r[0], r[1]) for r in rows}, "prefilter dropped LCS-band pairs"

    verdicts = {
        (r["src"], r["dst"]): r["accepted"]
        for r in SV.verify_edges(pairs, cfg).collect()
    }
    assert all(verdicts.values()), f"LCS path rejected band pairs: {verdicts}"


def test_fp_screen_keeps_lcs_pairs_drops_impossible(spark):
    """Pre-shuffle fingerprint screen (prepare_pairs): pairs whose only
    accept path is LCS survive when they share a long run; pairs whose LCS
    threshold exceeds the shorter doc are dropped JVM-side; dissimilar
    same-length pairs are screened out before content would shuffle, short
    docs included (the winnowed screen has no abstain band)."""
    import random
    import string

    import numpy as np

    rng = random.Random(23)

    def rand_text(n):
        return "".join(
            rng.choice(string.ascii_lowercase + " ") for _ in range(n)
        )

    cfg = DedupConfig(shuffle_partitions=8)
    rows, edges = [], []
    # (a) type-3-ish: 4000-char docs sharing a 1200-char block
    #     (threshold = 0.25*4000 = 1000 <= 1200) -> MUST survive
    block = rand_text(1200)
    rows += [(0, rand_text(2800) + block), (1, block + rand_text(2800))]
    edges.append((0, 1))
    # (b) same sizes, no shared block -> screened out
    rows += [(2, rand_text(4000)), (3, rand_text(4000))]
    edges.append((2, 3))
    # (c) short docs (300 chars) with an 80-char shared block: est-J ~0.14
    #     passes the prefilter but rules out the Jaccard branch; the
    #     80-char run clears the threshold max(60, 75) = 75 and so shares
    #     a winnowed fingerprint -> the pair MUST survive
    short_block = rand_text(80)
    rows += [
        (4, short_block + rand_text(220)),
        (5, rand_text(220) + short_block),
    ]
    edges.append((4, 5))
    # (d) short docs (300 chars) that are two shufflings of the same 25
    #     12-char chunks: est-J sits between the prefilter and the Jaccard
    #     gate, but no common run comes near 75 chars -> screened out
    chunks = [
        "".join(rng.choice(string.ascii_lowercase) for _ in range(12))
        for _ in range(25)
    ]
    rows += [(6, "".join(rng.sample(chunks, 25))),
             (7, "".join(rng.sample(chunks, 25)))]
    edges.append((6, 7))
    a, b = K.make_minhash_coeffs(cfg.num_perm, cfg.seed)
    sig = K.minhash_batch([rows[-2][1], rows[-1][1]], cfg.shingle_k, a, b)
    est = float(np.mean(sig[0] == sig[1]))
    assert 0.06 <= est < cfg.jaccard_floor_gate()
    assert K.longest_common_substring(rows[-2][1], rows[-1][1]) < 60
    reps = spark.createDataFrame(rows, "doc_id long, content string")
    sigs = SM.joint_signatures(reps, cfg, with_fp=True)
    fps = sigs.select("doc_id", "fp", "nlen")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    kept = {
        (r["src"], r["dst"])
        for r in SV.prepare_pairs(edges_df, reps, sigs, cfg, fps=fps)
        .select("src", "dst").collect()
    }
    assert (0, 1) in kept, "shared-block pair was screened out"
    assert (2, 3) not in kept, "dissimilar pair not screened"
    assert (4, 5) in kept, "short pair sharing an 80-char run was screened out"
    assert (6, 7) not in kept, "short dissimilar pair not screened"
    # and the verify stage accepts the planted pair via the LCS path
    out = {
        (r["src"], r["dst"]): r["accepted"]
        for r in SV.verify_edges(
            SV.prepare_pairs(edges_df, reps, sigs, cfg, fps=fps), cfg
        ).collect()
    }
    assert out[(0, 1)] is True


def test_prepare_pairs_keeps_short_long_lcs_pair(spark):
    """A short doc sharing its threshold run with a long doc: the LCS
    branch accepts (threshold max(60, 0.25*292) = 73 <= 92-char run) while
    exact Jaccard is ~0.01 and the MinHash estimate ~0. No estimate cut may
    drop it before verify: the fingerprint screen keeps it by construction.
    (Such pairs reach prepare_pairs as star edges of a capped bucket, which
    link every member to the pivot whatever its size.)"""
    import random
    import string

    import numpy as np

    rng = random.Random(31)

    def rand_text(n):
        return "".join(rng.choice(string.ascii_lowercase) for _ in range(n))

    cfg = DedupConfig(shuffle_partitions=8)
    run = rand_text(92)
    short = rand_text(100) + run + rand_text(100)
    long = rand_text(3000) + run + rand_text(3000)
    assert (len(short), len(long)) == (292, 6092)
    assert K.jaccard_shingles(short, long, cfg.shingle_k) < 0.02
    a, b = K.make_minhash_coeffs(cfg.num_perm, cfg.seed)
    sig = K.minhash_batch([short, long], cfg.shingle_k, a, b)
    assert float(np.mean(sig[0] == sig[1])) < 0.06

    reps = spark.createDataFrame([(0, short), (1, long)],
                                 "doc_id long, content string")
    sigs = SM.joint_signatures(reps, cfg, with_fp=True)
    pairs = SV.prepare_pairs(
        spark.createDataFrame([(0, 1)], "src long, dst long"), reps, sigs,
        cfg, fps=sigs.select("doc_id", "fp", "nlen"),
    )
    assert [(r["src"], r["dst"]) for r in pairs.collect()] == [(0, 1)]
    out = SV.verify_edges(pairs, cfg).collect()
    assert out[0]["accepted"] and out[0]["lcs"] >= 92


def test_cc_mega_star_and_broom_skew(spark):
    """Skew stress (round-4 stretch): a 200k-leaf star (the exact shape the
    bucket cap emits for a boilerplate mega-bucket) and a broom (star hung
    off a chain) must converge in few rounds with one component — the
    map-side-combined min-aggregations keep the hub linear, no BTS
    balancing needed at this density (BENCH/cc_stress.py has the wall
    measurements)."""
    from pyspark.sql import functions as F

    from dedup.stages.cluster import connected_components

    star = spark.range(1, 200_001).select(
        F.lit(0).alias("src"), F.col("id").alias("dst")
    )
    labels, rounds = connected_components(star)
    assert rounds <= 3
    got = labels.select(F.count_distinct("cluster_id").alias("n"),
                        F.min("cluster_id").alias("mn"),
                        F.count(F.lit(1)).alias("rows")).collect()[0]
    assert (got["n"], got["mn"], got["rows"]) == (1, 0, 200_001)

    chain_len = 512
    broom = spark.range(0, chain_len).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).unionByName(
        spark.range(chain_len + 1, chain_len + 50_001).select(
            F.lit(chain_len).alias("src"), F.col("id").alias("dst")
        )
    )
    labels, rounds = connected_components(broom)
    got = labels.agg(F.count_distinct("cluster_id").alias("n"),
                     F.min("cluster_id").alias("mn")).collect()[0]
    assert (got["n"], got["mn"]) == (1, 0)


def test_joint_signatures_with_fp_bit_identical(spark):
    """joint_signatures(with_fp=True) adds the verify fingerprints without
    touching the signature columns: every signature column equals the
    with_fp=False pass, and (fp, nlen) equal the winnowing kernel on the
    normalized text, row for row."""
    cfg = DedupConfig(shuffle_partitions=4)
    c = generate_corpus(120, seed=31)
    files = spark.createDataFrame(c.files)
    reps = SE.representatives(SE.hash_content(files))

    base = {r["doc_id"]: r for r in SM.joint_signatures(reps, cfg).collect()}
    fused = {
        r["doc_id"]: r
        for r in SM.joint_signatures(reps, cfg, with_fp=True).collect()
    }
    assert set(base) == set(fused)
    for did, b in base.items():
        f = fused[did]
        assert (b["sig"], b["bands"], b["simhash"], b["blocks"]) == (
            f["sig"], f["bands"], f["simhash"], f["blocks"]
        ), did

    contents = {
        r["doc_id"]: r["content"]
        for r in reps.select("doc_id", "content").collect()
    }
    # the pass runs after drop_empty_normalized
    nonempty = {d for d, t in contents.items() if K.normalize_text(t)}
    assert set(fused) == nonempty
    for did, f in fused.items():
        t = K.normalize_text(contents[did])
        fp = K.winnow_fingerprints(t, cfg.lcs_min_chars).view("int64")
        assert (f["fp"], f["nlen"]) == (fp.tolist(), len(t)), did
