"""oracle_u64 SQL generators vs the numpy kernels, layer by layer.

The entry-oracle suite proves the end-to-end queries match at sf0.01; this
file pins each CTE layer against kernels.py on a tiny adversarial corpus
(whitespace runs, case, duplicate shingles, a sub-k doc for the whole-text
fallback) so a divergence is attributable to one layer, not the pipeline.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from dedup import kernels as K
from dedup.config import DedupConfig
from dedup.ops import oracle_u64 as O

CFG = DedupConfig(shingle_k=7, lcs_min_chars=30, lcs_min_ratio=0.2,
                  jaccard_floor=0.35)

DOCS = [
    (0, "The   quick\tbrown fox JUMPS over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),   # normalizes to #0
    (2, "aaaaaaaaaaaaaaaaaaaaaaaa"),                      # degenerate shingles
    (3, "abc"),                                            # n < k fallback
    (4, "  leading and trailing   "),
    (5, "Z" * 200),
    (6, "def fib(n): return n if n < 2 else fib(n-1) + fib(n-2)  # memoize me"),
    (7, "def fibo(n): return n if n < 2 else fib(n-1) + fib(n-2)  # memoize me"),
]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    pdf = pd.DataFrame(DOCS, columns=["doc_id", "text"])
    c.register("docs_pdf", pdf)
    c.execute("CREATE VIEW documents AS SELECT doc_id::BIGINT AS doc_id, text FROM docs_pdf")
    return c


def test_corpus_is_ascii():
    """normalize_text parity between Python str ops and DuckDB's
    lower/regexp holds for ASCII; the synthetic documents tables must stay
    ASCII for the u64 oracles to be valid."""
    c = duckdb.connect()
    for sf in ("0.001", "0.01"):
        n = c.execute(
            "SELECT count(*) FROM read_parquet("
            f"'/root/testdata/sf{sf}/documents.parquet')"
            " WHERE regexp_matches(text, '[^\\x00-\\x7F]')"
        ).fetchone()[0]
        assert n == 0, f"sf{sf} documents contain non-ASCII text"


def test_shingle_ctes_match_kernel(con):
    sql = (f"WITH {O.norm_cte()},\n{O.shingle_ctes(CFG.shingle_k)}\n"
           "SELECT doc_id, list_sort(list(s)) FROM shing GROUP BY doc_id")
    got = dict(con.execute(sql).fetchall())
    for doc_id, text in DOCS:
        t = K.normalize_text(text)
        exp = np.sort(K.char_shingle_hashes(t, CFG.shingle_k))
        assert got[doc_id] == exp.tolist(), f"doc {doc_id}"


def test_band_ctes_match_kernel(con):
    a, b = K.make_minhash_coeffs(CFG.num_perm, CFG.seed)
    sigs = K.minhash_batch([t for _, t in DOCS], CFG.shingle_k, a, b)
    bh = K.band_hashes(sigs, CFG.bands, CFG.rows_per_band)
    sql = (f"WITH {O.norm_cte()},\n{O.shingle_ctes(CFG.shingle_k)},\n"
           f"{O.minhash_band_ctes(CFG.num_perm, CFG.bands, CFG.rows_per_band, CFG.seed)}\n"
           "SELECT doc_id, band_id, band_hash FROM bands")
    got = {(d, j): h for d, j, h in con.execute(sql).fetchall()}
    for i, (doc_id, _) in enumerate(DOCS):
        for j in range(CFG.bands):
            assert got[(doc_id, j)] == int(bh[i, j]), f"doc {doc_id} band {j}"


def test_simhash_ctes_match_kernel(con):
    sh = K.simhash_batch([t for _, t in DOCS], CFG.shingle_k)
    blocks = K.hamming_blocks(sh, CFG.hamming_radius + 1)
    sql = (f"WITH {O.norm_cte()},\n{O.shingle_ctes(CFG.shingle_k)},\n"
           f"{O.simhash_ctes(CFG.hamming_radius + 1)}\n"
           "SELECT doc_id, u, block_id, block_val FROM blk")
    rows = con.execute(sql).fetchall()
    assert len(rows) == len(DOCS) * (CFG.hamming_radius + 1)
    for doc_id, u, block_id, block_val in rows:
        i = [d for d, _ in DOCS].index(doc_id)
        assert u == int(np.int64(sh[i]).astype(np.uint64)), f"doc {doc_id}"
        assert block_val == int(blocks[i, block_id]), f"doc {doc_id} blk {block_id}"


def test_pairs_ctes_mirror_cap_star_and_slice(con):
    """Planted buckets: one sub-cap (all pairs), one above-cap (star to
    pivot), one sub-cap bucket whose expansion exceeds max_pairs (slice
    keeps the leading pairs = complete star of the smallest member)."""
    cap, max_pairs = 4, 5
    rows = (
        [(i, 100) for i in range(3)]          # bsz 3 <= cap: all 3 pairs
        + [(10 + i, 200) for i in range(6)]   # bsz 6 > cap: 5 star edges
        + [(20 + i, 300) for i in range(4)]   # bsz 4: C(4,2)=6 > max_pairs=5
    )
    c = duckdb.connect()
    c.register("rows_pdf", pd.DataFrame(rows, columns=["doc_id", "key"]))
    sql = (
        "WITH rws AS (SELECT doc_id::BIGINT AS doc_id, key FROM rows_pdf),\n"
        + O.pairs_ctes("t", "rws", ["key"], cap, max_pairs)
        + "\nSELECT src, dst FROM t_pairs ORDER BY src, dst"
    )
    got = set(map(tuple, c.execute(sql).fetchall()))
    exp = {(0, 1), (0, 2), (1, 2)}
    exp |= {(10, 10 + i) for i in range(1, 6)}
    # rank-sliced expansion of [20,21,22,23]: first 5 of the 6 ordered pairs
    exp |= {(20, 21), (20, 22), (20, 23), (21, 22), (21, 23)}
    assert got == exp


def test_clusters_sql_builds_and_runs(con):
    out = con.execute(O.neardup_clusters_documents_sql(CFG)).df()
    assert len(out) == len(DOCS)
    by_id = dict(zip(out.doc_id, out.cluster_id))
    # 6/7 are genuine near-dups (rename clone); 0/1 normalize identically
    assert by_id[6] == by_id[7] == 6
    assert by_id[0] == by_id[1] == 0
    assert by_id[2] != by_id[5]


def test_runwin_ctes_match_run_hashes_kernel(con):
    """runwin_ctes at p=1 (no sampling) must reproduce kernels.run_hashes
    bit-for-bit, position-for-position — including the exactly-L doc whose
    single window starts at pos 0 and the sub-L docs which emit nothing."""
    L = 16
    sql = (f"WITH {O.norm_cte()},\n{O.runwin_ctes(L, 1)}\n"
           "SELECT doc_id, pos, n, h FROM rwin ORDER BY doc_id, pos")
    got = con.execute(sql).df()
    for doc_id, text in DOCS:
        t = K.normalize_text(text)
        h = K.run_hashes(t, L)
        ours = got[got.doc_id == doc_id]
        assert len(ours) == len(h), f"doc {doc_id}: {len(ours)} vs {len(h)}"
        if len(h):
            assert (ours.n == len(t)).all()
            assert list(ours.pos) == list(range(len(h)))
            np.testing.assert_array_equal(
                ours.h.to_numpy().astype("uint64"), h
            )


def test_runwin_sampling_matches_low_bit_mask(con):
    """The SQL's `h % p = 0` must select exactly the kernel rows whose
    mixed hash has p's low bits clear (the Spark side tests h & (p-1))."""
    L, p = 16, 8
    sql = (f"WITH {O.norm_cte()},\n{O.runwin_ctes(L, p)}\n"
           "SELECT doc_id, pos FROM rwin ORDER BY doc_id, pos")
    got = con.execute(sql).df()
    expect = []
    for doc_id, text in DOCS:
        h = K.run_hashes(K.normalize_text(text), L)
        for pos in np.nonzero((h & np.uint64(p - 1)) == np.uint64(0))[0]:
            expect.append((doc_id, int(pos)))
    assert list(map(tuple, got.values)) == sorted(expect)


def test_band_ctes_reject_other_rows_per_band():
    with pytest.raises(ValueError, match="rows_per_band"):
        O.minhash_band_ctes(128, 64, 2, 1)
