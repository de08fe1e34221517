"""Property tests for the pure numpy kernels.

Mirrors the reference's property-based unit layer (ProcessStatusSuite — the
pure core gets exhaustive seeded-random coverage before anything touches the
store; reference: src/test/scala/deduplication/ProcessStatusSuite.scala:11-160).
"""

from __future__ import annotations

import random
import string

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dedup import kernels as K


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def test_shingle_hashes_deterministic():
    t = "def foo(x):\n    return x + 1\n"
    h1 = K.char_shingle_hashes(t, 9)
    h2 = K.char_shingle_hashes(t, 9)
    assert np.array_equal(h1, h2)


def test_shingle_count():
    t = "abcdefghij"  # 10 chars, k=9 -> 2 shingles
    assert K.char_shingle_hashes(t, 9).size == 2


def test_shingle_short_text_single():
    assert K.char_shingle_hashes("ab", 9).size == 1
    assert K.char_shingle_hashes("", 9).size == 0


@given(st.text(min_size=9, max_size=200), st.text(min_size=9, max_size=200))
@settings(max_examples=50, deadline=None)
def test_identical_texts_same_shingles_distinct_mostly_differ(a, b):
    ha = K.char_shingle_hashes(a, 9)
    hb = K.char_shingle_hashes(b, 9)
    if a == b:
        assert np.array_equal(ha, hb)


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------

def _rand_text(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(string.ascii_lowercase + " \n") for _ in range(n))


def test_minhash_identical_docs_identical_sigs():
    a, b = K.make_minhash_coeffs(128, 42)
    t = _rand_text(random.Random(0), 500)
    s1 = K.minhash_batch([t], 9, a, b)
    s2 = K.minhash_batch([t], 9, a, b)
    assert np.array_equal(s1, s2)


def test_minhash_estimates_jaccard():
    """E[sig agreement] == true Jaccard; check within statistical tolerance
    on constructed overlapping docs (the MinHash correctness property)."""
    rng = random.Random(7)
    base = _rand_text(rng, 2000)
    # 50% prefix overlap
    other = base[:1000] + _rand_text(rng, 1000)
    a, b = K.make_minhash_coeffs(256, 42)
    sigs = K.minhash_batch([base, other], 9, a, b, normalize=False)
    est = K.est_jaccard(sigs[0], sigs[1])
    true_j = K.jaccard_shingles(base, other, 9, normalize=False)
    assert abs(est - true_j) < 0.12  # 256 perms -> sd ~ sqrt(J(1-J)/256) ~ 0.03
    assert 0.2 < true_j < 0.8  # fixture sanity


def test_minhash_seed_sensitivity():
    a1, b1 = K.make_minhash_coeffs(64, 1)
    a2, b2 = K.make_minhash_coeffs(64, 2)
    assert not np.array_equal(a1, a2)


def test_minhash_empty_text():
    a, b = K.make_minhash_coeffs(16, 42)
    s = K.minhash_batch([""], 9, a, b)
    assert np.all(s == K.MAX_HASH_32)


# ---------------------------------------------------------------------------
# LSH bands
# ---------------------------------------------------------------------------

def test_band_hashes_shape_and_determinism():
    a, b = K.make_minhash_coeffs(128, 42)
    texts = [_rand_text(random.Random(i), 300) for i in range(10)]
    sigs = K.minhash_batch(texts, 9, a, b)
    bh1 = K.band_hashes(sigs, 32, 4)
    bh2 = K.band_hashes(sigs, 32, 4)
    assert bh1.shape == (10, 32)
    assert np.array_equal(bh1, bh2)
    assert bh1.dtype == np.int64


def test_band_hashes_equal_docs_collide_everywhere():
    a, b = K.make_minhash_coeffs(128, 42)
    t = _rand_text(random.Random(3), 400)
    sigs = K.minhash_batch([t, t], 9, a, b)
    bh = K.band_hashes(sigs, 32, 4)
    assert np.array_equal(bh[0], bh[1])


def test_band_collision_monotone_in_jaccard():
    """Higher-Jaccard pairs share >= bands than low-Jaccard pairs (statistically)."""
    rng = random.Random(11)
    base = _rand_text(rng, 3000)
    near = base[:2700] + _rand_text(rng, 300)   # high overlap
    far = _rand_text(rng, 3000)                  # unrelated
    a, b = K.make_minhash_coeffs(128, 42)
    sigs = K.minhash_batch([base, near, far], 9, a, b, normalize=False)
    bh = K.band_hashes(sigs, 32, 4)
    shared_near = int((bh[0] == bh[1]).sum())
    shared_far = int((bh[0] == bh[2]).sum())
    assert shared_near > shared_far
    assert shared_near >= 1  # J~0.8 at b=32,r=4 -> P(>=1 band) ~ 1-1e-7


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def test_simhash_deterministic_and_int64():
    t = _rand_text(random.Random(5), 600)
    s = K.simhash_batch([t, t], 9)
    assert s[0] == s[1]
    assert s.dtype == np.int64


def test_simhash_near_docs_low_hamming():
    rng = random.Random(13)
    base = _rand_text(rng, 4000)
    # small edit: change 1% of chars
    chars = list(base)
    for i in rng.sample(range(len(chars)), 40):
        chars[i] = rng.choice(string.ascii_lowercase)
    near = "".join(chars)
    far = _rand_text(rng, 4000)
    s = K.simhash_batch([base, near, far], 9, normalize=False)
    d_near = K.hamming_distance(s[:1], s[1:2])[0]
    d_far = K.hamming_distance(s[:1], s[2:3])[0]
    assert d_near < d_far
    assert d_far > 10  # unrelated docs ~32 +/- a few


def test_hamming_blocks_pigeonhole():
    """Any two hashes within Hamming distance r agree on >= 1 of r+1 blocks."""
    rng = np.random.default_rng(42)
    base = rng.integers(-(2**62), 2**62, size=200, dtype=np.int64)
    r = 3
    flipped = base.copy()
    for i in range(base.size):
        u = np.uint64(flipped[i].view(np.uint64) if hasattr(flipped[i], "view") else np.array([flipped[i]], dtype=np.int64).view(np.uint64)[0])
        positions = rng.choice(64, size=rng.integers(0, r + 1), replace=False)
        for p in positions:
            u ^= np.uint64(1) << np.uint64(p)
        flipped[i] = np.array([u], dtype=np.uint64).view(np.int64)[0]
    blocks_a = K.hamming_blocks(base, r + 1)
    blocks_b = K.hamming_blocks(flipped, r + 1)
    agree = (blocks_a == blocks_b).any(axis=1)
    assert agree.all()


def test_hamming_distance_known():
    a = np.array([0b1011], dtype=np.int64)
    b = np.array([0b0010], dtype=np.int64)
    assert K.hamming_distance(a, b)[0] == 2
    assert K.hamming_distance(np.array([-1], dtype=np.int64), np.array([0], dtype=np.int64))[0] == 64


# ---------------------------------------------------------------------------
# suffix-array LCS vs naive DP oracle (FIXTURES.md section 4)
# ---------------------------------------------------------------------------

def test_lcs_known_cases():
    assert K.longest_common_substring("abcdef", "zabcy") == 3  # "abc"
    assert K.longest_common_substring("aaaa", "aaaa") == 4
    assert K.longest_common_substring("abc", "xyz") == 0
    assert K.longest_common_substring("", "abc") == 0
    assert K.longest_common_substring("abc", "") == 0


@given(
    st.text(alphabet="abcx ", min_size=0, max_size=120),
    st.text(alphabet="abcx ", min_size=0, max_size=120),
)
@settings(max_examples=120, deadline=None)
def test_lcs_matches_naive_small_alphabet(a, b):
    assert K.longest_common_substring(a, b) == K.lcs_naive(a, b)


@given(st.text(min_size=0, max_size=80), st.text(min_size=0, max_size=80))
@settings(max_examples=60, deadline=None)
def test_lcs_matches_naive_unicode(a, b):
    assert K.longest_common_substring(a, b) == K.lcs_naive(a, b)


def test_prefilter_threshold_recall_safe():
    """MinHash-estimate concentration at num_perm=128: for pairs at true
    J >= 0.45 (the weakest planted type-3 grade), the estimate essentially
    never falls below 0.20. The verify screens cut on the estimate only at
    config.jaccard_floor_gate() (4 sigma under jaccard_floor, Jaccard
    branch only); LCS-possible pairs are kept whatever their estimate
    (tests/test_stages.py::test_prepare_pairs_keeps_short_long_lcs_pair)."""
    rng = random.Random(99)
    a, b = K.make_minhash_coeffs(128, 42)
    worst = 1.0
    for trial in range(60):
        base = _rand_text(rng, 3000)
        # construct a pair with true J ~ 0.45-0.60: replace a block
        cut = len(base) // 3
        other = base[:2 * cut] + _rand_text(rng, cut)
        tj = K.jaccard_shingles(base, other, 9, normalize=False)
        if not 0.40 <= tj <= 0.75:
            continue
        sigs = K.minhash_batch([base, other], 9, a, b, normalize=False)
        est = K.est_jaccard(sigs[0], sigs[1])
        worst = min(worst, est - 0.0)
        assert est >= 0.20, f"trial {trial}: true J={tj:.3f} est={est:.3f}"
    assert worst < 1.0  # at least one constructed pair was in band


def test_lcs_large_realistic():
    rng = random.Random(21)
    a = _rand_text(rng, 5000)
    shared = _rand_text(rng, 800)
    x = a[:2000] + shared + a[2000:]
    y = _rand_text(rng, 1500) + shared + _rand_text(rng, 1500)
    got = K.longest_common_substring(x, y)
    assert got >= 800  # must find the planted block (may extend by chance)
    assert got < 900


def test_lcs_pigeonhole_screen_never_false_rejects():
    """The verify stage's O(n) screen (aligned w-blocks of `a` vs positional
    w-grams of `b`, w = threshold//2) may only skip the suffix array when
    LCS < threshold. Property: whenever true LCS >= threshold, the screen
    says 'possible'."""
    import numpy as np

    rng = random.Random(5)
    for trial in range(60):
        t = rng.randrange(8, 120)
        w = t // 2
        block = _rand_text(rng, t + rng.randrange(0, 40))
        a = _rand_text(rng, rng.randrange(0, 300)) + block + _rand_text(
            rng, rng.randrange(0, 300))
        b = _rand_text(rng, rng.randrange(0, 300)) + block + _rand_text(
            rng, rng.randrange(0, 300))
        true_lcs = K.longest_common_substring(a, b)
        assert true_lcs >= t
        a_blocks = K.gram_hashes_positional(a, w)[::w]
        b_all = K.gram_hashes_positional(b, w)
        assert a_blocks.size and b_all.size
        assert np.isin(a_blocks, b_all).any(), (
            f"trial {trial}: screen false-rejected LCS {true_lcs} >= {t}"
        )


def test_gram_hashes_positional_matches_substring_identity():
    import numpy as np

    rng = random.Random(9)
    text = _rand_text(rng, 400)
    k = 12
    h = K.gram_hashes_positional(text, k)
    assert h.size == len(text.encode()) - k + 1
    # every k-gram of a substring appears among the full text's grams
    assert np.isin(K.gram_hashes_positional(text[10:90], k), h).all()


@given(
    st.text(alphabet="abx ", min_size=0, max_size=100),
    st.text(alphabet="abx ", min_size=0, max_size=100),
    st.integers(min_value=1, max_value=40),
)
@settings(max_examples=150, deadline=None)
def test_has_common_run_matches_naive_lcs(a, b, L):
    """The verify decision probe is EXACT: has_common_run(a,b,L) iff the
    true LCS >= L (small adversarial alphabet maximizes hash-hit volume)."""
    assert K.has_common_run(a, b, L) == (K.lcs_naive(a, b) >= L)


def test_run_hashes_window_identity():
    rng = random.Random(17)
    t = _rand_text(rng, 500)
    for L in (1, 7, 63, 250, 400):
        h = K.run_hashes(t, L)
        assert h.size == len(t) - L + 1
        # equal windows hash equal: plant a repeat (t[100:100+L] needs
        # 100+L <= len(t))
        t2 = t + t[100:100 + L]
        h2 = K.run_hashes(t2, L)
        assert h2[100] == h2[len(t)]
    assert K.run_hashes(t, 500).size == 1
    assert K.run_hashes(t, len(t) + 1).size == 0
    assert K.run_hashes("", 3).size == 0


def test_fused_minhash_simhash_bit_identical():
    """kernels.minhash_simhash_batch must equal the two separate kernels
    exactly — the fused pass is a physical optimization (one Arrow hop, one
    shingle hashing), never a semantic change."""
    import numpy as np

    from dedup import kernels as K

    rng = np.random.default_rng(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(0, 60)))
        for _ in range(50)
    ] + ["", "ab", "identical text identical text"] * 2
    a, b = K.make_minhash_coeffs(128, seed=42)
    sig_f, sim_f = K.minhash_simhash_batch(texts, 9, a, b, normalize=True)
    sig_s = K.minhash_batch(texts, 9, a, b, normalize=True)
    sim_s = K.simhash_batch(texts, 9, normalize=True)
    assert (sig_f == sig_s).all()
    assert (sim_f == sim_s).all()


# ---------------------------------------------------------------------------
# native acceleration: bit-identity vs the numpy reference (round 4)
# ---------------------------------------------------------------------------

def test_native_kernels_bit_identical_to_numpy():
    """The C layer (_native) is an accelerator only: minhash fold, window
    hashes, and simhash must be BIT-identical to the numpy reference on
    random and adversarial inputs. Skipped when no compiler is available
    (kernels then run the numpy path everywhere)."""
    import numpy as np
    import pytest

    from dedup import _native
    from dedup import kernels as K

    if _native.LIB is None:
        pytest.skip("no native build on this host")
    rng = np.random.default_rng(3)
    a, b = K.make_minhash_coeffs(128, 42)
    for n in (1, 2, 7, 255, 256, 257, 4096, 100_000):
        sh = rng.integers(0, 1 << 63, size=n, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
        got = K.minhash_from_hashes(sh, a, b)
        ref = K._minhash_from_hashes_np(sh, a, b)
        np.testing.assert_array_equal(got, ref)
        got_s = K.simhash64(sh)
        ref_s = K._simhash64_np(sh)
        assert got_s == ref_s, n
    # adversarial simhash ties: all-same hash (counts == n on set bits)
    same = np.full(10, np.uint64(0x0F0F0F0F0F0F0F0F), dtype=np.uint64)
    assert K.simhash64(same) == K._simhash64_np(same)
    # window hashes across widths and short strings
    for text in ("a", "ab", "abcdefghij", "x" * 5000, "päö∂ñ" * 100):
        for k in (2, 3, 9, 16):
            data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            if data.size < k:
                continue
            got_w = K._window_hashes(data, k)
            ref_w = K._window_hashes_np(data.astype(np.uint64), k)
            np.testing.assert_array_equal(got_w, ref_w)


def test_native_disable_env_falls_back(monkeypatch):
    """DEDUP_DISABLE_NATIVE must force the numpy path with equal results."""
    import numpy as np

    from dedup import _native
    from dedup import kernels as K

    rng = np.random.default_rng(5)
    sh = rng.integers(0, 1 << 63, size=1000, dtype=np.uint64)
    a, b = K.make_minhash_coeffs(64, 7)
    with_native = K.minhash_from_hashes(sh, a, b)
    monkeypatch.setattr(_native, "LIB", None)
    without = K.minhash_from_hashes(sh, a, b)
    np.testing.assert_array_equal(with_native, without)


def test_longest_common_run_from_equals_suffix_array():
    """The binary-probe evidence kernel must return EXACTLY the suffix-array
    LCS whenever its precondition holds (a feasible lower bound)."""
    import numpy as np

    from dedup import kernels as K

    rng = np.random.default_rng(17)
    alpha = "abcdefgh "
    for _ in range(60):
        n = int(rng.integers(20, 400))
        a = "".join(rng.choice(list(alpha), size=n))
        # plant a shared run of random length inside b
        run_len = int(rng.integers(5, max(6, n // 2)))
        start = int(rng.integers(0, n - run_len + 1))
        run = a[start:start + run_len]
        b = (
            "".join(rng.choice(list(alpha), size=int(rng.integers(10, 200))))
            + run
            + "".join(rng.choice(list(alpha), size=int(rng.integers(10, 200))))
        )
        true_lcs = K.longest_common_substring(a, b)
        for lo in {1, run_len // 2 or 1, run_len}:
            if K.has_common_run(a, b, lo):
                assert K.longest_common_run_from(a, b, lo) == true_lcs
    # identical strings: full length
    s = "x" * 137
    assert K.longest_common_run_from(s, s, 1) == 137


def test_run_hasher_bit_identical_to_run_hashes():
    """RunHasher.hashes(L) must equal run_hashes(text, L) EXACTLY for every
    window length — the memoized prefix/inverse-power state is a physical
    optimization of the same uint64 arithmetic, never a new hash family."""
    import numpy as np

    rng = random.Random(23)
    texts = [
        "",
        "a",
        "ab",
        _rand_text(rng, 50),
        _rand_text(rng, 500),
        "x" * 137,                      # degenerate: single repeated char
        "héllo wörld ünïcode " * 20,    # non-ASCII code points
    ]
    for t in texts:
        h = K.RunHasher(t)
        n = len(t)
        for L in {0, 1, 2, 3, 7, n // 2, n - 1, n, n + 1, n + 50}:
            np.testing.assert_array_equal(
                h.hashes(L), K.run_hashes(t, L), err_msg=f"n={n} L={L}"
            )


def test_longest_common_run_from_hasher_path_identical():
    """The hasher-backed binary search must return exactly the plain-path
    value (same probe, memoized setup)."""
    rng = random.Random(31)
    for _ in range(40):
        a = _rand_text(rng, rng.randrange(20, 300))
        run = a[len(a) // 4: len(a) // 4 + rng.randrange(5, 40)]
        b = _rand_text(rng, rng.randrange(10, 200)) + run + _rand_text(
            rng, rng.randrange(10, 200)
        )
        lo = max(1, len(run) // 2)
        if not K.has_common_run(a, b, lo):
            continue
        expect = K.longest_common_run_from(a, b, lo)
        got = K.longest_common_run_from(
            a, b, lo, hasher_a=K.RunHasher(a), hasher_b=K.RunHasher(b)
        )
        assert got == expect


def test_run_hashes_batch_bit_identical_to_per_text():
    import numpy as np

    from dedup import kernels as K

    rng = np.random.default_rng(5)
    texts = []
    for i in range(50):
        n = int(rng.integers(0, 300))
        texts.append("".join(chr(int(c)) for c in rng.integers(32, 0x2FFF, n)))
    texts += ["", "x", "abc" * 100]
    for L in (1, 7, 64, 120):
        h, counts = K.run_hashes_batch(texts, L)
        off = 0
        for t, c in zip(texts, counts):
            ref = K.run_hashes(t, L)
            assert ref.size == c
            assert np.array_equal(h[off:off + int(c)], ref)
            off += int(c)
        assert off == h.size


# ---------------------------------------------------------------------------
# winnowed fingerprints (the verify stage's pre-shuffle LCS screen)
# ---------------------------------------------------------------------------

def _winnow_naive(t: str, L: int) -> np.ndarray:
    """Reference: the set of minima over every w-window of run_hashes(t, k)."""
    k = max(1, L // 2)
    w = L - k + 1
    h = K.run_hashes(t, k)
    mins = {int(h[i:i + w].min()) for i in range(h.size - w + 1)}
    return np.array(sorted(mins), dtype=np.uint64)


def test_winnow_fingerprints_matches_naive_reference():
    rng = random.Random(29)
    for L in (1, 2, 3, 8, 29, 30, 60):  # odd and even L
        for n in (0, 1, L - 1, L, L + 1, 2 * L + 3, 400):
            t = _rand_text(rng, n)
            got = K.winnow_fingerprints(t, L)
            assert got.dtype == np.uint64
            assert np.array_equal(got, _winnow_naive(t, L)), (L, n)
            if n < L:
                assert got.size == 0, (L, n)
            else:
                assert got.size >= 1, (L, n)
    assert K.winnow_fingerprints("", 30).size == 0


_RUN_ALPHABET = "abx é漢"


@given(
    st.integers(min_value=1, max_value=40).flatmap(
        lambda L: st.tuples(
            st.just(L),
            st.text(alphabet=_RUN_ALPHABET, min_size=L, max_size=L + 30),
        )
    ),
    st.text(alphabet=_RUN_ALPHABET, max_size=120),
    st.text(alphabet=_RUN_ALPHABET, max_size=120),
    st.text(alphabet=_RUN_ALPHABET, max_size=120),
    st.text(alphabet=_RUN_ALPHABET, max_size=120),
)
@settings(max_examples=200, deadline=None)
def test_winnow_fingerprints_shared_run_always_intersects(
    L_run, pre_a, post_a, pre_b, post_b
):
    """Two texts sharing a run of >= L chars, at any offsets, always share
    a winnowed fingerprint: the screen built on them cannot miss a pair
    whose LCS reaches L."""
    L, run = L_run
    fa = K.winnow_fingerprints(pre_a + run + post_a, L)
    fb = K.winnow_fingerprints(pre_b + run + post_b, L)
    assert np.intersect1d(fa, fb).size > 0
