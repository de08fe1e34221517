"""Pure numpy kernels for the signature and verification math.

Everything here is Series/array-at-a-time numpy — no Spark imports — so the
kernels are (a) directly property-testable under plain pytest/hypothesis and
(b) callable from vectorized pandas UDFs without per-row Python work in the
hot loops (BASELINE.json input_hint mandate).

Determinism: every kernel's randomness comes from an explicit seed
(SURVEY.md section 2.3 invariant 1: same content => same signature, seeds fixed
by config — the generalization of the reference's stable-`id` requirement,
reference README.md:14-16).
"""

from __future__ import annotations

import numpy as np

from . import _native

MERSENNE_61 = np.uint64((1 << 61) - 1)
MAX_HASH_32 = np.uint64((1 << 32) - 1)
_FNV_PRIME = np.uint64(1099511628211)
_SPLITMIX_1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_2 = np.uint64(0x94D049BB133111EB)

# numpy warns on intentional uint64 wraparound; it is the point here.
_wrap = np.errstate(over="ignore")


def mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — avalanche a uint64 array (public constant set)."""
    with _wrap:
        h = np.asarray(h, dtype=np.uint64).copy()
        h ^= h >> np.uint64(30)
        h *= _SPLITMIX_1
        h ^= h >> np.uint64(27)
        h *= _SPLITMIX_2
        h ^= h >> np.uint64(31)
    return h


_POLY_POWERS_CACHE: dict[int, np.ndarray] = {}


def _poly_powers(k: int) -> np.ndarray:
    """[1, R, R^2, ..., R^(k-1)] in uint64 with natural wraparound.

    Cached per k (callers only read — slices, reversed views, ctypes
    pointers): the verify worker calls this once per DOC at a fixed small
    k, and the cumprod + errstate setup was a measured ~30% of
    char_shingle_hashes' time. The cache also keeps the array alive across
    the native call (see _window_hashes' use-after-free note)."""
    p = _POLY_POWERS_CACHE.get(k)
    if p is None:
        with _wrap:
            p = np.ones(k, dtype=np.uint64)
            if k > 1:
                p[1:] = np.cumprod(np.full(k - 1, _FNV_PRIME, dtype=np.uint64))
        _POLY_POWERS_CACHE[k] = p
    return p


def normalize_text(text: str) -> str:
    """Cheap normalization before shingling: lowercase, collapse whitespace.

    Keeps type-2 clones (identifier rename + whitespace edits) close in
    shingle space without destroying structure.
    """
    return " ".join(text.lower().split())


def _window_hashes_np(data: np.ndarray, k: int) -> np.ndarray:
    """Numpy reference: mix64 of the k-wide rolling polynomial over uint8
    `data`; result[i] hashes bytes [i, i+k). The C twin is
    _native window_hashes (bit-identity test-pinned)."""
    with _wrap:
        powers = _poly_powers(k)
        windows = np.lib.stride_tricks.sliding_window_view(data, k)
        h = (windows * powers[::-1]).sum(axis=1, dtype=np.uint64)
    return mix64(h)


def _window_hashes(data: np.ndarray, k: int) -> np.ndarray:
    if _native.LIB is not None:
        out = np.empty(data.size - k + 1, dtype=np.uint64)
        # Bind every buffer to a local that outlives the call: ctypes
        # argument conversion allocates, so a temporary like
        # `_poly_powers(k).ctypes.data` can be freed (and its memory
        # reused) before the native code reads it.
        cdata = np.ascontiguousarray(data)
        powers = _poly_powers(k)
        _native.LIB.window_hashes(
            cdata.ctypes.data, cdata.size, k,
            powers.ctypes.data, out.ctypes.data,
        )
        return out
    return _window_hashes_np(data.astype(np.uint64), k)


def char_shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct 64-bit hashes of all k-char shingles of `text` (uint64).

    Rolling polynomial hash over the UTF-8 bytes via a sliding window,
    then a splitmix64 finalizer to spread low-entropy polynomial values
    across the full 64-bit space. Native-accelerated when _native built.
    """
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = data.size
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        # whole-text fallback: one shingle
        with _wrap:
            powers = _poly_powers(n)
            h = np.array(
                [(data.astype(np.uint64) * powers[::-1]).sum()],
                dtype=np.uint64,
            )
        return mix64(h)
    return np.unique(_window_hashes(data, k))


def gram_hashes_positional(text: str, k: int) -> np.ndarray:
    """64-bit hashes of ALL k-byte grams in position order (duplicates
    kept): result[i] hashes bytes [i, i+k). Same rolling polynomial +
    splitmix64 as char_shingle_hashes, WITHOUT the unique() — the verify
    stage's LCS pigeonhole screen needs aligned positional blocks."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = data.size
    if n == 0 or n < k:
        return np.empty(0, dtype=np.uint64)
    return _window_hashes(data, k)


def _inv64(x: int) -> np.uint64:
    """Multiplicative inverse of odd x modulo 2^64 (Newton iteration)."""
    x = np.uint64(x)
    inv = x
    with _wrap:
        for _ in range(6):
            inv = inv * (np.uint64(2) - x * inv)
    return inv


_FNV_INV = None  # lazily computed inverse of _FNV_PRIME


def run_hashes(text: str, L: int) -> np.ndarray:
    """Rolling hashes of ALL length-L CHAR windows in position order, O(n)
    regardless of L (prefix sums + modular inverse powers, wraparound-safe
    in uint64). result[s] hashes text[s:s+L]. Unlike char_shingle_hashes
    (O(n*k), byte-level, deduped), this supports the verify stage's
    common-run probe where L can be thousands of chars."""
    global _FNV_INV
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    n = codes.size
    if L <= 0 or n < L:
        return np.empty(0, dtype=np.uint64)
    if _FNV_INV is None:
        _FNV_INV = _inv64(_FNV_PRIME)
    with _wrap:
        codes = codes.astype(np.uint64)
        pw = np.ones(n, dtype=np.uint64)                      # R^i
        if n > 1:
            pw[1:] = np.cumprod(np.full(n - 1, _FNV_PRIME, dtype=np.uint64))
        m = n - L + 1
        ipw = np.ones(m, dtype=np.uint64)                     # R^-s
        if m > 1:
            ipw[1:] = np.cumprod(np.full(m - 1, _FNV_INV, dtype=np.uint64))
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(codes * pw, dtype=np.uint64, out=prefix[1:])
        h = (prefix[L:] - prefix[:m]) * ipw    # sum a_i R^(i-s), i in [s,s+L)
    return mix64(h)


def run_hashes_batch(
    texts: "list[str]", L: int
) -> tuple[np.ndarray, np.ndarray]:
    """Rolling window hashes for MANY texts in ONE vectorized pass.

    Returns (h, counts): `h` is the concatenation of run_hashes(t, L) for
    every t (texts shorter than L contribute 0 windows), `counts[i]` the
    window count of texts[i]. BIT-IDENTICAL to per-text run_hashes: all
    arithmetic is exact uint64 modular (wraparound), and the global-offset
    powers cancel — (prefix[S+L] - prefix[S]) * R^-S over the concatenated
    code stream equals sum code_j * R^(j-s) over the text's own positions,
    the same canonical value mod 2^64 the per-text form computes (pinned by
    test_kernels). Replaces a per-doc O(1)-but-allocation-heavy setup
    (encode + two cumprods + cumsum per doc, ~60 us/doc) with one setup per
    batch — the span channel's sampled emit was dominated by it (r6,
    guide §4.2/§4.5).
    """
    global _FNV_INV
    if _FNV_INV is None:
        _FNV_INV = _inv64(_FNV_PRIME)
    lens = np.array([len(t) for t in texts], dtype=np.int64)
    counts = np.maximum(lens - L + 1, 0)
    if L <= 0 or len(texts) == 0 or counts.sum() == 0:
        return np.empty(0, dtype=np.uint64), counts
    codes = np.frombuffer(
        "".join(texts).encode("utf-32-le"), dtype=np.uint32
    )
    n = codes.size
    with _wrap:
        codes = codes.astype(np.uint64)
        pw = np.ones(n, dtype=np.uint64)
        ipw = np.ones(n, dtype=np.uint64)
        if n > 1:
            pw[1:] = np.cumprod(np.full(n - 1, _FNV_PRIME, dtype=np.uint64))
            ipw[1:] = np.cumprod(np.full(n - 1, _FNV_INV, dtype=np.uint64))
        prefix = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(codes * pw, dtype=np.uint64, out=prefix[1:])
        # valid global window starts: for each text, offset .. offset+m-1
        offsets = np.concatenate(([0], np.cumsum(lens)))[:-1]
        total = int(counts.sum())
        # S = global start positions of every window, all texts at once
        S = (np.arange(total, dtype=np.int64)
             - np.repeat(np.concatenate(([0], np.cumsum(counts)))[:-1], counts)
             + np.repeat(offsets, counts))
        h = (prefix[S + L] - prefix[S]) * ipw[S]
    return mix64(h), counts


def winnow_fingerprints(text: str, L: int) -> np.ndarray:
    """Winnowed fingerprints of `text` (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): the sorted unique uint64 set of minima over every window
    of w consecutive run_hashes(text, k), with k = max(1, L // 2) and
    w = L - k + 1.

    One window spans w + k - 1 = L chars, so any common run of >= L chars
    holds a full window in both texts, and selection by value puts that
    window's minimum in both sets: two texts sharing a run of >= L chars
    always share a fingerprint. Empty when len(text) < L. About 2/(w+1)
    of the window positions are selected.

    The window minimum is the O(n) van Herk/Gil-Werman form: per w-block
    prefix and suffix minima, so window [i, i+w) is
    min(suffix[i], prefix[i+w-1])."""
    k = max(1, L // 2)
    w = L - k + 1
    h = run_hashes(text, k)
    m = h.size
    if L <= 0 or m < w:
        return np.empty(0, dtype=np.uint64)
    pad = np.full(-m % w, np.iinfo(np.uint64).max, dtype=np.uint64)
    blocks = np.concatenate((h, pad)).reshape(-1, w)
    prefix = np.minimum.accumulate(blocks, axis=1).ravel()
    suffix = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.unique(np.minimum(suffix[:m - w + 1], prefix[w - 1:m]))


class RunHasher:
    """Memoized per-document state for `run_hashes`: the L-INDEPENDENT work
    (utf-32 encode, power/inverse-power cumprods, prefix sums — three O(n)
    passes with allocations) runs ONCE per text; each window length L then
    costs one vectorized subtract, one multiply, and the mix64 finalizer.

    The verify worker asks one document for MANY lengths — the level
    screen's grid level, each pair's own threshold for the exact probe, and
    ~log2(n) binary-search midpoints per accepted pair — so hoisting the
    shared state is the dominant accept-path saving.

    BIT-IDENTICAL to run_hashes(text, L): same uint64 wraparound arithmetic
    (the sliced full-length inverse-power cumprod equals run_hashes' local
    length-m cumprod by the prefix property); pinned by test."""

    __slots__ = ("n", "_prefix", "_ipw")

    def __init__(self, text: str):
        global _FNV_INV
        if _FNV_INV is None:
            _FNV_INV = _inv64(_FNV_PRIME)
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        n = codes.size
        self.n = n
        with _wrap:
            codes = codes.astype(np.uint64)
            pw = np.ones(n, dtype=np.uint64)                  # R^i
            ipw = np.ones(n, dtype=np.uint64)                 # R^-i
            if n > 1:
                pw[1:] = np.cumprod(np.full(n - 1, _FNV_PRIME, dtype=np.uint64))
                ipw[1:] = np.cumprod(np.full(n - 1, _FNV_INV, dtype=np.uint64))
            prefix = np.zeros(n + 1, dtype=np.uint64)
            np.cumsum(codes * pw, dtype=np.uint64, out=prefix[1:])
        self._prefix = prefix
        self._ipw = ipw

    def hashes(self, L: int) -> np.ndarray:
        """result[s] = mix64(sum_{i in [s, s+L)} code_i * R^(i-s)) — the
        exact run_hashes(text, L) array."""
        n = self.n
        if L <= 0 or n < L:
            return np.empty(0, dtype=np.uint64)
        m = n - L + 1
        with _wrap:
            h = (self._prefix[L:] - self._prefix[:m]) * self._ipw[:m]
        return mix64(h)


def has_common_run(a: str, b: str, L: int, max_confirms: int = 32) -> bool:
    """EXACT decision: does a common substring of length >= L exist?

    O(|a|+|b|) Rabin-Karp window hashing on both sides; every hash hit is
    CONFIRMED by a direct substring comparison, so collisions can only cost
    extra work, never a wrong answer. If more than `max_confirms` distinct
    hit positions all fail to confirm (collision probability ~ nm/2^64 —
    practically unreachable), falls back to the exact suffix-array LCS.
    """
    if L <= 0:
        return True
    ha = run_hashes(a, L)
    hb = run_hashes(b, L)
    return _confirm_common_run(a, b, L, ha, hb, max_confirms)


def _confirm_common_run(
    a: str, b: str, L: int,
    ha: np.ndarray, hb: np.ndarray, max_confirms: int = 32,
) -> bool:
    """Hit-confirmation half of has_common_run (split out so callers can
    memoize the window-hash arrays per document)."""
    if ha.size == 0 or hb.size == 0:
        return False
    hits = np.nonzero(np.isin(ha, hb))[0]
    if hits.size == 0:
        return False
    for i in hits[:max_confirms]:
        if a[int(i):int(i) + L] in b:
            return True
    if hits.size > max_confirms:
        return longest_common_substring(a, b) >= L
    return False


def make_minhash_coeffs(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Multiply-shift universal-hash coefficients (A odd, B arbitrary)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    a = (a << np.uint64(1)) | np.uint64(1)  # force odd
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


_MINHASH_CHUNK = 256  # shingles per block: keeps the (num_perm x chunk)
# intermediate ~256 KB (uint64) — L2-resident, the kernel is memory-bound


def _minhash_from_hashes_np(
    shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Numpy reference for the fold (C twin bit-identity test-pinned).
    Processed in shingle blocks with a running minimum so the intermediate
    matrix stays cache-resident instead of streaming num_perm x n_shingles
    through memory."""
    acc = np.full(a.size, np.iinfo(np.uint64).max, dtype=np.uint64)
    a2 = a[:, None]
    b2 = b[:, None]
    with _wrap:
        for i in range(0, shingle_hashes.size, _MINHASH_CHUNK):
            chunk = shingle_hashes[i:i + _MINHASH_CHUNK]
            prod = a2 * chunk[None, :] + b2
            np.minimum(acc, (prod >> np.uint64(32)).min(axis=1), out=acc)
    return acc


def minhash_from_hashes(
    shingle_hashes: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """MinHash signature (uint64 values < 2^32) of one shingle-hash set.

    sig[i] = min over shingles s of top-32-bits(a[i]*s + b[i]) — the
    multiply-shift family (Dietzfelbinger et al.), all uint64 wraparound.
    This fold is the dominant signature cost (num_perm ops per shingle);
    dispatched to the native kernel when _native built (~15x on AVX-512).
    """
    if shingle_hashes.size == 0:
        return np.full(a.size, MAX_HASH_32, dtype=np.uint64)
    if _native.LIB is not None:
        out = np.empty(a.size, dtype=np.uint64)
        # Locals keep the (possibly copied) buffers alive across the call
        # — see _window_hashes for the use-after-free this prevents.
        csh = np.ascontiguousarray(shingle_hashes)
        ca = np.ascontiguousarray(a)
        cb = np.ascontiguousarray(b)
        _native.LIB.minhash_fold(
            csh.ctypes.data, csh.size,
            ca.ctypes.data, cb.ctypes.data,
            ca.size, out.ctypes.data,
        )
        return out
    return _minhash_from_hashes_np(shingle_hashes, a, b)


def minhash_batch(
    texts: "list[str] | np.ndarray",
    k: int,
    a: np.ndarray,
    b: np.ndarray,
    normalize: bool = True,
) -> np.ndarray:
    """Signatures for a batch of texts -> (n_docs, num_perm) uint64.

    The loop is over documents (each iteration fully vectorized over
    shingles x permutations); there is no per-row Python inside Spark —
    this whole function runs once per Arrow batch.
    """
    out = np.empty((len(texts), a.size), dtype=np.uint64)
    for i, t in enumerate(texts):
        if normalize:
            t = normalize_text(t)
        out[i] = minhash_from_hashes(char_shingle_hashes(t, k), a, b)
    return out


def minhash_simhash_batch(
    texts: "list[str] | np.ndarray",
    k: int,
    a: np.ndarray,
    b: np.ndarray,
    normalize: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Both signature channels in ONE pass over the batch: normalization and
    the rolling shingle hash (the per-doc O(n*k) step, shared by MinHash and
    SimHash) run once instead of once per channel, and the fat `content`
    column crosses the Arrow boundary once. Outputs are bit-identical to
    minhash_batch / simhash_batch — the channels differ only in how they
    fold the SAME shingle-hash set."""
    sigs = np.empty((len(texts), a.size), dtype=np.uint64)
    sims = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if normalize:
            t = normalize_text(t)
        hs = char_shingle_hashes(t, k)
        sigs[i] = minhash_from_hashes(hs, a, b)
        sims[i] = simhash64(hs)
    return sigs, sims


def band_hashes(signatures: np.ndarray, bands: int, rows_per_band: int) -> np.ndarray:
    """LSH band keys: (n_docs, bands) int64.

    Each band's `rows_per_band` signature values are combined with a
    polynomial in the FNV prime then finalized; viewed as int64 for Spark
    (bit-preserving — Spark has no unsigned types).
    """
    n_docs = signatures.shape[0]
    sig = signatures.reshape(n_docs, bands, rows_per_band)
    with _wrap:
        acc = np.zeros((n_docs, bands), dtype=np.uint64)
        for r in range(rows_per_band):
            acc = acc * _FNV_PRIME + sig[:, :, r]
    return mix64(acc).view(np.int64)


def est_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """MinHash Jaccard estimate: fraction of agreeing signature slots."""
    return float(np.mean(sig_a == sig_b))


def jaccard_shingles(text_a: str, text_b: str, k: int, normalize: bool = True) -> float:
    """Exact k-shingle Jaccard — the brute-force oracle for recall tests."""
    if normalize:
        text_a, text_b = normalize_text(text_a), normalize_text(text_b)
    sa = char_shingle_hashes(text_a, k)
    sb = char_shingle_hashes(text_b, k)
    if sa.size == 0 and sb.size == 0:
        return 1.0
    inter = np.intersect1d(sa, sb, assume_unique=True).size
    return inter / float(sa.size + sb.size - inter)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash64_np(shingle_hashes: np.ndarray) -> np.int64:
    """Numpy reference (C twin bit-identity test-pinned). Bit expansion via
    np.unpackbits over the little-endian byte view — (n, 64) uint8 instead
    of an (n, 64) uint64 matrix: 8x less memory traffic."""
    n = shingle_hashes.size
    bytes_le = shingle_hashes.astype("<u8").view(np.uint8).reshape(n, 8)
    bits = np.unpackbits(bytes_le, axis=1, bitorder="little")  # (n, 64)
    counts = bits.sum(axis=0, dtype=np.int64)
    vec = (counts * 2 >= n).astype(np.uint8)
    packed_bytes = np.packbits(vec, bitorder="little")  # 8 bytes
    return packed_bytes.view("<u8").astype(np.uint64).view(np.int64)[0]


def simhash64(shingle_hashes: np.ndarray) -> np.int64:
    """64-bit SimHash of one shingle-hash set (majority vote per bit; bit
    set iff 2*count >= n). Native-accelerated when _native built."""
    if shingle_hashes.size == 0:
        return np.int64(0)
    if _native.LIB is not None:
        sh = np.ascontiguousarray(shingle_hashes, dtype=np.uint64)
        raw = _native.LIB.simhash64(sh.ctypes.data, sh.size)
        return np.int64(np.array(raw, dtype=np.uint64).view(np.int64))
    return _simhash64_np(shingle_hashes)


def simhash_batch(
    texts: "list[str] | np.ndarray", k: int, normalize: bool = True
) -> np.ndarray:
    """SimHash for a batch of texts -> (n_docs,) int64."""
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if normalize:
            t = normalize_text(t)
        out[i] = simhash64(char_shingle_hashes(t, k))
    return out


def hamming_blocks(simhash: np.ndarray, n_blocks: int) -> np.ndarray:
    """Split 64-bit simhashes into n_blocks equal bit-blocks -> (n, n_blocks) int64.

    Pigeonhole: two hashes within Hamming distance r = n_blocks-1 agree
    exactly on at least one block, so equi-joining on (block_id, block_value)
    is a complete candidate generator for the Hamming ball.
    """
    width = 64 // n_blocks
    mask = np.uint64((1 << width) - 1)
    u = np.asarray(simhash, dtype=np.int64).view(np.uint64)
    cols = [((u >> np.uint64(width * i)) & mask).view(np.int64) for i in range(n_blocks)]
    return np.stack(cols, axis=1)


def hamming_distance(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Popcount of xor over int64 arrays (vectorized)."""
    x = (np.asarray(a, dtype=np.int64).view(np.uint64)
         ^ np.asarray(b, dtype=np.int64).view(np.uint64))
    # vectorized popcount via byte-table lookup
    table = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    out = np.zeros(x.shape, dtype=np.int64)
    for shift in range(0, 64, 8):
        out += table[((x >> np.uint64(shift)) & np.uint64(0xFF)).astype(np.intp)]
    return out


# ---------------------------------------------------------------------------
# Suffix-array longest common substring (verification kernel)
# ---------------------------------------------------------------------------

def _suffix_array_doubling(s: np.ndarray) -> tuple[np.ndarray, list[tuple[int, np.ndarray]]]:
    """Suffix array by prefix doubling (O(n log^2 n) with np.lexsort).

    Returns (sa, levels) where levels is [(span, rank_at_span), ...] with
    rank_at_span[i] identifying s[i:i+span] (truncated at the end); used for
    O(log n) pairwise LCP by binary lifting.
    """
    n = s.size
    _, rank = np.unique(s, return_inverse=True)
    rank = rank.astype(np.int64)
    levels: list[tuple[int, np.ndarray]] = [(1, rank)]
    span = 1
    idx = np.arange(n, dtype=np.int64)
    while span < n and rank.max() < n - 1:
        key2 = np.full(n, -1, dtype=np.int64)
        key2[: n - span] = rank[span:]
        order = np.lexsort((key2, rank))
        r_ord = rank[order]
        k_ord = key2[order]
        new_rank_ord = np.zeros(n, dtype=np.int64)
        if n > 1:
            diff = (r_ord[1:] != r_ord[:-1]) | (k_ord[1:] != k_ord[:-1])
            new_rank_ord[1:] = np.cumsum(diff)
        rank = np.empty(n, dtype=np.int64)
        rank[order] = new_rank_ord
        span *= 2
        levels.append((span, rank))
        _ = idx  # keep shape referenced
    sa = np.argsort(rank, kind="stable").astype(np.int64)
    return sa, levels


def _pairwise_lcp(
    levels: list[tuple[int, np.ndarray]], i_idx: np.ndarray, j_idx: np.ndarray, n: int
) -> np.ndarray:
    """LCP(s[i:], s[j:]) for aligned index arrays, via binary lifting over the
    doubling rank tables. Fully vectorized across pairs."""
    lcp = np.zeros(i_idx.size, dtype=np.int64)
    i = i_idx.astype(np.int64).copy()
    j = j_idx.astype(np.int64).copy()
    for span, rank in reversed(levels):
        live = (i < n) & (j < n)
        ii = np.where(live, i, 0)
        jj = np.where(live, j, 0)
        eq = live & (rank[ii] == rank[jj])
        adv = eq & (i + span <= n) & (j + span <= n)
        # If equal at this span but one suffix ends inside the span, the
        # truncated strings are identical; the LCP is bounded by the shorter
        # remaining length and no further level can extend it.
        end_eq = eq & ~adv
        lcp = np.where(end_eq, lcp + np.minimum(n - i, n - j), lcp)
        i = np.where(end_eq, np.int64(n), i)
        j = np.where(end_eq, np.int64(n), j)
        lcp = np.where(adv, lcp + span, lcp)
        i = np.where(adv, i + span, i)
        j = np.where(adv, j + span, j)
    return lcp


def longest_common_substring(a: str, b: str) -> int:
    """Length of the longest common substring of `a` and `b`.

    Suffix array (doubling) over the concatenation with a unique separator,
    then max LCP over adjacent suffix-array entries that come from different
    source strings — the classic reduction. All heavy steps vectorized.
    """
    ba = np.frombuffer(a.encode("utf-8"), dtype=np.uint8).astype(np.int32)
    bb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8).astype(np.int32)
    if ba.size == 0 or bb.size == 0:
        return 0
    sep = np.array([256], dtype=np.int32)  # outside byte range: never matches
    s = np.concatenate([ba, sep, bb])
    n = s.size
    sa, levels = _suffix_array_doubling(s)
    from_a = sa < ba.size  # suffixes starting in `a` (separator belongs to neither)
    is_sep = sa == ba.size
    keep = ~is_sep
    sa_k = sa[keep]
    from_a_k = from_a[keep]
    if sa_k.size < 2:
        return 0
    cross = from_a_k[1:] != from_a_k[:-1]
    if not cross.any():
        return 0
    i_idx = sa_k[:-1][cross]
    j_idx = sa_k[1:][cross]
    lcp = _pairwise_lcp(levels, i_idx, j_idx, n)
    # A common prefix can never span the separator (it occurs once), so no cap
    # beyond each suffix's own extent is needed.
    return int(lcp.max(initial=0))


def longest_common_run_from(
    a: str, b: str, lo: int,
    hasher_a: "RunHasher | None" = None,
    hasher_b: "RunHasher | None" = None,
) -> int:
    """EXACT longest-common-substring length, given a known-feasible lower
    bound `lo` (the caller has already confirmed has_common_run(a, b, lo)).

    Binary search over the exact O(n) probe: ~log2(min_len) probes, each a
    Rabin-Karp pass + substring confirm — measured ~5x cheaper than one
    O(n log^2 n) suffix-array build on clone-scale docs, with IDENTICAL
    results (the probe is exact, so the search converges to the true max).
    The suffix array stays as the collision fallback inside has_common_run
    and as the independent oracle in tests.

    Callers holding RunHasher state for both docs (the verify worker's
    per-batch memo) pass it so each midpoint probe skips the per-call
    encode/cumprod/cumsum setup."""
    hi = min(len(a), len(b))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if hasher_a is not None and hasher_b is not None:
            found = _confirm_common_run(
                a, b, mid, hasher_a.hashes(mid), hasher_b.hashes(mid)
            )
        else:
            found = has_common_run(a, b, mid)
        if found:
            lo = mid
        else:
            hi = mid - 1
    return lo


def lcs_naive(a: str, b: str) -> int:
    """O(n*m) dynamic-programming longest-common-substring oracle (tests only)."""
    if not a or not b:
        return 0
    ba = np.frombuffer(a.encode("utf-8"), dtype=np.uint8)
    bb = np.frombuffer(b.encode("utf-8"), dtype=np.uint8)
    prev = np.zeros(bb.size + 1, dtype=np.int32)
    best = 0
    for i in range(ba.size):
        cur = np.zeros(bb.size + 1, dtype=np.int32)
        match = ba[i] == bb
        cur[1:][match] = prev[:-1][match] + 1
        best = max(best, int(cur.max(initial=0)))
        prev = cur
    return best
