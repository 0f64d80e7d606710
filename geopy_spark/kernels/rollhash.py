"""Shingle hashing shared by every dedup operator — vectorized numpy AND
DuckDB-twin expressible (north rule: vectorized pandas/Arrow UDFs, no
per-row Python; the SQL twin is what makes the near-dup oracles possible).

Design: a document is normalized to ``" ".join(text.lower().split())``;
word n-gram shingles are substrings of that normalized string.  Each
shingle is hashed with TWO independent polynomial rolling hashes over
Unicode codepoints,

    h_B,P(s) = sum_j (cp_j + 1) * B^(n-1-j)  mod P        (acc = acc*B + c)

combined as ``h = h1 * P2 + h2  (< 2^62)`` so collisions are ~1/4.6e18.
The numpy side computes ONE prefix-hash array per document and derives all
shingle hashes O(1) each (no per-shingle loops, no per-byte Python); the
DuckDB side evaluates the identical recurrence with ``list_reduce``.

The modular prefix trick: with Binv = B^-1 mod P,
    pre[i] = hash(norm[:i]) = B^(i-1) * cumsum(val_j * Binv^j)[i]  mod P
    hash(norm[l:r]) = (pre[r] - pre[l] * B^(r-l)) mod P
Every product of two residues < 2^31 fits uint64; the cumsum stays exact
for documents up to 2^33 codepoints (8 G — far beyond any real doc).
"""

from __future__ import annotations

import numpy as np

B1, P1 = 131, 2147483647   # 2^31 - 1
B2, P2 = 137, 2147483629   # prev prime

_POW_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _pow_table(base: int, P: int, size: int) -> np.ndarray:
    """base^i mod P for i in [0, size) — blocked build so the Python loop
    is O(sqrt)-ish, not O(size) (the batch path grows the table to the
    CONCATENATED batch length; a scalar loop there costs ~1 µs/entry).
    pw[k*m+j] = (base^m)^k * base^j; every product of two residues
    < 2^31 fits uint64."""
    m = 2048
    small = np.empty(m, dtype=np.uint64)
    small[0] = 1
    b, p = np.uint64(base), np.uint64(P)
    for j in range(1, m):
        small[j] = small[j - 1] * b % p
    nblk = (size + m - 1) // m
    big = np.empty(max(nblk, 1), dtype=np.uint64)
    big[0] = 1
    bm = small[m - 1] * b % p
    for k in range(1, nblk):
        big[k] = big[k - 1] * bm % p
    out = np.repeat(big[:nblk], m)[:size]
    out *= np.tile(small, max(nblk, 1))[:size]
    out %= p
    return out


def _pows(B: int, P: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(B^i mod P, B^-i mod P) for i in [0, n] — grown geometrically and
    cached per process (one-time O(maxlen) cost, amortized across docs)."""
    cached = _POW_CACHE.get((B, P))
    if cached is not None and cached[0].size > n:
        return cached
    size = max(n + 1, 4096)
    if cached is not None:
        size = max(size, cached[0].size * 2)
    binv = pow(B, P - 2, P)
    pw = _pow_table(B, P, size)
    ipw = _pow_table(binv, P, size)
    _POW_CACHE[(B, P)] = (pw, ipw)
    return pw, ipw


def _substr_hashes(cp1: np.ndarray, l: np.ndarray, r: np.ndarray,
                   B: int, P: int) -> np.ndarray:
    """Rolling hashes of norm[l_i:r_i] for all i, via one prefix pass.
    ``cp1`` = codepoints + 1 (uint64); all shingles are non-empty."""
    n = cp1.size
    pw, ipw = _pows(B, P, n)
    p = np.uint64(P)
    # cp1 ≤ 0x10FFFF+2 < 2^21 (codepoint + 1), so cp1·ipw < 2^52 stays
    # exact in uint64 without reducing cp1 first
    g = cp1 * ipw[:n] % p
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(g, out=s[1:])          # exact while n * 2^31 < 2^64
    s %= p
    pre = np.zeros(n + 1, dtype=np.uint64)
    pre[1:] = pw[:n] * s[1:] % p     # pre[i] = B^(i-1) * s[i]
    return (pre[r] + p - pre[l] * pw[r - l] % p) % p


# _substr_hashes' uint64 cumsum of residues < 2^31 is exact only while
# n * 2^31 < 2^64; past this many codepoints hashes are silently wrong
MAX_BATCH_CODEPOINTS = 2 ** 33


def check_batch_codepoints(n: int) -> None:
    """Refuse a concatenated batch the prefix sums cannot hash exactly."""
    if n >= MAX_BATCH_CODEPOINTS:
        raise ValueError(
            f"shingle batch of {n} codepoints reaches the exact-hash limit "
            f"of {MAX_BATCH_CODEPOINTS}; hash it in smaller batches")


_EMPTY_HASH = np.array([0], dtype=np.uint64)  # hash of "" is 0 in both rolls


def shingle_hashes(text, ngram: int = 3) -> np.ndarray:
    """Sorted unique 62-bit combined hashes of word n-gram shingles.
    Semantics: words = text.lower().split(); shingles = n-word joins
    (the whole word list if shorter than n; [""] for empty docs)."""
    words = str(text).lower().split()
    if not words:
        return _EMPTY_HASH
    norm = " ".join(words)
    cp1 = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    cp1 += np.uint64(1)
    n = cp1.size
    if len(words) < ngram:
        l = np.zeros(1, dtype=np.int64)
        r = np.full(1, n, dtype=np.int64)
    else:
        spaces = np.flatnonzero(cp1 == np.uint64(33))  # ' ' + 1
        starts = np.concatenate(([0], spaces + 1))
        ends = np.concatenate((spaces, [n]))
        k = len(words) - ngram + 1
        l = starts[:k]
        r = ends[ngram - 1:]
    h1 = _substr_hashes(cp1, l, r, B1, P1)
    h2 = _substr_hashes(cp1, l, r, B2, P2)
    return np.unique(h1 * np.uint64(P2) + h2)


def shingle_hashes_batch(texts, ngram: int = 3
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batched twin of :func:`shingle_hashes` over an iterable of texts.

    Returns ``(flat, starts, lens)`` with ``flat`` BIT-IDENTICAL to
    ``np.concatenate([shingle_hashes(t, ngram) for t in texts])`` and
    starts/lens delimiting each document's sorted-unique run — the exact
    flat layout the signature UDFs build today, produced in ONE prefix-
    hash pass over the concatenated normalized text instead of one
    numpy-call cascade per document (measured 0.335 s → vector cost for
    5k bench docs; the per-doc overhead, not the math, dominated).

    Correctness leans on two exact properties: the rolling-hash prefix
    identity hash(s[l:r]) = (pre[r] − pre[l]·B^(r−l)) mod P is position-
    independent, so documents concatenate with NO separators and every
    in-document [l, r) window hashes as if the document stood alone; and
    per-document sorted-unique falls out of one global lexsort keyed
    (doc, hash) + run-boundary mask — same values np.unique yields per
    document. Empty documents take l == r, and hash("") is 0 in both
    rolls, reproducing the per-doc [0] sentinel through the same path.
    The uint64 cumsum in _substr_hashes stays exact while the CONCATENATED
    batch is < 2^33 codepoints — Arrow batches are capped far below that
    (2048 rows/batch session default), and a larger batch raises
    ValueError (check_batch_codepoints) instead of hashing wrongly."""
    norms = [" ".join(str(t).lower().split()) for t in texts]
    nd = len(norms)
    if nd == 0:
        z = np.zeros(0, dtype=np.int64)
        return np.zeros(0, dtype=np.uint64), z, z
    dlen = np.fromiter((len(s) for s in norms), dtype=np.int64, count=nd)
    off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(dlen, out=off[1:])
    check_batch_codepoints(int(off[-1]))
    blob = "".join(norms)
    cp1 = np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32
                        ).astype(np.uint64)
    cp1 += np.uint64(1)
    spaces = np.flatnonzero(cp1 == np.uint64(33))        # ' ' + 1
    # words per doc: interior single spaces only (normalized), so
    # W_d = (#spaces in doc) + 1 for non-empty docs, 0 for empty
    sp_cut = np.searchsorted(spaces, off[1:])
    sp_d = np.diff(np.concatenate(([0], sp_cut)))
    W = np.where(dlen > 0, sp_d + 1, 0)
    # global word-start/word-end position arrays in document-major order:
    # starts are {doc offsets of non-empty docs} ∪ {space+1}, ends are
    # {spaces} ∪ {doc end offsets}; all positions distinct, so one sort
    # interleaves them correctly (norm never begins/ends with a space)
    ws = np.sort(np.concatenate((off[:-1][dlen > 0], spaces + 1)))
    we = np.sort(np.concatenate((spaces, off[1:][dlen > 0])))
    ws_off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(W, out=ws_off[1:])
    # shingle windows: k_d = W_d − ngram + 1 word-grams, or ONE whole-doc
    # window when W_d < ngram (covers the empty doc: l == r → hash 0)
    short = W < ngram
    k = np.where(short, 1, W - ngram + 1)
    k_off = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(k, out=k_off[1:])
    total = int(k_off[-1])
    did = np.repeat(np.arange(nd, dtype=np.int64), k)
    within = np.arange(total, dtype=np.int64) - np.repeat(k_off[:-1], k)
    short_s = short[did]
    wmax = max(ws.size - 1, 0)
    li = np.minimum(ws_off[did] + within, wmax)
    ri = np.minimum(ws_off[did] + within + (ngram - 1), wmax)
    if ws.size:
        l = np.where(short_s, off[:-1][did], ws[li])
        r = np.where(short_s, off[1:][did], we[ri])
    else:                                   # every doc empty/one-word-less
        l = off[:-1][did]
        r = off[1:][did]
    h1 = _substr_hashes(cp1, l, r, B1, P1)
    h2 = _substr_hashes(cp1, l, r, B2, P2)
    comb = h1 * np.uint64(P2) + h2
    # per-document sorted unique via one global lexsort + run mask
    order = np.lexsort((comb, did))
    hs = comb[order]
    dd = did[order]
    keep = np.ones(total, dtype=bool)
    keep[1:] = (dd[1:] != dd[:-1]) | (hs[1:] != hs[:-1])
    flat = hs[keep]
    lens = np.bincount(dd[keep], minlength=nd).astype(np.int64)
    starts = np.zeros(nd, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return flat, starts, lens


def hash_str62(s: str) -> int:
    """Scalar reference twin of the combined shingle hash (loop form) —
    used by tests to pin the vectorized kernel and the SQL generator."""
    a1 = a2 = 0
    for ch in s:
        c = ord(ch) + 1
        a1 = (a1 * B1 + c) % P1
        a2 = (a2 * B2 + c) % P2
    return a1 * P2 + a2


# ---------------------------------------------------------------------------
# DuckDB twin generators (the oracle side evaluates the same definitions)
# ---------------------------------------------------------------------------

def words_sql(text: str) -> str:
    """DuckDB: list of words == python str.lower().split() (ASCII input)."""
    return f"list_filter(string_split_regex(lower({text}), '\\s+'), w -> w <> '')"


def shingles_sql(words: str, ngram: int) -> str:
    """DuckDB: distinct word n-gram shingle strings from a word list."""
    joined = " || ' ' || ".join(f"{words}[i+{j}]" if j else f"{words}[i]"
                                for j in range(ngram))
    return (f"CASE WHEN len({words}) = 0 THEN ['']"
            f" WHEN len({words}) < {ngram} THEN [array_to_string({words}, ' ')]"
            f" ELSE list_distinct(list_transform("
            f"range(1, len({words}) - {ngram - 2}), i -> {joined})) END")


def shingle_hash_sql(s: str) -> str:
    """DuckDB: the identical 62-bit combined rolling hash of one string
    expression (list_reduce over codepoints; init prepended because
    DuckDB's reduce has no seed argument)."""
    def roll(B: int, P: int) -> str:
        return (f"list_reduce(list_prepend(0::BIGINT, "
                f"list_transform(range(1, length({s}) + 1), "
                f"i -> ascii(substr({s}, i, 1))::BIGINT + 1)), "
                f"(acc, c) -> (acc * {B} + c) % {P})")
    return f"({roll(B1, P1)} * {P2} + {roll(B2, P2)})"
