"""ISCC-style 64-bit CONTENT-TEXT simhash — the preserved identity feature.

The reference derives similarity-preserving binary fingerprints per content
segment and scores them with hamming similarity 1 - d/ndim
(iscc_search/indexes/simprint/usearch_core.py:180-182).  Here the whole
document gets one 64-bit simhash over its (term, tf) vector; near-duplicate
retrieval is a banded-LSH self-join (operators/neardup.py) instead of HNSW.

Semantics (frozen, shared with the DuckDB oracle SQL):
- token hash h(term) = first 16 hex chars of md5(term) as uint64 (big-endian)
- v_i = sum over terms of tf * (2*bit_i(h) - 1),  bit_i = (h >> (63-i)) & 1
- simhash bit i = 1 iff v_i > 0; result is the signed-int64 view.

The kernel is batch-vectorized: all terms of an Arrow batch are flattened,
md5 runs once per *unique* term (process-lifetime cache), the ±tf bit matrix
is a single numpy einsum-style reduction with np.add.reduceat per doc.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TERM_HASH_CACHE: dict[str, int] = {}
_BITPOS = np.arange(63, -1, -1, dtype=np.uint64)  # bit 0 = MSB


def term_hash64(term: str) -> int:
    """uint64 from the first 8 bytes of md5(term)."""
    h = _TERM_HASH_CACHE.get(term)
    if h is None:
        h = int.from_bytes(hashlib.md5(term.encode("utf-8")).digest()[:8], "big")
        _TERM_HASH_CACHE[term] = h
    return h


def simhash_from_tf(terms: list[str] | np.ndarray, tfs: np.ndarray) -> int:
    """Single-doc simhash (oracle path)."""
    if len(terms) == 0:
        return 0
    hs = np.array([term_hash64(t) for t in terms], dtype=np.uint64)
    tf = np.asarray(tfs, dtype=np.int64)
    bits = ((hs[:, None] >> _BITPOS[None, :]) & _U1).astype(np.int64)
    v = ((2 * bits - 1) * tf[:, None]).sum(axis=0)
    return _pack_bits(v > 0)


_U1 = np.uint64(1)


def _pack_bits(bits_bool: np.ndarray) -> int:
    u = int((bits_bool.astype(np.uint64) << _BITPOS).sum(dtype=np.uint64))
    return u - (1 << 64) if u >= (1 << 63) else u


def _hash_terms_flat(
    sub_terms: list[np.ndarray], total: int, use_cache: bool
) -> np.ndarray:
    """uint64 md5-hash per flat term.  The flat batch is FACTORIZED first
    so md5 runs once per unique string — cross-doc term overlap makes this
    the dominant win (measured 3x on the shingle path, where the
    process-lifetime cache is useless AND an unbounded memory leak:
    shingles are mostly batch-unique, so ``use_cache=False`` skips the
    dict entirely)."""
    flat = np.empty(total, dtype=object)
    pos = 0
    for tl in sub_terms:
        flat[pos : pos + len(tl)] = tl
        pos += len(tl)
    codes, uniq = pd.factorize(flat)
    if use_cache:
        hashed = np.fromiter(
            (term_hash64(t) for t in uniq), dtype=np.uint64, count=len(uniq)
        )
    else:
        md5 = hashlib.md5
        hashed = np.fromiter(
            (
                int.from_bytes(md5(t.encode("utf-8")).digest()[:8], "big")
                for t in uniq
            ),
            dtype=np.uint64,
            count=len(uniq),
        )
    return hashed[codes]


def simhash_batch(
    term_lists: list[np.ndarray],
    tf_lists: list[np.ndarray],
    chunk_docs: int = 256,
    use_cache: bool = True,
) -> np.ndarray:
    """Vectorized simhash for a batch of docs -> int64 array.

    Processes docs in sub-chunks so the (flat_tokens x 64) sign matrix stays
    ~10 MB regardless of Arrow batch size — an unchunked 10k-doc batch
    allocated ~1 GB per Python worker, which collapsed under 32 concurrent
    workers (measured: stage A 2.4x SLOWER at local[32] than local[8]).
    ``use_cache=False`` for feature sets that are mostly batch-unique
    (shingles): the global term cache would grow without bound.
    """
    n = len(term_lists)
    out = np.zeros(n, dtype=np.int64)
    for start in range(0, n, chunk_docs):
        end = min(start + chunk_docs, n)
        sub_terms = term_lists[start:end]
        sub_tfs = tf_lists[start:end]
        m = end - start
        counts = np.array([len(t) for t in sub_terms], dtype=np.int64)
        total = int(counts.sum())
        if total == 0:
            continue
        flat_hash = _hash_terms_flat(sub_terms, total, use_cache)
        flat_tfs = np.concatenate(
            [np.asarray(t, dtype=np.int64) for t in sub_tfs]
        ).astype(np.float32)
        uniq, inv = np.unique(flat_hash, return_inverse=True)
        bits = ((uniq[:, None] >> _BITPOS[None, :]) & _U1).astype(np.float32)
        # dense (docs x U) tf matrix -> one BLAS matmul:
        #   v_j = sum_i tf_i*(2*b_ij - 1) = 2*S_j - doc_len
        # float32 is exact here (all values integer < 2^24)
        T = np.zeros((m, len(uniq)), dtype=np.float32)
        row_idx = np.repeat(np.arange(m), counts)
        flat_key = row_idx * len(uniq) + inv
        if len(np.unique(flat_key)) == total:
            T[row_idx, inv] = flat_tfs  # fast path: per-doc-unique terms
        else:
            np.add.at(T, (row_idx, inv), flat_tfs)  # duplicates accumulate
        S = T @ bits  # (docs, 64)
        doc_len = np.array(
            [np.asarray(t, dtype=np.int64).sum() for t in sub_tfs],
            dtype=np.float32,
        )
        v = 2.0 * S - doc_len[:, None]
        packed = ((v > 0).astype(np.uint64) << _BITPOS[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        nonempty = counts > 0
        out[start:end][nonempty] = packed.view(np.int64)[nonempty]
    return out


# --- 128-bit variant (granular segment simprints) ---------------------------
# The reference's simprint vectors are 128-bit binary hamming vectors
# (iscc_search/indexes/simprint/usearch_core.py:49 ndim=128 default, b1
# hamming metric).  Wider hashes concentrate the relative hamming
# distance of similar pairs (std ~ 1/sqrt(bits)), so absolute thresholds
# like max_hamming=12 are far more selective at equal recall for
# near-identical segments.
#
# FROZEN segment feature hash (format_version 3, shared with the DuckDB
# oracle SQL and the scalar mirror in operators/simprints.py):
# - unigram limbs u(t) = (uint64 of md5(t) bytes [0:8), bytes [8:16))
#   big-endian — md5 runs once per unique TOKEN (small, Zipf vocabulary;
#   process-lifetime cache), never per bigram string;
# - a window's features are its adjacent token pairs (word bigram
#   shingles, with multiplicity); each feature's 128-bit hash mixes the
#   two unigram limb pairs (bigram_hash128_py below) with rotate / add
#   mod 2^64 / xor — the carry chain of the add breaks GF(2) linearity,
#   so features sharing a token still get near-independent hashes.  A
#   1-token window falls back to the bare unigram limbs;
# - simhash bit i of a window = 1 iff 2*S_i > n_features where S_i is
#   the number of its feature occurrences with bit i set (identical to
#   the tf-weighted sum-of-±1 rule, occurrences == tf-multiplicity).
#
# Versus format_version 2 (md5 over the space-joined bigram STRING): the
# feature sets and the selectivity behavior are the same, but hashing
# cost drops from one md5 per unique bigram (~open-ended vocab, low
# cache hit rate) to one md5 per unique token plus a few uint64 vector
# ops — measured ~6x on the segment pipeline.


def term_hash128(term: str) -> tuple[int, int]:
    """(hi, lo) uint64 limbs of md5(term); hi == term_hash64(term)."""
    d = hashlib.md5(term.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:16], "big")


_M64 = (1 << 64) - 1


def bigram_hash128_py(
    a_hi: int, a_lo: int, b_hi: int, b_lo: int
) -> tuple[int, int]:
    """FROZEN bigram feature mixer (scalar mirror of bigram_limbs128 and
    of the DuckDB oracle SQL): (hi, lo) uint64 feature limbs for the
    ordered token pair (a, b) from the tokens' unigram md5 limbs."""

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    f_hi = ((rotl(a_hi, 17) + b_hi) & _M64) ^ rotl(b_lo, 47)
    f_lo = ((rotl(a_lo, 23) + b_lo) & _M64) ^ rotl(a_hi, 41)
    return f_hi, f_lo


def trigram_hash128_py(
    a: tuple[int, int], b: tuple[int, int], c: tuple[int, int]
) -> tuple[int, int]:
    """FROZEN trigram feature hash (format_version 4 DATA unit): the
    bigram mixer folded left over three tokens' unigram limb pairs —
    mix(mix(a, b), c).  Scalar mirror of the vectorized composition in
    textnorm._data_simhash_batch and of the DuckDB oracle SQL."""
    m = bigram_hash128_py(*a, *b)
    return bigram_hash128_py(*m, *c)


def bigram_limbs128(
    a_hi: np.ndarray, a_lo: np.ndarray, b_hi: np.ndarray, b_lo: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized bigram_hash128_py over uint64 arrays (wrapping uint64
    arithmetic end-to-end; bit-identical to the scalar mirror)."""
    u17, u47 = np.uint64(17), np.uint64(47)
    u23, u41 = np.uint64(23), np.uint64(41)
    f_hi = (((a_hi << u17) | (a_hi >> u47)) + b_hi) ^ (
        (b_lo << u47) | (b_lo >> u17)
    )
    f_lo = (((a_lo << u23) | (a_lo >> u41)) + b_lo) ^ (
        (a_hi << u41) | (a_hi >> u23)
    )
    return f_hi, f_lo


_TERM128_CACHE: dict[str, tuple[int, int]] = {}
# bounded process-lifetime cache.  Keys are now unigram TOKENS (the
# bigram mixer needs no per-bigram md5), so the working set is the
# corpus vocabulary — Zipf, and far smaller than the old bigram vocab;
# 2^18 entries ≈ 40-75 MB per Python worker at saturation.  The clear
# happens BEFORE the insert that would exceed the cap (inside
# unigram_limbs128), so the dict never grows past the bound.
_TERM128_CACHE_MAX = 1 << 18


def unigram_limbs128(uniq: np.ndarray) -> np.ndarray:
    """(len(uniq), 2) uint64 md5 limbs, one md5 per UNIQUE token with the
    bounded process-lifetime cache."""
    md5 = hashlib.md5
    cache = _TERM128_CACHE
    cap = _TERM128_CACHE_MAX
    out = np.empty((len(uniq), 2), dtype=np.uint64)
    for i, t in enumerate(uniq):
        hl = cache.get(t)
        if hl is None:
            d = md5(t.encode("utf-8")).digest()
            hl = (int.from_bytes(d[:8], "big"), int.from_bytes(d[8:16], "big"))
            if len(cache) >= cap:
                cache.clear()
            cache[t] = hl
        out[i, 0] = hl[0]
        out[i, 1] = hl[1]
    return out


def _hash_terms_flat128(sub_terms: list[np.ndarray], total: int) -> np.ndarray:
    """(total, 2) uint64 md5 limbs per flat term — factorize once, md5
    once per unique string via unigram_limbs128's cache."""
    flat = np.empty(total, dtype=object)
    pos = 0
    for tl in sub_terms:
        flat[pos : pos + len(tl)] = tl
        pos += len(tl)
    codes, uniq = pd.factorize(flat)
    return unigram_limbs128(uniq)[codes]


def segment_simhash128_flat(
    f_hi: np.ndarray,
    f_lo: np.ndarray,
    bounds: np.ndarray,
    chunk_segs: int = 1 << 20,
) -> np.ndarray:
    """(n_segs, 2) int64 simhash limbs from per-occurrence feature limbs
    laid out contiguously by segment (``bounds`` = start offset of each
    segment's slice).  Occurrences carry multiplicity, so the majority
    rule 2*S_i > n  <=>  S_i > n//2 is identical to the tf-weighted +-1
    sum.

    Bit-sliced vertical-counter kernel — no unpackbits/packbits, no
    (rows x 128) bit matrix: scatter the segment's features into a
    padded (n_seg, W) uint64 matrix per limb, ripple-add each column as
    a 1-bit addend into ceil(log2(W+1)) carry planes (all 64 bit lanes
    in parallel per uint64 op), then a bit-sliced greater-than of the
    per-lane counts against the per-segment threshold n//2 yields the
    output limb DIRECTLY (lane i of the result is the majority vote of
    feature bit i).  ~15*W uint64 ops per segment-limb versus the 128
    byte-unpacked adds of a reduceat fold — measured ~20x faster at the
    bench shape (W=31).  Zero-padding is harmless: pad lanes add 0 to
    every count and n//2 uses the true feature count."""
    total = len(f_hi)
    n_seg = len(bounds)
    out = np.empty((n_seg, 2), dtype=np.int64)
    if n_seg == 0:
        return out
    ends = np.append(bounds[1:], total)
    n_feat = ends - bounds
    seg_of = np.repeat(np.arange(n_seg, dtype=np.int64), n_feat)
    slot = np.arange(total, dtype=np.int64) - bounds[seg_of]
    for s0 in range(0, n_seg, chunk_segs):
        s1 = min(s0 + chunk_segs, n_seg)
        a0, a1 = int(bounds[s0]), int(ends[s1 - 1])
        n = n_feat[s0:s1]
        w = int(n.max())
        n_planes = max(1, int(w).bit_length())
        m = s1 - s0
        rows = seg_of[a0:a1] - s0
        cols = slot[a0:a1]
        thr = (n // 2).astype(np.uint64)
        for limb, f in ((0, f_hi), (1, f_lo)):
            padded = np.zeros((m, w), dtype=np.uint64)
            padded[rows, cols] = f[a0:a1]
            planes = [np.zeros(m, dtype=np.uint64) for _ in range(n_planes)]
            for j in range(w):
                c = padded[:, j].copy()
                for pl in planes:
                    t = pl & c
                    pl ^= c
                    c = t
                    if not c.any():
                        break
            # bit-sliced S > thr per 64-bit lane (MSB plane first)
            gt = np.zeros(m, dtype=np.uint64)
            eq = np.full(m, _M64, dtype=np.uint64)
            for k in range(n_planes - 1, -1, -1):
                sk = planes[k]
                # all-ones mask where bit k of the threshold is set
                tk = np.uint64(0) - ((thr >> np.uint64(k)) & np.uint64(1))
                gt |= eq & sk & ~tk
                eq &= ~(sk ^ tk)
            out[s0:s1, limb] = gt.view(np.int64)
    return out


@F.pandas_udf(T.LongType())
def simhash_udf(terms: pd.Series, tfs: pd.Series) -> pd.Series:
    """Arrow-batched simhash over (array<string> terms, array<long> tfs)."""
    term_lists = [np.asarray(t if t is not None else [], dtype=object) for t in terms]
    tf_lists = [np.asarray(t if t is not None else [], dtype=np.int64) for t in tfs]
    return pd.Series(simhash_batch(term_lists, tf_lists))


@F.pandas_udf(T.LongType())
def doc_simhash_udf(text: pd.Series) -> pd.Series:
    """One-pass doc simhash straight from text (tokenize + tf + simhash in
    a single Arrow batch pass).  Value-identical to
    ``simhash_udf(collect_list(term), collect_list(tf))`` over doc_term_tf
    (tokenize_py == tokens_expr by contract, and the simhash sum is
    order-independent) but needs ZERO shuffles where the groupBy pipeline
    needed two — the f6/j3/cluster queries' dominant fixed cost."""
    from collections import Counter

    from iscc_search_spark.functions.textnorm import tokenize_py

    term_lists, tf_lists = [], []
    for t in text:
        c = Counter(tokenize_py(t)) if t is not None else {}
        term_lists.append(np.array(list(c.keys()), dtype=object))
        tf_lists.append(np.array(list(c.values()), dtype=np.int64))
    return pd.Series(simhash_batch(term_lists, tf_lists))


def hamming_expr(a, b):
    """JVM-side hamming distance between two int64 simhash columns."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def hamming_np(a: np.ndarray, b) -> np.ndarray:
    """int64 hamming distance between int64 arrays (or an array and a
    signed int64 scalar) — the driver-side mirror of hamming_expr."""
    x = np.ascontiguousarray(np.bitwise_xor(a, b), dtype=np.int64)
    return _POP8[x.view(np.uint8)].reshape(len(x), 8).sum(axis=1)


def hamming128_expr(a_hi, a_lo, b_hi, b_lo):
    """JVM-side hamming distance between two (hi, lo) 128-bit columns."""
    return hamming_expr(a_hi, b_hi) + hamming_expr(a_lo, b_lo)


def neardup_score128_expr(a_hi, a_lo, b_hi, b_lo):
    """1 - hamming/128 over (hi, lo) limb pairs (ndim=128, the reference
    simprint default)."""
    return F.lit(1.0) - hamming128_expr(a_hi, a_lo, b_hi, b_lo).cast(
        "double"
    ) / F.lit(128.0)
