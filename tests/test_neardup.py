"""Differential test of the simhash near-dup kernel's pair emission.

The kernel keeps a pair only in the bucket of its first shared band, so
its output must hold every pair within ``max_hamming`` exactly once —
with no aggregate after it.  Checked against the O(N^2) Python brute
force for every banding shape (n_bands dividing 64 or not, n_bands=1)
and both kernel branches (whole bucket, and split sub-group pairs).
"""

from __future__ import annotations

import collections

import numpy as np
import pytest

from iscc_search_spark.operators.neardup import band_layout, simhash_neardup_pairs

M64 = 2**64 - 1


def _signed(x: int) -> int:
    return x - 2**64 if x >= 2**63 else x


def _hashes(n_bands: int, seed: int = 11) -> list[tuple[int, int]]:
    """(doc_id, simhash) rows: random hashes, clusters of planted
    near-dups (0..n_bands-1 flipped bits anywhere, the bits outside
    every band included) and a cluster of exact duplicates."""
    rng = np.random.default_rng(seed)
    hs = [int(h) & M64 for h in rng.integers(-(2**63), 2**63 - 1, size=150)]
    for base in rng.integers(-(2**63), 2**63 - 1, size=8):
        for _ in range(12):
            x = int(base) & M64
            for b in rng.choice(64, size=rng.integers(0, n_bands), replace=False):
                x ^= 1 << int(b)
            hs.append(x)
    hs += [hs[3]] * 10
    ids = rng.choice(2**40, size=len(hs), replace=False) - 2**39
    return [(int(i), _signed(h)) for i, h in zip(ids, hs)]


def _bruteforce(rows, max_hamming):
    out = []
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (a, ha), (b, hb) = rows[i], rows[j]
            hm = bin((ha ^ hb) & M64).count("1")
            if hm <= max_hamming:
                out.append((min(a, b), max(a, b), hm, 1.0 - hm / 64.0))
    return sorted(out)


@pytest.mark.parametrize(
    "n_bands,max_hamming",
    [(1, 0), (4, 0), (4, 3), (7, 0), (7, 6), (8, 0), (8, 7)],
)
def test_neardup_emits_each_pair_once(spark, n_bands, max_hamming):
    rows = _hashes(n_bands)
    # the split branch needs a bucket above split_threshold=8
    shifts, mask = band_layout(n_bands)
    sizes = collections.Counter(
        (s, ((h & M64) >> s) & mask) for _, h in rows for s in shifts
    )
    assert max(sizes.values()) > 8
    want = _bruteforce(rows, max_hamming)
    assert want
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    for split in ({}, {"split_threshold": 8}):
        got = [
            (r["doc1"], r["doc2"], r["hamming"], r["score"])
            for r in simhash_neardup_pairs(
                df, max_hamming=max_hamming, n_bands=n_bands, **split
            ).collect()
        ]
        assert len(got) == len(set(got)), split
        assert sorted(got) == want, split
