"""Simhash near-duplicate retrieval — banded LSH buckets + a numpy kernel.

The Spark re-expression of the reference's simprint similarity search
(HNSW candidate fetch + hamming scoring,
iscc_search/indexes/simprint/usearch_core.py:137-269): the 64-bit simhash is
cut into ``n_bands`` bit-bands (``band_layout``); docs sharing any band
value are candidates (an LSH bucketing — no pairwise scan), scored
1 - d/64 exactly as the reference scores 1 - hamming/ndim
(usearch_core.py:180-182).

- Verification: each (band, key) bucket goes whole to one applyInPandas
  task, where a +-1 float32 GEMM gives every pair's hamming distance.
- Skew: a bucket larger than ``split_threshold`` is split into sub-group
  pairs by a doc hash, losslessly — each doc pair is verified once per
  shared band.
- Uniqueness: a pair is emitted only from the bucket of the LOWEST band
  in which its two hashes agree, so the kernel output holds each pair
  once and no aggregate runs after it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BITPOS64 = np.arange(64, dtype=np.uint64)


def band_layout(n_bands: int) -> tuple[list[int], int]:
    """(shifts, mask): band b of a 64-bit hash is ``(h >>> shifts[b]) &
    mask``, ``64 // n_bands`` bits each from the low end.  When n_bands
    does not divide 64 the top ``64 % n_bands`` bits belong to no band;
    pigeonhole still holds (a pair within n_bands - 1 bits differs in at
    most n_bands - 1 bands).  n_bands=1 is the whole hash (mask 2**64-1)."""
    width = 64 // n_bands
    return [b * width for b in range(n_bands)], (1 << width) - 1


def simhash_bands(
    docs: DataFrame,
    simhash_col: str = "simhash",
    n_bands: int = 8,
    carry: tuple[str, ...] = (),
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, *carry, band, key): the simhash split into n_bands
    bit-slices (``band_layout``).  ``carry`` columns ride along unchanged
    (e.g. the hash itself, so a downstream kernel can verify hamming
    without a join-back).  n_bands=1 (max_hamming=0) degrades to equality
    on the hash itself — a 64-bit mask literal would overflow LongType."""
    carry_cols = [F.col(c) for c in carry]
    if n_bands == 1:
        return docs.select(
            id_col, *carry_cols,
            F.lit(0).alias("band"), F.col(simhash_col).alias("key"),
        )
    shifts, mask = band_layout(n_bands)
    # ONE scan of the source: the n_bands (band, key) rows per doc come
    # from a JVM explode of struct literals (n_bands unioned selects each
    # re-scan the relation — and re-run any upstream UDF — per band)
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col(simhash_col), s)
            .bitwiseAND(F.lit(mask))
            .alias("key"),
        )
        for b, s in enumerate(shifts)
    ]
    return docs.select(
        id_col, *carry_cols, F.explode(F.array(*entries)).alias("e")
    ).select(
        id_col, *carry_cols,
        F.col("e.band").alias("band"), F.col("e.key").alias("key"),
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    simhash_col: str = "simhash",
    max_hamming: int = 6,
    n_bands: int = 8,
    split_threshold: int = 4096,
) -> DataFrame:
    """(doc1, doc2, hamming, score): pairs within max_hamming bits.

    Pigeonhole: a pair with hamming <= n_bands - 1 must share at least one
    band, so recall is exact iff max_hamming < n_bands.  Asserted here —
    a silent recall gap is worse than a loud config error (a pair differing
    in exactly n_bands bits spread one per band would be missed, and an
    oracle that mirrors the same banding cannot detect it).

    ``split_threshold``: band buckets larger than this are split into
    sub-group PAIRS for the verification kernel (lossless — see below),
    so one mega-bucket (boilerplate/near-constant hashes on real web
    data) cannot serialize the stage into a single straggler task.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands > max_hamming "
            f"(got {n_bands}) for exact pigeonhole recall"
        )
    # The simhash column is typically UDF-derived (groupBy + pandas UDF);
    # cut the lineage once so the self-referencing pipeline below does not
    # re-run it per reference (same discipline as minhash_dedup).
    src = docs.select(
        "doc_id", F.col(simhash_col).alias("sh")
    ).localCheckpoint(eager=False)
    # Within-bucket verification is VECTORIZED, not a row-at-a-time join.
    # On near-dup-dense corpora the band buckets admit O(N^2/buckets)
    # candidate combinations; the previous shapes paid per-combination
    # row costs — first a distinct + two hash join-backs (shuffling
    # hundreds of millions of candidate rows: 832 s at 50k docs / 511M
    # combinations), then an inline-filtered hash join (no shuffle, but
    # ~150 ns per combination in the join's row loop: 156 s CPU).  Here
    # each (band, key) bucket is handed whole to a numpy kernel
    # (applyInPandas, guide-§4.2 shape): a +-1 GEMM over a (chunk x
    # bucket) bit matrix costs ~5 ns per combination, and only true
    # near-dup pairs leave Python — each exactly once, from the bucket of
    # its first shared band (see ``_emit``), so no distinct follows.
    # The shuffle moves just (doc_id, sh, band, key) rows, n_bands per doc.
    import numpy as np

    shifts, mask = band_layout(n_bands)
    band_shifts = np.array(shifts, dtype=np.uint64)
    band_mask = np.uint64(mask)

    def _bits_pm1(sh):
        # +-1 float32 bit matrix: dot(a, b) = 64 - 2*hamming, so
        # hamming <= h  <=>  dot >= 64-2h.  All values are small
        # integers — float32 is exact — and BLAS does the pairwise work
        # at ~5 ns/pair vs ~38 ns for xor + table popcount (measured on
        # the real bucket distribution).
        from iscc_search_spark.operators.neardup import _BITPOS64

        return (
            ((sh[:, None] >> _BITPOS64[None, :]) & np.uint64(1)).astype(
                np.float32
            )
            * 2.0
            - 1.0
        )

    def _emit(band, ids1, sh1, bits1, ids2, sh2, bt2, thr, triangular, out):
        # pairs between side-1 rows (hashes + bit matrix) and side-2 rows
        # (hashes + transposed bit matrix) of one ``band`` bucket;
        # ``triangular`` = both sides are the same sorted array, keep
        # strictly-upper pairs by index, else keep all and order by doc
        # id.  Chunked so the dot matrix stays ~50 MB even for the
        # largest bucket.
        n2 = bt2.shape[1]
        ch = max(1, min(len(ids1), (12 << 20) // max(n2, 1)))
        for i0 in range(0, len(ids1), ch):
            dot = bits1[i0 : i0 + ch] @ bt2
            ii, jj = np.nonzero(dot >= thr)
            if triangular:
                keep = jj > (i0 + ii)
                ii, jj = ii[keep], jj[keep]
            if band:
                # FIRST-BAND EMISSION: the pair shares this band (same
                # bucket), so its lowest agreeing band is <= band (band 0
                # is always the first); keep it only here when no lower
                # band agrees.  Every pair within max_hamming < n_bands
                # shares some band (pigeonhole), so it is emitted exactly
                # once.  Touches only the survivors of the hamming cut.
                x = sh1[i0 + ii] ^ sh2[jj]
                agree = ((x[:, None] >> band_shifts) & band_mask) == 0
                keep = np.argmax(agree, axis=1) == band
                ii, jj = ii[keep], jj[keep]
            hm = ((64.0 - dot[ii, jj]) * 0.5).astype(np.int64)
            a, b = ids1[i0 + ii], ids2[jj]
            out[0].append(np.minimum(a, b))
            out[1].append(np.maximum(a, b))
            out[2].append(hm)

    def _bucket_pairs(pdf):
        import pandas as pd

        thr = np.float32(64 - 2 * max_hamming)
        ids = pdf["doc_id"].to_numpy(np.int64)
        sh = pdf["sh"].to_numpy(np.int64).view(np.uint64)
        out = ([], [], [])
        band = int(pdf["band"].iloc[0]) if len(pdf) else 0
        gi = int(pdf["gi"].iloc[0]) if len(pdf) else 0
        gj = int(pdf["gj"].iloc[0]) if len(pdf) else 0
        if gi == gj:
            if len(ids) >= 2:
                # sorted ids turn doc1 < doc2 into a pure index compare,
                # applied AFTER the hamming cut on the tiny survivor set
                order = np.argsort(ids, kind="stable")
                ids, sh = ids[order], sh[order]
                bits = _bits_pm1(sh)
                _emit(band, ids, sh, bits, ids, sh,
                      np.ascontiguousarray(bits.T), thr, True, out)
        else:
            grp = pdf["grp"].to_numpy(np.int64)
            m1, m2 = grp == gi, grp == gj
            if m1.any() and m2.any():
                b1 = _bits_pm1(sh[m1])
                b2 = _bits_pm1(sh[m2])
                _emit(band, ids[m1], sh[m1], b1, ids[m2], sh[m2],
                      np.ascontiguousarray(b2.T), thr, False, out)
        if not out[0]:
            return pd.DataFrame(
                {"doc1": [], "doc2": [], "hamming": []}
            ).astype({"doc1": "int64", "doc2": "int64", "hamming": "int64"})
        return pd.DataFrame(
            {
                "doc1": np.concatenate(out[0]),
                "doc2": np.concatenate(out[1]),
                "hamming": np.concatenate(out[2]),
            }
        )

    # explicit repartition: the band rows are only a few MB, so AQE's
    # size-based coalescing would shrink this exchange to a handful of
    # tasks — but the stage's cost is the PYTHON pair kernel, which is
    # proportional to bucket-size^2, not to input bytes.  Pinning the
    # partition count keeps all cores on the verification work; the
    # groupBy reuses the same hash partitioning (no second exchange).
    par = docs.sparkSession.sparkContext.defaultParallelism
    bands = simhash_bands(src, "sh", n_bands, carry=("sh",))

    # MEGA-BUCKET SPLIT (lossless): a bucket of n rows is cut into
    # g = ceil(n / split_threshold) groups by a deterministic doc hash;
    # every unordered group pair (gi <= gj) becomes its own kernel task
    # holding the union of the two groups' rows.  Per shared band, a doc
    # pair (a, b) with groups (ga, gb) is verified exactly once — in
    # (min(ga,gb), max(ga,gb)) — so coverage is exact, and first-band
    # emission still yields each pair once overall.  Replication is g
    # rows per row (bounded by n/split_threshold), and the largest kernel
    # task shrinks from n^2 to ~split_threshold^2 pair evaluations.
    sizes = bands.groupBy("band", "key").agg(F.count("*").alias("_n"))
    g = F.ceil(F.col("_n") / F.lit(split_threshold)).cast("int")
    bands = (
        bands.join(sizes, ["band", "key"])
        .withColumn("_g", F.greatest(g, F.lit(1)))
        .withColumn(
            "grp", F.pmod(F.xxhash64("doc_id"), F.col("_g")).cast("int")
        )
        .withColumn(
            # one entry per other-group j: (min(grp,j), max(grp,j)) hits
            # exactly the g sub-bucket pairs containing this row's group
            "e",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_g") - 1),
                    lambda j: F.struct(
                        F.least(F.col("grp"), j).alias("gi"),
                        F.greatest(F.col("grp"), j).alias("gj"),
                    ),
                )
            ),
        )
        .select(
            "band", "key", "doc_id", "sh", "grp",
            F.col("e.gi").alias("gi"), F.col("e.gj").alias("gj"),
        )
        .repartition(par * 2, "band", "key", "gi", "gj")
    )
    pairs = bands.groupBy("band", "key", "gi", "gj").applyInPandas(
        _bucket_pairs, "doc1 long, doc2 long, hamming long"
    )
    return pairs.withColumn(
        "score", F.lit(1.0) - F.col("hamming").cast("double") / F.lit(64.0)
    ).select("doc1", "doc2", "hamming", "score")
