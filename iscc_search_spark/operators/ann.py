"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  The dot product is an index-ordered JVM fold (zip_with + aggregate), so
  float64 sums are bit-identical to any engine that folds in index order.
- ``rph_ann_topk``: random-hyperplane LSH (the scale path) — signs of dot
  products with seeded Gaussian planes give a 64-bit signature; candidates
  come from banded signature equality and are exactly re-ranked.  The
  candidate-fetch + exact-rerank shape mirrors the reference's oversampled
  ANN search (usearch_core.py:160-196, 20x oversampling then exact scoring).

Self-exclusion (query vector is one of the indexed rows) follows the
reference's P5 filter (usearch/index.py:830-833).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iscc_search_spark.operators.neardup import simhash_bands
from iscc_search_spark.session import arrow_frame


def _dot_expr(a, b):
    """Index-ordered float64 dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_expr(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(rank, vec_id, cosine) exact top-k by cosine to the query row."""
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_vec_id)  # self-exclusion (P5)
        .select(
            F.col(id_col).alias("vec_id"),
            (
                _dot_expr(F.col(vec_col), F.col("qv"))
                / (_norm_expr(F.col(vec_col)) * _norm_expr(F.col("qv")))
            ).alias("cosine"),
        )
    )
    topk = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "vec_id", "cosine"
    )


def rph_planes(dim: int, n_planes: int = 64, seed: int = 42) -> np.ndarray:
    """The seeded Gaussian plane matrix — exposed so the DuckDB oracle can
    inline the exact same values as SQL literals."""
    return np.random.default_rng(seed).standard_normal((dim, n_planes))


def rph_signature_udf(dim: int, n_planes: int = 64, seed: int = 42):
    """Pandas UDF: embedding -> int64 random-hyperplane signature.

    The per-plane dot product is an INDEX-ORDERED float64 accumulation
    (not a BLAS matmul, whose reduction order is unspecified): the sign of
    a near-zero dot must be reproducible by any engine that folds in index
    order — that's what makes the banded candidates oracle-checkable.
    """
    planes = rph_planes(dim, n_planes, seed)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))[::-1]

    @F.pandas_udf(T.LongType())
    def sig(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        acc = np.zeros((m.shape[0], planes.shape[1]), dtype=np.float64)
        for i in range(planes.shape[0]):  # ascending dim index, ordered fold
            acc += m[:, i : i + 1] * planes[i : i + 1, :]
        packed = ((acc > 0).astype(np.uint64) * weights[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(packed.view(np.int64))

    return sig


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """(vec1, vec2, cosine) near-duplicate pairs by embedding cosine —
    the embedding member of the dedup family (exact hash / minhash /
    simhash / embedding): banded random-hyperplane signatures propose
    candidate pairs (LSH self-join — never an all-pairs scan), an
    index-ordered exact cosine verifies them against ``threshold``.

    Candidate recall is the LSH's (no pigeonhole bound exists for cosine);
    the DuckDB oracle mirrors the same seeded planes + banding, so the
    operator is value-checkable end to end (same discipline as
    rph_ann_topk)."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sig = rph_signature_udf(dim, 64, seed)
    with_sig = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
        sig(vec_col).alias("s"),
    )
    bands = simhash_bands(with_sig, "s", n_bands, id_col="vec_id")
    l, r = bands.alias("l"), bands.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.vec_id") < F.col("r.vec_id")),
        )
        .select(F.col("l.vec_id").alias("vec1"), F.col("r.vec_id").alias("vec2"))
        .distinct()
    )
    v = with_sig.select("vec_id", "v")
    return (
        cand.join(v.select(F.col("vec_id").alias("vec1"), F.col("v").alias("v1")), "vec1")
        .join(v.select(F.col("vec_id").alias("vec2"), F.col("v").alias("v2")), "vec2")
        .select(
            "vec1",
            "vec2",
            (
                _dot_expr(F.col("v1"), F.col("v2"))
                / (_norm_expr(F.col("v1")) * _norm_expr(F.col("v2")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


# --- IVF-Flat: coarse quantizer + probed-cell exact rerank --------------------
# The classic inverted-file ANN (the scale path beside LSH): k-means cell
# centroids partition the vector space; each vector is stored under its
# nearest cell; a query probes only its n_probe nearest cells and reranks
# those candidates exactly.  At 10^12 vectors the cell column is a
# PARTITION KEY — probing is partition pruning, the same physical shape as
# the posting-bucket prune.  Training is driver-side over a deterministic
# sample (centroids are small); assignment/probing are oracle-checkable
# because every distance is an index-ordered float64 fold and the trained
# centroids are inlined into the DuckDB SQL as literals (same discipline
# as the RPH plane literals above).


def ivf_train_centroids(
    sample: np.ndarray, n_cells: int, iters: int = 5
) -> np.ndarray:
    """Deterministic Lloyd's k-means: init = evenly spaced rows of the
    (caller-ordered) sample; fixed iteration count; ties -> lowest cell.
    Returns (n_cells, dim) float64."""
    n = len(sample)
    idx = (np.arange(n_cells, dtype=np.int64) * n) // n_cells
    cent = sample[idx].astype(np.float64).copy()
    for _ in range(iters):
        d2 = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the lowest index on ties
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def ivf_random_centroids(dim: int, n_cells: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian coarse quantizer (data-independent Voronoi cells).
    Slightly weaker than trained centroids, but the centroid values can be
    inlined into the DuckDB oracle as literals — the same discipline that
    makes the RPH-LSH gate fully checkable.  The trained path
    (ivf_train_centroids) is pytest-verified instead (recall == exact when
    probing all cells)."""
    return np.random.default_rng(seed).standard_normal((n_cells, dim))


def ivf_cell_udf(centroids: np.ndarray):
    """Pandas UDF: embedding -> nearest-centroid cell id.

    Distances are INDEX-ORDERED float64 folds over dimensions (not a BLAS
    matmul): the oracle recomputes the same fold in SQL, and a near-tie
    must resolve identically in both engines."""
    cent = centroids.astype(np.float64)

    @F.pandas_udf(T.IntegerType())
    def cell(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
        acc = np.zeros((m.shape[0], cent.shape[0]), dtype=np.float64)
        for i in range(cent.shape[1]):  # ascending dim: ordered fold
            diff = m[:, i : i + 1] - cent[None, :, i]
            acc += diff * diff
        return pd.Series(acc.argmin(axis=1).astype(np.int32))

    return cell


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    sample_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, np.ndarray]:
    """(embeddings + cell column, centroids).  The sample is the first
    ``sample_rows`` vectors by id — deterministic across runs/engines.
    Persist the result partitioned by cell for probe-time pruning."""
    rows = (
        embeddings.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
    )
    sample = np.array([list(r[0]) for r in rows], dtype=np.float64)
    cent = ivf_train_centroids(sample, n_cells, iters)
    assigned = embeddings.withColumn("cell", ivf_cell_udf(cent)(vec_col))
    return assigned, cent


def _ordered_sqdist(vec: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """Index-ordered float64 squared distances of one vector to each
    centroid (driver twin of the UDF fold)."""
    acc = np.zeros(cent.shape[0], dtype=np.float64)
    for i in range(cent.shape[1]):
        d = vec[i] - cent[:, i]
        acc += d * d
    return acc


def ivf_ann_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(rank, vec_id, cosine) IVF top-k: probe the query's ``n_probe``
    nearest cells, exact cosine rerank inside them (self-excluded).  Pass
    the persisted (assigned, centroids) pair to skip training."""
    if centroids is None:
        assigned, centroids = ivf_build(
            embeddings, n_cells, iters, id_col=id_col, vec_col=vec_col
        )
    elif assigned is None:
        assigned = embeddings.withColumn(
            "cell", ivf_cell_udf(centroids)(vec_col)
        )
    qrow = embeddings.filter(F.col(id_col) == query_vec_id).select(vec_col).collect()
    spark = embeddings.sparkSession
    if not qrow:
        return arrow_frame(spark, [], "rank long, vec_id long, cosine double")
    qv = np.array(list(qrow[0][0]), dtype=np.float64)
    d2 = _ordered_sqdist(qv, centroids.astype(np.float64))
    probe = np.argsort(d2, kind="stable")[:n_probe]  # ties -> lowest cell
    cand = assigned.filter(
        F.col("cell").isin([int(c) for c in probe])
        & (F.col(id_col) != query_vec_id)
    )
    q = embeddings.filter(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qv")
    )
    scored = cand.crossJoin(F.broadcast(q)).select(
        F.col(id_col).alias("vec_id"),
        (
            _dot_expr(F.col(vec_col), F.col("qv"))
            / (_norm_expr(F.col(vec_col)) * _norm_expr(F.col("qv")))
        ).alias("cosine"),
    )
    topk = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "vec_id", "cosine"
    )


def rph_ann_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dim: int | None = None,
    n_bands: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: banded signature match -> exact rerank."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sig = rph_signature_udf(dim, 64, seed)
    with_sig = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"), sig(vec_col).alias("s")
    )
    bands = simhash_bands(with_sig, "s", n_bands, id_col="vec_id")
    qb = bands.filter(F.col("vec_id") == query_vec_id).select("band", "key")
    cand_ids = (
        bands.join(F.broadcast(qb), ["band", "key"])
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    q = with_sig.filter(F.col("vec_id") == query_vec_id).select(
        F.col("v").alias("qv")
    )
    scored = (
        with_sig.join(cand_ids, "vec_id", "left_semi")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (
                _dot_expr(F.col("v"), F.col("qv"))
                / (_norm_expr(F.col("v")) * _norm_expr(F.col("qv")))
            ).alias("cosine"),
        )
    )
    topk = scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "vec_id", "cosine"
    )
