"""Multi-unit ISCC asset search — the reference's flagship query shape.

The reference decomposes an ISCC-CODE into typed units, routes each unit to
its own index (INSTANCE -> exact LMDB lookup, similarity types -> NPHD),
and aggregates per-asset unit scores with confidence weighting
(iscc_search/indexes/usearch/index.py:735-881):

    per-unit score: INSTANCE exact match = 1.0; similarity units =
        1 - hamming/64;
    keep units with score >= match_threshold (0.75);
    total = sum(score^4) / sum(score) over the kept units (the A3
        confidence-weighted mean, confidence_exponent = 4).

This engine computes three 64-bit units per document:
    CONTENT_TEXT_V0 — token-frequency simhash (functions/simhash.py);
    DATA_V0         — simhash over the DISTINCT 3-gram token shingles
                      (a structure fingerprint: near-identical token
                      streams collide, word-order changes diverge);
    INSTANCE_V0     — exact content hash (md5 first 8 bytes; stands in for
                      the reference's blake3, same exact-identity
                      semantics — both engines share md5).

Aggregation order is frozen (content, data, instance) so the <=3-term
float sums associate identically across engines.

Scale: candidates come from a PREDICATE, not a scan-and-score-all — the
query's unit values are driver literals, so `hamming(content, qc) <= 16`
is implied by a 17-band pigeonhole OR-filter over JVM bit-slices plus
`instance = qi` equality, all inside one codegen'd scan filter; only
surviving rows are scored.  At 10^12 docs this becomes a banded equi-join
against a units table bucketed by band key (same shape as
operators/neardup.py); threshold 0.75 <=> hamming <= 16 exactly, so the
prune is lossless either way.

Serving path: ``SearchIndex.search_similar`` and the HTTP ``/similar``
route answer with ``search_assets_multiunit_local`` — the same 35-key
lookup and scoring in numpy over the IndexReader's cached ``units`` and
``unit_bands`` tables, zero Spark jobs per query (the first call loads
each table with one pyarrow read).  Size gate: when the tables are
missing or would push the reader's cache past ``wand._SIM_CACHE_BYTES``,
the facade runs ``search_assets_multiunit`` (the keyed broadcast join),
which also backs the registry gate and is the tests' reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from iscc_search_spark.functions.hashing import instance_expr as _instance_expr
from iscc_search_spark.functions.simhash import hamming_expr, hamming_np, simhash_udf
from iscc_search_spark.functions.textnorm import data_simhash_udf, tokens_expr
from iscc_search_spark.operators.query import doc_term_tf
from iscc_search_spark.operators.simprints import band_rows, band_widths, ranked
from iscc_search_spark.session import arrow_frame

MATCH_THRESHOLD = 0.75  # per-unit confidence floor (reference default)
_MAX_HAMMING = 16       # 1 - 16/64 == 0.75 exactly (dyadic)
SIMILAR_DDL = "rank long, doc_id long, score double, n_units long"
NPHD_DDL = "rank long, doc_id long, nphd double, score double"


def asset_units(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, content_sh, data_sh, instance) — the per-asset unit values."""
    tf = doc_term_tf(docs, text_col, id_col)
    content = tf.groupBy("doc_id").agg(
        F.collect_list("term").alias("terms"), F.collect_list("tf").alias("tfs")
    ).select(
        "doc_id", F.coalesce(simhash_udf("terms", "tfs"), F.lit(0)).alias("content_sh")
    )
    # format_version 4: trigram-mixer DATA hash, the same frozen
    # definition the build's fused stage-A UDF computes
    shing = docs.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(
            data_simhash_udf(F.col(text_col)), F.lit(0)
        ).alias("data_sh"),
    )
    inst = docs.select(
        F.col(id_col).alias("doc_id"), _instance_expr(text_col).alias("instance")
    )
    return (
        inst.join(content, "doc_id", "left")
        .join(shing, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("content_sh", F.lit(0)).alias("content_sh"),
            F.coalesce("data_sh", F.lit(0)).alias("data_sh"),
            "instance",
        )
    )


def _band_pred(col: str, qval: int, n_bands: int) -> Column:
    """OR of per-band key equalities — implies hamming <= n_bands - 1 by
    pigeonhole, evaluated as one codegen'd scan filter.  A full-width band
    (n_bands=1, i.e. max_hamming=0) degrades to plain equality — the 64-bit
    mask literal would overflow LongType."""
    uq = qval & (2**64 - 1)
    pred = None
    for shift, w in band_widths(n_bands):
        if w >= 64:
            p = F.col(col) == F.lit(int(qval))
        else:
            mask = (1 << w) - 1
            p = (
                F.shiftrightunsigned(F.col(col), shift).bitwiseAND(F.lit(mask))
                == F.lit((uq >> shift) & mask)
            )
        pred = p if pred is None else (pred | p)
    return pred


def nphd_expr(
    hi: Column, lo: Column, bits: Column, q_hi: int, q_lo: int, q_bits: int
) -> Column:
    """Normalized Prefix Hamming Distance for variable-length units.

    The reference compares units of different lengths (64/128/192/256 bit)
    over their COMMON PREFIX, normalizing by the prefix length — the NPHD
    metric of its ShardedNphdIndex (iscc_search/indexes/usearch/index.py:
    92-101, 2024-2045; the iscc-usearch package's documented semantics).
    This engine materializes 64- and 128-bit units as (hi, lo?, bits):
        nphd = popcount(xor over min(bits_a, bits_b) prefix) / min_bits
    All values are dyadic rationals (k/64 or k/128) — exact in float64.
    """
    min_bits = F.least(bits, F.lit(q_bits))
    h64 = F.bit_count(hi.bitwiseXOR(F.lit(q_hi))).cast("double") / F.lit(64.0)
    h128 = (
        F.bit_count(hi.bitwiseXOR(F.lit(q_hi)))
        + F.bit_count(F.coalesce(lo, F.lit(0)).bitwiseXOR(F.lit(q_lo)))
    ).cast("double") / F.lit(128.0)
    return F.when(min_bits <= F.lit(64), h64).otherwise(h128)


def nphd_topk(
    units: DataFrame,
    query_doc_id: int,
    k: int = 10,
    hi_col: str = "hi",
    lo_col: str = "lo",
    bits_col: str = "bits",
    max_nphd: float | None = None,
) -> DataFrame:
    """(rank, doc_id, nphd, score) nearest units to the query doc's unit by
    NPHD over a MIXED-length unit table (self-excluded; score = 1 - nphd,
    the reference's similarity, usearch/index.py:2040-2045).

    ``max_nphd`` enables the lossless banded candidate prune: for a row of
    prefix length m, nphd <= t implies prefix hamming <= floor(t*m), so a
    (floor(t*m)+1)-band pigeonhole filter over the prefix admits every
    qualifying row — one codegen'd scan filter instead of scoring the whole
    table.  ``max_nphd=None`` keeps the unbounded full scan-and-sort."""
    spark = units.sparkSession
    q = units.filter(F.col("doc_id") == query_doc_id).collect()
    if not q:
        return arrow_frame(spark, [], NPHD_DDL)
    q_hi = int(q[0][hi_col])
    q_lo = int(q[0][lo_col]) if q[0][lo_col] is not None else 0
    q_bits = int(q[0][bits_col])
    d = nphd_expr(F.col(hi_col), F.col(lo_col), F.col(bits_col), q_hi, q_lo, q_bits)
    cand = units.filter(F.col("doc_id") != query_doc_id)
    if max_nphd is not None:
        pred = None
        for width in (64, 128):
            m = min(width, q_bits)
            nb = int(max_nphd * m) + 1
            p = (F.col(bits_col) == width) & _band_pred_wide(
                [hi_col, lo_col], [q_hi, q_lo], m, nb
            )
            pred = p if pred is None else (pred | p)
        cand = cand.filter(pred)
    scored = cand.select(
        "doc_id", d.alias("nphd"), (F.lit(1.0) - d).alias("score")
    )
    if max_nphd is not None:
        scored = scored.filter(F.col("nphd") <= F.lit(max_nphd))
    topk = scored.orderBy(F.asc("nphd"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.asc("nphd"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "nphd", "score"
    )


def mixed_length_units(
    docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    units: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, hi, lo, bits) variable-length unit table: even doc_ids get
    128-bit units (content||data simhash), odd keep 64-bit (content) —
    the deterministic mixed-length fixture for NPHD parity.  Pass ``units``
    (e.g. the PERSISTED build artifact, operators/build.py:load_units) to
    derive the fixture without touching raw text."""
    u = units if units is not None else asset_units(docs, text_col, id_col)
    is128 = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    return u.select(
        "doc_id",
        F.col("content_sh").alias("hi"),
        F.when(is128, F.col("data_sh")).alias("lo"),
        F.when(is128, F.lit(128)).otherwise(F.lit(64)).alias("bits"),
    )


# --- WIDE variable-length units (64/128/192/256 bit) --------------------------
# The reference's unit bodies span 64..256 bits (iscc_search/models.py:
# 225-316, incl. WIDE decomposition); materialized here as up to four
# 64-bit limb columns (u0..u3, high limb first) + a bits column.  NPHD
# compares the common prefix and normalizes by its length.


def wide_length_units(units: DataFrame) -> DataFrame:
    """(doc_id, u0, u1, u2, u3, bits) — the deterministic 4-width fixture:
    doc_id % 4 == 0 -> 256 bit, 1 -> 64, 2 -> 128, 3 -> 192.  Limbs are the
    persisted unit values (content, data, instance, content^data)."""
    m = F.pmod(F.col("doc_id"), F.lit(4))
    bits = (
        F.when(m == 0, F.lit(256))
        .when(m == 1, F.lit(64))
        .when(m == 2, F.lit(128))
        .otherwise(F.lit(192))
    )
    return units.select(
        "doc_id",
        F.col("content_sh").alias("u0"),
        F.when(bits >= 128, F.col("data_sh")).alias("u1"),
        F.when(bits >= 192, F.col("instance")).alias("u2"),
        F.when(
            bits >= 256, F.col("content_sh").bitwiseXOR(F.col("data_sh"))
        ).alias("u3"),
        bits.alias("bits"),
    )


def nphd_expr_wide(
    limbs: list[Column], bits: Column, q_limbs: list[int], q_bits: int
) -> Column:
    """NPHD over up to 4 64-bit limbs: popcount(xor) over the common
    min(bits, q_bits)-bit prefix, normalized by the prefix length.  All
    values are dyadic rationals (k/64..k/256) — exact in float64."""
    min_bits = F.least(bits, F.lit(q_bits))
    acc = None
    out = None
    for i, (c, q) in enumerate(zip(limbs, q_limbs)):
        h = F.bit_count(F.coalesce(c, F.lit(0)).bitwiseXOR(F.lit(q)))
        acc = h if acc is None else (acc + h)
        width = 64 * (i + 1)
        branch = acc.cast("double") / F.lit(float(width))
        cond = min_bits == F.lit(width)
        out = F.when(cond, branch) if out is None else out.when(cond, branch)
    return out


def _band_pred_wide(
    limb_cols: list[str], q_limbs: list[int], m_bits: int, n_bands: int
) -> Column:
    """Pigeonhole OR-filter over an m_bits-long multi-limb prefix: the
    n_bands are distributed across whole limbs (each band lies inside one
    limb), partitioning all m_bits — a pair within hamming < n_bands shares
    at least one exact band (exact recall).  One codegen'd scan filter."""
    n_limbs = m_bits // 64
    base, extra = divmod(n_bands, n_limbs)
    pred = None
    for j in range(n_limbs):
        nb_j = base + (1 if j < extra else 0)
        if nb_j == 0:
            continue
        uq = q_limbs[j] & (2**64 - 1)
        col = F.coalesce(F.col(limb_cols[j]), F.lit(0))
        for shift, w in band_widths(nb_j):
            if w >= 64:  # full-width band -> plain equality (mask overflow)
                p = col == F.lit(int(q_limbs[j]))
            else:
                mask = (1 << w) - 1
                p = (
                    F.shiftrightunsigned(col, shift).bitwiseAND(F.lit(mask))
                    == F.lit((uq >> shift) & mask)
                )
            pred = p if pred is None else (pred | p)
    return pred


def nphd_topk_wide(
    units: DataFrame,
    query_doc_id: int,
    k: int = 10,
    max_nphd: float | None = None,
) -> DataFrame:
    """(rank, doc_id, nphd, score) nearest units by NPHD over a 4-width
    unit table (64/128/192/256 bit; self-excluded).

    ``max_nphd`` bounds the search and enables the CANDIDATE PRUNE: for a
    row of prefix length m, nphd <= t implies prefix hamming <= floor(t*m),
    so a per-width banded pigeonhole filter (floor(t*m)+1 bands over the
    m-bit prefix) admits every qualifying row — the prune is lossless and
    runs as one codegen'd scan filter, replacing the full scan-and-sort
    (the reference bounds this with HNSW shards; usearch/index.py:92-101).
    ``max_nphd=None`` falls back to the unbounded full scan.
    """
    spark = units.sparkSession
    limb_cols = ["u0", "u1", "u2", "u3"]
    q = units.filter(F.col("doc_id") == query_doc_id).collect()
    if not q:
        return arrow_frame(spark, [], NPHD_DDL)
    q_limbs = [int(q[0][c]) if q[0][c] is not None else 0 for c in limb_cols]
    q_bits = int(q[0]["bits"])
    d = nphd_expr_wide(
        [F.col(c) for c in limb_cols], F.col("bits"), q_limbs, q_bits
    )
    cand = units.filter(F.col("doc_id") != query_doc_id)
    if max_nphd is not None:
        pred = None
        for width in (64, 128, 192, 256):
            m = min(width, q_bits)
            nb = int(max_nphd * m) + 1
            p = (F.col("bits") == width) & _band_pred_wide(
                limb_cols, q_limbs, m, nb
            )
            pred = p if pred is None else (pred | p)
        cand = cand.filter(pred)
    scored = cand.select(
        "doc_id", d.alias("nphd"), (F.lit(1.0) - d).alias("score")
    )
    if max_nphd is not None:
        scored = scored.filter(F.col("nphd") <= F.lit(max_nphd))
    topk = scored.orderBy(F.asc("nphd"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.asc("nphd"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "nphd", "score"
    )


def unit_prefix_range(prefix_value: int, prefix_bits: int) -> tuple[int, int]:
    """[lo, hi] SIGNED int64 bounds of the unsigned prefix range.

    The reference scans unit keys by binary prefix (variable-length NPHD
    units, iscc_search/indexes/lmdb/index.py:447-494).  Unsigned prefix
    ranges map to a SINGLE contiguous signed range (the top bit only flips
    sign for the whole range), so the scan is one BETWEEN predicate that
    parquet row-group min/max stats prune when the table is laid out
    sorted by unit value — the columnar analogue of the LMDB cursor scan.
    """
    if not 0 < prefix_bits <= 64:
        raise ValueError("prefix_bits must be 1..64")
    shift = 64 - prefix_bits
    ulo = (prefix_value & ((1 << prefix_bits) - 1)) << shift
    uhi = ulo + (1 << shift) - 1

    def signed(u: int) -> int:
        return u - (1 << 64) if u >= (1 << 63) else u

    return signed(ulo), signed(uhi)


def unit_prefix_scan(
    units: DataFrame, prefix_value: int, prefix_bits: int, col: str = "content_sh"
) -> DataFrame:
    """(doc_id, <col>) rows whose unit body starts with the given bit
    prefix — a pushed-down BETWEEN range scan (true J2)."""
    lo, hi = unit_prefix_range(prefix_value, prefix_bits)
    return units.select("doc_id", col).filter(
        (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    )


def unit_band_keys(qc: int, qd: int, qi: int, n_bands: int = 17) -> list[tuple[int, int]]:
    """The (band, key) lookup keys of one query's units: content bands
    0..n-1, data bands n..2n-1, exact instance band 2n (key = the signed
    instance value) — mirrors the layout build_derived writes."""
    out = []
    for base, qv in ((0, qc), (n_bands, qd)):
        uq = qv & (2**64 - 1)
        for i, (shift, w) in enumerate(band_widths(n_bands)):
            out.append((base + i, (uq >> shift) & ((1 << w) - 1)))
    out.append((2 * n_bands, qi))
    return out


def search_assets_multiunit(
    docs: DataFrame | None,
    query_doc_id: int,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    units: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, score, n_units) top-k assets by confidence-weighted
    multi-unit match against the query document's units (self-excluded).

    Pass ``units`` (the persisted build artifact, load_units) for the
    serving path — computing them from ``docs`` per query is the cold-start
    fallback only.  Pass ``bands`` (load_unit_bands) to fetch candidates
    by KEYED LOOKUP from the persisted LSH table (row-group pruned on the
    sorted (band, key) layout) instead of the banded scan filter — same
    lossless candidate set (both admit every pair within the 0.75
    threshold's hamming bound), different physical shape: the lookup reads
    ~35 keys, the filter scans every unit row."""
    if units is None:
        units = asset_units(docs, text_col, id_col)
    spark = units.sparkSession
    qrow = units.filter(F.col("doc_id") == query_doc_id).collect()
    if not qrow:
        return arrow_frame(spark, [], SIMILAR_DDL)
    qc, qd, qi = (
        int(qrow[0]["content_sh"]),
        int(qrow[0]["data_sh"]),
        int(qrow[0]["instance"]),
    )

    if bands is not None:
        # keyed candidate LOOKUP against the persisted LSH table, as a
        # broadcast join with the ~35 query keys.  (A 35-clause literal
        # OR filter generated a codegen method so large it ran
        # interpreted for the whole first call — ~22 us/row vs ~1 us
        # once JIT-compiled; the join's compact generated code doesn't
        # hit that cliff, and it is the keyed-lookup plan shape anyway.)
        keys = unit_band_keys(qc, qd, qi, _MAX_HAMMING + 1)
        kdf = arrow_frame(spark, keys, "band int, key long")
        cand_ids = (
            bands.join(F.broadcast(kdf), ["band", "key"])
            .select("doc_id")
            .distinct()
        )
        candidates = units.join(cand_ids, "doc_id", "left_semi")
    else:
        # lossless candidate predicate: threshold 0.75 <=> hamming <= 16,
        # so 17 bands pigeonhole-cover every confident similarity match;
        # instance confidence is exact equality
        cand_pred = (
            _band_pred("content_sh", qc, _MAX_HAMMING + 1)
            | _band_pred("data_sh", qd, _MAX_HAMMING + 1)
            | (F.col("instance") == F.lit(qi))
        )
        candidates = units.filter(cand_pred)

    sim = lambda col, qv: (  # noqa: E731
        F.lit(1.0) - hamming_expr(F.col(col), F.lit(qv)).cast("double") / F.lit(64.0)
    )
    scored = (
        candidates.filter(F.col("doc_id") != query_doc_id)
        .withColumn("s_c", sim("content_sh", qc))
        .withColumn("s_d", sim("data_sh", qd))
        .withColumn(
            "s_i",
            F.when(F.col("instance") == F.lit(qi), F.lit(1.0)).otherwise(F.lit(0.0)),
        )
    )

    def conf(c: str) -> Column:
        return F.col(c) >= F.lit(MATCH_THRESHOLD)

    def pow4(c: str) -> Column:
        # score^4 weighting (the reference's default exponent), as the
        # left-associated product the oracle and the local kernel use
        x = F.col(c)
        return x * x * x * x

    z = F.lit(0.0)
    # frozen aggregation order: content, data, instance (ordered float sums)
    wsum = (
        F.when(conf("s_c"), pow4("s_c")).otherwise(z)
        + F.when(conf("s_d"), pow4("s_d")).otherwise(z)
        + F.when(conf("s_i"), pow4("s_i")).otherwise(z)
    )
    ssum = (
        F.when(conf("s_c"), F.col("s_c")).otherwise(z)
        + F.when(conf("s_d"), F.col("s_d")).otherwise(z)
        + F.when(conf("s_i"), F.col("s_i")).otherwise(z)
    )
    n_units = (
        conf("s_c").cast("long") + conf("s_d").cast("long") + conf("s_i").cast("long")
    )
    res = (
        scored.withColumn("ssum", ssum)
        .filter(F.col("ssum") > 0.0)
        .select(
            "doc_id",
            (wsum / F.col("ssum")).alias("score"),
            n_units.alias("n_units"),
        )
    )
    topk = res.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score", "n_units"
    )


def unit_row(units: dict[str, np.ndarray], doc_id: int) -> int | None:
    """Row of ``doc_id`` in a cached, doc_id-sorted units table (None when
    the doc is not indexed)."""
    ids = units["doc_id"]
    i = int(np.searchsorted(ids, doc_id))
    return i if i < len(ids) and ids[i] == doc_id else None


def search_assets_multiunit_local(
    reader, query_doc_id: int, k: int = 10
) -> pd.DataFrame | None:
    """search_assets_multiunit's answer as a pandas frame, zero Spark
    jobs: the 35-key lookup runs as ``band_rows`` over the reader's cached
    ``unit_bands`` table, the query and candidate units come from its
    cached ``units`` table (IndexReader.sim_tables), and the scoring is
    numpy with the Spark expressions' exact IEEE operations.  None when
    the tables are not cached (missing, or over the reader's cache cap):
    the caller then runs search_assets_multiunit."""
    reader.ensure_fresh()
    tables = reader.sim_tables("units", "unit_bands")
    if tables is None:
        return None
    units, bands = tables
    ids = units["doc_id"]
    i = unit_row(units, query_doc_id)
    if i is None:
        none = np.empty(0, np.int64)
        return ranked(none, none.astype(np.float64), k, n_units=none)
    qc, qd, qi = (int(units[c][i]) for c in ("content_sh", "data_sh", "instance"))
    band, key = np.array(unit_band_keys(qc, qd, qi, _MAX_HAMMING + 1), np.int64).T
    rows, _ = band_rows(bands, band, key)
    cand = np.unique(bands["doc_id"][rows])
    cand = cand[cand != query_doc_id]
    at = np.searchsorted(ids, cand).clip(max=len(ids) - 1)
    at = at[ids[at] == cand]  # the Spark path's semi join on units

    def sim(col: str, qv: int) -> np.ndarray:
        return 1.0 - hamming_np(units[col][at], qv).astype(np.float64) / 64.0

    s_c, s_d = sim("content_sh", qc), sim("data_sh", qd)
    s_i = np.where(units["instance"][at] == qi, 1.0, 0.0)
    c_c, c_d, c_i = (s >= MATCH_THRESHOLD for s in (s_c, s_d, s_i))
    # frozen aggregation order: content, data, instance (ordered float sums)
    wsum = (
        np.where(c_c, s_c * s_c * s_c * s_c, 0.0)
        + np.where(c_d, s_d * s_d * s_d * s_d, 0.0)
        + np.where(c_i, s_i * s_i * s_i * s_i, 0.0)
    )
    ssum = np.where(c_c, s_c, 0.0) + np.where(c_d, s_d, 0.0) + np.where(c_i, s_i, 0.0)
    n_units = c_c.astype(np.int64) + c_d + c_i
    keep = ssum > 0.0
    return ranked(
        ids[at][keep], wsum[keep] / ssum[keep], k, n_units=n_units[keep]
    )
