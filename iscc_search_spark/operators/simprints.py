"""Chunk-level (granular) search — the reference's second query family.

The reference indexes per-segment "simprints" (headerless 128-bit binary
hamming vectors with offset/size — ndim=128 default,
iscc_search/indexes/simprint/usearch_core.py:49-83 composite keys +
hamming metric) and answers: given a query's segment simprints, which
assets contain matching segments, scored by coverage weighting
(iscc_search/indexes/simprint/lmdb_ops.py:253-301 exact search,
usearch_core.py:171-236 approx search).  Spark-first re-expression:

- documents are segmented into fixed ``seg_tokens`` token windows; each
  window gets a 128-bit simhash over its bigram-shingle feature
  occurrences (functions/simhash.py:segment_simhash128_flat)
  stored as two int64 limbs -> a ``simprints`` table (doc_id, seg_idx,
  n_tokens, offset, size, simhash=hi, sh_lo) — (offset, size) is the BYTE
  span of the segment in the canonical (NFC-normalized, lowercased) text,
  the analogue of the reference's IsccChunk pointer (schema.py:260-320);
- a query text is segmented identically; candidate (doc_seg, query_seg)
  pairs come from a banded-LSH equi-join — the 128-bit simhash is cut
  into ``n_bands`` near-equal bit slices and pairs sharing any
  (band, key) are candidates.  With n_bands > max_hamming the pigeonhole
  principle makes recall EXACT (a pair within max_hamming differs in
  fewer bands than exist), so the prune is invisible to correctness while
  scanning only hash-colliding segments instead of the whole table;
- scoring (frozen, oracle-verified): per (doc, query_seg) keep the BEST
  similarity 1 - hamming/128 (A1 max-combine), then
      score(doc) = sum over query segs of best_sim / n_query_segs
  — unmatched query segments contribute 0, the coverage penalty of the
  reference's A7 (usearch_core.py:220-236).  All sims are multiples of
  1/128 (dyadic), so sums are EXACT in float64 regardless of order.

Scale note: at max_hamming=12 the 13 required bands over 128 bits are
~10 bits wide, so the random-collision candidate fraction is
~n_bands/2^10 ≈ 1.3% of a full scan (vs ~40% when the same 13 bands cut
a 64-bit hash — the round-3 measured scale gap).  The wider hash also
CONCENTRATES the relative hamming of truly-similar pairs (std of the
relative distance ~ 1/sqrt(bits)), so absolute thresholds separate
near-identical segments from vocabulary-clustered noise far better.

Serving path: ``SearchIndex.search_granular`` and the HTTP ``/granular``
route answer with ``granular_topk_local`` — the 13-band keyed lookup,
hamming verify and coverage scoring in numpy over the IndexReader's
cached ``simprint_bands`` table (it carries the hash limbs), zero Spark
jobs per query (the first call loads the table with one pyarrow read).
Size gate: when the table is missing or would push the reader's cache
past ``wand._SIM_CACHE_BYTES``, the facade runs ``granular_topk``'s
keyed lookup over the same persisted ``simprint_bands`` table — the one
persisted candidate filter, exact for every max_hamming <= 12.  The
Spark operator also backs the registry gates and is the tests' reference.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from iscc_search_spark.functions.simhash import (
    bigram_hash128_py,
    hamming128_expr,
    hamming_np,
    neardup_score128_expr,
    term_hash128,
)
from iscc_search_spark.functions.textnorm import (
    SEG_TOKENS,
    token_spans_py,
)
from iscc_search_spark.session import arrow_frame

_token_spans = token_spans_py  # query-side tokenizer (shared with stage A)

SIMPRINT_BITS = 128
GRANULAR_DDL = "rank long, doc_id long, score double, n_matched_segs long"
_U64 = (1 << 64) - 1


def segment_simhashes_py(
    text: str, seg_tokens: int = SEG_TOKENS
) -> list[tuple[int, int, int, int, int, int]]:
    """[(seg_idx, n_tokens, offset, size, sh_hi, sh_lo)] for one text —
    the scalar driver/oracle mirror of textnorm._segments_batch (the
    tests compare the two paths segment-by-segment).  offset/size are
    byte spans in the canonical text; (sh_hi, sh_lo) are the signed
    int64 limbs of the 128-bit segment simhash over the window's
    bigram-shingle feature occurrences (simhash.bigram_hash128_py over
    the tokens' md5 limbs; a 1-token window uses the bare unigram
    limbs)."""
    toks, spans = _token_spans(text)
    ulimbs = {t: term_hash128(t) for t in set(toks)}
    out = []
    for i in range(0, len(toks), seg_tokens):
        window = toks[i : i + seg_tokens]
        if len(window) < 2:
            feats = [ulimbs[window[0]]]
        else:
            feats = [
                bigram_hash128_py(*ulimbs[window[j]], *ulimbs[window[j + 1]])
                for j in range(len(window) - 1)
            ]
        v = [0] * 128
        for fh, fl in feats:
            x = (fh << 64) | fl
            for bit in range(128):
                v[bit] += 1 if (x >> (127 - bit)) & 1 else -1
        hi = sum(1 << (63 - b) for b in range(64) if v[b] > 0)
        lo = sum(1 << (127 - b) for b in range(64, 128) if v[b] > 0)
        start_b = spans[i][0]
        end_b = spans[min(i + seg_tokens, len(toks)) - 1][1]
        out.append(
            (
                i // seg_tokens,
                len(window),
                start_b,
                end_b - start_b,
                hi - (1 << 64) if hi >= 1 << 63 else hi,
                lo - (1 << 64) if lo >= 1 << 63 else lo,
            )
        )
    return out


_SEG_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("seg_idx", T.IntegerType()),
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("offset", T.IntegerType()),
            T.StructField("size", T.IntegerType()),
            T.StructField("simhash", T.LongType()),
            T.StructField("sh_lo", T.LongType()),
        ]
    )
)


def _segments_udf(seg_tokens: int):
    @F.pandas_udf(_SEG_SCHEMA)
    def segs(text: pd.Series) -> pd.Series:
        return text.map(
            lambda t: segment_simhashes_py(t, seg_tokens) if t is not None else []
        )

    return segs


def simprints_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = SEG_TOKENS,
) -> DataFrame:
    """(doc_id, seg_idx, n_tokens, offset, size, simhash, sh_lo) per
    segment — simhash is the high limb of the 128-bit segment simprint."""
    segs = _segments_udf(seg_tokens)
    return (
        docs.select(F.col(id_col).alias("doc_id"), segs(text_col).alias("ss"))
        .select("doc_id", F.explode("ss").alias("s"))
        .select(
            "doc_id",
            F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.n_tokens").alias("n_tokens"),
            F.col("s.offset").alias("offset"),
            F.col("s.size").alias("size"),
            F.col("s.simhash").alias("simhash"),
            F.col("s.sh_lo").alias("sh_lo"),
        )
    )


def band_widths(n_bands: int, bits: int = 64) -> list[tuple[int, int]]:
    """[(shift, width)] cutting ``bits`` into n_bands near-equal slices."""
    base, extra = divmod(bits, n_bands)
    out, shift = [], 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        out.append((shift, w))
        shift += w
    return out


# --- 128-bit band keys over (hi, lo) limb pairs ------------------------------
# Bit numbering: value = (hi << 64) | lo, shifts count from the LSB of lo.
# Bands wider than 63 bits (degenerate n_bands<=2 configs) key on the
# SIGNED low-64-bit window of the shifted value — a lossy-but-safe wrap
# (key collisions only ADD candidates; the exact hamming verify filters),
# mirrored bit-for-bit between the JVM exprs and the Python query side.


def band_key128_py(hi: int, lo: int, shift: int, w: int) -> int:
    """Signed-int64 band key for the (shift, w) slice of a 128-bit value
    given as signed limbs — the Python mirror of band_key128_expr."""
    v = ((hi & _U64) << 64) | (lo & _U64)
    key = (v >> shift) & ((1 << min(w, 64)) - 1)
    return key - (1 << 64) if key >= (1 << 63) else key


def band_key128_expr(hi, lo, shift: int, w: int):
    """JVM band-key expression over (hi, lo) long columns; exact mirror of
    band_key128_py for every (shift, w), including limb-spanning slices
    and degenerate >=64-bit windows."""
    chi = F.col(hi) if isinstance(hi, str) else hi
    clo = F.col(lo) if isinstance(lo, str) else lo
    if w >= 64:
        # full signed 64-bit window [shift, shift+64) — no mask literal
        # (a 64-bit mask overflows LongType); wrap is safe (see above)
        if shift == 0:
            return clo
        if shift >= 64:
            return F.shiftrightunsigned(chi, shift - 64)
        return F.shiftrightunsigned(clo, shift).bitwiseOR(
            F.shiftleft(chi, 64 - shift)
        )
    mask = F.lit((1 << w) - 1)
    if shift + w <= 64:
        return F.shiftrightunsigned(clo, shift).bitwiseAND(mask)
    if shift >= 64:
        return F.shiftrightunsigned(chi, shift - 64).bitwiseAND(mask)
    return (
        F.shiftrightunsigned(clo, shift)
        .bitwiseOR(F.shiftleft(chi, 64 - shift))
        .bitwiseAND(mask)
    )


def _band_combos(n_bands: int, combo: int) -> list[tuple[int, ...]]:
    from itertools import combinations

    return list(combinations(range(n_bands), combo))


def _combo_key_py(hi: int, lo: int, widths, idxs) -> int:
    """Concatenated signed-int64 key of the selected bands.  Accumulation
    mirrors the JVM expr exactly — shiftleft amounts mod 64 and 64-bit
    two's-complement wrap — so combos whose total width reaches or
    exceeds 64 bits stay join-consistent (wrap only ADDS candidates;
    exact hamming verification filters)."""
    if len(idxs) == 1:
        shift, w = widths[idxs[0]]
        return band_key128_py(hi, lo, shift, w)
    key = 0
    for bi in idxs:
        shift, w = widths[bi]
        piece = band_key128_py(hi, lo, shift, w) & _U64
        key = ((key << (w & 63)) & _U64) | piece
    return key - (1 << 64) if key >= (1 << 63) else key


def _combo_key_expr(hi, lo, widths, idxs):
    if len(idxs) == 1:
        shift, w = widths[idxs[0]]
        return band_key128_expr(hi, lo, shift, w)
    key = None
    for bi in idxs:
        shift, w = widths[bi]
        piece = band_key128_expr(hi, lo, shift, w)
        key = piece if key is None else F.shiftleft(key, w).bitwiseOR(piece)
    return key


def _query_keys(qsegs, n_bands: int, combo: int) -> list[tuple]:
    """(band, key, q_seg, q_hi, q_lo) lookup keys of the query segments:
    one per (segment, ``combo``-band subset), band = the subset's index in
    the enumeration the build writer shares (combo=1: band i itself)."""
    widths = band_widths(n_bands, SIMPRINT_BITS)
    combos = _band_combos(n_bands, combo)
    return [
        (cid, _combo_key_py(hi, lo, widths, idxs), s, hi, lo)
        for s, _, _, _, hi, lo in qsegs
        for cid, idxs in enumerate(combos)
    ]


_QUERY_KEYS_DDL = "band int, key long, q_seg int, q_hi long, q_lo long"


def _banded_candidates(
    simprints: DataFrame, qsegs, n_bands: int, combo: int
) -> DataFrame:
    """(doc_id, seg_idx, simhash, sh_lo, q_seg, q_hi, q_lo) candidate
    pairs sharing at least one ``combo``-band key.

    combo=1 is classic LSH banding (exact recall iff hamming < n_bands);
    combo=c keys on every c-subset of bands: a pair within hamming h has
    >= n_bands - h clean bands, so recall is exact iff
    n_bands - max_hamming >= c while each key carries c bands' bits —
    exponentially more selective at high thresholds (the multi-piece
    pigeonhole generalization).  ONE scan of the simprints table: keys
    are generated by a JVM explode of C(n_bands, combo) struct literals,
    never a per-combo re-scan."""
    spark = simprints.sparkSession
    widths = band_widths(n_bands, SIMPRINT_BITS)
    q = arrow_frame(spark, _query_keys(qsegs, n_bands, combo), _QUERY_KEYS_DDL)

    entries = [
        F.struct(
            F.lit(cid).alias("band"),
            _combo_key_expr("simhash", "sh_lo", widths, idxs).alias("key"),
        )
        for cid, idxs in enumerate(_band_combos(n_bands, combo))
    ]
    bands = simprints.select(
        "doc_id", "seg_idx", "simhash", "sh_lo",
        F.explode(F.array(*entries)).alias("e"),
    ).select(
        "doc_id", "seg_idx", "simhash", "sh_lo",
        F.col("e.band").alias("band"), F.col("e.key").alias("key"),
    )
    return bands.join(F.broadcast(q), ["band", "key"])


def granular_candidate_fraction(
    simprints: DataFrame,
    query_text: str,
    max_hamming: int = 8,
    seg_tokens: int = SEG_TOKENS,
    n_bands: int | None = None,
    combo: int = 1,
) -> float:
    """Measured prune selectivity: distinct candidate (segment, query_seg)
    pairs admitted by the banded join, as a fraction of the full cross
    product — the bench's 'how much of a scan did the prune save' metric."""
    qsegs = segment_simhashes_py(query_text, seg_tokens)
    if not qsegs:
        return 0.0
    n_bands = n_bands if n_bands is not None else max_hamming + combo
    cand = (
        _banded_candidates(simprints, qsegs, n_bands, combo)
        .select("doc_id", "seg_idx", "q_seg")
        .distinct()
        .count()
    )
    total = simprints.count() * len(qsegs)
    return cand / total if total else 0.0


def _check_band_bound(max_hamming: int) -> None:
    """Refuse thresholds the persisted simprint_bands table cannot answer
    with exact recall (pigeonhole: max_hamming < SEG_BANDS)."""
    from iscc_search_spark.operators.build import SEG_BANDS

    if max_hamming >= SEG_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the persisted band "
            f"table's exact-recall bound (bands_n={SEG_BANDS})"
        )


def granular_topk(
    docs: DataFrame | None,
    query_text: str,
    k: int = 10,
    max_hamming: int = 8,
    seg_tokens: int = SEG_TOKENS,
    simprints: DataFrame | None = None,
    n_bands: int | None = None,
    combo: int = 1,
    bands: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, score, n_matched_segs) top-k docs containing segments
    similar to the query's segments — banded-LSH candidate join over the
    128-bit segment simprints, exact recall for
    n_bands >= max_hamming + combo (default bands: exactly that).
    ``combo`` keys on combo-band subsets: combo=2/3 keeps recall exact
    while pruning harder at high thresholds.

    Pass ``simprints`` (the persisted build artifact,
    operators/build.py:load_simprints) for the serving path — segmenting
    raw ``docs`` per query is the cold-start fallback only.  Pass
    ``bands`` (load_simprint_bands, written at SEG_BANDS fixed ~10-bit
    bands over the 128-bit hash) to fetch candidates by KEYED LOOKUP from
    the persisted LSH table instead of banding the simprints scan per
    query; recall stays exact for max_hamming < SEG_BANDS (pigeonhole on
    the frozen banding)."""
    if bands is not None:
        _check_band_bound(max_hamming)
        spark = bands.sparkSession
    else:
        if simprints is None:
            simprints = simprints_table(docs, seg_tokens=seg_tokens)
        spark = simprints.sparkSession
    n_bands = n_bands if n_bands is not None else max_hamming + combo
    if bands is None and max_hamming > n_bands - combo:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_bands >= max_hamming + combo "
            f"(got n_bands={n_bands}, combo={combo}) for exact recall"
        )
    qsegs = segment_simhashes_py(query_text, seg_tokens)
    if not qsegs:
        return arrow_frame(spark, [], GRANULAR_DDL)
    n_q = len(qsegs)

    if bands is not None:
        from iscc_search_spark.operators.build import SEG_BANDS

        q = arrow_frame(spark, _query_keys(qsegs, SEG_BANDS, 1), _QUERY_KEYS_DDL)
        cands = bands.join(F.broadcast(q), ["band", "key"])
    else:
        cands = _banded_candidates(simprints, qsegs, n_bands, combo)
    matched = (
        cands
        .withColumn(
            "h",
            hamming128_expr(
                F.col("simhash"), F.col("sh_lo"), F.col("q_hi"), F.col("q_lo")
            ),
        )
        .filter(F.col("h") <= max_hamming)
        .select(
            "doc_id",
            "seg_idx",
            "q_seg",
            neardup_score128_expr(
                F.col("simhash"), F.col("sh_lo"), F.col("q_hi"), F.col("q_lo")
            ).alias("sim"),
        )
        .dropDuplicates(["doc_id", "seg_idx", "q_seg"])
    )
    best = matched.groupBy("doc_id", "q_seg").agg(F.max("sim").alias("best_sim"))
    scores = best.groupBy("doc_id").agg(
        (F.sum("best_sim") / F.lit(float(n_q))).alias("score"),
        F.count("*").alias("n_matched_segs"),
    )
    topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score", "n_matched_segs"
    )


def band_rows(
    table: dict[str, np.ndarray], bands: np.ndarray, keys: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Keyed lookup in a (band, key)-sorted cached table: the row indices
    matching each query (band, key), and per row the query key's index —
    the driver-side mirror of the broadcast join on (band, key)."""
    tb, tk = table["band"], table["key"]
    lo = np.zeros(len(bands), np.int64)
    hi = np.zeros(len(bands), np.int64)
    for b in np.unique(bands):
        s, e = np.searchsorted(tb, [b, b + 1])
        m = bands == b
        lo[m] = s + np.searchsorted(tk[s:e], keys[m], "left")
        hi[m] = s + np.searchsorted(tk[s:e], keys[m], "right")
    n = hi - lo
    starts = np.cumsum(n) - n
    rows = np.repeat(lo - starts, n) + np.arange(int(n.sum()))
    return rows, np.repeat(np.arange(len(bands)), n)


def ranked(doc_ids: np.ndarray, score: np.ndarray, k: int, **extra) -> pd.DataFrame:
    """(rank, doc_id, score, *extra) top k by (-score, doc_id) — the
    Spark operators' orderBy + limit + row_number, in numpy."""
    order = np.lexsort((doc_ids, -score))[: max(k, 0)]
    out = pd.DataFrame(
        {
            "rank": np.arange(1, len(order) + 1, dtype=np.int64),
            "doc_id": doc_ids[order].astype(np.int64),
            "score": score[order].astype(np.float64),
        }
    )
    for name, v in extra.items():
        out[name] = v[order].astype(np.int64)
    return out


def granular_topk_local(
    reader, query_text: str, k: int = 10, max_hamming: int = 8,
    seg_tokens: int = SEG_TOKENS,
) -> pd.DataFrame | None:
    """granular_topk's answer as a pandas frame, zero Spark jobs: the
    13-band keyed lookup runs as ``band_rows`` over the reader's cached
    ``simprint_bands`` table (IndexReader.sim_tables), the verify and
    scoring as numpy over the candidate rows with the Spark path's exact
    IEEE operations.  None when the table is not cached (missing, or over
    the reader's cache cap): the caller then runs granular_topk."""
    from iscc_search_spark.operators.build import SEG_BANDS

    _check_band_bound(max_hamming)
    reader.ensure_fresh()
    tables = reader.sim_tables("simprint_bands")
    if tables is None:
        return None
    (sb,) = tables
    qsegs = segment_simhashes_py(query_text, seg_tokens)
    keys = _query_keys(qsegs, SEG_BANDS, 1)
    cols = [np.array(c, dtype=np.int64) for c in zip(*keys)] or [
        np.empty(0, np.int64)
    ] * 5
    q_band, q_key, q_seg, q_hi, q_lo = cols
    rows, which = band_rows(sb, q_band, q_key)
    h = hamming_np(sb["simhash"][rows], q_hi[which]) + hamming_np(
        sb["sh_lo"][rows], q_lo[which]
    )
    keep = h <= max_hamming
    doc, seg = sb["doc_id"][rows][keep], q_seg[which][keep]
    sim = 1.0 - h[keep].astype(np.float64) / 128.0
    if not len(doc):
        return ranked(doc, sim, k, n_matched_segs=doc)
    # best similarity per (doc, query segment), then per doc the sum of
    # the bests over the query's segment count (dyadic: exact sums)
    order = np.lexsort((seg, doc))
    doc, seg, sim = doc[order], seg[order], sim[order]
    pair = np.flatnonzero(
        np.r_[True, (doc[1:] != doc[:-1]) | (seg[1:] != seg[:-1])]
    )
    best, bdoc = np.maximum.reduceat(sim, pair), doc[pair]
    first = np.flatnonzero(np.r_[True, bdoc[1:] != bdoc[:-1]])
    score = np.add.reduceat(best, first) / float(len(qsegs))
    n_matched = np.diff(np.r_[first, len(bdoc)])
    return ranked(bdoc[first], score, k, n_matched_segs=n_matched)
