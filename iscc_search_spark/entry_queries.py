"""Driver-contract query registry: Spark implementation + DuckDB oracle SQL
for every operator claimed in SURVEY.md §2.

Cross-engine float discipline (the driver hashes values order-insensitively,
so Spark and DuckDB results must agree value-for-value):

- integer math everywhere possible (hashes, counts, hamming) — exact;
- single float ops (one division, one product chain in fixed order) — IEEE
  ops are deterministic, so results are bit-identical;
- float SUMS are always *ordered folds* in both engines
  (array_sort+aggregate in Spark, list(x ORDER BY x)+list_reduce in DuckDB):
  an unordered double sum differs across engines by ulps;
- transcendentals (ln) go through libm on both sides (DuckDB std::log ==
  CPython math.log, measured bit-identical; Spark JVM log differs by 1 ulp
  on ~8% of inputs, so idf is computed driver-side or via numpy+round);
- BM25 scores are additionally round(_, 6)-ed on both sides (belt and
  braces for the ulp tail).

DuckDB dialect notes (v1.0): bare numeric literals are DECIMAL — every float
literal is cast/suffixed to DOUBLE; `x ** y` returns DOUBLE — powers of two
are precomputed Python-side; sum(BIGINT) returns HUGEINT — cast back.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iscc_search_spark.config import BM25Config
from iscc_search_spark.functions.analysis import (
    LANG_LEXICON,
    STOPWORDS_EN,
    doc_fingerprints,
    langid,
    quality_features,
)
from iscc_search_spark.functions.hashing import MERSENNE_31, minhash_params
from iscc_search_spark.functions.simhash import doc_simhash_udf
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators import ann, dedup, neardup
from iscc_search_spark.operators.query import (
    bm25_exact_topk,
    bm25_scores,
    doc_lengths,
    doc_term_tf,
)

BM25 = BM25Config()
K1, B = BM25.k1, BM25.b

# fixed reference queries against the testdata `documents` vocabulary
# fixed 64-token granular query (2 segments): the first window is doc 1's
# tokens [0:32) verbatim (an exact segment match, hamming 0), the second
# its tokens [32:64) with two substitutions at the window's BOUNDARY
# positions (each changes exactly one bigram-shingle feature of 31;
# hamming 8 under the format_version-3 hash) — so the a7 gate exercises
# both exact and approximate granular hits with a non-empty result (the
# same fixed-doc convention as MLT_DOC)
GRANULAR_QUERY_TEXT = (
    "batch window spark order data column agg join small line customer "
    "query line value a table customer fast key scan query big table "
    "table part agg order scan stream fast order group filter sort column "
    "query big query value customer stream window stream sort query line "
    "window batch customer join merge value spark part filter query key "
    "scan sort a scan spark fast dup"
)

Q1 = "batch dup"            # common + rare
Q2 = "spark query data window sort"  # 5 terms
Q3 = "dup"                  # single rare term
Q4 = "batch zzznotaterm"    # partial OOV
MLT_DOC = 7                 # more-like-this source doc_id
ANN_QUERY_ID = 0
BM25_THRESHOLD = 0.5

# ---------------------------------------------------------------------------
# DuckDB SQL fragments
# ---------------------------------------------------------------------------

ARR = "list_filter(regexp_split_to_array(lower(text), '[^0-9a-z]+'), x -> x <> '')"
TOKS = f"SELECT doc_id, unnest({ARR}) AS term FROM documents"


def _d(v: float) -> str:
    """Render a Python float as an exact DuckDB DOUBLE literal."""
    return f"CAST({v!r} AS DOUBLE)"


def _h32_sql(expr: str) -> str:
    """h32 (first 8 md5 hex chars as uint32) in portable SQL."""
    parts = [
        f"(strpos('0123456789abcdef', md5({expr})[{i + 1}]) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    ]
    return "(" + " + ".join(parts) + ")"


def _bm25_summed_cte(terms_sql: str) -> str:
    """CTEs toks..summed producing (doc_id, score) for query terms."""
    return f"""
WITH toks AS ({TOKS}),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n,
              CAST((SELECT sum(dl) FROM dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS ad),
qt AS ({terms_sql}),
dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
idf AS (SELECT term, ln((CAST(st.n - df AS DOUBLE) + {_d(0.5)}) / (CAST(df AS DOUBLE) + {_d(0.5)}) + {_d(1.0)}) AS idf
        FROM dfr, st),
sc AS (SELECT tf.doc_id, tf.term,
              idf.idf * ((CAST(tf.tf AS DOUBLE) * {_d(K1 + 1.0)})
              / (CAST(tf.tf AS DOUBLE) + {_d(K1)} * ({_d(1.0 - B)} + ({_d(B)} * CAST(dl.dl AS DOUBLE)) / st.ad))) AS s
       FROM tf JOIN idf USING (term) JOIN dl USING (doc_id), st),
summed AS (SELECT doc_id, list_reduce(list(s ORDER BY term), (a, b) -> a + b) AS score
           FROM sc GROUP BY doc_id)"""


def _terms_values(terms: list[str]) -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"SELECT term FROM (VALUES {vals}) q(term)"


def bm25_topk_sql(query: str, k: int = 10) -> str:
    terms = sorted(set(tokenize_py(query)))
    return f"""{_bm25_summed_cte(_terms_values(terms))}
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM summed
) WHERE rank <= {k}"""


SIMHASH_CTE = f"""
WITH toks AS ({TOKS}),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
th AS (SELECT doc_id, tf, md5(term) AS h FROM tf),
bb AS (SELECT doc_id, i,
              sum(tf * (2 * (((strpos('0123456789abcdef', h[(i // 4) + 1]) - 1) >> (3 - (i % 4))) & 1) - 1)) AS v
       FROM th, (SELECT unnest(range(0, 64)) AS i) bits
       GROUP BY doc_id, i),
sh0 AS (SELECT doc_id,
               CAST(sum(CASE WHEN i = 0 AND v > 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                             WHEN i > 0 AND v > 0 THEN CAST(CAST(1 AS BIGINT) << (63 - i) AS HUGEINT)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bb GROUP BY doc_id),
sh AS (SELECT d.doc_id, COALESCE(sh0.simhash, 0) AS simhash
       FROM documents d LEFT JOIN sh0 USING (doc_id))"""


# --- frozen uint64-mixer SQL helpers --------------------------------------
# Exact DuckDB mirrors of simhash.bigram_hash128_py (rotate / add mod 2^64
# / xor), shared by the segment-simprint oracle (format_version 3) and the
# DATA-unit trigram oracle (format_version 4).  rotl on UBIGINT-range
# values is routed through HUGEINT ((x << r) | (x >> (64 - r)) expressed
# as disjoint-bit + instead of |); verified byte-exact vs the Python
# mirror in tests.
_M64 = "18446744073709551616::HUGEINT"


def _rotl(x: str, r: int) -> str:
    return (
        f"CAST(((({x}) * {1 << r}::HUGEINT) % {_M64}"
        f" + (({x}) // {1 << (64 - r)}::HUGEINT)) AS UBIGINT)"
    )


def _mix(ah: str, al: str, bh: str, bl: str) -> tuple[str, str]:
    f_hi = (
        f"xor(CAST((({_rotl(ah, 17)}::HUGEINT) + ({bh})::HUGEINT)"
        f" % {_M64} AS UBIGINT), {_rotl(bl, 47)})"
    )
    f_lo = (
        f"xor(CAST((({_rotl(al, 23)}::HUGEINT) + ({bl})::HUGEINT)"
        f" % {_M64} AS UBIGINT), {_rotl(ah, 41)})"
    )
    return f_hi, f_lo


# per-token md5 limb from hex nibbles (k = 1..16; off selects hi/lo half)
_limb = (
    "CAST(sum(CAST(strpos('0123456789abcdef', h[CAST(k{off} AS INT)]) - 1 AS HUGEINT)"
    " * CAST(CAST(1 AS BIGINT) << CAST((16 - k) * 4 AS INT) AS HUGEINT)) AS UBIGINT)"
)
# 128-row (i, power-of-two divisor, which limb) table as exact literals
_bitvals = ", ".join(
    f"({i}, {1 << (63 - i if i < 64 else 127 - i)}::UBIGINT, {1 if i < 64 else 0})"
    for i in range(128)
)
_bitvals64 = ", ".join(f"({i}, {1 << (63 - i)}::UBIGINT)" for i in range(64))


def _minhash_sig_cte(n_perm: int, ngram: int, seed: int = 42) -> str:
    a, b = minhash_params(n_perm, seed)
    if ngram == 1:
        arr = f"list_distinct({ARR})"
    else:
        arr = (
            f"list_distinct(list_transform(range(1, len({ARR}) - {ngram - 2}), "
            + f"i -> " + " || ' ' || ".join(f"{ARR}[i + {j}]" for j in range(ngram))
            + "))"
        )
    h32 = _h32_sql("s")
    mins = ", ".join(
        f"min(((h32 % {MERSENNE_31}) * {a[k]} + {b[k]}) % {MERSENNE_31}) AS m{k}"
        for k in range(n_perm)
    )
    return f"""
WITH sh AS (SELECT doc_id, unnest({arr}) AS s FROM documents),
hh AS (SELECT doc_id, s, {h32} AS h32 FROM sh),
sig AS (SELECT doc_id, {mins} FROM hh GROUP BY doc_id)"""


def _minhash_pipeline_sql(n_perm: int, n_bands: int, ngram: int, threshold: float) -> str:
    rows = n_perm // n_bands
    band_rows = []
    for bi in range(n_bands):
        key = " || '-' || ".join(
            f"CAST(m{bi * rows + r} AS VARCHAR)" for r in range(rows)
        )
        band_rows.append(
            f"SELECT doc_id, {bi} AS band, {key} AS key FROM sig"
        )
    bands = " UNION ALL ".join(band_rows)
    return f"""{_minhash_sig_cte(n_perm, ngram)},
bands AS ({bands}),
pairs AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2
          FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT p.doc1, p.doc2, CAST(count(*) AS BIGINT) AS i
          FROM pairs p JOIN sh a ON a.doc_id = p.doc1 JOIN sh b ON b.doc_id = p.doc2 AND b.s = a.s
          GROUP BY p.doc1, p.doc2)
SELECT i.doc1, i.doc2,
       CAST(i.i AS DOUBLE) / CAST(s1.n + s2.n - i.i AS DOUBLE) AS jaccard
FROM inter i JOIN sizes s1 ON s1.doc_id = i.doc1 JOIN sizes s2 ON s2.doc_id = i.doc2
WHERE CAST(i.i AS DOUBLE) / CAST(s1.n + s2.n - i.i AS DOUBLE) >= {_d(threshold)}"""


def _rph_lsh_oracle_sql(
    query_id: int,
    dim: int = 64,
    n_planes: int = 64,
    seed: int = 42,
    n_bands: int = 16,
    k: int = 10,
) -> str:
    """Random-hyperplane-LSH ANN oracle: signatures from inlined plane
    literals -> banded candidates -> exact cosine rerank (mirrors
    ann.rph_ann_topk exactly, including the index-ordered dot folds)."""
    from iscc_search_spark.operators.ann import rph_planes

    planes = rph_planes(dim, n_planes, seed)

    def fold(p: int) -> str:
        lits = ", ".join(_d(float(planes[i, p])) for i in range(dim))
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]), (a, b) -> a + b)"
        )

    bits = " + ".join(
        f"(CASE WHEN {fold(p)} > 0 THEN CAST('{2 ** (63 - p)}' AS HUGEINT) "
        "ELSE CAST(0 AS HUGEINT) END)"
        for p in range(n_planes)
    )
    width = n_planes // n_bands
    band_eq = " OR ".join(
        f"((s.us // CAST('{2 ** (width * b)}' AS HUGEINT)) % {2 ** width} = "
        f"(q.qs // CAST('{2 ** (width * b)}' AS HUGEINT)) % {2 ** width})"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, ({bits}) AS us FROM embeddings),
q AS (SELECT us AS qs FROM sig WHERE vec_id = {query_id}),
cand AS (SELECT s.vec_id FROM sig s, q WHERE s.vec_id <> {query_id} AND ({band_eq})),
qe AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
pr AS (SELECT e.vec_id,
              list_reduce(list_transform(range(1, {dim + 1}), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe.qv[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
              sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS ne,
              sqrt(list_reduce(list_transform(qe.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nq
       FROM embeddings e JOIN cand USING (vec_id), qe)
SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(cosine, 6) AS cosine FROM (
  SELECT vec_id, dot / (ne * nq) AS cosine,
         row_number() OVER (ORDER BY dot / (ne * nq) DESC, vec_id) AS rank FROM pr
) WHERE rank <= {k}"""


def _rph_neardup_oracle_sql(
    threshold: float,
    dim: int = 64,
    n_planes: int = 64,
    seed: int = 42,
    n_bands: int = 16,
) -> str:
    """Embedding near-dup pairs oracle: the SAME seeded planes + banding as
    ann.embedding_neardup_pairs (inlined literals, index-ordered folds),
    then exact cosine >= threshold on the candidate pairs."""
    from iscc_search_spark.operators.ann import rph_planes

    planes = rph_planes(dim, n_planes, seed)

    def fold(p: int) -> str:
        lits = ", ".join(_d(float(planes[i, p])) for i in range(dim))
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]), (a, b) -> a + b)"
        )

    bits = " + ".join(
        f"(CASE WHEN {fold(p)} > 0 THEN CAST('{2 ** (63 - p)}' AS HUGEINT) "
        "ELSE CAST(0 AS HUGEINT) END)"
        for p in range(n_planes)
    )
    width = n_planes // n_bands
    band_eq = " OR ".join(
        f"((l.us // CAST('{2 ** (width * b)}' AS HUGEINT)) % {2 ** width} = "
        f"(r.us // CAST('{2 ** (width * b)}' AS HUGEINT)) % {2 ** width})"
        for b in range(n_bands)
    )
    return f"""
WITH sig AS (SELECT vec_id, ({bits}) AS us FROM embeddings),
cand AS (SELECT l.vec_id AS vec1, r.vec_id AS vec2
         FROM sig l JOIN sig r ON l.vec_id < r.vec_id AND ({band_eq})),
pr AS (SELECT c.vec1, c.vec2,
              list_reduce(list_transform(range(1, {dim + 1}), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x, y) -> x + y)
              / (sqrt(list_reduce(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
                 * sqrt(list_reduce(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))) AS cosine
       FROM cand c JOIN embeddings a ON a.vec_id = c.vec1
                   JOIN embeddings b ON b.vec_id = c.vec2)
SELECT vec1, vec2, round(cosine, 6) AS cosine FROM pr WHERE cosine >= {_d(threshold)}"""


def _ordered_sum_sql(x: str) -> str:
    """Ordered float64 fold — bit-identical to Spark array_sort+aggregate."""
    return f"list_reduce(list({x} ORDER BY {x}), (a, b) -> a + b)"


def _ordered_sum_col(c):
    """Ordered float64 fold of one group: sort the group's values, then add
    them left to right.

    Scale bound: ``collect_list`` gathers the whole group into ONE array in
    one task (8 bytes a value, plus the sort), and ``a1_tpch_q1_pricing``'s
    ``applyInPandas`` likewise holds one group in one pandas frame, so the
    largest group must fit in one executor's memory.  No tree fold can lift
    that bound: the frozen semantics are the sequential IEEE fold over the
    ascending values (bit-identical to the oracle's ``list_reduce``), and
    per-partition partial sums round differently."""
    return F.aggregate(
        F.array_sort(F.collect_list(c)), F.lit(0.0), lambda acc, v: acc + v
    )


# ---------------------------------------------------------------------------
# table loaders
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# one real index build per sf_dir, shared by every index-backed gate
_INDEX_CACHE: dict[str, str] = {}


def _built_index(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir not in _INDEX_CACHE:
        import tempfile

        from iscc_search_spark.operators.build import build_index

        d = tempfile.mkdtemp(prefix="entry_index_")
        build_index(
            spark,
            _t(spark, sf_dir, "documents"),
            d,
            n_parts=8,
            n_shards=8,
            group_size=8,
        )
        _INDEX_CACHE[sf_dir] = d
    return _INDEX_CACHE[sf_dir]


def _docs_tf(docs: DataFrame) -> DataFrame:
    return doc_term_tf(docs, "text", "doc_id")


def _bm25_topk_q(query: str, k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        out = bm25_exact_topk(docs, query, k=k)
        return out.withColumn("score", F.round("score", 6))

    return run


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def build_registry() -> tuple[dict[str, Callable], dict[str, str]]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}

    # --- scans / filters (S2, P1, P2) -------------------------------------
    def s2(spark, sf):
        return (
            _t(spark, sf, "documents")
            .filter((F.col("lang") == "en") & (F.col("n_chars") >= 100))
            .select("doc_id", "n_chars", "source")
        )

    queries["s2_scan_projection_filter"] = s2
    oracles["s2_scan_projection_filter"] = (
        "SELECT doc_id, n_chars, source FROM documents "
        "WHERE lang = 'en' AND n_chars >= 100"
    )

    # --- inverted index build blocks (B1, A4, A5, F10) ---------------------
    def b1(spark, sf):
        return _docs_tf(_t(spark, sf, "documents"))

    queries["b1_doc_term_tf"] = b1
    oracles["b1_doc_term_tf"] = (
        f"SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM ({TOKS}) t "
        "GROUP BY doc_id, term"
    )

    def a4(spark, sf):
        return (
            _docs_tf(_t(spark, sf, "documents"))
            .groupBy("term")
            .agg(F.count("*").alias("df"))
        )

    queries["a4_term_df"] = a4
    oracles["a4_term_df"] = (
        f"SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM ({TOKS}) t "
        "GROUP BY term"
    )

    def f10(spark, sf):
        return doc_lengths(_t(spark, sf, "documents"), "text", "doc_id")

    queries["f10_doc_lengths"] = f10
    oracles["f10_doc_lengths"] = (
        f"SELECT doc_id, CAST(len({ARR}) AS BIGINT) AS doc_len FROM documents"
    )

    def a5(spark, sf):
        # idf via driver-side libm over the (small) set of distinct df
        # values — the same query-constant discipline as the search path
        docs = _t(spark, sf, "documents")
        n = docs.count()
        dfs = _docs_tf(docs).groupBy("term").agg(F.count("*").alias("df"))
        distinct_dfs = [int(r["df"]) for r in dfs.select("df").distinct().collect()]
        idf_map = F.create_map(
            *[
                x
                for d in sorted(distinct_dfs)
                for x in (
                    F.lit(d),
                    F.lit(round(math.log((n - d + 0.5) / (d + 0.5) + 1.0), 6)),
                )
            ]
        )
        return dfs.withColumn("idf", idf_map[F.col("df")])

    queries["a5_term_idf"] = a5
    oracles["a5_term_idf"] = f"""
WITH toks AS ({TOKS}),
dfr AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
SELECT term, df,
       round(ln((CAST(n.n - df AS DOUBLE) + {_d(0.5)}) / (CAST(df AS DOUBLE) + {_d(0.5)}) + {_d(1.0)}), 6) AS idf
FROM dfr, n"""

    # --- BM25 top-k (T1, T2, A7 analogue) ----------------------------------
    for name, q in [
        ("t1_bm25_topk_q1", Q1),
        ("t1_bm25_topk_q2", Q2),
        ("t1_bm25_topk_q3", Q3),
        ("t1_bm25_topk_q4_partial_oov", Q4),
    ]:
        queries[name] = _bm25_topk_q(q)
        oracles[name] = bm25_topk_sql(q)

    # the SAME queries answered from the COMPRESSED INDEX (block-max WAND
    # over FOR/varbyte posting blocks) against the SAME DuckDB oracle —
    # the driver-visible proof that the full build→compress→prune→score
    # pipeline is rank- AND score-identical, not just the relational path
    def _bm25_wand_q(query: str, k: int = 10):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            from iscc_search_spark.operators.wand import bm25_wand_topk

            out = bm25_wand_topk(spark, _built_index(spark, sf_dir), query, k=k)
            return out.withColumn("score", F.round("score", 6))

        return run

    for name, q in [
        ("t1_bm25_wand_index_q1", Q1),
        ("t1_bm25_wand_index_q4_partial_oov", Q4),
    ]:
        queries[name] = _bm25_wand_q(q)
        oracles[name] = bm25_topk_sql(q)

    # --- score threshold predicate (P3) ------------------------------------
    def p3(spark, sf):
        docs = _t(spark, sf, "documents")
        scores = bm25_scores(docs, tokenize_py(Q1))
        return scores.withColumn("score", F.round("score", 6)).filter(
            F.col("score") >= BM25_THRESHOLD
        )

    queries["p3_bm25_score_threshold"] = p3
    oracles["p3_bm25_score_threshold"] = f"""{_bm25_summed_cte(_terms_values(tokenize_py(Q1)))}
SELECT doc_id, round(score, 6) AS score FROM summed WHERE round(score, 6) >= {_d(BM25_THRESHOLD)}"""

    # --- more-like-this with self-exclusion (J5 + P5) ----------------------
    def j5(spark, sf):
        docs = _t(spark, sf, "documents")
        src = docs.filter(F.col("doc_id") == MLT_DOC).select("text").collect()
        terms = sorted(set(tokenize_py(src[0]["text"]))) if src else []
        scores = bm25_scores(docs, terms).filter(F.col("doc_id") != MLT_DOC)
        topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            topk.withColumn("rank", F.row_number().over(w).cast("long"))
            .withColumn("score", F.round("score", 6))
            .select("rank", "doc_id", "score")
        )

    queries["j5_more_like_this"] = j5
    mlt_terms = f"SELECT DISTINCT term FROM toks WHERE doc_id = {MLT_DOC}"
    oracles["j5_more_like_this"] = f"""{_bm25_summed_cte(mlt_terms)}
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(score, 6) AS score FROM (
  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM summed WHERE doc_id <> {MLT_DOC}
) WHERE rank <= 10"""

    # --- exact dedup (U1/U2/B3) --------------------------------------------
    def u1(spark, sf):
        return dedup.exact_duplicates(_t(spark, sf, "documents"))

    queries["u1_dedup_exact"] = u1
    oracles["u1_dedup_exact"] = """
WITH keyed AS (SELECT doc_id, md5(text) AS dup_key FROM documents),
grp AS (SELECT dup_key, CAST(count(*) AS BIGINT) AS group_size, min(doc_id) AS canonical
        FROM keyed GROUP BY dup_key)
SELECT k.doc_id, k.dup_key, g.group_size, k.doc_id = g.canonical AS keep
FROM keyed k JOIN grp g USING (dup_key)"""

    # --- minhash LSH dedup + ngram jaccard ---------------------------------
    def mh1(spark, sf):
        return dedup.minhash_dedup(
            _t(spark, sf, "documents"), n_perm=16, n_bands=4, ngram=1, threshold=0.5
        )

    queries["dedup_minhash_lsh"] = mh1
    oracles["dedup_minhash_lsh"] = _minhash_pipeline_sql(16, 4, 1, 0.5)

    def mh3(spark, sf):
        return dedup.minhash_dedup(
            _t(spark, sf, "documents"), n_perm=16, n_bands=4, ngram=3, threshold=0.3
        )

    queries["dedup_ngram3_jaccard"] = mh3
    oracles["dedup_ngram3_jaccard"] = _minhash_pipeline_sql(16, 4, 3, 0.3)

    # --- simhash (F6/F7 identity feature) ----------------------------------
    def f6(spark, sf):
        # one-pass text -> simhash (doc_simhash_udf): value-identical to
        # the groupBy(collect_list) + simhash_udf pipeline but with zero
        # shuffles (was two: doc_term_tf's groupBy + the collect_list one).
        # spread_small: few-row-group inputs otherwise run the UDF on a
        # handful of skewed scan tasks.
        from iscc_search_spark.session import spread_small

        docs = spread_small(_t(spark, sf, "documents").select("doc_id", "text"))
        return docs.select(
            "doc_id",
            F.coalesce(doc_simhash_udf("text"), F.lit(0)).alias("simhash"),
        )

    queries["f6_doc_simhash"] = f6
    oracles["f6_doc_simhash"] = SIMHASH_CTE + "\nSELECT doc_id, simhash FROM sh"

    def j3(spark, sf):
        # max_hamming=7 with 8 bands: exact pigeonhole recall (a threshold
        # equal to the band count would silently miss one-bit-per-band pairs)
        docs_sh = f6(spark, sf)
        return neardup.simhash_neardup_pairs(docs_sh, max_hamming=7)

    queries["j3_simhash_neardup"] = j3
    shifts = ", ".join(str(2 ** (8 * b)) for b in range(8))
    oracles["j3_simhash_neardup"] = f"""{SIMHASH_CTE},
u AS (SELECT doc_id, simhash,
             CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(simhash AS HUGEINT) END AS us FROM sh),
bands AS (SELECT doc_id, simhash, b.b AS band,
                 CAST((us // ([{shifts}])[b.b + 1]) % 256 AS BIGINT) AS key
          FROM u, (SELECT unnest(range(0, 8)) AS b) b),
cand AS (SELECT DISTINCT l.doc_id AS doc1, r.doc_id AS doc2, l.simhash AS s1, r.simhash AS s2
         FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)
SELECT doc1, doc2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming,
       {_d(1.0)} - CAST(bit_count(xor(s1, s2)) AS DOUBLE) / {_d(64.0)} AS score
FROM cand WHERE bit_count(xor(s1, s2)) <= 7"""

    # --- transitive dup-cluster canonicalization (dedup family) ------------
    def dedup_clusters(spark, sf):
        # connected components over the simhash near-dup pairs: A~B and
        # B~C collapse into one cluster labeled min(doc_id), even when
        # A~C was never proposed — the canonicalization step after any
        # pairwise dedup
        from iscc_search_spark.operators.dedup import dup_clusters

        pairs = neardup.simhash_neardup_pairs(f6(spark, sf), max_hamming=7)
        return dup_clusters(pairs.select("doc1", "doc2"))

    queries["dedup_cluster_canonical"] = dedup_clusters
    # oracle: exact pairwise hamming edges (banded recall is exact at
    # h=7 < 8 bands, and sf0.01 is small enough for the cross join) +
    # a recursive min-label reachability closure
    oracles["dedup_cluster_canonical"] = f"""{SIMHASH_CTE.replace("WITH ", "WITH RECURSIVE ", 1)},
e AS (SELECT a.doc_id AS a, b.doc_id AS b FROM sh a, sh b
      WHERE a.doc_id <> b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 7),
rr AS (SELECT a AS doc_id, a AS lab FROM e
       UNION
       SELECT e.b, rr.lab FROM rr JOIN e ON e.a = rr.doc_id)
SELECT doc_id, CAST(min(lab) AS BIGINT) AS cluster_id FROM rr GROUP BY doc_id"""

    # --- eval-set decontamination (training-pipeline op) --------------------
    # wide fixture (20 flagged (doc, bench) rows at sf0.01) spanning the
    # threshold boundary, so the gate can distinguish the containment
    # formula from plausible wrong ones (doc-side denominator, off-by-one
    # gram windows, >-vs->= threshold):
    #   benches 0-3: 9-token spans shared by near-dup DOC PAIRS -> two
    #     rows each at containment 1.0;
    #   benches 4-15: single-doc snippets + {0,2,5,11} out-of-corpus junk
    #     tokens -> containments 1.0, 5/7, 0.5 and 5/16 = 0.3125 (just
    #     ABOVE the 0.3 threshold);
    #   benches 16-17: the bench-4/5 snippets + 12 junk tokens -> 5/17 =
    #     0.294, just BELOW threshold (must NOT appear);
    #   bench 18: matches nothing.
    BENCH_SETS = [
        (0, "a a a table agg line filter scan the"),
        (1, "a big hash hash vector key a line window"),
        (2, "a big scan agg order fast row window slow"),
        (3, "a column batch customer value vector line group data"),
        (4, "small stream value table merge hash big column group"),
        (5, "the scan big window column key slow filter merge"),
        (6, "a batch table batch spark hash row data fast"),
        (7, "window column customer spark query the value spark spark zzx7j0 zzx7j1"),
        (8, "slow value column join merge column slow fast part zzx8j0 zzx8j1"),
        (9, "agg customer value vector key vector window query hash zzx9j0 zzx9j1"),
        (10, "join the order big filter hash scan vector filter zzx10j0 zzx10j1 zzx10j2 zzx10j3 zzx10j4"),
        (11, "the fast window a line big query group window zzx11j0 zzx11j1 zzx11j2 zzx11j3 zzx11j4"),
        (12, "slow filter filter value filter small group scan key zzx12j0 zzx12j1 zzx12j2 zzx12j3 zzx12j4"),
        (13, "query line key batch row sort a slow filter zzx13j0 zzx13j1 zzx13j2 zzx13j3 zzx13j4 zzx13j5 zzx13j6 zzx13j7 zzx13j8 zzx13j9 zzx13j10"),
        (14, "the sort agg value sort window join value big zzx14j0 zzx14j1 zzx14j2 zzx14j3 zzx14j4 zzx14j5 zzx14j6 zzx14j7 zzx14j8 zzx14j9 zzx14j10"),
        (15, "fast customer part slow spark query part order slow zzx15j0 zzx15j1 zzx15j2 zzx15j3 zzx15j4 zzx15j5 zzx15j6 zzx15j7 zzx15j8 zzx15j9 zzx15j10"),
        (16, "small stream value table merge hash big column group zzx16j0 zzx16j1 zzx16j2 zzx16j3 zzx16j4 zzx16j5 zzx16j6 zzx16j7 zzx16j8 zzx16j9 zzx16j10 zzx16j11"),
        (17, "the scan big window column key slow filter merge zzx17j0 zzx17j1 zzx17j2 zzx17j3 zzx17j4 zzx17j5 zzx17j6 zzx17j7 zzx17j8 zzx17j9 zzx17j10 zzx17j11"),
        (18, "zzzeval held out sample that no training document contains"),
    ]
    DECON_NGRAM, DECON_T = 5, 0.3

    def decontaminate(spark, sf):
        from iscc_search_spark.operators.dedup import benchmark_contamination

        bench = spark.createDataFrame(BENCH_SETS, "bench_id long, text string")
        out = benchmark_contamination(
            _t(spark, sf, "documents"), bench,
            ngram=DECON_NGRAM, threshold=DECON_T,
        )
        return out.withColumn("containment", F.round("containment", 6))

    queries["q_benchmark_decontamination"] = decontaminate
    _dec_rows = []
    for bid, btxt in BENCH_SETS:
        toks = tokenize_py(btxt)
        grams = sorted(
            {
                " ".join(toks[i : i + DECON_NGRAM])
                for i in range(len(toks) - DECON_NGRAM + 1)
            }
        )
        _dec_rows += [(bid, g) for g in grams]
    _dec_vals = ", ".join(
        "({}, '{}')".format(bid, g.replace("'", "''")) for bid, g in _dec_rows
    )
    _dec_arr = (
        f"list_distinct(list_transform(range(1, len({ARR}) - {DECON_NGRAM - 2}), "
        + "i -> "
        + " || ' ' || ".join(f"{ARR}[i + {j}]" for j in range(DECON_NGRAM))
        + "))"
    )
    oracles["q_benchmark_decontamination"] = f"""
WITH b AS (SELECT * FROM (VALUES {_dec_vals}) b(bench_id, s)),
bn AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_bench FROM b GROUP BY bench_id),
dsh AS (SELECT doc_id, unnest({_dec_arr}) AS s FROM documents),
i AS (SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS inter
      FROM dsh JOIN b USING (s) GROUP BY doc_id, bench_id)
SELECT doc_id, CAST(bench_id AS BIGINT) AS bench_id,
       round(CAST(inter AS DOUBLE) / CAST(n_bench AS DOUBLE), 6) AS containment
FROM i JOIN bn USING (bench_id)
WHERE CAST(inter AS DOUBLE) / CAST(n_bench AS DOUBLE) >= {_d(DECON_T)}"""

    # --- ANN over embeddings (J3 similarity-join family) -------------------
    def annq(spark, sf):
        out = ann.cosine_topk(_t(spark, sf, "embeddings"), ANN_QUERY_ID, k=10)
        return out.withColumn("cosine", F.round("cosine", 6))

    queries["ann_cosine_topk"] = annq
    oracles["ann_cosine_topk"] = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
pr AS (SELECT e.vec_id,
              list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
              sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS ne,
              sqrt(list_reduce(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nq
       FROM embeddings e, q WHERE e.vec_id <> {ANN_QUERY_ID})
SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(cosine, 6) AS cosine FROM (
  SELECT vec_id, dot / (ne * nq) AS cosine,
         row_number() OVER (ORDER BY dot / (ne * nq) DESC, vec_id) AS rank FROM pr
) WHERE rank <= 10"""

    def ann_lsh(spark, sf):
        out = ann.rph_ann_topk(_t(spark, sf, "embeddings"), ANN_QUERY_ID, k=10, dim=64)
        return out.withColumn("cosine", F.round("cosine", 6))

    queries["ann_rph_lsh_topk"] = ann_lsh
    # full SQL oracle: the seeded Gaussian plane matrix is inlined as DOUBLE
    # literals; per-plane dots are index-ordered folds on BOTH sides (the
    # Spark UDF accumulates in ascending dim order, not BLAS), so signature
    # bits, band candidates and the exact rerank agree bit-for-bit
    oracles["ann_rph_lsh_topk"] = _rph_lsh_oracle_sql(ANN_QUERY_ID)

    # --- embedding-cosine near-dup pairs (the dedup family's 4th member) ---
    # LSH-candidate self-join + exact cosine verify; the oracle mirrors the
    # seeded planes and banding, so candidate set AND values match exactly
    NEARDUP_COS = 0.45

    def emb_nd(spark, sf):
        from iscc_search_spark.operators.ann import embedding_neardup_pairs

        out = embedding_neardup_pairs(
            _t(spark, sf, "embeddings"), threshold=NEARDUP_COS, dim=64
        )
        return out.withColumn("cosine", F.round("cosine", 6))

    queries["dedup_embedding_cosine"] = emb_nd
    oracles["dedup_embedding_cosine"] = _rph_neardup_oracle_sql(NEARDUP_COS)

    # --- IVF-Flat ANN: coarse quantizer + probed-cell exact rerank ----------
    # the seeded centroid matrix is inlined as literals (like the RPH
    # planes); assignment = argmin over index-ordered float64 distance
    # folds on BOTH sides, ties -> lowest cell; probe = the query's
    # n_probe nearest cells by the same fold
    IVF_CELLS, IVF_PROBE = 16, 4

    def ann_ivf(spark, sf):
        from iscc_search_spark.operators.ann import (
            ivf_ann_topk,
            ivf_random_centroids,
        )

        cents = ivf_random_centroids(64, IVF_CELLS)
        out = ivf_ann_topk(
            _t(spark, sf, "embeddings"), ANN_QUERY_ID, k=10,
            n_cells=IVF_CELLS, n_probe=IVF_PROBE, centroids=cents,
        )
        return out.withColumn("cosine", F.round("cosine", 6))

    queries["ann_ivf_topk"] = ann_ivf

    from iscc_search_spark.operators.ann import ivf_random_centroids

    _cents = ivf_random_centroids(64, IVF_CELLS)
    cent_rows = ", ".join(
        "(" + str(c) + ", [" + ", ".join(_d(float(v)) for v in _cents[c]) + "])"
        for c in range(IVF_CELLS)
    )
    oracles["ann_ivf_topk"] = f"""
WITH cents AS (SELECT * FROM (VALUES {cent_rows}) c(cell, cv)),
dists AS (SELECT e.vec_id, c.cell,
                 list_reduce(list_transform(range(1, 65),
                   i -> (CAST(e.embedding[i] AS DOUBLE) - cv[i]) * (CAST(e.embedding[i] AS DOUBLE) - cv[i])),
                   (a, b) -> a + b) AS d
          FROM embeddings e, cents c),
assign AS (SELECT vec_id, cell FROM (
             SELECT vec_id, cell,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
             FROM dists) WHERE rn = 1),
probe AS (SELECT cell FROM (
            SELECT cell, row_number() OVER (ORDER BY d, cell) AS rn
            FROM dists WHERE vec_id = {ANN_QUERY_ID}) WHERE rn <= {IVF_PROBE}),
cand AS (SELECT a.vec_id FROM assign a JOIN probe USING (cell)
         WHERE a.vec_id <> {ANN_QUERY_ID}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {ANN_QUERY_ID}),
pr AS (SELECT e.vec_id,
              list_reduce(list_transform(range(1, 65), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
              sqrt(list_reduce(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS ne,
              sqrt(list_reduce(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)) AS nq
       FROM embeddings e JOIN cand USING (vec_id), q)
SELECT CAST(rank AS BIGINT) AS rank, vec_id, round(cosine, 6) AS cosine FROM (
  SELECT vec_id, dot / (ne * nq) AS cosine,
         row_number() OVER (ORDER BY dot / (ne * nq) DESC, vec_id) AS rank FROM pr
) WHERE rank <= 10"""

    # --- text analysis ------------------------------------------------------
    def qual(spark, sf):
        return quality_features(_t(spark, sf, "documents"))

    queries["q_quality_features"] = qual
    stop_arr = "[" + ", ".join(f"'{w}'" for w in STOPWORDS_EN) + "]"
    oracles["q_quality_features"] = f"""
WITH base AS (SELECT doc_id, text, {ARR} AS arr FROM documents),
feat AS (SELECT doc_id,
  CAST(len(arr) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_distinct(arr)) AS DOUBLE) / CAST(len(arr) AS DOUBLE) AS uniq_ratio,
  CAST(len(list_filter(arr, t -> list_contains({stop_arr}, t))) AS DOUBLE) / CAST(len(arr) AS DOUBLE) AS stopword_ratio,
  CAST(list_reduce(list_transform(arr, t -> length(t)), (a, b) -> a + b) AS DOUBLE) / CAST(len(arr) AS DOUBLE) AS avg_token_len,
  CAST(length(text) - length(regexp_replace(lower(text), '[0-9a-z]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) AS alnum_ratio
FROM base)
SELECT doc_id, n_tokens, n_chars, uniq_ratio, stopword_ratio, avg_token_len, alnum_ratio,
       uniq_ratio * {_d(0.5)} + alnum_ratio * {_d(0.3)} + ({_d(1.0)} - stopword_ratio) * {_d(0.2)} AS quality_score
FROM feat"""

    def lid(spark, sf):
        return langid(_t(spark, sf, "documents"))

    queries["q_langid"] = lid
    lex = {k: "[" + ", ".join(f"'{w}'" for w in v) + "]" for k, v in LANG_LEXICON.items()}
    oracles["q_langid"] = f"""
WITH c AS (SELECT doc_id,
  len(list_filter({ARR}, t -> list_contains({lex['en']}, t))) AS en,
  len(list_filter({ARR}, t -> list_contains({lex['de']}, t))) AS de,
  len(list_filter({ARR}, t -> list_contains({lex['fr']}, t))) AS fr
FROM documents)
SELECT doc_id, CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
                    WHEN de = greatest(en, de, fr) THEN 'de'
                    WHEN en = greatest(en, de, fr) THEN 'en'
                    ELSE 'fr' END AS lang_pred FROM c"""

    def fpq(spark, sf):
        return doc_fingerprints(_t(spark, sf, "documents"))

    queries["f7_doc_fingerprint"] = fpq
    h32_t = _h32_sql("t")
    oracles["f7_doc_fingerprint"] = f"""
SELECT doc_id,
  CASE WHEN len({ARR}) = 0 THEN 0
       ELSE list_reduce(list_transform({ARR}, t -> {h32_t} % {MERSENNE_31}),
                        (a, b) -> ((a * 1000003) + b) % {MERSENNE_31}) END AS fingerprint
FROM documents"""

    def tstats(spark, sf):
        docs = _t(spark, sf, "documents")
        return (
            doc_lengths(docs, "text", "doc_id")
            .join(docs.select("doc_id", "lang"), "doc_id")
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"), F.sum("doc_len").alias("total_tokens"))
        )

    queries["q_token_stats_by_lang"] = tstats
    oracles["q_token_stats_by_lang"] = f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({ARR})) AS BIGINT) AS total_tokens
FROM documents GROUP BY lang"""

    # --- posting intersection: phrase + boolean retrieval (B2/J1) ----------
    PHRASE = "hash join"

    def b2(spark, sf):
        docs = _t(spark, sf, "documents")
        terms = tokenize_py(PHRASE)
        cand = (
            _docs_tf(docs)
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nt"))
            .filter(F.col("nt") == len(set(terms)))
        )
        return (
            docs.join(cand, "doc_id", "left_semi")
            .filter(F.col("text").contains(PHRASE))
            .select("doc_id")
        )

    queries["b2_phrase_intersection"] = b2
    oracles["b2_phrase_intersection"] = f"""
WITH toks AS ({TOKS}),
cand AS (SELECT doc_id FROM toks WHERE term IN ('hash', 'join')
         GROUP BY doc_id HAVING count(DISTINCT term) = 2)
SELECT d.doc_id FROM documents d JOIN cand USING (doc_id)
WHERE d.text LIKE '%{PHRASE}%'"""

    # --- phrase answered from positional postings alone (true B2) ----------
    # builds a REAL index over the documents table and intersects the query
    # terms' position payloads; the oracle recomputes token positions in SQL
    # (zipped unnest) — no text re-scan on either side
    def b2p(spark, sf):
        from iscc_search_spark.operators.phrase import phrase_match

        return phrase_match(spark, _built_index(spark, sf), PHRASE)

    queries["b2_phrase_positions"] = b2p
    oracles["b2_phrase_positions"] = f"""
WITH base AS (SELECT doc_id, {ARR} AS arr FROM documents),
tp AS (SELECT doc_id, unnest(arr) AS term, unnest(range(0, len(arr))) AS pos FROM base)
SELECT DISTINCT t0.doc_id FROM tp t0
JOIN tp t1 ON t1.doc_id = t0.doc_id AND t1.pos = t0.pos + 1
WHERE t0.term = 'hash' AND t1.term = 'join'"""

    def boolq(spark, sf):
        docs = _t(spark, sf, "documents")
        from iscc_search_spark.functions.textnorm import tokens_expr

        toks = tokens_expr("text")
        has = lambda t: F.array_contains(toks, t)  # noqa: E731
        return docs.filter(
            (has("batch") & has("dup")) | (has("window") & ~has("stream"))
        ).select("doc_id")

    queries["bool_and_or_not"] = boolq
    oracles["bool_and_or_not"] = f"""
SELECT doc_id FROM documents
WHERE (list_contains({ARR}, 'batch') AND list_contains({ARR}, 'dup'))
   OR (list_contains({ARR}, 'window') AND NOT list_contains({ARR}, 'stream'))"""

    # --- ISCC unit string codec (F1/F3 identity feature) --------------------
    def f1(spark, sf):
        from iscc_search_spark.functions.iscc_codec import simhash_code_udf

        return f6(spark, sf).select(
            "doc_id", simhash_code_udf("simhash").alias("iscc")
        )

    queries["f1_iscc_unit_codes"] = f1
    alph = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    chars = " || ".join(
        f"substr('{alph}', CAST((val // CAST('{2 ** (75 - 5 * i)}' AS HUGEINT)) % 32 AS INT) + 1, 1)"
        for i in range(16)
    )
    oracles["f1_iscc_unit_codes"] = f"""{SIMHASH_CTE},
uv AS (SELECT doc_id,
              CAST('{0x2001 * 2 ** 64}' AS HUGEINT)
              + (CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
                      ELSE CAST(simhash AS HUGEINT) END) AS val
       FROM sh)
SELECT doc_id, 'ISCC:' || {chars} AS iscc FROM uv"""

    # --- P4: TRUE realm predicate over ISCC-IDs -----------------------------
    # every doc gets a realm-scoped ISCC-ID (realm = doc_id % 2, the
    # sandbox/production split); the engine EXTRACTS the realm by decoding
    # the id string (not trusting metadata) and filters realm=1 — the
    # reference's extract_realm_id + expected-realm check
    # (indexes/common.py:129-144, 223-262).  The oracle rebuilds the same
    # base32 strings arithmetically and filters on the generator's realm.
    def p4(spark, sf):
        from iscc_search_spark.functions.iscc_codec import (
            iscc_id_realm_udf,
            iscc_id_udf,
        )

        d = _t(spark, sf, "documents").select(
            "doc_id",
            iscc_id_udf(
                "doc_id", F.pmod("doc_id", F.lit(2)).cast("int")
            ).alias("iscc_id"),
        )
        return d.withColumn("realm", iscc_id_realm_udf("iscc_id")).filter(
            F.col("realm") == 1
        )

    queries["p4_realm_predicate"] = p4
    # header16 = ((6 << 4) | realm) << 8; 10-byte code -> 16 base32 chars
    id_chars = " || ".join(
        f"substr('{alph}', CAST((val // CAST('{2 ** (75 - 5 * i)}' AS HUGEINT)) % 32 AS INT) + 1, 1)"
        for i in range(16)
    )
    oracles["p4_realm_predicate"] = f"""
WITH uv AS (SELECT doc_id, CAST(doc_id % 2 AS INT) AS realm,
                   (CAST('{0x6000 * 2 ** 64}' AS HUGEINT)
                    + CAST(doc_id % 2 AS HUGEINT) * CAST('{0x0100 * 2 ** 64}' AS HUGEINT)
                    + (CASE WHEN doc_id < 0 THEN CAST(doc_id AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
                            ELSE CAST(doc_id AS HUGEINT) END)) AS val
            FROM documents)
SELECT doc_id, 'ISCC:' || {id_chars} AS iscc_id, realm FROM uv WHERE realm = 1"""

    # --- multi-unit ISCC: F4 composition + flagship search (A3/A8/J) -------
    # shared SQL pieces: per-doc DATA_V0 simhash (format_version 4:
    # word-trigram feature occurrences, each hashed by folding the frozen
    # bigram mixer left over the tokens' unigram md5 limbs — the exact
    # mirror of textnorm._data_simhash_batch) and INSTANCE_V0 exact hash
    # (md5 first 8 bytes as signed int64)
    inst_nibbles = " + ".join(
        f"CAST((strpos('0123456789abcdef', md5(text)[{i + 1}]) - 1) AS HUGEINT) "
        f"* CAST('{16 ** (15 - i)}' AS HUGEINT)"
        for i in range(16)
    )
    _m3h, _m3l = _mix("a.u_hi", "a.u_lo", "b.u_hi", "b.u_lo")
    _f3h, _f3l = _mix(f"({_m3h})", f"({_m3l})", "c.u_hi", "c.u_lo")
    UNITS_CTE = f"""{SIMHASH_CTE},
dtok AS (SELECT doc_id, CAST(j AS BIGINT) AS p, md5(arr[CAST(j AS INT)]) AS h
         FROM (SELECT doc_id, {ARR} AS arr FROM documents) db,
              LATERAL unnest(range(1, len(arr) + 1)) u(j)),
dul AS (SELECT doc_id, p,
               {_limb.format(off="")} AS u_hi,
               {_limb.format(off=" + 16")} AS u_lo
        FROM dtok, (SELECT unnest(range(1, 17)) AS k) nib
        GROUP BY doc_id, p, h),
dft AS (SELECT a.doc_id, {_f3h} AS f_hi, {_f3l} AS f_lo
        FROM dul a JOIN dul b ON b.doc_id = a.doc_id AND b.p = a.p + 1
                   JOIN dul c ON c.doc_id = a.doc_id AND c.p = a.p + 2),
dsbb AS (SELECT doc_id, i, sum(2 * CAST((f_hi // pw) % 2 AS BIGINT) - 1) AS v
         FROM dft, (SELECT * FROM (VALUES {_bitvals64}) b(i, pw)) bits
         GROUP BY doc_id, i),
dsh0 AS (SELECT doc_id,
                CAST(sum(CASE WHEN i = 0 AND v > 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                              WHEN i > 0 AND v > 0 THEN CAST(CAST(1 AS BIGINT) << (63 - i) AS HUGEINT)
                              ELSE 0 END) AS BIGINT) AS data_sh
         FROM dsbb GROUP BY doc_id),
iv AS (SELECT doc_id, ({inst_nibbles}) AS v FROM documents),
inst AS (SELECT doc_id,
                CAST(CASE WHEN v >= CAST('9223372036854775808' AS HUGEINT)
                          THEN v - CAST('18446744073709551616' AS HUGEINT)
                          ELSE v END AS BIGINT) AS instance
         FROM iv),
un AS (SELECT d.doc_id, sh.simhash AS content_sh,
              COALESCE(dsh0.data_sh, 0) AS data_sh, inst.instance
       FROM documents d JOIN sh ON sh.doc_id = d.doc_id
       LEFT JOIN dsh0 ON dsh0.doc_id = d.doc_id
       JOIN inst ON inst.doc_id = d.doc_id)"""

    def f4(spark, sf):
        # unit values round-tripped THROUGH the composite codec: compose an
        # ISCC-CODE per doc (F4), decompose it back, emit the unit bodies —
        # any composition/decomposition defect breaks the value match.
        # Units come from the PERSISTED build artifact (stage C), matching
        # the oracle's from-text derivation — a build-side defect in the
        # stored units would also break this gate.
        from iscc_search_spark.functions.iscc_codec import (
            iscc_code_udf,
            iscc_decompose_units_udf,
        )
        from iscc_search_spark.operators.build import load_units

        units = load_units(spark, _built_index(spark, sf))
        coded = units.select(
            "doc_id",
            iscc_code_udf("content_sh", "data_sh", "instance").alias("iscc"),
        )
        return coded.select(
            "doc_id", iscc_decompose_units_udf("iscc").alias("u")
        ).select(
            "doc_id",
            F.col("u.content_sh").alias("content_sh"),
            F.col("u.data_sh").alias("data_sh"),
            F.col("u.instance").alias("instance"),
        )

    queries["f4_multiunit_codes"] = f4
    oracles["f4_multiunit_codes"] = (
        UNITS_CTE + "\nSELECT doc_id, content_sh, data_sh, instance FROM un"
    )

    def jmu(spark, sf):
        # serves from the PERSISTED units + band-key LOOKUP tables (stage C
        # build artifacts) — candidates come from a ~35-key read of the
        # LSH table, not a scan filter, and no per-query unit recompute
        from iscc_search_spark.operators.build import load_unit_bands, load_units
        from iscc_search_spark.operators.multiunit import search_assets_multiunit

        idx = _built_index(spark, sf)
        out = search_assets_multiunit(
            None, MLT_DOC, k=10,
            units=load_units(spark, idx), bands=load_unit_bands(spark, idx),
        )
        return out.withColumn("score", F.round("score", 6))

    queries["j_multiunit_search"] = jmu
    # reference semantics (usearch/index.py:735-881): per-unit scores
    # (similarity = 1 - hamming/64, instance exact = 1.0), keep units with
    # score >= 0.75, total = sum(s^4)/sum(s) in frozen (content, data,
    # instance) order; threshold-only filtering here is provably identical
    # to the engine's banded candidate predicate (pigeonhole at hamming<=16)
    oracles["j_multiunit_search"] = f"""{UNITS_CTE},
q AS (SELECT content_sh AS qc, data_sh AS qd, instance AS qi FROM un WHERE doc_id = {MLT_DOC}),
sc AS (SELECT un.doc_id,
              {_d(1.0)} - CAST(bit_count(xor(content_sh, q.qc)) AS DOUBLE) / {_d(64.0)} AS s_c,
              {_d(1.0)} - CAST(bit_count(xor(data_sh, q.qd)) AS DOUBLE) / {_d(64.0)} AS s_d,
              CASE WHEN instance = q.qi THEN {_d(1.0)} ELSE {_d(0.0)} END AS s_i
       FROM un, q WHERE un.doc_id <> {MLT_DOC}),
agg AS (SELECT doc_id,
               (CASE WHEN s_c >= {_d(0.75)} THEN s_c * s_c * s_c * s_c ELSE {_d(0.0)} END
                + CASE WHEN s_d >= {_d(0.75)} THEN s_d * s_d * s_d * s_d ELSE {_d(0.0)} END
                + CASE WHEN s_i >= {_d(0.75)} THEN s_i * s_i * s_i * s_i ELSE {_d(0.0)} END) AS wsum,
               (CASE WHEN s_c >= {_d(0.75)} THEN s_c ELSE {_d(0.0)} END
                + CASE WHEN s_d >= {_d(0.75)} THEN s_d ELSE {_d(0.0)} END
                + CASE WHEN s_i >= {_d(0.75)} THEN s_i ELSE {_d(0.0)} END) AS ssum,
               (CAST(s_c >= {_d(0.75)} AS BIGINT) + CAST(s_d >= {_d(0.75)} AS BIGINT)
                + CAST(s_i >= {_d(0.75)} AS BIGINT)) AS n_units
        FROM sc)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(score, 6) AS score, n_units FROM (
  SELECT doc_id, wsum / ssum AS score, n_units,
         row_number() OVER (ORDER BY wsum / ssum DESC, doc_id) AS rank
  FROM agg WHERE ssum > {_d(0.0)}
) WHERE rank <= 10"""

    # --- binary unit-prefix range lookup (true J2) --------------------------
    # top-4-bit prefix of the query doc's CONTENT unit -> one signed BETWEEN
    # range (unsigned prefix ranges are contiguous in signed space); the
    # oracle derives the same prefix from the same doc in SQL
    def j2b(spark, sf):
        # prefix range scan over the persisted units table — laid out
        # sorted by content_sh within each part, so parquet row-group
        # min/max stats prune the BETWEEN predicate
        from iscc_search_spark.operators.build import load_units
        from iscc_search_spark.operators.multiunit import unit_prefix_scan

        units = load_units(spark, _built_index(spark, sf))
        qrow = units.filter(F.col("doc_id") == MLT_DOC).collect()
        prefix = (int(qrow[0]["content_sh"]) & (2**64 - 1)) >> 60
        return unit_prefix_scan(units, prefix, 4)

    queries["j2_unit_prefix_lookup"] = j2b
    oracles["j2_unit_prefix_lookup"] = f"""{SIMHASH_CTE},
u AS (SELECT doc_id, simhash,
             CASE WHEN simhash < 0 THEN CAST(simhash AS HUGEINT) + CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(simhash AS HUGEINT) END AS us FROM sh),
q AS (SELECT us // CAST('{2 ** 60}' AS HUGEINT) AS p FROM u WHERE doc_id = {MLT_DOC})
SELECT u.doc_id, u.simhash AS content_sh
FROM u, q WHERE u.us // CAST('{2 ** 60}' AS HUGEINT) = q.p"""

    # --- variable-length unit NPHD search (the reference's unit metric) ----
    def nphd(spark, sf):
        from iscc_search_spark.operators.build import load_units
        from iscc_search_spark.operators.multiunit import (
            mixed_length_units,
            nphd_topk,
        )

        units = mixed_length_units(units=load_units(spark, _built_index(spark, sf)))
        out = nphd_topk(units, MLT_DOC, k=10)
        return out.withColumn("nphd", F.round("nphd", 6)).withColumn(
            "score", F.round("score", 6)
        )

    queries["f_nphd_mixed_topk"] = nphd
    oracles["f_nphd_mixed_topk"] = f"""{UNITS_CTE},
mx AS (SELECT doc_id, content_sh AS hi,
              CASE WHEN doc_id % 2 = 0 THEN data_sh END AS lo,
              CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 64 END AS bits FROM un),
q AS (SELECT hi AS qh, COALESCE(lo, 0) AS ql, bits AS qb FROM mx WHERE doc_id = {MLT_DOC}),
d AS (SELECT mx.doc_id,
             CASE WHEN least(mx.bits, q.qb) <= 64
                  THEN CAST(bit_count(xor(mx.hi, q.qh)) AS DOUBLE) / {_d(64.0)}
                  ELSE CAST(bit_count(xor(mx.hi, q.qh)) + bit_count(xor(COALESCE(mx.lo, 0), q.ql)) AS DOUBLE) / {_d(128.0)}
             END AS nphd
      FROM mx, q WHERE mx.doc_id <> {MLT_DOC})
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(nphd, 6) AS nphd,
       round({_d(1.0)} - nphd, 6) AS score FROM (
  SELECT doc_id, nphd, row_number() OVER (ORDER BY nphd, doc_id) AS rank FROM d
) WHERE rank <= 10"""

    # --- F8: IDP gateway URI-template expansion (edge metadata) -------------
    # deterministic fixture: three template shapes cycled by doc_id; values
    # derived from doc columns (md5(text) as the datahash stand-in)
    def f8(spark, sf):
        from iscc_search_spark.functions.uritemplate import expand_gateway_expr

        d = _t(spark, sf, "documents").select(
            "doc_id",
            F.when(F.pmod("doc_id", F.lit(3)) == 0,
                   F.lit("https://gw.test/{iscc_code}?x=1"))
            .when(F.pmod("doc_id", F.lit(3)) == 1,
                  F.lit("https://gw.test{/iscc_id}"))
            .otherwise(F.lit("https://gw.test/obj{.datahash}"))
            .alias("template"),
            F.concat(F.lit("ISCC:MAAC"), F.col("doc_id").cast("string")).alias("iid"),
            F.concat(F.lit("ISCC:KACT"), F.col("doc_id").cast("string")).alias("icode"),
            F.md5("text").alias("dh"),
        )
        return d.select(
            "doc_id",
            expand_gateway_expr("template", "iid", "icode", "dh").alias("gateway_url"),
        )

    queries["f8_uri_template_expansion"] = f8
    oracles["f8_uri_template_expansion"] = """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3
           WHEN 0 THEN 'https://gw.test/{iscc_code}?x=1'
           WHEN 1 THEN 'https://gw.test{/iscc_id}'
           ELSE 'https://gw.test/obj{.datahash}' END AS template,
         lower('MAAC' || CAST(doc_id AS VARCHAR)) AS iid,
         lower('KACT' || CAST(doc_id AS VARCHAR)) AS icode,
         md5(text) AS dh
  FROM documents)
SELECT doc_id,
  replace(replace(replace(replace(replace(replace(replace(replace(replace(
    template,
    '{iscc_id}', iid), '{/iscc_id}', '/' || iid), '{.iscc_id}', '.' || iid),
    '{iscc_code}', icode), '{/iscc_code}', '/' || icode), '{.iscc_code}', '.' || icode),
    '{datahash}', dh), '{/datahash}', '/' || dh), '{.datahash}', '.' || dh)
  AS gateway_url
FROM d"""

    # --- real DATA_V0: content-defined chunking + minhash over raw bytes ----
    # NO SQL oracle on purpose: the CDC boundary recurrence is inherently
    # sequential (not expressible in DuckDB), so the driver records this as
    # rows-only; exactness is pytest-gated against an independent per-byte
    # reference implementation (tests/test_datacode.py)
    def fdc(spark, sf):
        from iscc_search_spark.functions.datacode import data_code_udf

        docs = _t(spark, sf, "documents")
        return docs.select(
            "doc_id",
            data_code_udf(F.encode("text", "utf-8")).alias("data_code"),
        )

    queries["f_data_code_cdc"] = fdc

    # --- WIDE (64/128/192/256-bit) NPHD with the banded candidate prune ----
    # fixture widths cycle by doc_id % 4; limbs = (content, data, instance,
    # content^data); query doc 7 -> 192-bit; threshold 0.25 activates the
    # lossless pigeonhole prune (floor(0.25*m)+1 bands over each width's
    # m-bit common prefix)
    NPHD_T = 0.25

    def nphdw(spark, sf):
        from iscc_search_spark.operators.build import load_units
        from iscc_search_spark.operators.multiunit import (
            nphd_topk_wide,
            wide_length_units,
        )

        u = wide_length_units(load_units(spark, _built_index(spark, sf)))
        out = nphd_topk_wide(u, MLT_DOC, k=10, max_nphd=NPHD_T)
        return out.withColumn("nphd", F.round("nphd", 6)).withColumn(
            "score", F.round("score", 6)
        )

    queries["f_nphd_wide_topk"] = nphdw
    _x = "xor"
    oracles["f_nphd_wide_topk"] = f"""{UNITS_CTE},
mx AS (SELECT doc_id, content_sh AS u0,
              CASE WHEN doc_id % 4 IN (0, 2, 3) THEN data_sh END AS u1,
              CASE WHEN doc_id % 4 IN (0, 3) THEN instance END AS u2,
              CASE WHEN doc_id % 4 = 0 THEN {_x}(content_sh, data_sh) END AS u3,
              CASE doc_id % 4 WHEN 0 THEN 256 WHEN 1 THEN 64
                              WHEN 2 THEN 128 ELSE 192 END AS bits
       FROM un),
q AS (SELECT COALESCE(u0, 0) AS q0, COALESCE(u1, 0) AS q1,
             COALESCE(u2, 0) AS q2, COALESCE(u3, 0) AS q3, bits AS qb
      FROM mx WHERE doc_id = {MLT_DOC}),
d AS (SELECT mx.doc_id,
             CASE least(mx.bits, q.qb)
               WHEN 64 THEN CAST(bit_count({_x}(u0, q.q0)) AS DOUBLE) / {_d(64.0)}
               WHEN 128 THEN CAST(bit_count({_x}(u0, q.q0))
                   + bit_count({_x}(COALESCE(u1, 0), q.q1)) AS DOUBLE) / {_d(128.0)}
               WHEN 192 THEN CAST(bit_count({_x}(u0, q.q0))
                   + bit_count({_x}(COALESCE(u1, 0), q.q1))
                   + bit_count({_x}(COALESCE(u2, 0), q.q2)) AS DOUBLE) / {_d(192.0)}
               ELSE CAST(bit_count({_x}(u0, q.q0))
                   + bit_count({_x}(COALESCE(u1, 0), q.q1))
                   + bit_count({_x}(COALESCE(u2, 0), q.q2))
                   + bit_count({_x}(COALESCE(u3, 0), q.q3)) AS DOUBLE) / {_d(256.0)}
             END AS nphd
      FROM mx, q WHERE mx.doc_id <> {MLT_DOC})
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(nphd, 6) AS nphd,
       round({_d(1.0)} - nphd, 6) AS score FROM (
  SELECT doc_id, nphd, row_number() OVER (ORDER BY nphd, doc_id) AS rank
  FROM d WHERE nphd <= {_d(NPHD_T)}
) WHERE rank <= 10"""

    # --- chunk-level (granular) simprint search (A6/A7/B2 family) ----------
    # fixed 64-token query (2 segments) over the testdata vocabulary; its
    # segment simhashes are computed here in Python and inlined into the
    # oracle SQL as literals (deterministic — no data access at build time)
    GRANULAR_QUERY = GRANULAR_QUERY_TEXT

    def a7(spark, sf):
        # serves from the PERSISTED simprint band-key LOOKUP table (stage C
        # build artifact): candidates are a keyed read, not a banded scan
        from iscc_search_spark.operators.build import load_simprint_bands
        from iscc_search_spark.operators.simprints import granular_topk

        sb = load_simprint_bands(spark, _built_index(spark, sf))
        out = granular_topk(None, GRANULAR_QUERY, k=10, max_hamming=12, bands=sb)
        return out.withColumn("score", F.round("score", 6))

    queries["a7_granular_simprint_search"] = a7

    from iscc_search_spark.operators.simprints import segment_simhashes_py

    qsegs = segment_simhashes_py(GRANULAR_QUERY)
    qvals = ", ".join(
        f"({s}, CAST({hi} AS BIGINT), CAST({lo} AS BIGINT))"
        for s, _, _, _, hi, lo in qsegs
    )
    # 128-bit segment simhash over the window's BIGRAM-shingle feature
    # occurrences, format_version 3 (textnorm._segments_batch /
    # simprints.segment_simhashes_py): unigram md5 limbs u(t) = uint64 of
    # md5(t) hex nibbles 1..16 / 17..32, each adjacent token pair mixed
    # with simhash.bigram_hash128_py's rotate/add-mod-2^64/xor, bare
    # unigram limbs for a 1-token window; bit rule 2*S_i > n_features.
    # rotl on UBIGINT-range values routed through HUGEINT ((x<<r)|(x>>64-r)
    # as disjoint-bit + instead of |); verified byte-exact vs the Python
    # mirror in tests.  (_rotl/_mix/_limb/_bitvals are the module-level
    # mixer SQL helpers shared with the DATA-unit trigram oracle.)
    _mh, _ml = _mix("a.u_hi", "a.u_lo", "b.u_hi", "b.u_lo")
    seg_sh_cte = f"""
WITH base AS (SELECT doc_id, {ARR} AS arr FROM documents),
tok AS (SELECT doc_id, CAST(j AS BIGINT) AS p, len(arr) AS n, md5(arr[CAST(j AS INT)]) AS h
        FROM base, LATERAL unnest(range(1, len(arr) + 1)) u(j)),
ul AS (SELECT doc_id, p, n,
              {_limb.format(off="")} AS u_hi,
              {_limb.format(off=" + 16")} AS u_lo
       FROM tok, (SELECT unnest(range(1, 17)) AS k) nib
       GROUP BY doc_id, p, n, h),
feat AS (SELECT a.doc_id, CAST((a.p - 1) // 32 AS BIGINT) AS seg_idx,
                CASE WHEN a.p = a.n AND (a.p - 1) % 32 = 0 THEN a.u_hi
                     ELSE {_mh} END AS f_hi,
                CASE WHEN a.p = a.n AND (a.p - 1) % 32 = 0 THEN a.u_lo
                     ELSE {_ml} END AS f_lo
         FROM ul a LEFT JOIN ul b ON b.doc_id = a.doc_id AND b.p = a.p + 1
         WHERE (a.p < a.n AND (a.p - 1) % 32 <> 31)
            OR (a.p = a.n AND (a.p - 1) % 32 = 0)),
bb AS (SELECT doc_id, seg_idx, i,
              sum(2 * CAST(((CASE WHEN use_hi = 1 THEN f_hi ELSE f_lo END) // pw) % 2 AS BIGINT) - 1) AS v
       FROM feat, (SELECT * FROM (VALUES {_bitvals}) b(i, pw, use_hi)) bits
       GROUP BY doc_id, seg_idx, i),
ssh AS (SELECT doc_id, seg_idx,
               CAST(sum(CASE WHEN i = 0 AND v > 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                             WHEN i > 0 AND i < 64 AND v > 0 THEN CAST(CAST(1 AS BIGINT) << (63 - i) AS HUGEINT)
                             ELSE 0 END) AS BIGINT) AS sh_hi,
               CAST(sum(CASE WHEN i = 64 AND v > 0 THEN CAST(-9223372036854775808 AS HUGEINT)
                             WHEN i > 64 AND v > 0 THEN CAST(CAST(1 AS BIGINT) << (127 - i) AS HUGEINT)
                             ELSE 0 END) AS BIGINT) AS sh_lo
        FROM bb GROUP BY doc_id, seg_idx)"""
    oracles["a7_granular_simprint_search"] = f"""{seg_sh_cte},
q AS (SELECT * FROM (VALUES {qvals}) q(q_seg, q_hi, q_lo)),
m AS (SELECT doc_id, q_seg,
             max({_d(1.0)} - CAST(bit_count(xor(sh_hi, q_hi)) + bit_count(xor(sh_lo, q_lo)) AS DOUBLE) / {_d(128.0)}) AS best
      FROM ssh JOIN q ON bit_count(xor(sh_hi, q_hi)) + bit_count(xor(sh_lo, q_lo)) <= 12
      GROUP BY doc_id, q_seg),
sc AS (SELECT doc_id, sum(best) / {_d(float(len(qsegs)))} AS score,
              CAST(count(*) AS BIGINT) AS n_matched_segs
       FROM m GROUP BY doc_id)
SELECT CAST(rank AS BIGINT) AS rank, doc_id, round(score, 6) AS score, n_matched_segs FROM (
  SELECT doc_id, score, n_matched_segs,
         row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sc
) WHERE rank <= 10"""

    # --- relational operator demos over the TPC-H-ish tables ---------------
    def tpch_q1(spark, sf):
        li = _t(spark, sf, "lineitem").filter(
            F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
        )
        li = li.withColumn(
            "disc_price", F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        )

        # ordered float64 sums per group in numpy: np.add.accumulate is
        # the same strictly-sequential left-to-right IEEE fold as the
        # array_sort + aggregate expression (and DuckDB's list_reduce),
        # ~bit-identical by construction — but vectorized sort + C-loop
        # instead of an interpreted per-element lambda over millions of
        # collected values
        def _q1_agg(pdf):
            import numpy as np
            import pandas as pd

            def osum(col):
                a = np.sort(pdf[col].to_numpy(np.float64))
                return float(np.add.accumulate(np.concatenate(([0.0], a)))[-1])

            return pd.DataFrame(
                {
                    "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                    "l_linestatus": [pdf["l_linestatus"].iloc[0]],
                    "sum_qty": [osum("l_quantity")],
                    "sum_base_price": [osum("l_extendedprice")],
                    "sum_disc_price": [osum("disc_price")],
                    "count_order": [len(pdf)],
                }
            )

        return (
            li.select(
                "l_returnflag", "l_linestatus", "l_quantity",
                "l_extendedprice", "disc_price",
            )
            .groupBy("l_returnflag", "l_linestatus")
            .applyInPandas(
                _q1_agg,
                "l_returnflag string, l_linestatus string, sum_qty double, "
                "sum_base_price double, sum_disc_price double, "
                "count_order long",
            )
        )

    queries["a1_tpch_q1_pricing"] = tpch_q1
    oracles["a1_tpch_q1_pricing"] = f"""
WITH li AS (SELECT *, l_extendedprice * ({_d(1.0)} - l_discount) AS disc_price
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
SELECT l_returnflag, l_linestatus,
       {_ordered_sum_sql('l_quantity')} AS sum_qty,
       {_ordered_sum_sql('l_extendedprice')} AS sum_base_price,
       {_ordered_sum_sql('disc_price')} AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM li GROUP BY l_returnflag, l_linestatus"""

    def j1(spark, sf):
        o = _t(spark, sf, "orders")
        c = _t(spark, sf, "customer")
        n = _t(spark, sf, "nation")
        joined = o.join(
            F.broadcast(c), o.o_custkey == c.c_custkey
        ).join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        return joined.groupBy("n_name").agg(
            _ordered_sum_col(F.col("o_totalprice")).alias("revenue"),
            F.count("*").alias("n_orders"),
        )

    queries["j1_revenue_by_nation"] = j1
    oracles["j1_revenue_by_nation"] = f"""
SELECT n_name, {_ordered_sum_sql('o_totalprice')} AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""

    def t2(spark, sf):
        o = _t(spark, sf, "orders")
        topk = o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(10)
        w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
            "rank", "o_orderkey", "o_custkey", "o_totalprice"
        )

    queries["t2_topk_orders"] = t2
    oracles["t2_topk_orders"] = """
SELECT CAST(rank AS BIGINT) AS rank, o_orderkey, o_custkey, o_totalprice FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders
) WHERE rank <= 10"""

    def u4(spark, sf):
        # customers with no LARGE order (o_totalprice > 300k): the filtered
        # anti-join returns a NON-EMPTY set on every sf (the plain
        # no-orders variant is trivially empty in this testdata — 0 rows
        # matched 0 rows and never exercised the join)
        c = _t(spark, sf, "customer")
        o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000.0)
        return c.join(
            o, c.c_custkey == o.o_custkey, "left_anti"
        ).select("c_custkey", "c_name")

    queries["u4_customers_without_orders"] = u4
    # NOT EXISTS, not NOT IN: anti-join keeps all customers when o_custkey
    # contains NULLs, NOT IN returns zero rows — NOT EXISTS matches the
    # Spark left_anti null semantics
    oracles["u4_customers_without_orders"] = (
        "SELECT c_custkey, c_name FROM customer c "
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > CAST(300000.0 AS DOUBLE))"
    )

    def b3(spark, sf):
        e = _t(spark, sf, "events")
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type", "value")
        )

    queries["b3_latest_event_per_user"] = b3
    oracles["b3_latest_event_per_user"] = """
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1"""

    def j2(spark, sf):
        p = _t(spark, sf, "part")
        return (
            p.filter(F.col("p_name").startswith("s"))
            .groupBy("p_brand")
            .agg(F.count("*").alias("n_parts"), F.min("p_retailprice").alias("min_price"))
        )

    queries["j2_prefix_scan_parts"] = j2
    oracles["j2_prefix_scan_parts"] = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts, min(p_retailprice) AS min_price
FROM part WHERE p_name LIKE 's%' GROUP BY p_brand"""

    def s4(spark, sf):
        e = _t(spark, sf, "events")
        cls = (
            F.when(F.col("value") < 50.0, F.lit("low"))
            .when(F.col("value") < 200.0, F.lit("mid"))
            .otherwise(F.lit("high"))
        )
        return e.groupBy(cls.alias("value_class"), "event_type").agg(
            F.count("*").alias("n")
        )

    queries["s4_classify_events"] = s4
    oracles["s4_classify_events"] = f"""
SELECT CASE WHEN value < {_d(50.0)} THEN 'low'
            WHEN value < {_d(200.0)} THEN 'mid' ELSE 'high' END AS value_class,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2"""

    def a9(spark, sf):
        return _t(spark, sf, "events").groupBy("event_type").agg(
            F.count("*").alias("n")
        )

    queries["a9_reason_counters"] = a9
    oracles["a9_reason_counters"] = (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type"
    )

    def a3(spark, sf):
        e = _t(spark, sf, "events").withColumn(
            "s", F.col("value") / F.lit(500.0)
        ).filter(F.col("s") >= 0.75)
        e = e.withColumn("s4", F.col("s") * F.col("s") * F.col("s") * F.col("s"))
        return e.groupBy("event_type").agg(
            (
                _ordered_sum_col(F.col("s4")) / _ordered_sum_col(F.col("s"))
            ).alias("confidence_score"),
            F.count("*").alias("n_strong"),
        )

    queries["a3_confidence_weighted"] = a3
    oracles["a3_confidence_weighted"] = f"""
WITH s AS (SELECT event_type, value / {_d(500.0)} AS s FROM events WHERE value / {_d(500.0)} >= {_d(0.75)}),
s4 AS (SELECT event_type, s, s * s * s * s AS s4 FROM s)
SELECT event_type,
       {_ordered_sum_sql('s4')} / {_ordered_sum_sql('s')} AS confidence_score,
       CAST(count(*) AS BIGINT) AS n_strong
FROM s4 GROUP BY event_type"""

    def a2(spark, sf):
        li = _t(spark, sf, "lineitem").withColumn(
            "score", F.col("l_quantity") / F.lit(50.0)
        )
        return li.groupBy("l_orderkey").agg(
            (_ordered_sum_col(F.col("score")) / F.count("*")).alias("mean_score"),
            F.count("*").alias("n_lines"),
        )

    queries["a2_length_normalized_mean"] = a2
    oracles["a2_length_normalized_mean"] = f"""
WITH s AS (SELECT l_orderkey, l_quantity / {_d(50.0)} AS score FROM lineitem)
SELECT l_orderkey, {_ordered_sum_sql('score')} / count(*) AS mean_score,
       CAST(count(*) AS BIGINT) AS n_lines
FROM s GROUP BY l_orderkey"""

    def a6(spark, sf):
        e = _t(spark, sf, "events")
        per_type = e.groupBy("user_id", "event_type").agg(F.count("*").alias("f"))
        per_user = per_type.groupBy("user_id").agg(
            F.countDistinct("event_type").alias("n_types"),
            F.max("f").alias("maxf"),
            F.min("f").alias("minf"),
        )
        quality = F.when(
            (F.col("n_types") == 1) | (F.col("maxf") == F.col("minf")), F.lit(1.0)
        ).otherwise(
            (F.col("maxf") - F.col("minf")).cast("double")
            / F.col("maxf").cast("double")
        )
        return per_user.select(
            "user_id",
            (F.col("n_types").cast("double") / F.lit(5.0)).alias("coverage"),
            quality.alias("quality"),
            ((F.col("n_types").cast("double") / F.lit(5.0)) * quality).alias("score"),
        )

    queries["a6_coverage_quality"] = a6
    oracles["a6_coverage_quality"] = f"""
WITH pt AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS f FROM events GROUP BY 1, 2),
pu AS (SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
              max(f) AS maxf, min(f) AS minf FROM pt GROUP BY user_id),
q AS (SELECT user_id,
             CAST(n_types AS DOUBLE) / {_d(5.0)} AS coverage,
             CASE WHEN n_types = 1 OR maxf = minf THEN {_d(1.0)}
                  ELSE CAST(maxf - minf AS DOUBLE) / CAST(maxf AS DOUBLE) END AS quality
      FROM pu)
SELECT user_id, coverage, quality, coverage * quality AS score FROM q"""

    return queries, oracles
