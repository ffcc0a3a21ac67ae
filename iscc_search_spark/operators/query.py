"""BM25 top-k query operators.

Two physical strategies for the same logical query (rank-identical by
construction, verified by tests):

1. ``bm25_exact_topk`` — fully relational exhaustive scorer straight off a
   (doc_id, text) table: tokenize -> explode -> tf -> broadcast-join the
   (tiny) query-term side -> per-doc ordered float64 sum -> distributed
   top-k (TakeOrderedAndProject).  This is the correctness anchor
   (SURVEY.md §7.3 step 2) and the oracle-comparable path.

2. ``bm25_wand_topk`` (operators/wand.py) — block-max WAND over the prebuilt
   compressed postings table; the scale path for query serving.

Float determinism (SURVEY.md §7.5 "rank-identity under floats"):
- idf is computed in *driver Python* (``math.log``) and injected as plan
  literals: JVM ``ln`` differs from C libm by 1 ulp on ~8% of inputs
  (measured), while DuckDB/numpy/python share libm.  df/N/avgdl are exact
  (integers, and one exact double division), so all per-(doc,term) addends
  are bit-identical across engines.
- Per-doc summation is ordered (ascending term) via
  sort_array + aggregate, matching the oracle's iteration order.
- Tie-break (-score, doc_id ASC) mirrors the reference's
  (-score, iscc_id_body) at iscc_search/indexes/simprint/lmdb_ops.py:249.

The query side of the join is a literal ≤~10-term column — Catalyst folds
the IN-filter into the parquet scan (PushedFilters), so at 100 TB a query
touches only matching postings/tf rows, never the full corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from iscc_search_spark.config import BM25Config
from iscc_search_spark.functions.textnorm import tokenize_py, tokens_expr
from iscc_search_spark.session import arrow_frame

_SCORES = "doc_id long, score double"
# most distinct query terms bm25_scores sends down the one-pass path
_ONEPASS_MAX_TERMS = 64


def doc_term_tf(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf) — the analogue of the reference's posting insert
    B1/B2 (explode + per-(term,doc) dedup-with-count).  Map-side partial
    aggregation (partial count before shuffle) is free from Catalyst."""
    return (
        docs.select(F.col(doc_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame, text_col: str = "text", doc_col: str = "doc_id") -> DataFrame:
    """(doc_id, doc_len) token counts, JVM-side (no explode needed)."""
    return docs.select(
        F.col(doc_col).alias("doc_id"),
        F.size(tokens_expr(text_col)).cast("long").alias("doc_len"),
    )


def corpus_stats(doc_lens: DataFrame) -> tuple[int, float]:
    """(N, avgdl) — one tiny agg action; avgdl = exact-int sum / count so the
    resulting double is identical across engines."""
    row = doc_lens.agg(
        F.count("*").alias("n"), F.sum("doc_len").alias("total")
    ).collect()[0]
    n = int(row["n"])
    return n, (int(row["total"]) / n if n else 0.0)


def query_idf(
    term_df: dict[str, int], n_docs: int
) -> dict[str, float]:
    """Smooth BM25 idf per query term, computed driver-side with libm.

    The reference's analogue is the smooth idf at
    iscc_search/indexes/simprint/lmdb_ops.py:67-81 (ln(1+N/(1+df))); BM25
    uses ln((N-df+0.5)/(df+0.5)+1) with the same exact-df discipline (A4/A5
    in SURVEY.md §2.5 — exact counts, never approx_count_distinct, because
    rank-identity forbids approximation)."""
    return {
        t: math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        for t, df in term_df.items()
    }


def _bm25_scores_onepass(
    docs: DataFrame,
    terms: list[str],
    bm25: BM25Config,
    text_col: str,
    doc_col: str,
) -> DataFrame:
    """(doc_id, score), bit-identical to the relational bm25_scores path.

    tf of a literal term t is size(toks) - size(array_remove(toks, t)) —
    codegen'd array built-ins, one pass per term over each doc's token
    array, zero exchanges.  Job 1 aggregates (N, sum(dl), df per term) in
    one map-side-combined pass; job 2 evaluates the per-doc score as the
    ascending-term left fold of idf*tfnorm addends (absent terms add an
    exact float64 0.0, which leaves the accumulated sum bit-identical to
    the matched-rows-only fold of the relational path / oracle).
    """
    from iscc_search_spark.session import spread_small

    # Tokenize ONCE: the token array is materialized behind an exchange +
    # lazy localCheckpoint so the per-term projections reference the
    # stored column.  Inlined (CollapseProject) the split/regex would
    # re-run per _tf column and again inside the pushed-down filter —
    # ~60 evaluations per row, measured slower than the relational path.
    # spread_small also fixes few-row-group scan skew for the
    # tokenize-heavy stage.
    base = spread_small(
        docs.select(F.col(doc_col).alias("doc_id"), tokens_expr(text_col).alias("_toks"))
    ).localCheckpoint(eager=False)
    toks = F.col("_toks")
    k1, b = bm25.k1, bm25.b
    # Checkpoint the (doc_id, doc_len, tf...) longs too: the per-term
    # array expressions then run exactly ONCE (during materialization)
    # and both downstream jobs (stats, scoring) see plain long columns
    # whose generated code is trivially JIT-friendly.  Without this the
    # array_remove chains re-ran in the stats AND scoring stages, each
    # time in a freshly generated (interpreter-cold) class — the
    # dominant cost of every first execution.
    proj = base.select(
        "doc_id",
        F.size(toks).cast("long").alias("doc_len"),
        *[
            (F.size(toks) - F.size(F.array_remove(toks, t)))
            .cast("long")
            .alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    ).localCheckpoint(eager=False)
    stats = proj.agg(
        F.count("*").alias("n"),
        F.sum("doc_len").alias("total"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    ).collect()[0]
    n_docs = int(stats["n"])
    if n_docs == 0:
        return arrow_frame(docs.sparkSession, [], _SCORES)
    avgdl = int(stats["total"]) / n_docs
    term_df = {
        t: int(stats[f"_df{i}"])
        for i, t in enumerate(terms)
        if int(stats[f"_df{i}"] or 0) > 0
    }
    if not term_df:
        return arrow_frame(docs.sparkSession, [], _SCORES)
    idf = query_idf(term_df, n_docs)
    # The per-doc length normalization k1*(1-b + b*dl/avgdl) is factored
    # into its own column: referenced once per term, inlining it made the
    # score projection's generated method large enough for multi-term
    # queries that HotSpot refused to JIT it (the whole stage ran
    # interpreted, ~577 us/row at 5 terms vs ~30 us at 2).  The factored
    # subexpression computes the identical float64 value, so scores stay
    # bit-exact.  CollapseProject keeps a multiply-referenced non-cheap
    # alias materialized, so the split survives optimization.
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl)
    )
    proj = proj.select("doc_id", "doc_len", norm.alias("_norm"),
                       *[f"_tf{i}" for i in range(len(terms))])
    score = F.lit(0.0)
    matched = F.lit(False)
    for i, t in enumerate(terms):  # ascending — the frozen fold order
        if t not in idf:
            continue
        tf = F.col(f"_tf{i}")
        score = score + F.lit(idf[t]) * (
            (tf * F.lit(k1 + 1.0)) / (tf + F.col("_norm"))
        )
        matched = matched | (tf > 0)
    return proj.filter(matched).select("doc_id", score.alias("score"))


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    bm25: BM25Config | None = None,
    text_col: str = "text",
    doc_col: str = "doc_id",
    tf_df: DataFrame | None = None,
    lens_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term (P3's input)."""
    bm25 = bm25 or BM25Config()
    spark = docs.sparkSession
    terms = sorted(set(query_terms))
    if tf_df is None and lens_df is None and 0 < len(terms) <= _ONEPASS_MAX_TERMS:
        # single-pass path for ad-hoc queries: per-term tf as JVM column
        # expressions — no explode, no corpus-wide (doc, term) shuffle,
        # and the corpus is tokenized twice (stats job + scoring job)
        # instead of four times.  Falls through to the relational path
        # when signatures are precomputed (batch amortization) or the
        # term list is large (per-term columns stop paying off).
        return _bm25_scores_onepass(docs, terms, bm25, text_col, doc_col)
    if tf_df is None:
        tf_df = doc_term_tf(docs, text_col, doc_col)
    if lens_df is None:
        lens_df = doc_lengths(docs, text_col, doc_col)

    n_docs, avgdl = corpus_stats(lens_df)
    if not terms or n_docs == 0:
        return arrow_frame(spark, [], _SCORES)

    # exact df for the query terms only — filter pushes to the scan
    df_rows = (
        tf_df.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    term_df = {r["term"]: int(r["df"]) for r in df_rows}
    if not term_df:
        return arrow_frame(spark, [], _SCORES)
    idf = query_idf(term_df, n_docs)

    k1, b = bm25.k1, bm25.b
    idf_map = F.create_map(
        *[x for t in sorted(idf) for x in (F.lit(t), F.lit(idf[t]))]
    )
    matched = (
        tf_df.filter(F.col("term").isin(list(term_df)))
        .join(lens_df, "doc_id")
        .withColumn(
            "s",
            idf_map[F.col("term")]
            * (
                (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("doc_len") / F.lit(avgdl))
                )
            ),
        )
    )
    # ordered per-doc sum: ascending term, float64, init 0.0 — matches oracle
    return matched.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "s"))),
            F.lit(0.0),
            lambda acc, x: acc + x["s"],
        ).alias("score")
    )


def bm25_exact_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    bm25: BM25Config | None = None,
    text_col: str = "text",
    doc_col: str = "doc_id",
    tf_df: DataFrame | None = None,
    lens_df: DataFrame | None = None,
) -> DataFrame:
    """Exhaustive BM25 top-k over a (doc_id, text) table.

    Returns (rank long, doc_id long, score double), rank 1..k ordered by
    (-score, doc_id).  Pass precomputed ``tf_df``/``lens_df`` to amortize
    tokenization across a query batch (they are pure functions of ``docs``).
    """
    scores = bm25_scores(
        docs, tokenize_py(query), bm25, text_col, doc_col, tf_df, lens_df
    )
    topk = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    # rank over k rows only — the window runs after the distributed top-k
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "doc_id", "score"
    )
