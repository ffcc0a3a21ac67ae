"""Rank-identity: Spark exhaustive BM25 vs single-node oracle.

The Spark engine must match the oracle docID-for-docID AND bit-for-bit on
float64 scores (north rule), across multiple partition counts
(SURVEY.md §7.5 item 1)."""

import pytest
from pyspark.sql import functions as F

from iscc_search_spark.corpus import doc_id_for_url, generate_queries
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.query import (
    bm25_exact_topk,
    doc_lengths,
    doc_term_tf,
)
from iscc_search_spark.oracle import build_oracle


@pytest.fixture(scope="module")
def docs(spark, pages_df):
    from iscc_search_spark.functions.hashing import doc_id_udf

    df = pages_df.select(
        doc_id_udf(F.col("url")).alias("doc_id"), "text"
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle(pages_df):
    rows = pages_df.select("url", "text").collect()
    return build_oracle([(doc_id_for_url(r["url"]), r["text"]) for r in rows])


def test_doc_term_tf_matches_oracle(docs, oracle):
    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in doc_term_tf(docs).collect()
    }
    want = {
        (term, doc): tf
        for term, plist in oracle.postings.items()
        for doc, tf in plist.items()
    }
    assert got == want


def test_doc_lengths_match(docs, oracle):
    got = {r["doc_id"]: r["doc_len"] for r in doc_lengths(docs).collect()}
    assert got == oracle.doc_len


@pytest.mark.parametrize("n_queries", [25])
def test_rank_identical_topk(docs, oracle, n_queries):
    queries = generate_queries(n_queries)
    tf_df = doc_term_tf(docs).cache()
    lens_df = doc_lengths(docs).cache()
    checked_nonempty = 0
    for q in queries:
        want = oracle.search(q, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_exact_topk(docs, q, k=10, tf_df=tf_df, lens_df=lens_df)
            .orderBy("rank")
            .collect()
        ]
        assert got == want, f"query={q!r}"
        if want:
            checked_nonempty += 1
    assert checked_nonempty > 0
    # OOV query -> empty both sides
    assert bm25_exact_topk(docs, "zzoov0xq", k=10, tf_df=tf_df, lens_df=lens_df).count() == 0
    assert oracle.search("zzoov0xq") == []


def test_rank_identity_across_partitionings(docs, oracle):
    """Different partition counts must not change float sums (ordered agg)."""
    q = generate_queries(10)[5]
    want = oracle.search(q, k=10)
    for nparts in (1, 7):
        d = docs.repartition(nparts)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_exact_topk(d, q, k=10).orderBy("rank").collect()
        ]
        assert got == want, nparts


# --- size-gated branches forced at small data ---------------------------------


def _scores(df) -> dict[int, str]:
    return {r["doc_id"]: r["score"].hex() for r in df.collect()}


def test_bm25_scores_onepass_gate_both_sides(docs, oracle, monkeypatch):
    """``query._ONEPASS_MAX_TERMS`` picks the single-pass or the relational
    scorer; forced either way, a short and a long (> 64-term) query give
    bit-identical scores on both paths, equal to the oracle's."""
    from iscc_search_spark.operators import query

    limit = query._ONEPASS_MAX_TERMS
    vocab = sorted(oracle.postings)
    assert len(vocab) > limit
    short = generate_queries(10)[3]
    long_q = " ".join(vocab[: limit + 6])
    onepass = []
    real_onepass = query._bm25_scores_onepass
    monkeypatch.setattr(
        query, "_bm25_scores_onepass",
        lambda *a, **k: onepass.append(1) or real_onepass(*a, **k),
    )

    for q, default_onepass in ((short, True), (long_q, False)):
        want = {d: s.hex() for d, s in oracle.search(q, k=10**6)}
        assert want, q
        for cap, expect in ((limit, default_onepass), (0, False), (10**6, True)):
            monkeypatch.setattr(query, "_ONEPASS_MAX_TERMS", cap)
            onepass.clear()
            got = _scores(query.bm25_scores(docs, tokenize_py(q)))
            assert bool(onepass) is expect, (q[:20], cap)
            assert got == want, (q[:20], cap)


def test_spread_small_gate_both_sides(spark, monkeypatch):
    """``session._SPREAD_MAX_BYTES``: below it the input is repartitioned
    to the default parallelism, above it (forced to 0, with enough
    partitions) returned as is; the rows are unchanged either way."""
    from iscc_search_spark import session

    par = spark.sparkContext.defaultParallelism
    df = spark.range(0, 500, numPartitions=par + 3).selectExpr("id", "id * 7 AS v")
    want = sorted(map(tuple, df.collect()))

    small = session.spread_small(df)
    assert small is not df and small.rdd.getNumPartitions() == par
    assert sorted(map(tuple, small.collect())) == want

    monkeypatch.setattr(session, "_SPREAD_MAX_BYTES", 0)
    assert session.spread_small(df) is df
    # the partition-count check still spreads a too-coarse input
    coarse = df.coalesce(1)
    spread = session.spread_small(coarse)
    assert spread.rdd.getNumPartitions() == par
    assert sorted(map(tuple, spread.collect())) == want
