"""End-to-end: build sharded compressed index -> block-max query path.

Checks (north rule): rank-identical (docIDs AND float64 scores) vs the
single-node oracle AND vs the exhaustive relational scorer; resumable
kill/rerun builds equal a clean build; WAND == exhaustive on every query
(SURVEY.md §7.5 #3)."""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.corpus import doc_id_for_url, generate_queries
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators.build import build_index, build_segments, build_postings
from iscc_search_spark.operators.query import bm25_exact_topk
from iscc_search_spark.operators.wand import bm25_wand_topk
from iscc_search_spark.oracle import build_oracle

CFG = EngineConfig(block_size=16)  # small blocks so multi-block paths exercise


@pytest.fixture(scope="module")
def index_dir(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    res = build_index(
        spark, pages_df, d, cfg=CFG, n_parts=8, n_shards=4, group_size=4
    )
    assert res.n_docs == 200
    return d


@pytest.fixture(scope="module")
def oracle(pages_df):
    rows = pages_df.select("url", "text").collect()
    return build_oracle([(doc_id_for_url(r["url"]), r["text"]) for r in rows])


def test_wand_rank_identical_to_oracle(spark, index_dir, oracle):
    queries = generate_queries(30)
    nonempty = 0
    for q in queries:
        want = oracle.search(q, k=10)
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_wand_topk(spark, index_dir, q, k=10).orderBy("rank").collect()
        ]
        assert got == want, f"query={q!r}"
        nonempty += bool(want)
    assert nonempty > 0


def test_local_fastpath_rank_identical(spark, index_dir, oracle):
    """The driver-side serving fast path (pyarrow read, zero Spark jobs)
    must be bit-identical to the oracle AND the distributed path."""
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local

    reader = IndexReader(spark, index_dir)
    nonempty = 0
    for q in generate_queries(30):
        pdf = bm25_wand_topk_local(reader, q, k=10)
        got = list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))
        assert got == oracle.search(q, k=10), f"query={q!r}"
        nonempty += bool(got)
    assert nonempty > 0


def _single(spark, index, q: str, k: int = 10) -> list:
    rows = bm25_wand_topk(spark, index, q, k=k).orderBy("rank").collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _local(reader, q: str, k: int = 10) -> list:
    from iscc_search_spark.operators.wand import bm25_wand_topk_local

    pdf = bm25_wand_topk_local(reader, q, k=k)
    return list(zip(pdf["doc_id"].tolist(), pdf["score"].tolist()))


def _batch_query_set(oracle) -> dict[int, str]:
    """The generated queries plus the shapes the shared kernel branches on:
    a duplicate and a reordered query (signature fan-out), an all-OOV and a
    single-term query, one with fewer than k matches, and queries whose
    every term has df >= k (finite theta: the block-max prune runs)."""
    base = generate_queries(30)
    by_df = sorted(oracle.postings, key=lambda t: (-len(oracle.postings[t]), t))
    rare = next(t for t in reversed(by_df) if 1 < len(oracle.postings[t]) < 10)
    oov = "qqqzx zzkwv"
    assert not any(t in oracle.postings for t in tokenize_py(oov))
    mid = [t for t in by_df if 30 <= len(oracle.postings[t]) <= 120]
    extra = [
        base[1],
        " ".join(reversed(base[1].split())),
        oov,
        by_df[40],
        rare,
        " ".join(by_df[:3]),
        f"{mid[0]} {by_df[0]} {by_df[1]}",
        f"{mid[len(mid) // 2]} {by_df[2]}",
        " ".join(mid[-3:]),
    ]
    for q in extra[-4:]:
        assert all(len(oracle.postings[t]) >= 10 for t in tokenize_py(q)), q
    return dict(enumerate(base + extra))


def test_wand_batch_equals_oracle(spark, index_dir, oracle):
    """Batch, single-query and driver-local answers (one shared kernel)
    equal each other and the oracle on every query of the set."""
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_batch

    queries = _batch_query_set(oracle)
    reader = IndexReader(spark, index_dir)
    out = bm25_wand_topk_batch(spark, reader, queries, k=10).collect()
    got: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in queries.items():
        want = oracle.search(q, k=10)
        assert got.get(qid, []) == want, f"qid={qid} query={q!r}"
        assert _single(spark, reader, q) == want, f"single qid={qid} query={q!r}"
        assert _local(reader, q) == want, f"local qid={qid} query={q!r}"
    assert bm25_wand_topk_batch(spark, reader, queries, k=0).count() == 0


def test_stats_over_cache_cap_uses_spark_lookup(spark, index_dir, oracle, monkeypatch):
    """Above _STATS_CACHE_MAX_ROWS the reader keeps no term-stats cache and
    looks df up through Spark; every entry point still equals the oracle."""
    from iscc_search_spark.operators import wand

    monkeypatch.setattr(wand, "_STATS_CACHE_MAX_ROWS", 0)
    reader = wand.IndexReader(spark, index_dir)
    assert reader._stats is None
    queries = dict(enumerate(generate_queries(8)))
    out = wand.bm25_wand_topk_batch(spark, reader, queries, k=10).collect()
    for qid, q in queries.items():
        want = oracle.search(q, k=10)
        batch = sorted(
            (r["rank"], r["doc_id"], r["score"]) for r in out if r["query_id"] == qid
        )
        assert [(d, s) for _, d, s in batch] == want, q
        assert _single(spark, reader, q) == want, q
        assert _local(reader, q) == want, q


def test_local_over_postings_cap_falls_back(spark, index_dir, oracle, monkeypatch):
    """Above _LOCAL_POSTINGS_CAP the driver-local path answers through the
    distributed scorer: same frame, same oracle answer."""
    from iscc_search_spark.operators import wand

    reader = wand.IndexReader(spark, index_dir)
    queries = [q for q in generate_queries(8) if oracle.search(q, k=10)]
    assert queries
    want = {q: wand.bm25_wand_topk_local(reader, q, k=10) for q in queries}
    calls = []

    def spy(*args, **kw):
        calls.append(args[2])
        return bm25_wand_topk(*args, **kw)

    monkeypatch.setattr(wand, "_LOCAL_POSTINGS_CAP", 0)
    monkeypatch.setattr(wand, "bm25_wand_topk", spy)
    for q in queries:
        got = wand.bm25_wand_topk_local(reader, q, k=10)
        pd.testing.assert_frame_equal(got, want[q])
        pairs = list(zip(got["doc_id"].tolist(), got["score"].tolist()))
        assert pairs == oracle.search(q, k=10), q
    assert calls == queries


def test_wand_equals_exhaustive(spark, index_dir, pages_df):
    from iscc_search_spark.functions.hashing import doc_id_udf

    docs = pages_df.select(doc_id_udf("url").alias("doc_id"), "text")
    for q in generate_queries(12)[:8]:
        a = [(r["doc_id"], r["score"]) for r in bm25_wand_topk(spark, index_dir, q, k=10).orderBy("rank").collect()]
        b = [(r["doc_id"], r["score"]) for r in bm25_exact_topk(docs, q, k=10).orderBy("rank").collect()]
        assert a == b, q


def test_postings_are_compressed_blocks(spark, index_dir):
    cat = IndexCatalog(index_dir)
    blocks = spark.read.parquet(cat.postings)
    row = blocks.orderBy(F.desc("n")).first()
    assert row["n"] <= CFG.block_size
    assert row["min_doc"] <= row["max_doc"]
    # head terms must be split across shards (doc-hash salting)
    head = (
        blocks.groupBy("term")
        .agg(F.countDistinct("shard").alias("s"), F.sum("n").alias("df"))
        .filter(F.col("df") > 50)
    )
    assert head.filter(F.col("s") < 4).count() == 0, "head terms not sharded"


def test_term_stats_df_exact(spark, index_dir, oracle):
    cat = IndexCatalog(index_dir)
    stats = {r["term"]: r["df"] for r in spark.read.parquet(cat.term_stats).collect()}
    want = {t: len(p) for t, p in oracle.postings.items()}
    assert stats == want


def test_resumable_build_kill_rerun(spark, pages_df, tmp_path_factory):
    """Kill after 1 group, rerun, assert only remaining partitions rebuild and
    the final index equals a clean build (reference no-op gate semantics,
    usearch/index.py:311-336)."""
    d = str(tmp_path_factory.mktemp("resume"))
    cat = IndexCatalog(d)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_segments(
            spark, pages_df, cat, CFG, n_parts=8, group_size=4, fail_after_groups=1
        )
    built, skipped = build_segments(
        spark, pages_df, cat, CFG, n_parts=8, group_size=4, resume=True
    )
    assert sorted(built) and sorted(skipped), (built, skipped)
    assert len(built) + len(skipped) == 8
    assert len(skipped) == 4  # the committed group was skipped
    build_postings(spark, cat, CFG, n_shards=4)

    # rank-identity of the resumed index vs oracle on a few queries
    rows = pages_df.select("url", "text").collect()
    oracle = build_oracle([(doc_id_for_url(r["url"]), r["text"]) for r in rows])
    for q in generate_queries(8)[:5]:
        got = [
            (r["doc_id"], r["score"])
            for r in bm25_wand_topk(spark, d, q, k=10).orderBy("rank").collect()
        ]
        assert got == oracle.search(q, k=10), q

    # idempotent no-op: immediate rerun skips everything
    built2, skipped2 = build_segments(
        spark, pages_df, cat, CFG, n_parts=8, group_size=4, resume=True
    )
    assert built2 == [] and len(skipped2) == 8


def test_checkpoints_and_metrics_written(spark, index_dir):
    cat = IndexCatalog(index_dir)
    assert glob.glob(os.path.join(cat.checkpoints, "*.parquet"))
    m = spark.read.parquet(cat.metrics)
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert {"segments", "postings"} <= stages


def test_stale_parts_removed_on_shrunk_input(spark, pages_df, tmp_path_factory):
    """Parts committed earlier but absent from the current input must be
    deleted (docs partitions AND checkpoint rows), or they would leak into
    stage B's corpus stats and postings."""
    import os

    d = str(tmp_path_factory.mktemp("shrink"))
    cat = IndexCatalog(d)
    build_segments(spark, pages_df, cat, CFG, n_parts=8, group_size=8)
    # shrink the corpus to ~half: some parts vanish entirely only if we cut
    # by part — filter to 3 specific parts via the same hash
    kept = pages_df.filter(
        F.pmod(F.xxhash64("url"), F.lit(8)).cast("int").isin([0, 1, 2])
    )
    n_kept = kept.count()
    assert 0 < n_kept < 200
    built, skipped = build_segments(spark, kept, cat, CFG, n_parts=8, group_size=8)
    assert built == [] and skipped == [0, 1, 2]  # content unchanged
    live_parts = {
        int(p.split("=")[1])
        for p in os.listdir(cat.docs)
        if p.startswith("part=")
    }
    assert live_parts == {0, 1, 2}
    build_postings(spark, cat, CFG, n_shards=4)
    docs = spark.read.parquet(cat.docs)
    assert docs.count() == n_kept
    meta = cat.read_meta()
    assert meta["n_docs"] == n_kept


def test_checkpoint_revert_rebuilds(spark, pages_df, tmp_path_factory):
    """Content A -> B -> A again: the appended checkpoint dir holds rows for
    both states; resolution must pick the LATEST (seq), so the revert to A
    correctly rebuilds instead of matching the stale A row."""
    d = str(tmp_path_factory.mktemp("revert"))
    cat = IndexCatalog(d)
    mutated = pages_df.withColumn(
        "text",
        F.when(
            F.col("url").endswith("/p/1"), F.lit("changed content")
        ).otherwise(F.col("text")),
    )
    build_segments(spark, pages_df, cat, CFG, n_parts=8, group_size=8)  # A
    b1, _ = build_segments(spark, mutated, cat, CFG, n_parts=8, group_size=8)  # B
    assert len(b1) >= 1
    b2, s2 = build_segments(spark, pages_df, cat, CFG, n_parts=8, group_size=8)  # A again
    assert b2 == b1  # the reverted part rebuilds (stale A row must NOT match)
    # and the final state is a no-op for A
    b3, s3 = build_segments(spark, pages_df, cat, CFG, n_parts=8, group_size=8)
    assert b3 == [] and len(s3) == 8


def test_n_parts_mismatch_rejected(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nparts"))
    cat = IndexCatalog(d)
    build_segments(spark, pages_df, cat, CFG, n_parts=8, group_size=8)
    with pytest.raises(ValueError, match="n_parts"):
        build_segments(spark, pages_df, cat, CFG, n_parts=16, group_size=8)


def test_docs_sidecar(spark, index_dir, oracle):
    cat = IndexCatalog(index_dir)
    docs = spark.read.parquet(cat.docs)
    lens = {r["doc_id"]: r["doc_len"] for r in docs.collect()}
    assert lens == oracle.doc_len
    assert docs.filter(F.col("simhash") == 0).count() == 0
