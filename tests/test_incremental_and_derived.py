"""Round-3 surfaces: persisted derived similarity tables (stage C),
shard-granular incremental postings maintenance, the banded NPHD prune,
delete-to-empty-bucket hygiene, and long-lived reader invalidation —
mirroring the reference's one-derived-index-per-type model
(iscc_search/indexes/usearch/index.py:1602-1648) and its
delete-stale-then-insert update txn (usearch/index.py:337-348)."""

from __future__ import annotations

import glob
import os
import sys

import pytest
from pyspark.sql import functions as F

from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.operators.build import (
    _bucket_of,
    build_index,
    delete_docs,
    load_simprints,
    load_units,
    upsert_docs,
)

CFG = EngineConfig(block_size=16)


@pytest.fixture()
def built(spark, pages_df, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, pages_df, d, cfg=CFG, n_parts=8, n_shards=4, group_size=8)
    return d


# --- stage C: persisted tables equal the from-text computation ---------------


def test_persisted_units_match_computed(spark, pages_df, built):
    from iscc_search_spark.functions.hashing import doc_id_udf
    from iscc_search_spark.operators.multiunit import asset_units

    docs = pages_df.select(doc_id_udf("url").alias("doc_id"), "text")
    want = {
        r["doc_id"]: (r["content_sh"], r["data_sh"], r["instance"])
        for r in asset_units(docs).collect()
    }
    got = {
        r["doc_id"]: (r["content_sh"], r["data_sh"], r["instance"])
        for r in load_units(spark, built).collect()
    }
    assert got == want


def test_persisted_simprints_match_computed(spark, pages_df, built):
    from iscc_search_spark.functions.hashing import doc_id_udf
    from iscc_search_spark.operators.simprints import simprints_table

    docs = pages_df.select(doc_id_udf("url").alias("doc_id"), "text")
    key = lambda r: (r["doc_id"], r["seg_idx"])  # noqa: E731
    val = lambda r: (  # noqa: E731
        r["n_tokens"], r["offset"], r["size"], r["simhash"], r["sh_lo"],
    )
    want = {key(r): val(r) for r in simprints_table(docs).collect()}
    got = {key(r): val(r) for r in load_simprints(spark, built).collect()}
    assert got == want


def test_derived_tables_maintained_on_upsert_delete(spark, pages_df, built):
    url = pages_df.select("url").orderBy("url").first()["url"]
    delta = spark.createDataFrame(
        [(url, "replaced words entirely " + "zz " * 40, "en")],
        "url string, text string, lang string",
    )
    n0 = load_units(spark, built).count()
    upsert_docs(spark, delta, built, cfg=CFG)
    units = load_units(spark, built)
    assert units.count() == n0  # replaced, not duplicated
    from iscc_search_spark.corpus import doc_id_for_url

    did = doc_id_for_url(url)
    row = units.filter(F.col("doc_id") == did).collect()[0]
    # the stored unit reflects the NEW text (instance = md5-derived)
    from iscc_search_spark.functions.hashing import instance_expr

    want = (
        spark.createDataFrame([("replaced words entirely " + "zz " * 40,)], "text string")
        .select(instance_expr("text").alias("i"))
        .collect()[0]["i"]
    )
    assert row["instance"] == want

    delete_docs(spark, [url], built, cfg=CFG)
    assert load_units(spark, built).filter(F.col("doc_id") == did).count() == 0
    assert (
        load_simprints(spark, built).filter(F.col("doc_id") == did).count() == 0
    )


def test_band_lookup_matches_scan_filter(spark, pages_df, built):
    """The persisted LSH band tables give the SAME results as the banded
    scan filters (both admit every pair within the frozen thresholds)."""
    from iscc_search_spark.operators.build import (
        load_simprint_bands,
        load_unit_bands,
    )
    from iscc_search_spark.operators.multiunit import search_assets_multiunit
    from iscc_search_spark.operators.simprints import granular_topk

    units = load_units(spark, built).localCheckpoint()
    ub = load_unit_bands(spark, built)
    qid = int(units.select("doc_id").orderBy("doc_id").first()["doc_id"])
    scan = [
        (r["doc_id"], r["score"], r["n_units"])
        for r in search_assets_multiunit(None, qid, k=10, units=units)
        .orderBy("rank").collect()
    ]
    lookup = [
        (r["doc_id"], r["score"], r["n_units"])
        for r in search_assets_multiunit(None, qid, k=10, units=units, bands=ub)
        .orderBy("rank").collect()
    ]
    assert lookup == scan

    sp = load_simprints(spark, built)
    sb = load_simprint_bands(spark, built)
    txt = pages_df.orderBy("url").first()["text"][:600]
    g_scan = [
        (r["doc_id"], r["score"]) for r in
        granular_topk(None, txt, k=10, max_hamming=12, simprints=sp,
                      n_bands=13).collect()
    ]
    g_lookup = [
        (r["doc_id"], r["score"]) for r in
        granular_topk(None, txt, k=10, max_hamming=12, bands=sb).collect()
    ]
    assert g_lookup == g_scan
    with pytest.raises(ValueError):  # frozen banding bound is enforced
        granular_topk(None, txt, max_hamming=13, bands=sb)


def test_band_tables_maintained_on_upsert_delete(spark, pages_df, built):
    from iscc_search_spark.operators.build import (
        SEG_BANDS,
        UNIT_BANDS,
        load_simprint_bands,
        load_unit_bands,
    )
    from iscc_search_spark.corpus import doc_id_for_url

    url = pages_df.select("url").orderBy("url").first()["url"]
    did = doc_id_for_url(url)
    ub0 = load_unit_bands(spark, built)
    n0 = ub0.count()  # materialize BEFORE the upsert replaces the files
    assert ub0.filter(F.col("doc_id") == did).count() == 2 * UNIT_BANDS + 1
    delta = spark.createDataFrame(
        [(url, "completely different body now", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    ub1 = load_unit_bands(spark, built)
    assert ub1.count() == n0  # replaced, not duplicated
    assert ub1.filter(F.col("doc_id") == did).count() == 2 * UNIT_BANDS + 1
    delete_docs(spark, [url], built, cfg=CFG)
    assert load_unit_bands(spark, built).filter(F.col("doc_id") == did).count() == 0
    assert (
        load_simprint_bands(spark, built).filter(F.col("doc_id") == did).count()
        == 0
    )
    # per-segment fan-out is exactly SEG_BANDS rows per surviving segment
    sb = load_simprint_bands(spark, built)
    per_seg = (
        sb.groupBy("doc_id", "seg_idx").count().select("count").distinct().collect()
    )
    assert [r["count"] for r in per_seg] == [SEG_BANDS]


# --- incremental stage B: shard granularity -----------------------------------


def _posting_file_mtimes(cat: IndexCatalog) -> dict[str, float]:
    out = {}
    for f in glob.glob(os.path.join(cat.postings, "bucket=*", "shard=*", "*.parquet")):
        out[os.path.relpath(f, cat.postings)] = os.path.getmtime(f)
    return out


def _stage_b_state(d: str) -> tuple[list[tuple], list[tuple]]:
    """Every postings row (all columns, ordered by bucket, shard, term,
    block_id) and every term_stats row (ordered by bucket, term)."""
    import pyarrow.dataset as ds

    cat = IndexCatalog(d)

    def rows(path, key):
        t = ds.dataset(path, format="parquet", partitioning="hive").to_table()
        cols = sorted(t.column_names)
        return sorted(
            (tuple(r[c] for c in key) + tuple(r[c] for c in cols) for r in t.to_pylist())
        )

    return (
        rows(cat.postings, ["bucket", "shard", "term", "block_id"]),
        rows(cat.term_stats, ["bucket", "term"]),
    )


def _assert_equals_fresh_build(spark, d, corpus: dict[str, str], tmp_path):
    """The maintained index's stage-B output equals a from-scratch build
    of the final corpus, row for row."""
    fresh = str(tmp_path / "fresh")
    pages = spark.createDataFrame(
        [(u, t, "en") for u, t in sorted(corpus.items())],
        "url string, text string, lang string",
    )
    build_index(spark, pages, fresh, cfg=CFG, n_parts=8, n_shards=4,
                group_size=8, resume=False, derived=False)
    got_post, got_stats = _stage_b_state(d)
    want_post, want_stats = _stage_b_state(fresh)
    assert got_stats == want_stats
    assert got_post == want_post


def _corpus(pages_df) -> dict[str, str]:
    return {r["url"]: r["text"] for r in pages_df.select("url", "text").collect()}


def _shard_urls(spark, pages_df, n_shards: int = 4) -> dict[int, list[str]]:
    from iscc_search_spark.functions.hashing import doc_id_udf

    rows = (
        pages_df.select("url", doc_id_udf("url").alias("doc_id"))
        .select("url", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).alias("s"))
        .orderBy("url")
        .collect()
    )
    out: dict[int, list[str]] = {}
    for r in rows:
        out.setdefault(int(r["s"]), []).append(r["url"])
    return out


def test_upsert_touches_only_affected_shard(spark, pages_df, built, tmp_path):
    """A 1-doc upsert and a 1-doc delete re-encode only their doc's
    shard; the result equals a from-scratch build of the final corpus."""
    cat = IndexCatalog(built)
    corpus = _corpus(pages_df)
    before = _posting_file_mtimes(cat)
    url = pages_df.select("url").orderBy("url").first()["url"]
    text = "one tweaked doc " + "t00000 " * 10
    delta = spark.createDataFrame(
        [(url, text, "en")], "url string, text string, lang string"
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    corpus[url] = text
    after = _posting_file_mtimes(cat)
    changed_shards = {
        p.split("/")[1] for p in set(before) | set(after)
        if before.get(p) != after.get(p)
    }
    # exactly ONE doc-hash shard rewrote; the other 3 shards' files are
    # byte-untouched (the reference's delete-stale-then-insert granularity)
    assert len(changed_shards) == 1
    untouched = {p for p in before if p.split("/")[1] not in changed_shards}
    assert untouched and all(before[p] == after[p] for p in untouched)

    by_shard = _shard_urls(spark, pages_df)
    dead = next(us[0] for _, us in sorted(by_shard.items()) if url not in us)
    delete_docs(spark, [dead], built, cfg=CFG)
    del corpus[dead]
    _assert_equals_fresh_build(spark, built, corpus, tmp_path)


def test_delta_touching_every_shard_equals_full_build(spark, pages_df, built, tmp_path):
    corpus = _corpus(pages_df)
    by_shard = _shard_urls(spark, pages_df)
    assert sorted(by_shard) == [0, 1, 2, 3]
    rows = [(us[0], corpus[us[0]] + " qqeveryshard", "en") for us in by_shard.values()]
    rows.append(("http://x.test/brand-new", "qqeveryshard fresh words", "en"))
    upsert_docs(
        spark,
        spark.createDataFrame(rows, "url string, text string, lang string"),
        built,
        cfg=CFG,
    )
    corpus.update({u: t for u, t, _ in rows})
    _assert_equals_fresh_build(spark, built, corpus, tmp_path)


def test_writes_leave_session_overwrite_mode_alone(spark, pages_df, tmp_path):
    """Every write sets its own partition-overwrite mode; the caller's
    session conf is never flipped (concurrent writers and servers share
    one session)."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    d = str(tmp_path / "conf")
    url = pages_df.select("url").orderBy("url").first()["url"]
    delta = spark.createDataFrame(
        [(url, "conf probe text", "en")], "url string, text string, lang string"
    )
    try:
        spark.conf.set(key, "dynamic")
        build_index(spark, pages_df.limit(40), d, cfg=CFG, n_parts=4,
                    n_shards=4, group_size=4)
        assert spark.conf.get(key) == "dynamic"
        spark.conf.set(key, "static")
        upsert_docs(spark, delta, d, cfg=CFG)
        assert spark.conf.get(key) == "static"
        delete_docs(spark, [url], d, cfg=CFG)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prior)


def test_write_path_releases_pinned_rdds(spark, pages_df, built):
    """upsert + delete unpersist their checkpoints and cached blocks: the
    SparkContext's persistent RDD count is unchanged afterwards."""
    jsc = spark.sparkContext._jsc
    n0 = jsc.getPersistentRDDs().size()
    url = pages_df.select("url").orderBy("url").first()["url"]
    delta = spark.createDataFrame(
        [(url, "pinned probe text", "en")], "url string, text string, lang string"
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    delete_docs(spark, [url], built, cfg=CFG)
    assert jsc.getPersistentRDDs().size() == n0


def test_delete_to_empty_bucket_drops_stale_blocks(spark, tmp_path):
    # two tiny docs with hand-picked vocabularies in DIFFERENT buckets:
    # deleting doc B must remove its bucket dir entirely (a stale block
    # surviving an overwrite would resurrect the deleted doc in queries)
    toks = [f"qq{i}" for i in range(100)]
    b_of = {t: _bucket_of(t, CFG.term_buckets) for t in toks}
    tok_a = toks[0]
    tok_b = next(t for t in toks if b_of[t] != b_of[tok_a])
    pages = [
        ("http://x.test/a", f"{tok_a} {tok_a} {tok_a}", "en"),
        ("http://x.test/b", f"{tok_b} {tok_b}", "en"),
    ]
    spark_df = None
    import pyspark.sql

    spark_sess = pyspark.sql.SparkSession.getActiveSession()
    spark_df = spark_sess.createDataFrame(
        pages, "url string, text string, lang string"
    )
    d = str(tmp_path / "idx2")
    build_index(spark_sess, spark_df, d, cfg=CFG, n_parts=2, n_shards=2, group_size=2)
    cat = IndexCatalog(d)
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk

    assert bm25_wand_topk(spark_sess, IndexReader(spark_sess, d), tok_b).count() == 1
    delete_docs(spark_sess, ["http://x.test/b"], d, cfg=CFG)
    bucket_b = os.path.join(cat.postings, f"bucket={b_of[tok_b]}")
    assert not os.path.exists(bucket_b)  # no stale posting blocks
    assert not os.path.exists(
        os.path.join(cat.term_stats, f"bucket={b_of[tok_b]}")
    )
    r = IndexReader(spark_sess, d)
    assert bm25_wand_topk(spark_sess, r, tok_b).count() == 0
    assert bm25_wand_topk(spark_sess, r, tok_a).count() == 1


def test_reader_invalidates_after_update(spark, pages_df, built):
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local

    r = IndexReader(spark, built)
    assert bm25_wand_topk_local(r, "zzznewterm").empty
    url = "http://x.test/new"
    delta = spark.createDataFrame(
        [(url, "zzznewterm zzznewterm", "en")], "url string, text string, lang string"
    )
    upsert_docs(spark, delta, built, cfg=CFG)
    out = bm25_wand_topk_local(r, "zzznewterm")  # same reader, no reopen
    from iscc_search_spark.corpus import doc_id_for_url

    assert list(out["doc_id"]) == [doc_id_for_url(url)]


def test_reader_reload_is_atomic_under_concurrent_queries(spark, pages_df, built):
    """2 x nproc threads each send their FIRST query after an upsert to a
    reader opened (and warmed) before it: every answer must equal the
    oracle over the mutated corpus — no query may score with half-reloaded
    stats or caches."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from iscc_search_spark.corpus import doc_id_for_url, generate_queries
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local
    from iscc_search_spark.oracle import build_oracle

    n = 2 * (os.cpu_count() or 2)  # more threads than cores
    queries = generate_queries(60)[:n]  # the OOV queries come last
    r = IndexReader(spark, built)
    for q in queries:  # warm the stats and bucket caches of the old version
        bm25_wand_topk_local(r, q)
    corpus = _corpus(pages_df)
    urls = sorted(corpus)[:20]
    rows = [(u, corpus[u] + " " + queries[i % len(queries)], "en")
            for i, u in enumerate(urls)]
    upsert_docs(
        spark,
        spark.createDataFrame(rows, "url string, text string, lang string"),
        built,
        cfg=CFG,
    )
    corpus.update({u: t for u, t, _ in rows})
    oracle = build_oracle([(doc_id_for_url(u), t) for u, t in corpus.items()])
    gate = threading.Barrier(len(queries))

    def first_query(q):
        gate.wait(timeout=60)
        out = bm25_wand_topk_local(r, q)
        return list(zip(out["doc_id"].tolist(), out["score"].tolist()))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' bytecode finely
    try:
        with ThreadPoolExecutor(len(queries)) as pool:
            got = list(pool.map(first_query, queries, timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert got == [oracle.search(q, k=10) for q in queries]


# --- NPHD banded prune ---------------------------------------------------------


def test_nphd_wide_prune_matches_full_scan(spark, pages_df, built):
    from iscc_search_spark.operators.multiunit import (
        nphd_topk_wide,
        wide_length_units,
    )

    u = wide_length_units(load_units(spark, built)).localCheckpoint()
    qid = int(u.select("doc_id").orderBy("doc_id").first()["doc_id"])
    pruned = nphd_topk_wide(u, qid, k=10, max_nphd=0.3)
    full = nphd_topk_wide(u, qid, k=10, max_nphd=None)
    want = [
        (r["doc_id"], r["nphd"])
        for r in full.collect()
        if r["nphd"] <= 0.3
    ]
    got = [(r["doc_id"], r["nphd"]) for r in pruned.orderBy("rank").collect()]
    assert got == want
    # the prune is IN the plan: a banded scan filter, not a post-hoc sort
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "shiftrightunsigned" in plan


def test_nphd_mixed_prune_matches_full_scan(spark, pages_df, built):
    from iscc_search_spark.operators.multiunit import (
        mixed_length_units,
        nphd_topk,
    )

    u = mixed_length_units(units=load_units(spark, built)).localCheckpoint()
    qid = int(u.select("doc_id").orderBy("doc_id").first()["doc_id"])
    full = nphd_topk(u, qid, k=10)
    want = [(r["doc_id"], r["nphd"]) for r in full.collect() if r["nphd"] <= 0.25]
    got = [
        (r["doc_id"], r["nphd"])
        for r in nphd_topk(u, qid, k=10, max_nphd=0.25).orderBy("rank").collect()
    ]
    assert got == want


def test_lean_index_upsert_stays_lean(spark, pages_df, tmp_path):
    """A postings-only (derived=False) index accepts incremental upserts
    without growing similarity artifacts; search reflects the update."""
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local

    d = str(tmp_path / "lean")
    build_index(spark, pages_df, d, cfg=CFG, n_parts=4, n_shards=4,
                group_size=4, derived=False)
    cat = IndexCatalog(d)
    assert not cat.exists("units") and not cat.exists("simprints")
    delta = spark.createDataFrame(
        [("http://lean.test/x", "qqleanupsert body", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, d, cfg=CFG)
    assert not cat.exists("units")  # stays lean
    r = IndexReader(spark, d)
    from iscc_search_spark.corpus import doc_id_for_url

    assert list(bm25_wand_topk_local(r, "qqleanupsert")["doc_id"]) == [
        doc_id_for_url("http://lean.test/x")
    ]


# --- combinatorial granular prune (exact recall, higher selectivity) -----------


def test_granular_combo_prune_matches_single_band(spark, pages_df, built):
    from iscc_search_spark.operators.simprints import granular_topk

    sp = load_simprints(spark, built).localCheckpoint()
    txt = pages_df.orderBy("url").first()["text"][:600]
    want = [
        (r["doc_id"], r["score"], r["n_matched_segs"])
        for r in granular_topk(
            None, txt, k=10, max_hamming=10, simprints=sp, combo=1
        ).collect()
    ]
    got = [
        (r["doc_id"], r["score"], r["n_matched_segs"])
        for r in granular_topk(
            None, txt, k=10, max_hamming=10, simprints=sp, combo=2
        ).collect()
    ]
    assert got == want
    with pytest.raises(ValueError):  # recall guard: bands must cover h+combo
        granular_topk(None, txt, max_hamming=12, n_bands=13, simprints=sp, combo=2)


# --- degenerate banding configs (max_hamming=0) --------------------------------


def test_full_width_band_configs_work(spark, pages_df, built):
    from iscc_search_spark.functions.hashing import doc_id_udf
    from iscc_search_spark.operators.neardup import simhash_neardup_pairs
    from iscc_search_spark.operators.simprints import granular_topk

    sp = load_simprints(spark, built)
    sample = sp.orderBy("doc_id", "seg_idx").first()
    docs = pages_df.select(doc_id_udf("url").alias("doc_id"), "text")
    # max_hamming=0 -> n_bands=1 -> full-width band: exact-equality matches
    txt = pages_df.orderBy("url").first()["text"]
    out = granular_topk(None, txt, k=5, max_hamming=0, simprints=sp).collect()
    assert len(out) >= 1 and out[0]["score"] > 0
    units = docs.select(
        "doc_id", F.lit(0).alias("simhash")
    )  # all-equal hashes: every pair within hamming 0
    pairs = simhash_neardup_pairs(
        units.limit(3), max_hamming=0, n_bands=1
    ).collect()
    assert len(pairs) == 3  # C(3,2) exact-equal pairs
    assert sample is not None
