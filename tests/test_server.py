"""S7 e2e: drive the HTTP serving layer against a built index — endpoints,
error mapping (400/404), and update visibility without a server restart
(reference surface: iscc_search/protocols/index.py:39-98,
server/search.py:13-46)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from iscc_search_spark.config import EngineConfig
from iscc_search_spark.corpus import doc_id_for_url, generate_queries
from iscc_search_spark.operators.build import build_index, upsert_docs
from iscc_search_spark.server import serve_in_thread

CFG = EngineConfig(block_size=16)


@pytest.fixture(scope="module")
def served(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("srv") / "idx")
    build_index(spark, pages_df, d, cfg=CFG, n_parts=4, n_shards=4, group_size=4)
    srv, base = serve_in_thread(spark, d)
    yield base, d
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def _get_err(url: str) -> tuple[int, dict]:
    try:
        return _get(url)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_and_stats(served):
    base, _ = served
    assert _get(base + "/health") == (200, {"status": "ok"})
    status, stats = _get(base + "/stats")
    assert status == 200 and stats["n_docs"] == 200 and stats["n_terms"] > 0


def test_search_endpoint_matches_engine(served, spark):
    base, d = served
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local

    q = generate_queries(10)[0]  # (n<=5 would yield only the OOV tail)
    status, rows = _get(base + "/search?q=" + urllib.request.quote(q) + "&k=5")
    assert status == 200 and len(rows) == 5
    want = bm25_wand_topk_local(IndexReader(spark, d), q, k=5)
    assert [r["doc_id"] for r in rows] == list(want["doc_id"])
    assert [r["score"] for r in rows] == list(want["score"])


def test_similar_and_granular_serve_persisted_tables(served, pages_df, spark):
    """/similar and /granular answer like the Spark operators over the
    persisted band tables, and (caches warm) run no Spark job per request."""
    from iscc_search_spark.operators.build import (
        load_simprint_bands,
        load_unit_bands,
        load_units,
    )
    from iscc_search_spark.operators.multiunit import search_assets_multiunit
    from iscc_search_spark.operators.simprints import granular_topk

    base, d = served
    url0 = pages_df.select("url").orderBy("url").first()["url"]
    did = doc_id_for_url(url0)
    txt = pages_df.orderBy("url").first()["text"][:400]
    similar = base + f"/similar?doc_id={did}&k=5"
    granular = base + "/granular?q=" + urllib.request.quote(txt) + "&k=5&max_hamming=8"
    want_sim = [r.asDict() for r in search_assets_multiunit(
        None, did, k=5, units=load_units(spark, d), bands=load_unit_bands(spark, d)
    ).collect()]
    want_gran = [r.asDict() for r in granular_topk(
        None, txt, k=5, max_hamming=8, bands=load_simprint_bands(spark, d)
    ).collect()]
    _get(similar), _get(granular)  # fill the reader's table caches
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(), default=-1)
    status, rows = _get(similar)
    assert status == 200 and rows == want_sim  # self-excluded; may be empty
    status, rows = _get(granular)
    assert status == 200 and rows and rows[0]["doc_id"] == did
    assert rows == want_gran
    assert max(tracker.getJobIdsForGroup(), default=-1) == last_job


def test_doc_route_answers_from_the_docs_cache(served, pages_df, spark):
    """/doc returns the docs sidecar row; warm, neither a hit nor a 404
    starts a Spark job."""
    base, d = served
    row = pages_df.orderBy("url").first()
    did = doc_id_for_url(row["url"])
    want = (
        spark.read.parquet(d + "/docs")
        .filter(f"doc_id = {did}")
        .select("doc_id", "url", "lang", "doc_len", "simhash", "instance")
        .first()
        .asDict()
    )
    assert _get(base + f"/doc?doc_id={did}") == (200, want)  # fills the cache
    tracker = spark.sparkContext.statusTracker()
    last_job = max(tracker.getJobIdsForGroup(), default=-1)
    assert _get(base + f"/doc?doc_id={did}") == (200, want)
    assert want["url"] == row["url"] and want["lang"] == row["lang"]
    assert _get_err(base + "/doc?doc_id=12345")[0] == 404
    assert max(tracker.getJobIdsForGroup(), default=-1) == last_job


def test_error_mapping(served):
    base, _ = served
    assert _get_err(base + "/search?k=5")[0] == 400            # missing q
    assert _get_err(base + "/similar?doc_id=abc")[0] == 400    # bad int
    assert _get_err(base + "/similar?doc_id=12345")[0] == 404  # unknown doc
    assert _get_err(base + "/more_like_this?doc_id=12345")[0] == 404
    assert _get_err(base + "/nope")[0] == 404                  # bad route


def test_update_visible_without_restart(served, spark):
    base, d = served
    delta = spark.createDataFrame(
        [("http://srv.test/new", "qqservednew qqservednew", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, d, cfg=CFG)
    status, rows = _get(base + "/search?q=qqservednew&k=3")
    assert status == 200
    assert [r["doc_id"] for r in rows] == [doc_id_for_url("http://srv.test/new")]
