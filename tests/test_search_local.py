"""Driver-local BM25 facade: ``SearchIndex.search`` / ``search_many`` /
``get_doc`` answer from the IndexReader's posting-bucket and docs-column
caches and must equal the Spark path (``bm25_wand_topk`` + the docs left
join, ``bm25_wand_topk_batch``, the docs scan) and the single-node oracle in
doc ids, score bits and metadata values, with the Spark path's schema; the
size gates, a duplicated doc_id, read-your-writes after upsert/delete, a
long session that pins no RDD, a racing cache fill, and the Arrow-built
empty answers of the Spark operators."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from iscc_search_spark import corpus as corpus_mod
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.corpus import doc_id_for_url, generate_queries
from iscc_search_spark.functions.textnorm import tokenize_py
from iscc_search_spark.operators import wand
from iscc_search_spark.operators.build import build_index, delete_docs, upsert_docs
from iscc_search_spark.operators.wand import bm25_wand_topk, bm25_wand_topk_batch
from iscc_search_spark.oracle import build_oracle
from iscc_search_spark.plans import search as search_mod
from iscc_search_spark.plans.search import SearchIndex, _docs_join

CFG = EngineConfig(block_size=16)
OOV = "zzqqxx yyqqvv"
META = ("url", "lang", "simhash", "doc_len")


def _rows_of(pages) -> list[tuple[str, str, str]]:
    return list(zip(*(pages.column(c).to_pylist() for c in ("url", "text", "lang"))))


def _build(spark, d: str, rows, **kw) -> str:
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    build_index(spark, df, d, cfg=CFG, n_parts=4, n_shards=4, group_size=4, **kw)
    return d


@pytest.fixture(scope="module")
def rows():
    return _rows_of(corpus_mod.generate_pages(200, seed=42))


@pytest.fixture(scope="module")
def idx(spark, rows, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("bm25local") / "idx"), rows)


def _oracle(rows):
    return build_oracle([(doc_id_for_url(u), t) for u, t, _ in rows])


def _docs_meta(d: str) -> dict[int, tuple]:
    """doc_id -> (url, lang, simhash, doc_len), read from the docs table."""
    t = ds.dataset(os.path.join(d, "docs"), format="parquet",
                   partitioning="hive").to_table(columns=["doc_id", *META])
    cols = [t.column(c).to_pylist() for c in ("doc_id", *META)]
    return {r[0]: r[1:] for r in zip(*cols)}


def _search_rows(df) -> list[tuple]:
    """(rank, doc_id, score bits, url, lang, simhash, doc_len) in rank order."""
    rows = sorted(df.collect(), key=lambda r: r["rank"])
    return [
        (r["rank"], r["doc_id"], r["score"].hex(), *(r[c] for c in META))
        for r in rows
    ]


def _many_rows(df) -> list[tuple]:
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"].hex()) for r in df.collect()
    )


def _want_search(oracle, meta, q: str, k: int) -> list[tuple]:
    return [
        (i, d, s.hex(), *meta[d])
        for i, (d, s) in enumerate(oracle.search(q, k=k), start=1)
    ]


def _types(df) -> list[tuple]:
    return [(f.name, f.dataType) for f in df.schema.fields]


def _queries() -> list[str]:
    qs = generate_queries(40)
    return qs[:6] + qs[-3:] + [OOV, "", "???"]


def _spark_search(spark, si, q, k, with_metadata=True):
    topk = bm25_wand_topk(spark, si.reader, q, k)
    return _docs_join(spark, si.cat, topk) if with_metadata else topk


# --- search ----------------------------------------------------------------------


def test_search_local_equals_spark_and_oracle(spark, rows, idx):
    si = SearchIndex(spark, idx)
    oracle, meta = _oracle(rows), _docs_meta(idx)
    for url, text, lang in rows:  # the docs columns hold the pages' values
        d = doc_id_for_url(url)
        assert (meta[d][0], meta[d][1], meta[d][3]) == (url, lang, len(tokenize_py(text)))
    short = hits = 0
    for q in _queries():
        for k in (10, 0, 1000):
            local = si.search(q, k)
            want = _spark_search(spark, si, q, k)
            got = _search_rows(local)
            assert got == _search_rows(want) == _want_search(oracle, meta, q, k), (q, k)
            assert _types(local) == _types(want)
            if got:
                assert local.schema == want.schema
            hits += len(got)
            short += 0 < len(got) < k
            bare = si.search(q, k, with_metadata=False)
            want_bare = _spark_search(spark, si, q, k, with_metadata=False)
            assert bare.collect() == want_bare.orderBy("rank").collect()
            assert _types(bare) == _types(want_bare)
            if got:
                assert bare.schema == want_bare.schema
    assert hits and short  # some answers, and k above the match count


def test_search_metadata_keeps_nulls(spark, tmp_path):
    """A derived=False index, then a copy of it whose docs table has null
    lang / simhash / doc_len cells: the local answer carries the same
    nulls the Spark left join returns."""
    rows = _rows_of(corpus_mod.generate_pages(60, seed=3))
    d = _build(spark, str(tmp_path / "lean"), rows, derived=False)
    oracle = _oracle(rows)
    queries = [q for q in generate_queries(20, seed=3) if oracle.search(q)][:5]
    assert queries
    si = SearchIndex(spark, d)
    for q in queries:
        assert _search_rows(si.search(q, 10)) == _search_rows(_spark_search(spark, si, q, 10))

    nulls = str(tmp_path / "nulls")
    shutil.copytree(d, nulls)
    docs_dir = os.path.join(nulls, "docs")
    t = ds.dataset(docs_dir, format="parquet", partitioning="hive").to_table()
    ids = t.column("doc_id").to_numpy()
    gone = pa.array(ids % 2 == 0)  # null cells on the even doc ids
    for c in ("lang", "simhash", "doc_len"):
        col = t.column(c)
        t = t.set_column(
            t.schema.get_field_index(c), c,
            pc.if_else(gone, pa.nulls(t.num_rows, col.type), col),
        )
    shutil.rmtree(docs_dir)
    pq.write_to_dataset(t, docs_dir, partition_cols=["part"])
    si = SearchIndex(spark, nulls)
    n_null = 0
    for q in queries:
        got = _search_rows(si.search(q, 10))
        assert got == _search_rows(_spark_search(spark, si, q, 10))
        n_null += sum(r[4] is None for r in got)
    assert n_null
    d0 = int(ids[ids % 2 == 0][0])
    assert si.get_doc(d0) == SearchIndex(spark, d).get_doc(d0) | {
        "lang": None, "simhash": None, "doc_len": None
    }


def test_duplicated_doc_id_takes_the_spark_join(spark, tmp_path, monkeypatch):
    """Stage A keeps two pages that share a url as two docs rows with one
    doc_id.  The docs columns are then not cached: search answers through
    the docs left join (both rows, as before), get_doc through the scan."""
    rows = _rows_of(corpus_mod.generate_pages(40, seed=8))
    url, text, lang = rows[5]
    d = _build(spark, str(tmp_path / "dup"), rows + [(url, text + " zzdupword", lang)])
    si = SearchIndex(spark, d)
    assert si.reader.sim_tables("docs") is None
    joins = []

    def spy(*a, **kw):
        joins.append(1)
        return _docs_join(*a, **kw)

    monkeypatch.setattr(search_mod, "_docs_join", spy)
    dup = doc_id_for_url(url)
    for q in [text.split()[3] + " zzdupword", *generate_queries(10, seed=8)[:4]]:
        got = _search_rows(si.search(q, 10))
        assert got == _search_rows(_spark_search(spark, si, q, 10)), q
        if q.endswith("zzdupword"):
            assert [r[1] for r in got].count(dup) == 2  # one row per docs row
    assert len(joins) == 5
    assert si.get_doc(dup)["url"] == url


# --- search_many -------------------------------------------------------------------


def test_search_many_local_equals_spark_and_oracle(spark, rows, idx):
    si = SearchIndex(spark, idx)
    oracle = _oracle(rows)
    qs = generate_queries(40)
    batch = {7: qs[1], 3: qs[0], 11: qs[1], 0: OOV, 5: "", 2: qs[-2], 9: qs[4]}
    for k in (10, 0, 1000):
        local = si.search_many(batch, k)
        want = bm25_wand_topk_batch(spark, si.reader, batch, k)
        got = _many_rows(local)
        assert got == _many_rows(want), k
        assert got == sorted(
            (qid, i, d, s.hex())
            for qid, q in batch.items()
            for i, (d, s) in enumerate(oracle.search(q, k=k), start=1)
        )
        assert bool(got) == (k > 0)
        assert _types(local) == _types(want)
        if got:
            assert local.schema == want.schema
    for empty in ({1: OOV, 2: "???"}, {}):
        local = si.search_many(empty, 10)
        want = bm25_wand_topk_batch(spark, si.reader, empty, 10)
        assert local.collect() == want.collect() == []
        assert _types(local) == _types(want)


# --- the size gates -----------------------------------------------------------------


def test_search_over_postings_cap_runs_spark_operators(spark, idx, monkeypatch):
    """_LOCAL_POSTINGS_CAP forced to 0: search and search_many answer
    through bm25_wand_topk / bm25_wand_topk_batch, with the same frames."""
    qs = generate_queries(40)
    batch = dict(enumerate(qs[:8]))
    si = SearchIndex(spark, idx)
    want = [_search_rows(si.search(q, 10)) for q in qs[:3]]
    want_bare = [si.search(q, 10, with_metadata=False).collect() for q in qs[:3]]
    want_many = _many_rows(si.search_many(batch, 10))
    calls = []

    def spy(fn):
        def wrapped(*a, **kw):
            calls.append(fn.__name__)
            return fn(*a, **kw)

        return wrapped

    monkeypatch.setattr(wand, "_LOCAL_POSTINGS_CAP", 0)
    monkeypatch.setattr(search_mod, "bm25_wand_topk", spy(bm25_wand_topk))
    monkeypatch.setattr(search_mod, "bm25_wand_topk_batch", spy(bm25_wand_topk_batch))
    assert wand._local_topk(si.reader, batch, 10) is None
    assert [_search_rows(si.search(q, 10)) for q in qs[:3]] == want
    assert [
        si.search(q, 10, with_metadata=False).orderBy("rank").collect() for q in qs[:3]
    ] == want_bare
    assert _many_rows(si.search_many(batch, 10)) == want_many
    assert calls == ["bm25_wand_topk"] * 6 + ["bm25_wand_topk_batch"]


def test_search_over_docs_cache_cap_joins_docs(spark, idx, monkeypatch):
    """_SIM_CACHE_BYTES forced to 0: the docs columns are not cached;
    search answers through the docs left join and get_doc through the
    docs scan, with the same answers as the cached path."""
    qs = generate_queries(40)[:6]
    si = SearchIndex(spark, idx)
    want = [_search_rows(si.search(q, 10)) for q in qs]
    d0 = next(r[1] for w in want for r in w)
    want_doc = si.get_doc(d0)
    joins = []

    def spy(*a, **kw):
        joins.append(1)
        return _docs_join(*a, **kw)

    monkeypatch.setattr(wand, "_SIM_CACHE_BYTES", 0)
    monkeypatch.setattr(search_mod, "_docs_join", spy)
    si = SearchIndex(spark, idx)
    assert si.reader.sim_tables("docs") is None
    assert [_search_rows(si.search(q, 10)) for q in qs] == want
    assert len(joins) == len(qs)
    assert si.get_doc(d0) == want_doc
    with pytest.raises(KeyError):
        si.get_doc(12345)


# --- read-your-writes, warm calls, a long session, a racing fill ---------------------


def test_search_reads_its_writes(spark, tmp_path):
    rows = _rows_of(corpus_mod.generate_pages(60, seed=4))
    d = _build(spark, str(tmp_path / "ryw"), rows)
    si = SearchIndex(spark, d)
    corpus = {u: (t, lang) for u, t, lang in rows}
    qs = [q for q in generate_queries(20, seed=4) if q.strip()][:6]

    def check():
        oracle = _oracle([(u, t, lang) for u, (t, lang) in corpus.items()])
        meta = _docs_meta(d)
        assert len(meta) == len(corpus)
        for q in qs + ["qqrywone", "qqrywtwo"]:
            assert _search_rows(si.search(q, 10)) == _want_search(oracle, meta, q, 10), q
        batch = dict(enumerate(qs + ["qqrywone", "qqrywtwo"]))
        assert _many_rows(si.search_many(batch, 10)) == sorted(
            (qid, i, doc, s.hex())
            for qid, q in batch.items()
            for i, (doc, s) in enumerate(oracle.search(q, k=10), start=1)
        )

    check()  # fills the caches of the first version
    url1 = rows[1][0]
    delta = [("http://ryw.test/new", "qqrywone words of a new page", "en"),
             (url1, "qqrywtwo qqrywtwo rewritten text", "de")]
    upsert_docs(spark, spark.createDataFrame(delta, "url string, text string, lang string"),
                d, cfg=CFG)
    corpus.update({u: (t, lang) for u, t, lang in delta})
    check()
    got = _search_rows(si.search("qqrywtwo", 10))
    n_tok = len(tokenize_py(delta[1][1]))
    assert [r[1:2] + r[4:5] + r[6:] for r in got] == [(doc_id_for_url(url1), "de", n_tok)]
    assert si.get_doc(doc_id_for_url(url1))["doc_len"] == n_tok
    delete_docs(spark, ["http://ryw.test/new", rows[0][0]], d, cfg=CFG)
    for u in ("http://ryw.test/new", rows[0][0]):
        corpus.pop(u)
        with pytest.raises(KeyError):
            si.get_doc(doc_id_for_url(u))
    check()
    assert si.search("qqrywone", 10).collect() == []


def test_warm_facade_calls_start_no_spark_job(spark, idx):
    si = SearchIndex(spark, idx)
    qs = generate_queries(40)[:6]
    batch = dict(enumerate(qs))
    # fills the caches
    d0 = next(r["doc_id"] for q in qs for r in si.search(q, 10).collect())
    si.search_many(batch, 10).collect()
    tracker = spark.sparkContext.statusTracker()
    last = max(tracker.getJobIdsForGroup(), default=-1)
    for q in qs:
        assert si.search(q, 10).collect()
        si.search(q, 5, with_metadata=False).collect()
    assert si.search_many(batch, 10).collect()
    assert si.get_doc(d0)["doc_id"] == d0
    assert max(tracker.getJobIdsForGroup(), default=-1) == last


def test_facade_session_pins_no_rdds(spark, idx):
    jsc = spark.sparkContext._jsc
    si = SearchIndex(spark, idx)
    qs = generate_queries(40)
    si.search(qs[0], 10).collect()  # cache fill outside the count
    n0 = jsc.getPersistentRDDs().size()
    for i in range(20):
        if i % 3 == 0:
            si.search_many(dict(enumerate(qs[i : i + 5])), 10).collect()
        elif i % 3 == 1:
            si.search(qs[i], 10).collect()
        else:
            si.search(qs[i], 10, with_metadata=False).collect()
    assert jsc.getPersistentRDDs().size() == n0


def test_concurrent_first_calls_fill_docs_cache_once(spark, idx):
    """More threads than cores race to fill a fresh reader's docs cache
    (fine-grained thread switching): every answer equals the sequential
    one, and the docs columns are loaded once."""
    qs = [q for q in generate_queries(40) if q.strip()]
    calls = (qs * 2)[: 2 * (os.cpu_count() or 2)]
    seq = SearchIndex(spark, idx)
    want = [_search_rows(seq.search(q, 10)) for q in calls]
    si = SearchIndex(spark, idx)
    loads = []
    real_load = si.reader._load_sim_table

    def counted(name, cache):
        loads.append(name)
        return real_load(name, cache)

    si.reader._load_sim_table = counted
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(calls)) as pool:
            got = list(pool.map(lambda q: _search_rows(si.search(q, 10)), calls,
                                timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert got == want
    assert loads == ["docs"]


# --- Arrow-built empty answers of the Spark operators --------------------------------


def _empty_cases():
    """(id, old DDL, fn(spark, idx) -> the operator's empty answer)."""
    from iscc_search_spark.operators.ann import ivf_ann_topk
    from iscc_search_spark.operators.multiunit import nphd_topk, nphd_topk_wide
    from iscc_search_spark.operators.phrase import phrase_match
    from iscc_search_spark.operators.query import bm25_scores, doc_term_tf

    def docs(spark):
        return spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")],
                                     "doc_id long, text string")

    def units(spark, cols):
        return spark.createDataFrame([(1, *[5] * (len(cols) - 1))],
                                     ", ".join(f"{c} long" for c in cols))

    topk = "rank long, doc_id long, score double"
    scores = "doc_id long, score double"
    nphd = "rank long, doc_id long, nphd double, score double"
    return [
        ("wand_oov", topk, lambda s, i: bm25_wand_topk(s, i, OOV)),
        ("wand_batch_oov", "query_id long, " + topk,
         lambda s, i: bm25_wand_topk_batch(s, i, {0: OOV, 1: ""})),
        ("bm25_onepass_oov", scores, lambda s, i: bm25_scores(docs(s), ["zzqq"])),
        ("bm25_relational_no_terms", scores, lambda s, i: bm25_scores(docs(s), [])),
        ("bm25_relational_oov", scores, lambda s, i: bm25_scores(
            docs(s), ["zzqq"], tf_df=doc_term_tf(docs(s)))),
        ("phrase_empty", "doc_id long", lambda s, i: phrase_match(s, i, "???")),
        ("phrase_absent_term", "doc_id long",
         lambda s, i: phrase_match(s, i, "zzqqxx yyqq")),
        ("ivf_absent_vec", "rank long, vec_id long, cosine double",
         lambda s, i: ivf_ann_topk(
             s.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>"),
             99, centroids=np.eye(2))),
        ("nphd_absent_doc", nphd,
         lambda s, i: nphd_topk(units(s, ["doc_id", "hi", "lo", "bits"]), 99)),
        ("nphd_wide_absent_doc", nphd,
         lambda s, i: nphd_topk_wide(
             units(s, ["doc_id", "u0", "u1", "u2", "u3", "bits"]), 99)),
    ]


@pytest.mark.parametrize("case", _empty_cases(), ids=lambda c: c[0])
def test_empty_answers_are_arrow_local_relations(spark, idx, case):
    _, ddl, fn = case
    out = fn(spark, idx)
    assert out.schema == spark.createDataFrame([], ddl).schema
    tracker = spark.sparkContext.statusTracker()
    last = max(tracker.getJobIdsForGroup(), default=-1)
    assert out.collect() == []
    assert max(tracker.getJobIdsForGroup(), default=-1) == last
