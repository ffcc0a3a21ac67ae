"""Driver-local similarity kernels: ``search_assets_multiunit_local`` and
``granular_topk_local`` answer from the IndexReader's cached derived
tables and must equal the Spark operators (doc ids, score bits, n_units /
n_matched_segs) and an O(N) brute force; the size gate, read-your-writes
after upsert/delete, and a long session that pins no RDD."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from iscc_search_spark import corpus as corpus_mod
from iscc_search_spark.catalog import IndexCatalog
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.corpus import doc_id_for_url
from iscc_search_spark.functions.simhash import hamming_np
from iscc_search_spark.operators import build, multiunit, simprints, wand
from iscc_search_spark.operators.build import (
    build_index,
    delete_docs,
    load_simprint_bands,
    load_unit_bands,
    load_units,
    upsert_docs,
)
from iscc_search_spark.operators.multiunit import (
    MATCH_THRESHOLD,
    search_assets_multiunit,
    search_assets_multiunit_local,
    unit_band_keys,
)
from iscc_search_spark.operators.simprints import (
    granular_topk,
    granular_topk_local,
    segment_simhashes_py,
)
from iscc_search_spark.operators.wand import IndexReader
from iscc_search_spark.plans.search import SearchIndex

CFG = EngineConfig(block_size=16)
N_DOCS = 120


def _pages(n: int = N_DOCS, seed: int = 9) -> list[tuple[str, str, str]]:
    t = corpus_mod.generate_pages(n, seed=seed)
    rows = list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
    # exact-duplicate text under new urls: all three units match
    rows += [(f"http://dup.test/{j}", rows[i][1]) for j, i in enumerate((3, 4, 4))]
    return [(u, txt, "en") for u, txt in rows]


def _build(spark, d: str, rows) -> str:
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    build_index(spark, df, d, cfg=CFG, n_parts=4, n_shards=4, group_size=4)
    return d


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    return _build(spark, str(tmp_path_factory.mktemp("simlocal") / "idx"), _pages())


def _table(path: str, cols: list[str]) -> dict[str, np.ndarray]:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols)
    return {c: t.column(c).to_numpy() for c in cols}


def _rows(df) -> list[tuple]:
    """(doc_id, score as exact hex, count) in rank order, for a Spark frame
    (rank column) or a local pandas answer."""
    if hasattr(df, "toPandas"):
        df = df.toPandas()
    assert list(df["rank"]) == list(range(1, len(df) + 1))
    return [(int(d), float(s).hex(), int(n)) for _, d, s, n in df.itertuples(index=False)]


# --- brute forces over the whole persisted tables ------------------------------


def _similar_brute(units: dict, qid: int, k: int) -> list[tuple]:
    ids = units["doc_id"]
    hit = np.flatnonzero(ids == qid)
    if not len(hit):
        return []
    q = hit[0]
    out = []
    for j in range(len(ids)):
        if ids[j] == qid:
            continue
        s = [
            1.0 - bin((int(units[c][j]) ^ int(units[c][q])) & (2**64 - 1)).count("1") / 64.0
            for c in ("content_sh", "data_sh")
        ] + [1.0 if units["instance"][j] == units["instance"][q] else 0.0]
        kept = [x for x in s if x >= MATCH_THRESHOLD]
        if kept:
            w = 0.0
            for x in kept:  # content, data, instance order
                w = w + x * x * x * x
            out.append((int(ids[j]), w / sum(kept), len(kept)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return [(d, s.hex(), n) for d, s, n in out[:k]]


def _granular_brute(sp: dict, text: str, max_h: int, k: int) -> list[tuple]:
    qsegs = segment_simhashes_py(text)
    best: dict[int, dict[int, float]] = {}
    for s, _, _, _, qh, ql in qsegs:
        h = hamming_np(sp["simhash"], qh) + hamming_np(sp["sh_lo"], ql)
        for j in np.flatnonzero(h <= max_h):
            m = best.setdefault(int(sp["doc_id"][j]), {})
            m[s] = max(m.get(s, 0.0), 1.0 - float(h[j]) / 128.0)
    scored = sorted(
        ((d, sum(m.values()) / len(qsegs), len(m)) for d, m in best.items()),
        key=lambda r: (-r[1], r[0]),
    )
    return [(d, s.hex(), n) for d, s, n in scored[:k]]


# --- multiunit -----------------------------------------------------------------


def _multiunit_queries(units: dict) -> list[int]:
    pairs = corpus_mod.near_dup_pairs(N_DOCS, seed=9)
    urls = corpus_mod.generate_pages(N_DOCS, seed=9).column("url").to_pylist()
    planted = [doc_id_for_url(urls[i]) for p in pairs[:4] for i in p]
    dups = [doc_id_for_url(urls[i]) for i in (3, 4)]
    return planted + dups + [int(x) for x in units["doc_id"][:4]]


def test_multiunit_local_matches_spark_and_bruteforce(spark, idx):
    cat = IndexCatalog(idx)
    units = _table(cat.units, ["doc_id", "content_sh", "data_sh", "instance"])
    su, sb = load_units(spark, idx), load_unit_bands(spark, idx)
    r = IndexReader(spark, idx)
    queries = _multiunit_queries(units)
    n_hits = 0
    for qid in queries:
        for k in (10, 10_000, 0):
            local = _rows(search_assets_multiunit_local(r, qid, k))
            want = _rows(search_assets_multiunit(None, qid, k=k, units=su, bands=sb))
            assert local == want == _similar_brute(units, qid, k), (qid, k)
            n_hits += len(local)
    assert n_hits  # the planted near-dups and exact dups are found
    # the exact-duplicate docs match on all three units
    dup = doc_id_for_url("http://dup.test/0")
    top = _rows(search_assets_multiunit_local(r, dup, 1))
    assert top[0][1:] == ((1.0).hex(), 3)


def test_multiunit_local_absent_doc_is_empty(spark, idx):
    out = search_assets_multiunit_local(IndexReader(spark, idx), 12345, 10)
    spark_out = search_assets_multiunit(
        None, 12345, k=10, units=load_units(spark, idx),
        bands=load_unit_bands(spark, idx),
    ).toPandas()
    assert out.empty
    assert list(out.columns) == list(spark_out.columns)
    assert list(out.dtypes) == list(spark_out.dtypes)
    si = SearchIndex(spark, idx)
    assert si.search_similar(12345, 10).schema == search_assets_multiunit(
        None, 12345, k=10, units=load_units(spark, idx),
    ).schema


def _flip(x: int, bits) -> int:
    u = (x & (2**64 - 1)) ^ sum(1 << b for b in bits)
    return u - (1 << 64) if u >= 1 << 63 else u


@pytest.fixture()
def synthetic(spark, idx, tmp_path):
    """A copy of ``idx`` whose units / unit_bands are random units with
    planted partners at the 0.75 gate's edges (hamming 16 kept, 17
    dropped), data-only and instance-only matches."""
    d = str(tmp_path / "synthetic")
    shutil.copytree(idx, d)
    rng = np.random.default_rng(21)
    n = 400
    ids = rng.choice(2**62, size=n, replace=False).astype(np.int64) - 2**61
    c, dd, inst = (
        [int(x) for x in rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)]
        for _ in range(3)
    )

    def bits(h: int) -> list[int]:
        return rng.choice(64, size=h, replace=False).tolist()

    plan = []  # (query row, partner row, content flips, data flips, same instance)
    for q in range(8):
        base = 8 + 8 * q
        for j, (hc, hd, same_i) in enumerate(
            [(0, None, False), (8, None, False), (16, None, False),
             (17, None, False), (None, 12, False), (None, None, True),
             (16, 16, True), (3, 40, False)]
        ):
            p = base + j
            if hc is not None:
                c[p] = _flip(c[q], bits(hc))
            if hd is not None:
                dd[p] = _flip(dd[q], bits(hd))
            if same_i:
                inst[p] = inst[q]
            plan.append((q, p, hc, hd, same_i))
    cat = IndexCatalog(d)
    for path in (cat.units, cat.unit_bands):
        shutil.rmtree(path)
        os.makedirs(os.path.join(path, "part=0"))
    pq.write_table(
        pa.table({"doc_id": ids, "content_sh": pa.array(c, pa.int64()),
                  "data_sh": pa.array(dd, pa.int64()),
                  "instance": pa.array(inst, pa.int64())}),
        os.path.join(cat.units, "part=0", "u.parquet"),
    )
    band_rows = [
        (int(ids[i]), b, key)
        for i in range(n)
        for b, key in unit_band_keys(c[i], dd[i], inst[i])
    ]
    doc, band, key = zip(*band_rows)
    pq.write_table(
        pa.table({"doc_id": pa.array(doc, pa.int64()), "band": pa.array(band, pa.int32()),
                  "key": pa.array(key, pa.int64())}),
        os.path.join(cat.unit_bands, "part=0", "b.parquet"),
    )
    return d, ids, plan


def test_multiunit_local_synthetic_units(spark, synthetic):
    d, ids, plan = synthetic
    units = _table(IndexCatalog(d).units, ["doc_id", "content_sh", "data_sh", "instance"])
    su, sb = load_units(spark, d), load_unit_bands(spark, d)
    r = IndexReader(spark, d)
    for q in range(8):
        qid = int(ids[q])
        local = _rows(search_assets_multiunit_local(r, qid, 100))
        assert local == _rows(
            search_assets_multiunit(None, qid, k=100, units=su, bands=sb)
        ) == _similar_brute(units, qid, 100)
        got = {doc: (score, n) for doc, score, n in local}
        for _, p, hc, hd, same_i in (x for x in plan if x[0] == q):
            pid = int(ids[p])
            if hc == 17:
                assert pid not in got  # 1 - 17/64 < 0.75: gated out
            if same_i and hc is None:
                assert got[pid] == ((1.0).hex(), 1)  # instance-only match
            if hc == 16 and not same_i:
                # on the gate, kept: Σs⁴/Σs over the one unit
                assert got[pid] == ((0.75 * 0.75 * 0.75 * 0.75 / 0.75).hex(), 1)


# --- granular ------------------------------------------------------------------


def _passages() -> list[str]:
    rows = _pages()
    texts = [rows[i][1][:400] for i in (0, 3, 7)]
    pairs = corpus_mod.near_dup_pairs(N_DOCS, seed=9)
    texts.append(rows[pairs[0][1]][1][100:700])
    return texts + ["???"]


def test_granular_local_matches_spark_and_bruteforce(spark, idx):
    cat = IndexCatalog(idx)
    sp = _table(cat.simprints, ["doc_id", "simhash", "sh_lo"])
    sb = load_simprint_bands(spark, idx)
    r = IndexReader(spark, idx)
    n_hits = 0
    for text in _passages():
        for mh in (0, 8, 12):
            for k in (10, 10_000, 0):
                local = _rows(granular_topk_local(r, text, k, mh))
                want = _rows(granular_topk(None, text, k=k, max_hamming=mh, bands=sb))
                assert local == want == _granular_brute(sp, text, mh, k), (text[:20], mh, k)
                n_hits += len(local)
    assert n_hits
    out = granular_topk_local(r, "???", 10, 8)  # no segments: empty frame
    assert out.empty and list(out.columns) == [
        "rank", "doc_id", "score", "n_matched_segs"
    ]
    for fn in (
        lambda: granular_topk_local(r, "a b c", 10, 13),
        lambda: granular_topk(None, "a b c", max_hamming=13, bands=sb),
        lambda: SearchIndex(spark, idx).search_granular("a b c", 10, 13),
    ):
        with pytest.raises(ValueError):
            fn()


# --- the size gate ---------------------------------------------------------------


def test_similarity_over_cache_cap_runs_spark_operators(spark, idx, monkeypatch):
    """_SIM_CACHE_BYTES forced to 0: no table is cached, the facade answers
    through the Spark operators, with the same frames as the local path."""
    si_local = SearchIndex(spark, idx)
    qid = _multiunit_queries(_table(IndexCatalog(idx).units, ["doc_id"]))[0]
    text = _passages()[0]
    want_sim = _rows(si_local.search_similar(qid, 10))
    want_gran = _rows(si_local.search_granular(text, 10, 8))
    want_gran_hi = _rows(si_local.search_granular(text, 10, 12))
    assert want_sim and want_gran

    calls = []

    def spy(fn):
        def wrapped(*a, **kw):
            calls.append(fn.__name__)
            return fn(*a, **kw)

        return wrapped

    monkeypatch.setattr(wand, "_SIM_CACHE_BYTES", 0)
    monkeypatch.setattr(
        multiunit, "search_assets_multiunit", spy(search_assets_multiunit)
    )
    monkeypatch.setattr(simprints, "granular_topk", spy(granular_topk))
    si = SearchIndex(spark, idx)
    assert si.reader.sim_tables("units") is None
    assert search_assets_multiunit_local(si.reader, qid, 10) is None
    assert granular_topk_local(si.reader, text, 10, 8) is None
    assert _rows(si.search_similar(qid, 10)) == want_sim
    assert _rows(si.search_granular(text, 10, 8)) == want_gran
    assert _rows(si.search_granular(text, 10, 12)) == want_gran_hi
    assert calls == ["search_assets_multiunit", "granular_topk", "granular_topk"]


# --- read-your-writes and a long session ----------------------------------------


def test_similarity_reads_its_writes(spark, tmp_path):
    rows = _pages(60, seed=4)
    d = _build(spark, str(tmp_path / "ryw"), rows)
    cat = IndexCatalog(d)
    si = SearchIndex(spark, d)
    url0, text0 = rows[0][0], rows[0][1]
    passage = text0[:400]

    def check():
        units = _table(cat.units, ["doc_id", "content_sh", "data_sh", "instance"])
        sp = _table(cat.simprints, ["doc_id", "simhash", "sh_lo"])
        for qid in [int(x) for x in units["doc_id"][:3]] + [doc_id_for_url(url0)]:
            assert _rows(si.search_similar(qid, 10)) == _similar_brute(units, qid, 10)
        for mh in (8, 12):
            assert _rows(si.search_granular(passage, 10, mh)) == _granular_brute(
                sp, passage, mh, 10
            )

    check()  # fills the caches of the first version
    # upsert: a near copy of doc 0 under a new url, and doc 1 rewritten
    delta = spark.createDataFrame(
        [("http://ryw.test/copy", text0 + " zzextra", "en"),
         (rows[1][0], "brand new words for this document entirely", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, d, cfg=CFG)
    assert doc_id_for_url("http://ryw.test/copy") in {
        r[0] for r in _rows(si.search_similar(doc_id_for_url(url0), 10))
    }
    check()
    delete_docs(spark, ["http://ryw.test/copy", url0], d, cfg=CFG)
    assert _rows(si.search_similar(doc_id_for_url(url0), 10)) == []
    check()


def test_reader_filling_during_derived_refresh_sees_the_write(
    spark, tmp_path, monkeypatch
):
    """A reader that fills its table caches while upsert_docs is still
    rewriting the derived tables (the postings already rewritten) answers
    from the rewritten tables once upsert_docs returns: the write
    publishes its version only after the derived refresh.  A derived-only
    refresh (``rebuild_postings=False``) publishes a version as well."""
    rows = _pages(60, seed=5)
    d = _build(spark, str(tmp_path / "race"), rows)
    cat = IndexCatalog(d)
    si = SearchIndex(spark, d)
    url0, text0 = rows[0][0], rows[0][1]
    qid, copy_id = doc_id_for_url(url0), doc_id_for_url("http://race.test/copy")
    passage = text0[:400]
    postings_done = threading.Event()
    during = []
    real_postings, real_derived = build.build_postings, build.build_derived

    def postings(*a, **kw):
        out = real_postings(*a, **kw)
        postings_done.set()
        return out

    def derived(*a, **kw):  # runs alongside stage B: start after it ends
        assert postings_done.wait(600)
        during.append(_rows(si.search_similar(qid, 10)))
        si.search_granular(passage, 10, 8).collect()
        return real_derived(*a, **kw)

    monkeypatch.setattr(build, "build_postings", postings)
    monkeypatch.setattr(build, "build_derived", derived)
    delta = spark.createDataFrame(
        [("http://race.test/copy", text0 + " zzextra", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta, d, cfg=CFG)
    assert copy_id not in {r[0] for r in during[0]}  # filled before the refresh
    units = _table(cat.units, ["doc_id", "content_sh", "data_sh", "instance"])
    sp = _table(cat.simprints, ["doc_id", "simhash", "sh_lo"])
    got = _rows(si.search_similar(qid, 10))
    assert copy_id in {r[0] for r in got}
    assert got == _similar_brute(units, qid, 10)
    for mh in (8, 12):
        assert _rows(si.search_granular(passage, 10, mh)) == _granular_brute(
            sp, passage, mh, 10
        )
    # a derived-only refresh (postings left alone) publishes a version too
    monkeypatch.undo()
    delta2 = spark.createDataFrame(
        [("http://race.test/copy2", text0 + " zzmore", "en")],
        "url string, text string, lang string",
    )
    upsert_docs(spark, delta2, d, cfg=CFG, rebuild_postings=False)
    units = _table(cat.units, ["doc_id", "content_sh", "data_sh", "instance"])
    got = _rows(si.search_similar(qid, 10))
    assert doc_id_for_url("http://race.test/copy2") in {r[0] for r in got}
    assert got == _similar_brute(units, qid, 10)


def test_similarity_session_pins_no_rdds(spark, idx):
    jsc = spark.sparkContext._jsc
    si = SearchIndex(spark, idx)
    qids = _multiunit_queries(_table(IndexCatalog(idx).units, ["doc_id"]))
    texts = _passages()
    si.search_similar(qids[0], 10).collect()  # cache fill outside the count
    n0 = jsc.getPersistentRDDs().size()
    for i in range(20):
        if i % 2:
            si.search_similar(qids[i % len(qids)], 10).collect()
        else:
            si.search_granular(texts[i % len(texts)], 10, 8 if i % 4 else 12).collect()
    assert jsc.getPersistentRDDs().size() == n0


def test_concurrent_first_calls_fill_caches_consistently(spark, idx):
    """More threads than cores race to fill a fresh reader's table caches
    (fine-grained thread switching): every answer equals the sequential
    one, and each table is loaded once."""
    qids = _multiunit_queries(_table(IndexCatalog(idx).units, ["doc_id"]))
    texts = _passages()
    calls = [("s", q) for q in qids] + [("g", t) for t in texts]
    calls = (calls * 4)[: 4 * (os.cpu_count() or 2)]

    def answer(r, call):
        kind, arg = call
        if kind == "s":
            return _rows(search_assets_multiunit_local(r, arg, 10))
        return _rows(granular_topk_local(r, arg, 10, 8))

    seq = IndexReader(spark, idx)
    want = [answer(seq, c) for c in calls]
    r = IndexReader(spark, idx)
    loads = []
    real_load = r._load_sim_table

    def counted(name, cache):
        loads.append(name)
        return real_load(name, cache)

    r._load_sim_table = counted
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(calls)) as pool:
            got = list(pool.map(lambda c: answer(r, c), calls, timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert got == want
    assert sorted(loads) == ["simprint_bands", "unit_bands", "units"]  # once each
