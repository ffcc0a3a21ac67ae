"""Round-5 robustness fixes.

- on-disk format versioning: readers/updaters refuse a version-mismatched
  index instead of silently misreading pre-sh_lo part files;
- manager first-build failure keeps the empty index registered (temp-dir
  build + swap);
- RemoteIndex rejects max_retries < 1 up front;
- dup_clusters converges on chains longer than max_iter via pointer
  doubling, and raises (never returns split labels) when genuinely out of
  rounds;
- the 128-bit term-hash cache never grows past its cap;
- the retired two-band-combo simprint table: a leftover dir is ignored
  by serving and upserts and removed by a full rebuild.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from iscc_search_spark.catalog import FORMAT_VERSION, IndexCatalog
from iscc_search_spark.config import EngineConfig
from iscc_search_spark.functions import simhash as sh
from iscc_search_spark.manager import IndexManager
from iscc_search_spark.operators.build import build_index, load_simprints, upsert_docs
from iscc_search_spark.operators.dedup import dup_clusters
from iscc_search_spark.operators.wand import IndexReader
from iscc_search_spark.remote import RemoteIndex


@pytest.fixture(scope="module")
def small_index(spark, pages_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fmtindex"))
    build_index(
        spark, pages_df.limit(40), d, cfg=EngineConfig(),
        n_parts=2, n_shards=2, group_size=2,
    )
    return d


def _set_version(index_dir: str, v) -> dict:
    cat = IndexCatalog(index_dir)
    meta = cat.read_meta()
    old = dict(meta)
    if v is None:
        meta.pop("format_version", None)  # pre-versioning index reads as v1
    else:
        meta["format_version"] = v
    cat.write_meta(meta)
    return old


def test_meta_carries_format_version(small_index):
    meta = IndexCatalog(small_index).read_meta()
    assert meta["format_version"] == FORMAT_VERSION


@pytest.mark.parametrize("bad", [None, 1, 99])
def test_version_mismatch_refused(spark, small_index, pages_df, bad):
    old = _set_version(small_index, bad)
    try:
        with pytest.raises(RuntimeError, match="format_version"):
            IndexReader(spark, small_index)
        with pytest.raises(RuntimeError, match="format_version"):
            load_simprints(spark, small_index)
        with pytest.raises(RuntimeError, match="format_version"):
            upsert_docs(spark, pages_df.limit(3), small_index)
    finally:
        IndexCatalog(small_index).write_meta(old)
    # restored: opens fine again
    assert IndexReader(spark, small_index).n_docs == 40


def test_manager_failed_first_build_keeps_registration(spark, pages_df, tmp_path):
    mgr = IndexManager(spark, str(tmp_path / "root"), n_parts=2, n_shards=2)
    mgr.create_index("fragile")
    # a frame without the pages columns fails the build up front
    bad = spark.range(5).toDF("id")
    with pytest.raises(Exception):
        mgr.add_assets("fragile", bad)
    # the durable registration survives the failed build...
    assert [i["name"] for i in mgr.list_indexes()] == ["fragile"]
    assert mgr.get_index("fragile")["assets"] == 0
    # ...no temp build dir leaks...
    assert not os.path.exists(os.path.join(mgr.base_path, "fragile.build"))
    # ...and a subsequent good batch promotes it normally
    info = mgr.add_assets("fragile", pages_df.limit(30))
    assert info["assets"] == 30
    assert mgr.open("fragile").stats()["n_docs"] == 30


def test_remote_rejects_zero_retries():
    with pytest.raises(ValueError, match="max_retries"):
        RemoteIndex("http://127.0.0.1:1", max_retries=0)
    with pytest.raises(ValueError, match="max_retries"):
        RemoteIndex("http://127.0.0.1:1", max_retries=-2)


def test_dup_clusters_long_chain_converges(spark):
    # chain 0-1-2-...-59: diameter 59 > the 25-round default — pure
    # min-label propagation would stop split; pointer doubling converges
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc1 long, doc2 long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert len(got) == 60
    assert set(got.values()) == {0}


def test_dup_clusters_raises_when_out_of_rounds(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc1 long, doc2 long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iter=1)


def _granular_brute(texts: dict, query: str, max_h: int, k: int) -> list:
    """(doc_id, score hex, n_matched_segs) top k by re-segmenting every
    doc text with segment_simhashes_py — no index table involved."""
    from iscc_search_spark.operators.simprints import segment_simhashes_py

    u64 = (1 << 64) - 1
    qsegs = segment_simhashes_py(query)
    best: dict = {}
    for did, text in texts.items():
        for *_, hi, lo in segment_simhashes_py(text):
            for s, *_, qh, ql in qsegs:
                h = bin((hi ^ qh) & u64).count("1") + bin((lo ^ ql) & u64).count("1")
                if h <= max_h:
                    m = best.setdefault(did, {})
                    m[s] = max(m.get(s, 0.0), 1.0 - h / 128.0)
    scored = sorted(
        ((d, sum(m.values()) / len(qsegs), len(m)) for d, m in best.items()),
        key=lambda r: (-r[1], r[0]),
    )
    return [(d, s.hex(), n) for d, s, n in scored[:k]]


def _granular_rows(df) -> list:
    return [
        (r["doc_id"], r["score"].hex(), r["n_matched_segs"])
        for r in df.orderBy("rank").collect()
    ]


def test_retired_combo_table_dir_ignored_then_removed(
    spark, pages_df, tmp_path, monkeypatch
):
    """The two-band-combo simprint table is no longer written.  A
    format-5 index that still holds its dir upserts and serves with it
    ignored (high thresholds answer the same driver-local and through the
    Spark lookup, equal to a brute force over the doc texts); a full
    rebuild removes the dir; ``combo2=True`` is refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iscc_search_spark.corpus import doc_id_for_url
    from iscc_search_spark.operators import simprints, wand
    from iscc_search_spark.operators.simprints import granular_topk_local
    from iscc_search_spark.plans.search import SearchIndex

    src = pages_df.orderBy("url").limit(40)
    d = str(tmp_path / "idx")
    kw = dict(cfg=EngineConfig(), n_parts=2, n_shards=2, group_size=2)
    build_index(spark, src, d, **kw)
    leftover = os.path.join(d, "simprint_bands2")
    assert os.path.isdir(IndexCatalog(d).simprint_bands)
    assert not os.path.exists(leftover)

    # what a format-5 combo2 build left: the slim (doc_id, seg_idx, band,
    # key) rows in hive part dirs
    os.makedirs(os.path.join(leftover, "part=0"))
    pq.write_table(
        pa.table({"doc_id": [1, 2], "seg_idx": [0, 0], "band": [0, 1],
                  "key": [5, 6]}),
        os.path.join(leftover, "part=0", "part-00000.parquet"),
    )

    pages = {r["url"]: r["text"] for r in src.collect()}
    first, second = sorted(pages)[:2]
    text0 = pages[first]
    delta = {"http://leftover.test/copy": text0 + " zzextra tail words",
             second: "brand new words for this document entirely"}
    upsert_docs(
        spark,
        spark.createDataFrame(
            [(u, t, "en") for u, t in delta.items()],
            "url string, text string, lang string",
        ),
        d, cfg=EngineConfig(),
    )
    assert os.path.isdir(leftover)  # left alone: nothing reads it
    pages.update(delta)
    texts = {doc_id_for_url(u): t for u, t in pages.items()}

    queries = [text0[:600], text0[200:900] + " other words"]
    want = {
        (q, mh): _granular_brute(texts, q, mh, 10)
        for q in queries for mh in (10, 11, 12)
    }
    assert doc_id_for_url("http://leftover.test/copy") in {
        r[0] for r in want[(queries[0], 10)]
    }
    si = SearchIndex(spark, d)
    for (q, mh), rows in want.items():
        assert granular_topk_local(si.reader, q, 10, mh) is not None
        assert _granular_rows(si.search_granular(q, 10, mh)) == rows, mh

    monkeypatch.setattr(wand, "_SIM_CACHE_BYTES", 0)
    calls = []
    spark_topk = simprints.granular_topk
    monkeypatch.setattr(
        simprints, "granular_topk",
        lambda *a, **k: calls.append(k) or spark_topk(*a, **k),
    )
    si = SearchIndex(spark, d)
    for (q, mh), rows in want.items():
        assert granular_topk_local(si.reader, q, 10, mh) is None
        assert _granular_rows(si.search_granular(q, 10, mh)) == rows, mh
    assert len(calls) == len(want)
    assert all(set(c) == {"k", "max_hamming", "bands"} for c in calls)

    build_index(spark, src, d, resume=False, **kw)
    assert not os.path.exists(leftover)
    with pytest.raises(ValueError, match="combo2"):
        build_index(spark, src, str(tmp_path / "c2"), combo2=True, **kw)
    assert not os.path.exists(str(tmp_path / "c2"))


def test_term128_cache_never_exceeds_cap(monkeypatch):
    monkeypatch.setattr(sh, "_TERM128_CACHE_MAX", 8)
    sh._TERM128_CACHE.clear()
    terms = np.array([f"tok{i} tok{i+1}" for i in range(50)], dtype=object)
    out = sh._hash_terms_flat128([terms], len(terms))
    assert len(sh._TERM128_CACHE) <= 8
    # values still correct (spot-check one against the direct definition)
    hi, lo = sh.term_hash128(str(terms[17]))
    assert (int(out[17, 0]), int(out[17, 1])) == (hi, lo)
    sh._TERM128_CACHE.clear()
