"""The traced run: one tour through every layer, with the Spark event log on.

Both workloads run the same tour (seeded by the workload's seed), because
every traced run reports every per-layer metric.  The tour calls the
engine's public functions one at a time under named spans; Spark jobs are
attributed to spans from the event log (see spans.py).  Layers that run no
Spark job (tokenizer, codec, driver-local WAND, HTTP) are timed directly.

The tour is ordered so that every timed layer runs warm: a small build and
a query first, then the build stages one at a time on a fresh directory,
then a full build_index of the same corpus, then the read path on that
index, then the writes (upsert, delete) and the corpus-wide similarity
jobs on it.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as ds

import common as C
import spans as S
import workloads as WL

N_LOCAL = 200  # driver-local queries in the cache pass
N_HTTP = 150  # /search requests per client setting
N_SPARK = 2  # bm25_wand_topk / SearchIndex.search / similar / granular calls
MINHASH_NGRAM = 3
MINHASH_THRESHOLD = 0.5

CATALOG_TABLES = {
    "postings": "postings",
    "term_stats": "term_stats",
    "docs": "docs",
    "units": "units",
    "simprints": "simprints",
    "unit_bands": "unit_bands",
    "bands": "simprint_bands",
    "bands2": "simprint_bands2",
}
BUILD_STAGE_FIELDS = {
    "jobs": "count",
    "driver_gap_s": "s",
    "python_s": "s",
    "shuffle_write_mb": "MB",
    "output_mb": "MB",
    "spill_mb": "MB",
}

UNITS = {
    "session.start_s": "s",
    "server.http_overhead_ms": "ms",
    "server.wait_ms": "ms",
    "textnorm.tokenize_us": "us",
    "textnorm.udf_s": "s",
    "textnorm.python_worker_s": "s",
    "textnorm.arrow_mb_in": "MB",
    "textnorm.arrow_mb_out": "MB",
    "codec.decode_mpostings_per_s": "Mpostings/s",
    "codec.encode_mpostings_per_s": "Mpostings/s",
    "wand.open_ms": "ms",
    "wand.term_dfs_us": "us",
    "wand.bucket_fetch_ms": "ms",
    "wand.bucket_cache_hit_ratio": "ratio",
    "wand.bucket_cache_mb": "MB",
    "wand.local_score_ms": "ms",
    "wand.stale_after_write": "count",
    "wand.candidate_blocks": "count",
    "wand.candidate_postings": "count",
    "wand.dist_jobs": "count",
    "wand.dist_tasks": "count",
    "wand.dist_driver_gap_ms": "ms",
    "wand.dist_python_ms": "ms",
    "wand.dist_scan_mb": "MB",
    "wand.batch_jobs": "count",
    "wand.batch_python_s": "s",
    "wand.batch_scan_mb": "MB",
    "wand.batch_shuffle_mb": "MB",
    "wand.batch_driver_gap_s": "s",
    "search.facade_ms": "ms",
    "build.segments_s": "s",
    "build.postings_s": "s",
    "build.derived_s": "s",
    # stage C runs no Python UDF: its Python time is always 0, and a time
    # that reads the same on every run is not a measurement, so it is left out
    **{
        f"build.{st}.{f}": u
        for st in ("segments", "postings", "derived")
        for f, u in BUILD_STAGE_FIELDS.items()
        if (st, f) != ("derived", "python_s")
    },
    "build.overlap_saved_s": "s",
    "build.index_s": "s",
    "build.metrics_segments_s": "s",
    "build.metrics_postings_s": "s",
    "upsert.s": "s",
    "upsert.parts_touched_ratio": "ratio",
    "upsert.jobs": "count",
    "upsert.driver_gap_s": "s",
    "upsert.rewrite_bytes_per_delta_byte": "ratio",
    "delete.s": "s",
    "delete.jobs": "count",
    "delete.driver_gap_s": "s",
    "delete.output_mb": "MB",
    **{f"catalog.files.{t}": "count" for t in CATALOG_TABLES},
    **{f"catalog.mb.{t}": "MB" for t in CATALOG_TABLES},
    "neardup.s": "s",
    "neardup.buckets": "count",
    "neardup.max_bucket": "count",
    "neardup.candidate_pairs": "count",
    "neardup.pairs_emitted": "count",
    "neardup.emit_ratio": "ratio",
    "neardup.planted_recall": "ratio",
    "neardup.python_s": "s",
    "neardup.shuffle_mb": "MB",
    "neardup.jobs": "count",
    "dedup.signatures_s": "s",
    "dedup.lsh_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.verify_s": "s",
    "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio",
    "multiunit.jobs": "count",
    "multiunit.scan_mb": "MB",
    "multiunit.driver_gap_ms": "ms",
    "simprints.candidate_fraction_combo1": "ratio",
    "simprints.candidate_fraction_combo2": "ratio",
    "simprints.jobs": "count",
    "simprints.scan_mb": "MB",
    "spark.jobs": "count",
    "spark.gc_s": "s",
    "spark.cpu_share": "ratio",
    "spark.python_init_s": "s",
    "trace.stream_p50_ms": "ms",
    "trace.eventlog_mb": "MB",
}


def minhash_docs(spark, work: str, final: dict):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iscc_search_spark.corpus import doc_id_for_url

    path = os.path.join(work, "minhash_docs.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([doc_id_for_url(u) for u in final], pa.int64()),
                "text": pa.array(list(final.values()), pa.string()),
            }
        ),
        path,
        row_group_size=2048,
    )
    return spark.read.parquet(path)


def check_minhash(pairs, final: dict, tally) -> None:
    from iscc_search_spark.corpus import doc_id_for_url

    by_id = {doc_id_for_url(u): t for u, t in final.items()}
    cache: dict[int, set] = {}

    def sh(d):
        if d not in cache:
            cache[d] = C.shingles(by_id[d], MINHASH_NGRAM)
        return cache[d]

    for r in pairs:
        a, b = sh(r["doc1"]), sh(r["doc2"])
        inter = len(a & b)
        j = inter / (len(a) + len(b) - inter)
        tally.check(
            j >= MINHASH_THRESHOLD and j == r["jaccard"] and r["doc1"] < r["doc2"],
            f"minhash pair {r['doc1']},{r['doc2']}",
        )


def _local_pass(reader, queries, tracer, name):
    """Driver-local WAND over ``queries`` with the reader's bucket fetches
    timed from outside (instance-level wrapper around bucket_blocks)."""
    from iscc_search_spark.functions.textnorm import tokenize_py
    from iscc_search_spark.operators.wand import bm25_wand_topk_local

    orig = reader.bucket_blocks
    stat = {"hits": 0, "misses": 0, "fetch_s": [], "in_query": 0.0}

    def bucket_blocks(bucket):
        hit = bucket in reader._bucket_cache
        t0 = time.perf_counter()
        out = orig(bucket)
        dt = time.perf_counter() - t0
        stat["in_query"] += dt
        if hit:
            stat["hits"] += 1
        else:
            stat["misses"] += 1
            stat["fetch_s"].append(dt)
        return out

    reader.bucket_blocks = bucket_blocks
    dfs, score, total = [], [], []
    try:
        for i, q in enumerate(queries):
            with tracer.span(name, req=i):
                t0 = time.perf_counter()
                terms = sorted(set(tokenize_py(q)))
                t1 = time.perf_counter()
                reader.term_dfs(terms)
                t2 = time.perf_counter()
                stat["in_query"] = 0.0
                bm25_wand_topk_local(reader, q, k=C.K)
                t3 = time.perf_counter()
            dfs.append(t2 - t1)
            total.append(t3 - t2)
            score.append(t3 - t2 - (t1 - t0) - (t2 - t1) - stat["in_query"])
    finally:
        del reader.bucket_blocks
    return stat, dfs, score, total


def run(work: str, out_dir: str, workload: str, seed: int):
    from pyspark.sql import functions as F

    from iscc_search_spark import corpus
    from iscc_search_spark.catalog import IndexCatalog
    from iscc_search_spark.functions import codec
    from iscc_search_spark.functions.textnorm import tok_tf_simhash_udf, tokenize_py
    from iscc_search_spark.operators.build import (
        build_derived,
        build_index,
        build_postings,
        build_segments,
        delete_docs,
        load_simprints,
        upsert_docs,
    )
    from iscc_search_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from iscc_search_spark.operators.neardup import simhash_bands
    from iscc_search_spark.operators.simprints import granular_candidate_fraction
    from iscc_search_spark.operators.wand import (
        IndexReader,
        bm25_wand_topk,
        bm25_wand_topk_local,
        decode_block_ids,
        decode_block_positions,
    )
    from iscc_search_spark.server import serve_in_thread

    tr = S.Tracer()
    tally = C.Tally()
    m: dict[str, float] = {}
    log_dir = os.path.join(work, "eventlog")
    n = C.nproc()
    with tr.span("session.start"):
        spark = C.start_spark(work, "perfbench-trace", S.eventlog_conf(log_dir))
    srv = None
    try:
        with tr.span("warmup"):
            WL.warm_up(spark, work, seed)
        pages = os.path.join(work, "pages.parquet")
        table = C.write_corpus(pages, WL.N_INGEST, seed)
        pages_df = spark.read.parquet(pages)
        texts = table.column("text").to_pylist()
        urls = table.column("url").to_pylist()
        queries = corpus.generate_queries(WL.N_QUERIES, seed)
        oracle = C.Oracle(zip(urls, texts))

        # --- build: stages one at a time, then the overlapped build_index
        stage_cat = IndexCatalog(os.path.join(work, "staged"))
        with tr.span("build.segments"):
            build_segments(spark, pages_df, stage_cat, n_parts=n, group_size=n)
        with tr.span("build.postings"):
            build_postings(spark, stage_cat, n_shards=C.N_SHARDS)
        with tr.span("build.derived"):
            build_derived(spark, stage_cat)
        idx = os.path.join(work, "index")
        with tr.span("build.index"):
            build_index(spark, pages_df, idx, derived=True, **C.build_kwargs())
        cat = IndexCatalog(idx)
        for name, table_dir in CATALOG_TABLES.items():
            files, size = C.dir_size(cat.path(table_dir))
            m[f"catalog.files.{name}"] = files
            m[f"catalog.mb.{name}"] = size / 1e6
        mrows = C.read_table(cat.metrics, ["stage", "secs"])
        for st in ("segments", "postings"):
            m[f"build.metrics_{st}_s"] = float(mrows["secs"][mrows["stage"] == st].sum())

        # --- text and codec layers, timed on the driver
        tt = [C.timed(lambda q=q: tokenize_py(q))[1] for q in queries]
        m["textnorm.tokenize_us"] = 1e6 * C.median(tt)
        with tr.span("textnorm.udf"):
            pages_df.select(tok_tf_simhash_udf("text").alias("tt")).agg(
                F.sum("tt.doc_len")
            ).collect()
        qterms = sorted({t for q in queries for t in tokenize_py(q)})
        post = ds.dataset(cat.postings, format="parquet", partitioning="hive")
        blk = post.to_table(
            columns=["n", "min_doc", "doc_ids", "tfs", "dls", "poss"],
            filter=ds.field("term").isin(qterms),
        ).to_pydict()
        cols = [blk[c] for c in ("n", "min_doc", "doc_ids", "tfs", "poss")]
        n_post = sum(blk["n"])
        t0 = time.perf_counter()
        for nb, md, di, tf, pb in zip(*cols):
            decode_block_ids(md, nb, di)
            decode_block_positions(pb, codec.for_unpack(tf, nb).view(np.int64))
        m["codec.decode_mpostings_per_s"] = n_post / (time.perf_counter() - t0) / 1e6
        # re-encode the same postings in the build's batch layout (the
        # encoder's inputs are prepared here, outside both timed loops)
        ids, tfs, dls, pos = [], [], [], []
        for nb, md, di, tf, dl, pb in zip(
            blk["n"], blk["min_doc"], blk["doc_ids"], blk["tfs"], blk["dls"], blk["poss"]
        ):
            u = decode_block_ids(md, nb, di).view(np.uint64)
            ids.append(np.diff(u, prepend=u[:1]))
            tfs.append(codec.for_unpack(tf, nb))
            dls.append(codec.for_unpack(dl, nb))
            pos.append(codec.varbyte_decode(pb))
        ids, tfs, dls, pos = (np.concatenate(x) for x in (ids, tfs, dls, pos))
        starts = np.cumsum([0] + blk["n"][:-1], dtype=np.int64)
        t0 = time.perf_counter()
        codec.for_pack_batch(ids, starts)
        codec.for_pack_batch(tfs, starts)
        codec.for_pack_batch(dls, starts)
        codec.varbyte_encode_batch(pos)
        m["codec.encode_mpostings_per_s"] = n_post / (time.perf_counter() - t0) / 1e6

        # --- read path: driver-local WAND, HTTP, Spark WAND, facade
        with tr.span("wand.open"):
            reader = IndexReader(spark, idx)
        local_q = queries[:N_LOCAL]
        stat, dfs, score, _ = _local_pass(reader, local_q, tr, "wand.local")
        m["wand.term_dfs_us"] = 1e6 * C.median(dfs)
        m["wand.bucket_fetch_ms"] = 1000.0 * C.median(stat["fetch_s"])
        m["wand.bucket_cache_hit_ratio"] = stat["hits"] / (stat["hits"] + stat["misses"])
        m["wand.bucket_cache_mb"] = reader._bucket_cache_bytes / 1e6
        m["wand.local_score_ms"] = 1000.0 * C.median(score)
        http_q = queries[:N_HTTP]
        _, _, _, warm_total = _local_pass(reader, http_q, tr, "wand.local_warm")
        srv, base = serve_in_thread(spark, idx)
        r1 = C.http_stream(work, base, http_q, 1, min_requests=N_HTTP, max_requests=N_HTTP, tag="c1")
        rn = C.http_stream(work, base, http_q, n, min_requests=N_HTTP, max_requests=N_HTTP, tag="cn")
        p1 = C.median(C.check_stream(r1, http_q, oracle, tally))
        pn = C.median(C.check_stream(rn, http_q, oracle, tally))
        m["server.http_overhead_ms"] = 1000.0 * (p1 - C.median(warm_total))
        m["server.wait_ms"] = 1000.0 * (pn - p1)
        m["trace.stream_p50_ms"] = 1000.0 * pn

        si = srv.app.index
        api_q = WL.spread_queries(queries, seed, N_SPARK)
        cb, cp = [], []
        for i, q in enumerate(api_q):
            terms = sorted(reader.term_dfs(sorted(set(tokenize_py(q)))))
            with tr.span("probe.candidates", req=i):
                r = reader.candidate_blocks(terms).agg(
                    F.count("*").alias("b"), F.sum("n").alias("p")
                ).collect()[0]
            cb.append(r["b"])
            cp.append(r["p"] or 0)
            with tr.span("wand.dist", req=i):
                got = bm25_wand_topk(spark, reader, q, k=C.K).collect()
            with tr.span("search.api", req=i):
                si.search(q, k=C.K).collect()
            got = [[r["doc_id"], r["score"]] for r in sorted(got, key=lambda r: r["rank"])]
            tally.check(C.same_ranking(got, oracle.topk(q)), f"bm25_wand_topk {q!r}")
        m["wand.candidate_blocks"] = float(np.mean(cb))
        m["wand.candidate_postings"] = float(np.mean(cp))
        with tr.span("wand.batch"):
            si.search_many(dict(enumerate(queries)), k=C.K).collect()
        sim_ids = WL.similar_ids(WL.N_INGEST, seed, urls, N_SPARK)
        for i, d in enumerate(sim_ids):
            with tr.span("multiunit.similar", req=i):
                si.search_similar(d, k=C.K).collect()
        passages = WL.granular_passages(table, seed, N_SPARK)
        for i, p in enumerate(passages):
            with tr.span("simprints.granular", req=i):
                si.search_granular(p, k=C.K, max_hamming=WL.GRANULAR_MAX_HAMMING).collect()
        sp = load_simprints(spark, idx)
        for combo in (1, 2):
            with tr.span("probe.candidate_fraction", req=combo):
                m[f"simprints.candidate_fraction_combo{combo}"] = granular_candidate_fraction(
                    sp, passages[0], max_hamming=WL.GRANULAR_MAX_HAMMING, combo=combo
                )

        # --- writes through the open server, read-your-writes after each
        delta, dead, final = WL.ingest_inputs(table, seed)
        delta_path = os.path.join(work, "delta.parquet")
        C.write_rows(delta_path, delta)
        with tr.span("upsert"):
            parts = upsert_docs(spark, spark.read.parquet(delta_path), idx)
        m["upsert.parts_touched_ratio"] = len(parts) / n
        delta_bytes = sum(len(t.encode()) for _, t in delta)
        with tr.span("delete"):
            delete_docs(spark, dead, idx)
        for u in dead:
            del final[u]
        ryw = C.Oracle(final.items())
        # nproc concurrent first queries to the reader opened before the
        # writes: wrong answers from its unlocked cache reload (a defect,
        # counted here and not in the tally)
        race_q = queries[50 : 50 + n]
        with ThreadPoolExecutor(n) as ex:
            raced = list(ex.map(lambda q: bm25_wand_topk_local(reader, q, k=C.K), race_q))
        m["wand.stale_after_write"] = sum(
            not C.same_ranking(WL.rows_of(got), ryw.topk(q)) for q, got in zip(race_q, raced)
        )
        for q in queries[:50]:
            got = WL.rows_of(bm25_wand_topk_local(si.reader, q, k=C.K))
            tally.check(C.same_ranking(got, ryw.topk(q)), f"read-your-writes {q!r}")

        # --- corpus-wide similarity jobs on the updated index
        with tr.span("neardup"):
            nd = WL.neardup_summary(si.near_duplicates(WL.NEARDUP_MAX_HAMMING))
        docs = C.read_table(cat.docs, ["doc_id", "simhash"])
        want = C.neardup_bruteforce(docs["doc_id"], docs["simhash"], WL.NEARDUP_MAX_HAMMING)
        tally.check(nd == want, "near_duplicates vs brute force")
        with tr.span("probe.buckets"):
            sizes = (
                simhash_bands(spark.read.parquet(cat.docs).select("doc_id", "simhash"))
                .groupBy("band", "key").count().collect()
            )
        cnt = np.array([r["count"] for r in sizes], dtype=np.int64)
        m["neardup.buckets"] = len(cnt)
        m["neardup.max_bucket"] = int(cnt.max())
        m["neardup.candidate_pairs"] = int((cnt * (cnt - 1) // 2).sum())
        m["neardup.pairs_emitted"] = nd["pairs"]
        m["neardup.emit_ratio"] = nd["pairs"] / m["neardup.candidate_pairs"]
        sh = dict(zip(docs["doc_id"].tolist(), docs["simhash"].tolist()))
        planted = [
            (corpus.doc_id_for_url(urls[a]), corpus.doc_id_for_url(urls[b]))
            for a, b in corpus.near_dup_pairs(WL.N_INGEST, seed)
            if urls[a] in final and urls[b] in final
            and final[urls[a]] == texts[a] and final[urls[b]] == texts[b]
        ]
        found = sum(
            bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1") <= WL.NEARDUP_MAX_HAMMING
            for a, b in planted
        )
        m["neardup.planted_recall"] = found / len(planted)

        mdocs = minhash_docs(spark, work, final)
        with tr.span("dedup.signatures"):
            sigs = minhash_signatures(mdocs, ngram=MINHASH_NGRAM).localCheckpoint(eager=True)
        with tr.span("dedup.lsh"):
            cand = lsh_candidate_pairs(sigs).localCheckpoint(eager=True)
        m["dedup.lsh_candidates"] = cand.count()
        with tr.span("dedup.verify"):
            pairs = jaccard_verify(
                mdocs, cand, ngram=MINHASH_NGRAM, threshold=MINHASH_THRESHOLD
            ).collect()
        check_minhash(pairs, final, tally)
        m["dedup.verified_pairs"] = len(pairs)
        m["dedup.verify_ratio"] = len(pairs) / m["dedup.lsh_candidates"]
    finally:
        if srv is not None:
            srv.shutdown()
            srv.server_close()
        C.stop_spark(spark)

    # --- attribute Spark work to spans --------------------------------------
    jobs = S.read_jobs(log_dir)
    by_span = S.attribute(tr.spans, jobs)
    summ = {s["id"]: S.summarize(s, by_span[s["id"]]) for s in tr.spans}

    def one(name):
        return [summ[s["id"]] for s in tr.spans if s["name"] == name]

    def med(name, field, scale=1.0):
        return scale * C.median([x[field] for x in one(name)])

    m["session.start_s"] = med("session.start", "wall_s")
    for st in ("segments", "postings", "derived"):
        (x,) = one(f"build.{st}")
        m[f"build.{st}_s"] = x["wall_s"]
        for f in BUILD_STAGE_FIELDS:
            if f"build.{st}.{f}" in UNITS:
                m[f"build.{st}.{f}"] = x["shuffle_mb" if f == "shuffle_write_mb" else f]
    (bi,) = one("build.index")
    m["build.index_s"] = bi["wall_s"]
    m["build.overlap_saved_s"] = (
        m["build.segments_s"] + m["build.postings_s"] + m["build.derived_s"] - bi["wall_s"]
    )
    (tx,) = one("textnorm.udf")
    m["textnorm.udf_s"] = tx["wall_s"]
    m["textnorm.python_worker_s"] = tx["python_s"]
    m["textnorm.arrow_mb_in"] = tx["arrow_mb_in"]
    m["textnorm.arrow_mb_out"] = tx["arrow_mb_out"]
    m["wand.open_ms"] = med("wand.open", "wall_s", 1000.0)
    m["wand.dist_jobs"] = med("wand.dist", "jobs")
    m["wand.dist_tasks"] = med("wand.dist", "tasks")
    m["wand.dist_driver_gap_ms"] = med("wand.dist", "driver_gap_s", 1000.0)
    m["wand.dist_python_ms"] = med("wand.dist", "python_s", 1000.0)
    m["wand.dist_scan_mb"] = med("wand.dist", "scan_mb")
    m["search.facade_ms"] = 1000.0 * (med("search.api", "wall_s") - med("wand.dist", "wall_s"))
    (bt,) = one("wand.batch")
    m["wand.batch_jobs"] = bt["jobs"]
    m["wand.batch_python_s"] = bt["python_s"]
    m["wand.batch_scan_mb"] = bt["scan_mb"]
    m["wand.batch_shuffle_mb"] = bt["shuffle_mb"]
    m["wand.batch_driver_gap_s"] = bt["driver_gap_s"]
    m["multiunit.jobs"] = med("multiunit.similar", "jobs")
    m["multiunit.scan_mb"] = med("multiunit.similar", "scan_mb")
    m["multiunit.driver_gap_ms"] = med("multiunit.similar", "driver_gap_s", 1000.0)
    m["simprints.jobs"] = med("simprints.granular", "jobs")
    m["simprints.scan_mb"] = med("simprints.granular", "scan_mb")
    (up,) = one("upsert")
    m["upsert.s"] = up["wall_s"]
    m["upsert.jobs"] = up["jobs"]
    m["upsert.driver_gap_s"] = up["driver_gap_s"]
    m["upsert.rewrite_bytes_per_delta_byte"] = up["output_mb"] * 1e6 / delta_bytes
    (de,) = one("delete")
    m["delete.s"] = de["wall_s"]
    m["delete.jobs"] = de["jobs"]
    m["delete.driver_gap_s"] = de["driver_gap_s"]
    m["delete.output_mb"] = de["output_mb"]
    (nds,) = one("neardup")
    m["neardup.s"] = nds["wall_s"]
    m["neardup.python_s"] = nds["python_s"]
    m["neardup.shuffle_mb"] = nds["shuffle_mb"]
    m["neardup.jobs"] = nds["jobs"]
    for st in ("signatures", "lsh", "verify"):
        m[f"dedup.{st}_s"] = one(f"dedup.{st}")[0]["wall_s"]
    run_ms = sum(j["run_ms"] for j in jobs)
    m["spark.jobs"] = len(jobs)
    m["spark.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1000.0
    m["spark.cpu_share"] = sum(j["cpu_ns"] for j in jobs) / 1e6 / run_ms
    m["spark.python_init_s"] = sum(j["python_init_ms"] for j in jobs) / 1000.0
    m["trace.eventlog_mb"] = C.dir_size(log_dir)[1] / 1e6

    path = os.path.join(out_dir, f"trace_{workload}_{seed}.jsonl")
    with open(path, "w") as f:
        for s in tr.spans:
            f.write(json.dumps({**s, "spark": summ[s["id"]]}) + "\n")
    unattributed = sum(1 for j in jobs if j.get("span") is None)
    info = {"spans_file": os.path.relpath(path), "jobs_unattributed": unattributed}
    return m, tally, info
