"""Same-session A/B: does the near-dup change slow the /search stream after it?

    python BENCH/r8_neardup/ab_stream.py PARENT_CHECKOUT SEED N

Builds perfbench's 2,000-doc ingest index in one warm session and serves
it, then N times runs ``simhash_neardup_pairs`` from the parent checkout
and from this checkout (alternating which goes first), each materialized
as perfbench does and followed by a 150-query /search stream half.
Prints the per-round stream p50s and near-dup walls, then the medians.
"""

import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
import common as C  # noqa: E402
import workloads as W  # noqa: E402

from iscc_search_spark import corpus  # noqa: E402
from iscc_search_spark.operators.build import build_index  # noqa: E402
from iscc_search_spark.server import serve_in_thread  # noqa: E402


def load(checkout: str, name: str):
    # not registered in sys.modules, so the kernel closures pickle by value
    path = os.path.join(checkout, "iscc_search_spark", "operators", "neardup.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


sides = {"parent": load(sys.argv[1], "neardup_parent"), "change": load(ROOT, "neardup_change")}
seed, n = int(sys.argv[2]), int(sys.argv[3])
work = os.path.join(ROOT, ".bench_work", f"ab-{seed}-{os.getpid()}")
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)
C.sandbox_env(work)
spark = C.start_spark(work, "ab-stream")
try:
    W.warm_up(spark, work, seed)
    pages = os.path.join(work, "pages.parquet")
    C.write_corpus(pages, W.N_INGEST, seed)
    idx = os.path.join(work, "index")
    build_index(spark, spark.read.parquet(pages), idx, derived=True, **C.build_kwargs())
    srv, base = serve_in_thread(spark, idx)
    queries = W.spread_queries(corpus.generate_queries(W.N_QUERIES, seed), seed, 150)
    docs = spark.read.parquet(srv.app.index.cat.docs).select("doc_id", "simhash")
    out = {f"{s}_{m}": [] for s in sides for m in ("stream_p50_ms", "neardup_s")}
    for i in range(n):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            t = time.perf_counter()
            W.neardup_summary(sides[side].simhash_neardup_pairs(docs, max_hamming=6))
            out[f"{side}_neardup_s"].append(time.perf_counter() - t)
            res = W.stream_half(
                spark, work, base, queries, f"s{i}{side}",
                min_requests=len(queries), max_requests=len(queries),
            )
            lats = [rec[2] for rec in res["records"]]
            out[f"{side}_stream_p50_ms"].append(1000 * statistics.median(lats))
    out["medians"] = {k: statistics.median(v) for k, v in out.items()}
    print(json.dumps(out))
finally:
    C.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
