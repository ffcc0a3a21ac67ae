"""Time SearchIndex.search on a freshly built 1,000-doc index.

    python3 BENCH/r7_upsert/serve_probe.py CHECKOUT

Builds ``corpus.generate_pages(1000, 5)`` with the serve workload's build
parameters (``derived=True, combo2=False``) in a session fitted like
``perfbench/run.py`` (perfbench's helpers, imported from CHECKOUT, whose
engine is the one measured), warms 5 queries, times 40 more
``SearchIndex.search(q).collect()`` calls and prints their median with the
index's file count and byte size.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> None:
    root = os.path.abspath(sys.argv[1])
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import common as C

    work = os.path.join(root, ".bench_work", f"probe-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    C.sandbox_env(work)
    spark = C.start_spark(work, "serve-probe")
    try:
        from iscc_search_spark import corpus
        from iscc_search_spark.operators.build import build_index
        from iscc_search_spark.plans.search import SearchIndex

        pages = os.path.join(work, "pages.parquet")
        C.write_corpus(pages, 1000, 5)
        idx = os.path.join(work, "index")
        build_index(
            spark, spark.read.parquet(pages), idx, derived=True, combo2=False,
            **C.build_kwargs(),
        )
        si = SearchIndex(spark, idx)
        queries = corpus.generate_queries(60, 5)
        for q in queries[:5]:
            si.search(q, k=10).collect()
        secs = [C.timed(lambda q=q: si.search(q, k=10).collect())[1] for q in queries[5:45]]
        n_files, n_bytes = C.dir_size(idx)
        print(json.dumps({
            "search_med_ms": 1000 * C.median(secs), "n_files": n_files, "bytes": n_bytes,
        }))
    finally:
        C.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
