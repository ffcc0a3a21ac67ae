"""Reader open + first driver-local query, timed in a fresh process.

    python BENCH/r10_similar_local/open_probe.py CHECKOUT INDEX_DIR N

Imports the engine from CHECKOUT, then N times opens an IndexReader on
INDEX_DIR and runs one bm25_wand_topk_local query on it (the operation
behind perfbench `ingest` op4_ms), and prints one JSON line with the
median and the samples in ms.  Run it alternately from two checkouts on
the same index for a same-host A/B of the open path.
"""

import json
import sys
import time


def main() -> None:
    checkout, index_dir, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
    sys.path.insert(0, checkout)
    from iscc_search_spark import corpus
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local
    from iscc_search_spark.session import get_spark

    spark = get_spark(cores=4, extra_conf={"spark.driver.memory": "2g"})
    queries = corpus.generate_queries(n + 1, seed=3)
    bm25_wand_topk_local(IndexReader(spark, index_dir), queries[-1], k=10)  # warm
    ms = []
    for q in queries[:n]:
        t = time.perf_counter()
        bm25_wand_topk_local(IndexReader(spark, index_dir), q, k=10)
        ms.append(1000.0 * (time.perf_counter() - t))
    print(json.dumps({"checkout": checkout, "median_ms": sorted(ms)[n // 2], "ms": ms}))
    spark.stop()


if __name__ == "__main__":
    main()
