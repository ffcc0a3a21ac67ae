"""Driver-local /search kernel path, timed in a fresh process.

    python BENCH/r11_search_local/local_probe.py CHECKOUT INDEX_DIR N

Imports the engine from CHECKOUT, opens one IndexReader on INDEX_DIR,
warms its caches with one pass over N generated queries, then times a
second pass of bm25_wand_topk_local over the same N queries (the call
behind the `/search` route, without HTTP) and prints one JSON line with
the median, the 90th percentile and the total in ms.  Run it alternately
from two checkouts on the same index for a same-host A/B of that path.
"""

import json
import sys
import time


def main() -> None:
    checkout, index_dir, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
    sys.path.insert(0, checkout)
    import numpy as np

    from iscc_search_spark import corpus
    from iscc_search_spark.operators.wand import IndexReader, bm25_wand_topk_local
    from iscc_search_spark.session import get_spark

    spark = get_spark(cores=4, extra_conf={"spark.driver.memory": "2g"})
    reader = IndexReader(spark, index_dir)
    queries = corpus.generate_queries(n, seed=3)
    for q in queries:
        bm25_wand_topk_local(reader, q, k=10)
    ms = []
    for q in queries:
        t = time.perf_counter()
        bm25_wand_topk_local(reader, q, k=10)
        ms.append(1000.0 * (time.perf_counter() - t))
    print(json.dumps({
        "checkout": checkout,
        "median_ms": float(np.median(ms)),
        "p90_ms": float(np.percentile(ms, 90)),
        "total_ms": float(np.sum(ms)),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
