"""In-process A/B of the one-query driver-local path before and after it
became a wrapper around the batch helper ``wand._local_topk``.

    python BENCH/r11_search_local/wrapper_ab.py CHECKOUT INDEX_DIR N ROUNDS

Imports the engine from CHECKOUT (the change), checks that the parent's
``bm25_wand_topk_local`` body (copied below, without its over-cap branch)
and the change's wrapper return equal frames on N generated queries, then
times ROUNDS alternating passes of each over the same N queries on one warm
IndexReader and prints the mean ms per query of every pass.
"""

import json
import sys
import time


def main() -> None:
    checkout, index_dir, n, rounds = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    sys.path.insert(0, checkout)
    import numpy as np
    import pandas as pd

    from iscc_search_spark import corpus
    from iscc_search_spark.operators.wand import (
        IndexReader,
        _bucket_of,
        _query_idf,
        _shard_scorer,
        bm25_wand_topk_local,
    )
    from iscc_search_spark.session import get_spark

    def parent_local(r, query, k=10):
        term_df, query_idf = _query_idf(r, {0: query})
        buckets = sorted({_bucket_of(t, r.n_buckets) for t in term_df})
        parts = []
        for bkt in buckets:
            cached = r.bucket_blocks(bkt)
            parts.append(cached[cached["term"].isin(term_df)])
        pdf = (
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame(columns=IndexReader._BLOCK_COLS)
        )
        out = _shard_scorer(query_idf, r.k1, r.b, r.avgdl, k)((None,), pdf)
        out = out.drop(columns="query_id")
        out.insert(0, "rank", np.arange(1, len(out) + 1, dtype=np.int64))
        return out

    spark = get_spark(cores=2, extra_conf={"spark.driver.memory": "2g"})
    r = IndexReader(spark, index_dir)
    queries = corpus.generate_queries(n, seed=3)
    for q in queries:  # warms the bucket cache
        assert parent_local(r, q).equals(bm25_wand_topk_local(r, q)), q
    sides = [("parent", parent_local), ("change", bm25_wand_topk_local)]
    ms = {"parent": [], "change": []}
    for i in range(rounds):
        for name, fn in sides if i % 2 == 0 else sides[::-1]:
            t = time.perf_counter()
            for q in queries:
                fn(r, q)
            ms[name].append(round(1000.0 * (time.perf_counter() - t) / n, 3))
    print(json.dumps({"ms_per_query": ms}))
    spark.stop()


if __name__ == "__main__":
    main()
