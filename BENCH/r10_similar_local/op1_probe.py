"""SearchIndex.search latency after Spark vs driver-local similarity calls.

    python BENCH/r10_similar_local/op1_probe.py CHECKOUT INDEX_DIR PAGES ROUNDS

Imports the engine from CHECKOUT and opens a SearchIndex on INDEX_DIR
(PAGES is the pages parquet it was built from, for the passages).  It
then repeats the perfbench `serve` call sequence — search, search_similar,
search_granular, four times — in blocks that alternate between two ways
of answering the similarity calls with the same code:

  spark  the Spark operators (search_assets_multiunit, granular_topk over
         the persisted band tables), as the facade ran them before
  local  the facade (driver-local kernels, no Spark job)

and times only the `search(q, k=10).collect()` that follows each pair of
similarity calls (perfbench `op1_ms`).  ROUNDS blocks of each kind run,
alternating.  Prints one JSON line with the per-block medians and all
samples in ms.
"""

import json
import sys
import time


def main() -> None:
    checkout, index_dir, pages, rounds = sys.argv[1:5]
    sys.path.insert(0, checkout)
    import numpy as np
    import pyarrow.parquet as pq

    from iscc_search_spark import corpus
    from iscc_search_spark.operators.build import (
        load_simprint_bands,
        load_unit_bands,
        load_units,
    )
    from iscc_search_spark.operators.multiunit import search_assets_multiunit
    from iscc_search_spark.operators.simprints import granular_topk
    from iscc_search_spark.plans.search import SearchIndex
    from iscc_search_spark.session import get_spark

    spark = get_spark(cores=4, extra_conf={"spark.driver.memory": "2g"})
    si = SearchIndex(spark, index_dir)
    texts = pq.read_table(pages).column("text").to_pylist()
    rng = np.random.default_rng(5)
    queries = corpus.generate_queries(200, seed=5)[:-5]
    doc_ids = [int(x) for x in pq.read_table(si.cat.units, columns=["doc_id"])
               .column("doc_id").to_numpy()]

    def spark_calls(d, p):
        search_assets_multiunit(
            None, d, k=10, units=load_units(spark, index_dir),
            bands=load_unit_bands(spark, index_dir),
        ).collect()
        granular_topk(
            None, p, k=10, max_hamming=8,
            bands=load_simprint_bands(spark, index_dir),
        ).collect()

    def local_calls(d, p):
        si.search_similar(d, k=10).collect()
        si.search_granular(p, k=10, max_hamming=8).collect()

    si.search(queries[0], k=10).collect()  # warm-up
    local_calls(doc_ids[0], " ".join(texts[0].split()[:96]))
    spark_calls(doc_ids[0], " ".join(texts[0].split()[:96]))
    out = {"checkout": checkout, "spark": [], "local": []}
    for r in range(2 * int(rounds)):
        kind = ("spark", "local")[r % 2]
        calls = spark_calls if kind == "spark" else local_calls
        ms = []
        for _ in range(4):
            q = queries[int(rng.integers(len(queries)))]
            d = doc_ids[int(rng.integers(len(doc_ids)))]
            p = " ".join(texts[int(rng.integers(len(texts)))].split()[:96])
            calls(d, p)
            t = time.perf_counter()
            si.search(q, k=10).collect()
            ms.append(1000.0 * (time.perf_counter() - t))
        out[kind].append(ms)
    for kind in ("spark", "local"):
        out[kind + "_block_medians_ms"] = [sorted(b)[len(b) // 2] for b in out[kind]]
        flat = sorted(x for b in out[kind] for x in b)
        out[kind + "_median_ms"] = flat[len(flat) // 2]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
