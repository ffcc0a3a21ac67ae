"""search_granular latency per max_hamming, timed in a fresh process.

    python BENCH/r10_similar_local/granular_probe.py CHECKOUT INDEX_DIR N

Imports the engine from CHECKOUT.  When INDEX_DIR does not exist yet, it
first writes a seeded 1,000-doc corpus next to it and builds a full index
WITH the combo2 table (``build_index(combo2=True)``).  Then it opens a
SearchIndex on INDEX_DIR and, for max_hamming 8, 10, 11 and 12, times
``search_granular(passage, 10, max_hamming).collect()`` over N seeded
96-token passages (one untimed warm-up call per threshold first).  Prints
one JSON line: per threshold the median and the samples in ms, and a
digest of every answer (doc ids and exact score bits) so that two
checkouts' answers can be compared.  Run it alternately from two
checkouts on the same index for a same-host A/B.
"""

import hashlib
import json
import os
import sys
import time

THRESHOLDS = (8, 10, 11, 12)


def passages(texts: list[str], n: int) -> list[str]:
    import numpy as np

    rng = np.random.default_rng(17)
    out = []
    for j in rng.choice(len(texts), size=n + 1, replace=False):
        toks = texts[int(j)].split()
        o = 32 * int(rng.integers(0, max(1, (len(toks) - 96) // 32)))
        out.append(" ".join(toks[o : o + 96]))
    return out


def main() -> None:
    checkout, index_dir, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
    sys.path.insert(0, checkout)
    import pyarrow.parquet as pq

    from iscc_search_spark import corpus
    from iscc_search_spark.operators.build import build_index
    from iscc_search_spark.plans.search import SearchIndex
    from iscc_search_spark.session import get_spark

    spark = get_spark(cores=4, extra_conf={"spark.driver.memory": "2g"})
    pages = index_dir.rstrip("/") + "_pages.parquet"
    if not os.path.exists(index_dir):
        pq.write_table(corpus.generate_pages(1000, seed=1), pages)
        build_index(
            spark, spark.read.parquet(pages), index_dir, n_parts=4, n_shards=8,
            group_size=4, combo2=True,
        )
    ps = passages(pq.read_table(pages).column("text").to_pylist(), n)
    si = SearchIndex(spark, index_dir)
    out = {"checkout": checkout}
    digest = hashlib.sha256()
    for mh in THRESHOLDS:
        si.search_granular(ps[-1], 10, mh).collect()  # warm-up
        ms = []
        for p in ps[:n]:
            t = time.perf_counter()
            rows = si.search_granular(p, 10, mh).collect()
            ms.append(1000.0 * (time.perf_counter() - t))
            for r in rows:
                digest.update(f"{mh} {r['doc_id']} {float(r['score']).hex()} "
                              f"{r['n_matched_segs']};".encode())
        out[f"h{mh}_median_ms"] = sorted(ms)[n // 2]
        out[f"h{mh}_ms"] = ms
    out["answers_sha256"] = digest.hexdigest()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
