"""Kernel microbench: the parent commit's two per-shard BM25 scorers vs
the one shared kernel, fed identical candidate frames, with a bitwise
compare of every answer.

    python BENCH/r9_one_scorer/kernel_bench.py PARENT_CHECKOUT [N_DOCS ...]

For each corpus size (default 1000 2000 20000; perfbench's generator,
seed 1, 8 shards) it builds an index, then, without Spark:

* single query: for 200 queries, the candidate frame the driver-local
  path builds (bucket-cache rows of the query's terms) is scored by the
  parent's ``_shard_scorer(idf, ...)`` and by ``_shard_scorer({0: idf}, ...)``;
* batch: a 1,000-query batch; each shard's pyarrow frame is scored by the
  parent's ``_batch_shard_scorer`` and by ``_shard_scorer``, the 8 shards
  one after the other.

Five passes; the side that goes first alternates.  Prints one JSON line
per size: median ms/query (single) and ms/batch (batch) per side, every
pass's figure, and the number of answers that differ in doc ids or in
float64 score bits (must be 0).
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)

from iscc_search_spark import corpus  # noqa: E402
from iscc_search_spark.operators import wand  # noqa: E402
from iscc_search_spark.operators.build import _bucket_of, build_index  # noqa: E402

PASSES = 5
N_SINGLE = 200
N_BATCH = 1000
K = 10


def load_parent_wand(parent: str):
    path = os.path.join(parent, "iscc_search_spark", "operators", "wand.py")
    spec = importlib.util.spec_from_file_location("parent_wand", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def local_frame(r: wand.IndexReader, terms: list[str]):
    import pandas as pd

    parts = []
    for bkt in sorted({_bucket_of(t, r.n_buckets) for t in terms}):
        cached = r.bucket_blocks(bkt)
        parts.append(cached[cached["term"].isin(terms)])
    return pd.concat(parts, ignore_index=True)


def shard_frames(r: wand.IndexReader, terms: list[str]) -> list:
    import pyarrow.dataset as ds

    buckets = sorted({_bucket_of(t, r.n_buckets) for t in terms})
    flt = ds.field("bucket").isin(buckets) & ds.field("term").isin(terms)
    pdf = (
        r.pa_dataset()
        .to_table(columns=wand.IndexReader._BLOCK_COLS + ["shard"], filter=flt)
        .to_pandas()
    )
    return [g.drop(columns="shard") for _, g in pdf.groupby("shard", sort=True)]


def same(a_doc, a_score, b_doc, b_score) -> bool:
    return np.array_equal(a_doc, b_doc) and np.array_equal(
        np.asarray(a_score, np.float64).view(np.int64),
        np.asarray(b_score, np.float64).view(np.int64),
    )


def batch_sorted(pdf):
    order = np.lexsort((pdf["doc_id"].to_numpy(), -pdf["score"].to_numpy(), pdf["query_id"].to_numpy()))
    return pdf.iloc[order]


def bench_size(spark, old, n_docs: int, work: str) -> dict:
    pages = os.path.join(work, f"pages_{n_docs}.parquet")
    idx = os.path.join(work, f"index_{n_docs}")
    corpus.write_pages(pages, n_docs=n_docs, seed=1)
    build_index(spark, spark.read.parquet(pages), idx, n_parts=4, n_shards=8, group_size=4)
    r = wand.IndexReader(spark, idx)
    args = (r.k1, r.b, r.avgdl, K)

    singles = []
    for q in corpus.generate_queries(N_SINGLE, seed=1):
        term_df, query_idf = wand._query_idf(r, {0: q})
        if query_idf:
            singles.append((query_idf[0], local_frame(r, sorted(term_df))))
    term_df, query_idf = wand._query_idf(
        r, dict(enumerate(corpus.generate_queries(N_BATCH, seed=1)))
    )
    shards = shard_frames(r, sorted(term_df))

    def run_single(side):
        t0 = time.perf_counter()
        outs = [
            old._shard_scorer(idf, *args)((None,), pdf)
            if side == "parent"
            else wand._shard_scorer({0: idf}, *args)((None,), pdf)
            for idf, pdf in singles
        ]
        return 1000.0 * (time.perf_counter() - t0) / len(singles), outs

    def run_batch(side):
        kern = (
            old._batch_shard_scorer(query_idf, *args)
            if side == "parent"
            else wand._shard_scorer(query_idf, *args)
        )
        t0 = time.perf_counter()
        outs = [kern((s,), pdf) for s, pdf in enumerate(shards)]
        return 1000.0 * (time.perf_counter() - t0), outs

    times = {f"{m}_{s}": [] for m in ("single", "batch") for s in ("parent", "change")}
    diffs = {"single": 0, "batch": 0}
    for p in range(PASSES):
        sides = ("parent", "change") if p % 2 == 0 else ("change", "parent")
        res = {}
        for s in sides:
            res[f"single_{s}"] = run_single(s)
            res[f"batch_{s}"] = run_batch(s)
        for key, (ms, _) in res.items():
            times[key].append(round(ms, 3))
        for a, b in zip(res["single_parent"][1], res["single_change"][1]):
            diffs["single"] += not same(a["doc_id"], a["score"], b["doc_id"], b["score"])
        for a, b in zip(res["batch_parent"][1], res["batch_change"][1]):
            a, b = batch_sorted(a), batch_sorted(b)
            diffs["batch"] += not (
                np.array_equal(a["query_id"], b["query_id"])
                and same(a["doc_id"], a["score"], b["doc_id"], b["score"])
            )
    return {
        "n_docs": n_docs,
        "single_queries": len(singles),
        "batch_queries": len(query_idf),
        "shards": len(shards),
        "median": {k: float(np.median(v)) for k, v in times.items()},
        "passes": times,
        "answers_differing": diffs,
    }


def main() -> None:
    parent = sys.argv[1]
    sizes = [int(x) for x in sys.argv[2:]] or [1000, 2000, 20000]
    old = load_parent_wand(parent)
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    from iscc_search_spark.session import get_spark

    spark = get_spark(
        app_name="kernel-bench",
        cores=4,
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="kernel_bench_")
    try:
        for n in sizes:
            print(json.dumps(bench_size(spark, old, n, work)), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
