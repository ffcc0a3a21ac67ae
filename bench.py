"""Benchmark harness — one JSON line on stdout.

Headline numbers per BASELINE.md: index-build docs/sec over a webtext
corpus + BM25 top-10 queries/sec over the built compressed index, plus the
training-pipeline operators.  Runs at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Noise defense (round 4): the host shows ±45% CPU-steal bursts, so every
timed step runs $SPARK_GRAFT_BENCH_ROUNDS (default 2) complete INTERLEAVED
rounds — the whole sequence end to end, then again — and the reported
``queries`` are the per-step MIN across rounds (the machine's capability;
a noise burst inflates one round, not the min of both).  The raw samples
ship in ``samples`` so a reader can see the spread.  Builds rebuild into a
fresh directory each round; the derived-index cache is cleared so nothing
is amortized across rounds except JVM/JIT warmup, which prewarming already
moves out of round 1.

The build benchmark uses BOTH the testdata ``documents`` table (comparable
across rounds) and a larger generated pages corpus (SPARK_GRAFT_BENCH_DOCS,
default 20000) so the build stage is measured at a meaningful size.
Two-parallelism scaling evidence lives in BENCH/scaling.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    bench_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
    n_rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "2"))

    from iscc_search_spark import corpus
    from iscc_search_spark.config import EngineConfig
    from iscc_search_spark.entry_queries import (
        GRANULAR_QUERY_TEXT,
        build_registry,
    )
    from iscc_search_spark.operators.build import (
        build_index,
        load_simprints,
        load_unit_bands,
        load_units,
    )
    from iscc_search_spark.operators.dedup import minhash_dedup
    from iscc_search_spark.operators.multiunit import (
        mixed_length_units,
        nphd_topk,
        search_assets_multiunit,
    )
    from iscc_search_spark.operators.phrase import phrase_match
    from iscc_search_spark.operators.simprints import granular_candidate_fraction
    from iscc_search_spark.operators.wand import (
        IndexReader,
        bm25_wand_topk,
        bm25_wand_topk_batch,
        bm25_wand_topk_local,
    )
    from iscc_search_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)
    qreg, _ = build_registry()
    work = tempfile.mkdtemp(prefix="bench_idx_")
    samples: dict[str, list[float]] = {}
    extra: dict[str, float] = {}

    # generated pages corpus + prewarm (once — worker fork/import/JIT is
    # session startup, not part of any measured step)
    pages_path = os.path.join(work, "pages.parquet")
    corpus.write_pages(pages_path, bench_docs, seed=42)
    pages = spark.read.parquet(pages_path)
    n_shards = max(8, min(16, cpus))
    cfg = EngineConfig()
    from iscc_search_spark.functions.textnorm import tok_tf_simhash_udf

    warm = spark.createDataFrame(
        [("warm up the workers",)] * (cpus * 4), "text string"
    ).repartition(cpus * 2)
    warm.select(tok_tf_simhash_udf("text")).count()

    wand_queries = corpus.generate_queries(70)[:64]
    docs_sf = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run_round(rnd: int) -> None:
        def timed(name: str, fn):
            t0 = time.time()
            out = fn()
            samples.setdefault(name, []).append(round(time.time() - t0, 3))
            return out

        rdir = os.path.join(work, f"r{rnd}")
        os.makedirs(rdir, exist_ok=True)

        # 1) index build — the bare north-rule inverted-index job (lean
        #    stage A, postings only), plus the FULL build (derived
        #    similarity artifacts in the same fused pass + persisted)
        idx_dir = os.path.join(rdir, "index")
        timed(
            "index_build_pages",
            lambda: build_index(
                spark, pages, idx_dir, cfg=cfg,
                n_parts=cpus, n_shards=n_shards, group_size=cpus, derived=False,
            ),
        )
        idx_full = os.path.join(rdir, "index_full")
        timed(
            "index_build_pages_full",
            lambda: build_index(
                spark, pages, idx_full, cfg=cfg,
                n_parts=cpus, n_shards=n_shards, group_size=cpus, derived=True,
            ),
        )

        # 2) BM25 top-10 over the compressed index (block-max WAND path):
        #    open the index ONCE (the serving-process model), then one
        #    single query (latency) and a 64-query batch (throughput)
        reader = timed("index_open", lambda: IndexReader(spark, idx_dir))
        timed(
            "bm25_wand_single",
            lambda: bm25_wand_topk(spark, reader, wand_queries[0], k=10).collect(),
        )
        timed(
            "bm25_wand_single_local",
            lambda: bm25_wand_topk_local(reader, wand_queries[1], k=10),
        )
        timed(
            "bm25_wand_batch64",
            lambda: bm25_wand_topk_batch(
                spark, reader, dict(enumerate(wand_queries)), k=10
            ).collect(),
        )

        # 3) unigram minhash with the LSH skew cap (uncapped is O(N^2) on
        #    this synthetic table's tiny unigram vocabulary)
        timed(
            "dedup_minhash_unigram_capped",
            lambda: minhash_dedup(
                docs_sf, n_perm=16, n_bands=4, ngram=1, threshold=0.5, max_bucket=64
            ).count(),
        )

        # phrase answered from the positional postings of the built index
        timed(
            "phrase_from_postings",
            lambda: phrase_match(spark, reader, "t00001 t00000").count(),
        )

        # the similarity family served from PERSISTED build artifacts —
        # each round builds its own derived index (cache cleared) so the
        # build step is honestly re-measured
        import iscc_search_spark.entry_queries as eq

        eq._INDEX_CACHE.pop(sf_dir, None)
        docs_idx = timed(
            "documents_index_build_full", lambda: eq._built_index(spark, sf_dir)
        )
        timed(
            "multiunit_search_persisted",
            lambda: search_assets_multiunit(
                None, 7, k=10,
                units=load_units(spark, docs_idx),
                bands=load_unit_bands(spark, docs_idx),
            ).collect(),
        )
        timed(
            "nphd_topk_persisted",
            lambda: nphd_topk(
                mixed_length_units(units=load_units(spark, docs_idx)), 7, k=10
            ).collect(),
        )

        sp = load_simprints(spark, docs_idx)
        if rnd == 0:  # prune selectivity is data-deterministic — once
            for h in (12, 7):  # gate threshold + serving-typical threshold
                for c in (1, 2):
                    extra[f"granular_candidate_fraction_h{h}_combo{c}"] = round(
                        granular_candidate_fraction(
                            sp, GRANULAR_QUERY_TEXT, max_hamming=h, combo=c
                        ),
                        4,
                    )

        # 4) headline operators over the testdata tables
        for name in [
            "t1_bm25_topk_q1",
            "t1_bm25_topk_q2",
            "a7_granular_simprint_search",
            # unigram minhash is in the correctness gate; at sf0.1 the tiny
            # 31-term vocabulary makes unigram token-SET signatures collide
            # en masse, so the bench times the discriminative 3-gram variant
            "dedup_ngram3_jaccard",
            "j3_simhash_neardup",
            "ann_cosine_topk",
            "a1_tpch_q1_pricing",
            "q_quality_features",
        ]:
            fn = qreg[name]
            timed(name, lambda fn=fn: fn(spark, sf_dir).collect())

        # round dirs are per-round scratch; drop the previous round's to
        # bound disk while keeping the current reader's files alive
        if rnd > 0:
            shutil.rmtree(os.path.join(work, f"r{rnd - 1}"), ignore_errors=True)

    try:
        for rnd in range(n_rounds):
            run_round(rnd)
        timings = {k: min(v) for k, v in samples.items()}
        extra["build_docs_per_sec"] = round(
            bench_docs / timings["index_build_pages"], 1
        )
        extra["bm25_queries_per_sec"] = round(
            64 / timings["bm25_wand_batch64"], 2
        )
        total = round(sum(timings.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "index-build + BM25 top-10 + pipeline operators wall time (min of interleaved rounds)",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "samples": samples,
                    "rounds": n_rounds,
                    "sf": sf_dir,
                    "cpus": cpus,
                    "bench_docs": bench_docs,
                    **extra,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
