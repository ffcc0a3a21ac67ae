"""Time 1-row upserts on a 2,000-doc index.

    python3 BENCH/r7_upsert/one_row_upsert.py --root CHECKOUT [--reps 5]

Runs in one warm session fitted to the machine the way
``perfbench/run.py`` fits it (perfbench's session helpers, imported from
CHECKOUT, whose engine is the one measured): a 200-doc warm-up build,
then ``build_index(derived=True)`` of ``corpus.generate_pages(2000, 7)``
with the ingest workload's build parameters, then ``--reps`` upserts of
one existing url with new text (one doc, so one of the index's 8 shards).
Prints one JSON line: each upsert's wall seconds and their median.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--root", required=True)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    import common as C

    work = os.path.join(root, ".bench_work", f"one-row-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    C.sandbox_env(work)
    spark = C.start_spark(work, "one-row-upsert")
    try:
        from iscc_search_spark.operators.build import build_index, upsert_docs

        for name, n in (("warm", 200), ("index", 2000)):
            pages = os.path.join(work, f"{name}.parquet")
            table = C.write_corpus(pages, n, 7)
            build_index(
                spark, spark.read.parquet(pages), os.path.join(work, name),
                derived=True, **C.build_kwargs(),
            )
        url = table.column("url")[0].as_py()
        secs = []
        for i in range(args.reps):
            delta = spark.createDataFrame(
                [(url, f"rewritten body {i} " * 20, "en")],
                "url string, text string, lang string",
            )
            _, s = C.timed(lambda: upsert_docs(spark, delta, os.path.join(work, "index")))
            secs.append(round(s, 3))
        print(json.dumps({"upsert_1row_s": secs, "median_s": C.median(secs)}))
    finally:
        C.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
