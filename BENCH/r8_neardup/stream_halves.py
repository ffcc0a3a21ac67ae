"""Run perfbench's ingest workload once and report each /search stream half.

    python BENCH/r8_neardup/stream_halves.py CHECKOUT SEED

The ingest workload streams /search in two halves: after the upsert
(half 0) and right after near_duplicates (half 1).  This wraps the
workload's ``stream_half`` to print each half's p50 and throughput, so a
near-dup side effect on the stream shows as half 1 moving alone.
"""

import json
import os
import shutil
import statistics
import sys

root, seed = os.path.abspath(sys.argv[1]), int(sys.argv[2])
sys.path[:0] = [root, os.path.join(root, "perfbench")]
import common as C  # noqa: E402
import workloads as W  # noqa: E402

halves = []
stream_half = W.stream_half


def recorded(*args, **kwargs):
    res = stream_half(*args, **kwargs)
    lats = [rec[2] for rec in res["records"]]
    halves.append(
        {"p50_ms": 1000 * statistics.median(lats), "qps": len(lats) / res["wall_s"]}
    )
    return res


W.stream_half = recorded
work = os.path.join(root, ".bench_work", f"halves-{seed}-{os.getpid()}")
shutil.rmtree(work, ignore_errors=True)
os.makedirs(work)
C.sandbox_env(work)
try:
    _, metrics, tally, _ = W.ingest(work, seed, 4.0)
finally:
    shutil.rmtree(work, ignore_errors=True)
print(json.dumps({
    "side": os.path.basename(root), "seed": seed, "halves": halves,
    "op3_ms": metrics["op3_ms"], "p50": metrics["stream_p50_ms"],
    "failed": tally.failed,
}))
