"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout.  Generates the workload's inputs from the
seed, runs it on a SparkSession fitted to this machine (local[nproc],
driver memory a quarter of RAM), checks every answer against a
single-node reference, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the per-layer tour with the
Spark event log on and reports the per-layer metrics.  Scratch files live
in ``.bench_work/`` (removed at exit); the traced run leaves its spans and
per-span Spark summary in ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

UNITS = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "index_bytes_per_text_byte": "ratio",
    "stream_p50_ms": "ms",
    "stream_p90_ms": "ms",
    "stream_qps": "1/s",
    "op1_ms": "ms",
    "op2_ms": "ms",
    "op3_ms": "ms",
    "op4_ms": "ms",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import iscc_search_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import common as C

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    C.sandbox_env(work)
    try:
        if args.trace:
            import tour

            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            metrics, tally, info = tour.run(work, out_dir, args.workload, args.seed)
            units = tour.UNITS
        else:
            import workloads

            fn = workloads.serve if args.workload == "serve" else workloads.ingest
            setup_s, metrics, tally, info = fn(work, args.seed, args.seconds)
            metrics["setup_s"] = setup_s
            metrics["ok_ratio"] = (tally.attempted - tally.failed) / tally.attempted
            units = UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info["env"] = C.environment(args.seed, args.workload)
    if tally.reasons:
        info["failures"] = tally.reasons
    print(json.dumps({"info": info}))
    missing = set(units) - set(metrics)
    if missing:
        print(f"perfbench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {
                    k: {"value": float(metrics[k]), "unit": units[k]} for k in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
