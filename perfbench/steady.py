"""Steadiness check: run the benchmark on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
as ``statistics.quantiles(values, n=4)`` gives the quartiles, next to the
metric's bound from BENCHMARK.json.  Raw results of every run are written
as JSON lines to ``--out``.

    python3 perfbench/steady.py --workload serve --seeds 1-10 \
        --out perfbench/results/steady_serve.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    with open(args.out, "a") as out:
        for seed in seeds(args.seeds):
            cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            result = json.loads(lines[-1])
            info = json.loads(lines[-2]) if len(lines) > 1 else {}
            out.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                  "wall_s": wall, "result": result, **info}) + "\n")
            out.flush()
            print(f"seed {seed}: {wall:.1f} s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
    if args.trace:
        return
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med if med else float("nan")
        flag = "" if spread < bounds[k] / 3 else "  <-- above bound/3"
        print(f"{k:28s} median={med:12.4f} spread={spread:.4f} bound={bounds[k]}{flag}")


if __name__ == "__main__":
    main()
