"""Spark jobs and wall time per span name in a traced perfbench tour.

    python BENCH/r11_search_local/span_jobs.py SPANS.jsonl [NAME ...]

Reads the spans file a `perfbench/run.py --trace 1` run leaves in
`.bench_out/` and prints, for each span name (default: every name), the
number of spans, the Spark jobs attributed to them in total, and their
median wall time in ms.
"""

import json
import sys
from collections import defaultdict

import numpy as np


def main() -> None:
    path, names = sys.argv[1], set(sys.argv[2:])
    jobs, walls = defaultdict(int), defaultdict(list)
    for line in open(path):
        s = json.loads(line)
        if names and s["name"] not in names:
            continue
        jobs[s["name"]] += s["spark"]["jobs"]
        walls[s["name"]].append(1000.0 * (s["end"] - s["start"]))
    print("| span | spans | Spark jobs | median wall ms |")
    print("|---|---|---|---|")
    for name in sorted(jobs):
        print(
            f"| `{name}` | {len(walls[name])} | {jobs[name]} "
            f"| {np.median(walls[name]):.1f} |"
        )


if __name__ == "__main__":
    main()
