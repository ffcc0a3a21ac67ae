"""Summarize interleaved parent/change perfbench runs.

    python BENCH/r9_one_scorer/summarize.py DIR WORKLOAD

Reads DIR/parent_WORKLOAD.jsonl and DIR/change_WORKLOAD.jsonl (info line +
metrics line per run, as `BENCH/r7_upsert/pairs.sh` appends them) and
prints a markdown table: parent median with its interquartile range, the
change's median, their ratio, and the pairs in which the change is better.
"""

import json
import sys

import numpy as np

HIGHER = {"ok_ratio", "stream_qps"}


def load(path: str):
    rows = [json.loads(line) for line in open(path)]
    return [r["info"] for r in rows if "info" in r], [r for r in rows if "metrics" in r]


def main() -> None:
    d, wl = sys.argv[1], sys.argv[2]
    pi, pm = load(f"{d}/parent_{wl}.jsonl")
    ci, cm = load(f"{d}/change_{wl}.jsonl")
    seeds = [i["env"]["seed"] for i in pi]
    assert seeds == [i["env"]["seed"] for i in ci], "runs are not paired by seed"
    ok = all(m["correct"] for m in pm + cm)
    print(f"{wl}: {len(pm)} pairs, seeds {seeds}, every answer correct: {ok}")
    print("| metric | parent (IQR) | change | change/parent | change better |")
    print("|---|---|---|---|---|")
    for k in pm[0]["metrics"]:
        p = np.array([m["metrics"][k]["value"] for m in pm])
        c = np.array([m["metrics"][k]["value"] for m in cm])
        q1, q3 = np.percentile(p, [25, 75])
        better = int(((c > p) if k in HIGHER else (c < p)).sum())
        ties = int((c == p).sum())
        tie_note = f" ({ties} ties)" if ties else ""
        print(
            f"| `{k}` | {np.median(p):.4g} ({q3 - q1:.3g}) | {np.median(c):.4g} "
            f"| {np.median(c) / np.median(p):.3f} | {better}/{len(p)}{tie_note} |"
        )


if __name__ == "__main__":
    main()
