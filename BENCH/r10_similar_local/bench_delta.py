"""Per-leaf comparison of two `bench.py` JSON outputs.

    python BENCH/r10_similar_local/bench_delta.py BASE.json CHANGE.json

Prints a markdown table: each leaf's min over the interleaved rounds (the
figure `bench.py` reports) and the range of its raw samples, for both
files, with the ratio of the minimums.
"""

import json
import sys


def main() -> None:
    base, change = (json.load(open(p)) for p in sys.argv[1:3])
    print(f"rounds {base['rounds']} vs {change['rounds']}, cpus {base['cpus']} vs {change['cpus']}")
    print("| leaf | base min s (range) | change min s (range) | change/base |")
    print("|---|---|---|---|")
    for leaf, b in base["queries"].items():
        c = change["queries"].get(leaf)
        if c is None:
            print(f"| `{leaf}` | {b:.3f} | missing | |")
            continue
        bs, cs = base["samples"].get(leaf, [b]), change["samples"].get(leaf, [c])
        print(
            f"| `{leaf}` | {b:.3f} ({min(bs):.3f}-{max(bs):.3f}) "
            f"| {c:.3f} ({min(cs):.3f}-{max(cs):.3f}) | {c / b:.3f} |"
        )
    print(f"| total (`value`) | {base['value']:.3f} | {change['value']:.3f} "
          f"| {change['value'] / base['value']:.3f} |")


if __name__ == "__main__":
    main()
