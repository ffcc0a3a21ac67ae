#!/bin/sh
# Interleaved parent/change runs of one perfbench workload.
#
#   sh BENCH/r7_upsert/pairs.sh PARENT_CHECKOUT CHANGE_CHECKOUT WORKLOAD OUT_DIR SEED...
#
# For each seed, runs `perfbench/run.py --workload WORKLOAD --seed SEED
# --seconds 4 --trace 0` in both checkouts, one after the other, and
# alternates which side goes first from seed to seed.  Appends each run's
# last two output lines (the info line and the metrics line) to
# OUT_DIR/{parent,change}_WORKLOAD.jsonl.
set -eu
parent=$1 change=$2 workload=$3 out=$4
shift 4
mkdir -p "$out"
out=$(cd "$out" && pwd)
first=parent
run() {
  dir=$1
  [ "$1" = parent ] && dir=$parent || dir=$change
  (cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$2" --seconds 4 --trace 0) \
    2>/dev/null | tail -n 2 >> "$out/$1_$workload.jsonl"
}
for seed in "$@"; do
  if [ $first = parent ]; then run parent "$seed"; run change "$seed"; first=change
  else run change "$seed"; run parent "$seed"; first=parent; fi
done
