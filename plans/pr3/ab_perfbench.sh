#!/bin/bash
# Alternating parent/change pairs of the repository benchmark.
#
#   plans/pr3/ab_perfbench.sh PARENT_DIR CHANGE_DIR OUT_DIR WORKLOAD SEED...
#
# PARENT_DIR and CHANGE_DIR are checkouts of the two commits. Each seed
# runs `perfbench/run.py --workload WORKLOAD --seed SEED --seconds 6
# --trace 0` once in each checkout; odd seeds run the parent first, even
# seeds the change. Appends `{"side", "seed", "result"}` lines (result =
# the run's last stdout line) to OUT_DIR/ab_WORKLOAD.jsonl, the input of
# plans/pr2/ab_table.py.
set -u
parent=$1 change=$2 out=$3 workload=$4
shift 4
mkdir -p "$out"
for seed in "$@"; do
  if [ $((seed % 2)) = 1 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    if [ "$side" = parent ]; then dir=$parent; else dir=$change; fi
    line=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" \
      --seed "$seed" --seconds 6 --trace 0 2>/dev/null | tail -1)
    printf '{"side": "%s", "seed": %s, "result": %s}\n' "$side" "$seed" \
      "${line:-null}" >> "$out/ab_$workload.jsonl"
  done
done
