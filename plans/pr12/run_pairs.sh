#!/bin/bash
# Alternating parent/change perfbench pairs of one workload, one JSON
# line per run.
#   plans/pr12/run_pairs.sh PARENT_CHECKOUT CHANGE_CHECKOUT WORKLOAD SEED0 N OUT.jsonl
# Seeds SEED0 .. SEED0+N-1; the first pair runs the parent first and the
# order flips every pair. Never run it beside another sbt or Spark job.
parent=$1; change=$2; w=$3; s0=$4; n=$5; out=$6
for i in $(seq 0 $((n - 1))); do
  s=$((s0 + i))
  if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$parent; [ "$side" = change ] && dir=$change
    line=$(cd "$dir" && python3 perfbench/run.py --workload "$w" --seed "$s" --seconds 6 --trace 0 2>/dev/null | tail -1)
    echo "{\"side\": \"$side\", \"seed\": $s, \"workload\": \"$w\", \"result\": ${line:-null}}" >> "$out"
  done
done
