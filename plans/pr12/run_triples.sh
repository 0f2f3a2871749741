#!/bin/bash
# Rotating perfbench runs of one workload over three checkouts, one JSON
# line per run.
#   plans/pr12/run_triples.sh WORKLOAD SEED0 N OUT.jsonl NAME=CHECKOUT NAME=CHECKOUT NAME=CHECKOUT
# Seeds SEED0 .. SEED0+N-1; seed i runs the three checkouts in the order
# rotated i places, so each one runs first, second and third equally
# often. Never run it beside another sbt or Spark job.
w=$1; s0=$2; n=$3; out=$4; shift 4
sides=("$@")
for i in $(seq 0 $((n - 1))); do
  s=$((s0 + i))
  for j in 0 1 2; do
    side=${sides[$(((i + j) % 3))]}
    name=${side%%=*}; dir=${side#*=}
    line=$(cd "$dir" && python3 perfbench/run.py --workload "$w" --seed "$s" --seconds 6 --trace 0 2>/dev/null | tail -1)
    echo "{\"side\": \"$name\", \"seed\": $s, \"workload\": \"$w\", \"result\": ${line:-null}}" >> "$out"
  done
done
