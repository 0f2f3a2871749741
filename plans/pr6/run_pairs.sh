#!/bin/bash
# Alternating parent/change perfbench pairs, one JSON line per run.
#   plans/pr6/run_pairs.sh PARENT_CHECKOUT CHANGE_CHECKOUT SEED_FROM SEED_TO OUT.jsonl [workloads...]
# Odd seeds run the change first, even seeds the parent first. Never run
# it beside another sbt or Spark job.
parent=$1; change=$2; from=$3; to=$4; out=$5; shift 5
workloads=${*:-ss_experiment ss_interactive curation_ingest}
for s in $(seq "$from" "$to"); do
  for w in $workloads; do
    if [ $((s % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
    for side in $order; do
      dir=$parent; [ "$side" = change ] && dir=$change
      line=$(cd "$dir" && python3 perfbench/run.py --workload "$w" --seed "$s" --seconds 6 --trace 0 2>/dev/null | tail -1)
      echo "{\"side\":\"$side\",\"workload\":\"$w\",\"seed\":$s,\"result\":${line:-null}}" >> "$out"
    done
  done
done
