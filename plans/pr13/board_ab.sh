#!/bin/bash
# Same-window driver-board A/B over one SPARK_GRAFT_ONLY subset:
# alternating parent/change graft.Bench runs, one stdout JSON line per
# run.
#   plans/pr13/board_ab.sh PARENT_CHECKOUT CHANGE_CHECKOUT SF_DIR ROUNDS ONLY OUT.jsonl
# ONLY is the comma-separated row list. Odd rounds run the change first.
# Each run's BENCH_DETAIL goes to a temporary file, so neither
# checkout's BENCH_DETAIL.json is rewritten. Both checkouts share the
# default index store, so the first run over a corpus also builds its
# store entries. Never run it beside another sbt or Spark job.
parent=$1; change=$2; sf=$3; rounds=$4; only=$5; out=$6
detail=$(mktemp)
for r in $(seq 1 "$rounds"); do
  if [ $((r % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$parent; [ "$side" = change ] && dir=$change
    line=$(cd "$dir" && SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_ONLY="$only" \
      SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-5}" SPARK_GRAFT_BOARD_RETRIES=0 \
      SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-6g}" \
      SPARK_GRAFT_DETAIL="$detail" \
      sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric":"total"' | tail -1)
    echo "{\"side\":\"$side\",\"round\":$r,\"result\":${line:-null}}" >> "$out"
  done
done
rm -f "$detail"
