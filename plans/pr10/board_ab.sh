#!/bin/bash
# Same-window driver-board A/B of the collapse-family rows: alternating
# parent/change graft.Bench runs over one SPARK_GRAFT_ONLY subset, one
# stdout JSON line per run.
#   plans/pr10/board_ab.sh PARENT_CHECKOUT CHANGE_CHECKOUT SF_DIR ROUNDS OUT.jsonl
# Odd rounds run the change first. Never run it beside another sbt or
# Spark job.
parent=$1; change=$2; sf=$3; rounds=$4; out=$5
only=minhash_lsh_pairs,neardup_clusters,minhash_incremental_pairs,minhash_incremental_prebuilt,simhash_pairs,embedding_neardup_pairs,semantic_dedup,embedding_incremental_pairs,embedding_incremental_prebuilt,j4_cartesian
for r in $(seq 1 "$rounds"); do
  if [ $((r % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
  for side in $order; do
    dir=$parent; [ "$side" = change ] && dir=$change
    line=$(cd "$dir" && SPARK_GRAFT_SF_DIR="$sf" SPARK_GRAFT_ONLY="$only" \
      SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-5}" SPARK_GRAFT_BOARD_RETRIES=0 \
      SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-6g}" \
      sbt -batch "runMain graft.Bench" 2>/dev/null | grep '"metric":"total"' | tail -1)
    echo "{\"side\":\"$side\",\"round\":$r,\"result\":${line:-null}}" >> "$out"
  done
done
