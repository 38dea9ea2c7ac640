#!/usr/bin/env bash
# Fresh-JVM A/B of the join posture in graft.Session against the
# sort-merge posture, measured EXACTLY as graft.Bench measures (subset
# mode: cold JVM, fixture warm-up, median-of-3 per query). Each arm is its
# own JVM because a same-JVM interleaved A/B did not reproduce under this
# method; arms run interleaved A B A B A B to spread box drift evenly.
# Measured at sf0.1 over three rounds: A/B geomean 0.99-1.02, i.e. the
# posture is net-neutral here and kept for its cluster-scale reason (see
# graft.Session.local).
#   arm A: shipped posture (preferSortMergeJoin=false, AQE SHJ threshold 128m)
#   arm B: sort-merge posture (preferSortMergeJoin=true, AQE SHJ threshold 0)
set -u
cd "$(dirname "$0")/.."
QUERIES="t7_hash_throughput q24_window_suite q25_correlated q26_waiting_orders \
q31_min_cost_supp q32_qualified_suppliers q33_important_parts q40_local_volume \
q43_late_orders ev_cooccurrence q29_nation_volume q45_returned_items \
ds_snapshot_diff ds_drift sim_drift ev_rollup_distinct_theta dd_cluster sim_semdedup"
export SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
OUT=${1:-/tmp/ab_posture}
mkdir -p "$OUT"
for round in 1 2 3; do
  for arm in A B; do
    if [ "$arm" = A ]; then
      export SPARK_GRAFT_PREFER_SMJ=false SPARK_GRAFT_AQE_SHJ_THRESHOLD=128m
    else
      export SPARK_GRAFT_PREFER_SMJ=true SPARK_GRAFT_AQE_SHJ_THRESHOLD=0
    fi
    echo "=== round $round arm $arm ($(date +%T)) ==="
    sbt -batch "runMain graft.Bench $QUERIES" \
      > "$OUT/r${round}_${arm}.log" 2>&1
    grep -h '^{"metric"' "$OUT/r${round}_${arm}.log" | tail -1 \
      > "$OUT/r${round}_${arm}.json"
  done
done
echo done
