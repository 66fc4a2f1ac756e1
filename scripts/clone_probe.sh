#!/bin/bash
# Per-round clone-regime dedup probe (round-15 verdict task 5): a standing
# minutes-scale guard on the r14 repartition-before-distinct fix and the
# banded dedup lanes' partial-agg health where duplicate mass collapses
# keys. Runs the three adjudicated shapes (containment, minhash_cc,
# minhash_lsh) on two corpora:
#   - clone_sf10: driver sf0.01 -> direct x100 -> x10 chain = sf10-size with
#     10-way EXACT-clone classes (the canonical clone regime; ScaleGen's
#     provenance guard allows this chain — the base is a direct x100);
#   - sf10 control: driver sf0.1 -> direct x100 (no clone classes).
# Corpora are generated only when absent (ScaleGen's marker is the witness).
# Usage: scripts/clone_probe.sh [roundTag]   e.g. scripts/clone_probe.sh r16
# Output: bench/<roundTag>_clone_probe{,_control}.json — per-query seconds
# plus the lanes' candidate/survivor masses under "stats" (the in-plan
# observe records; the bus drain in Bench makes them deterministic even in
# these single-battery probe runs).
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:-adhoc}
SCALE=${SPARK_GRAFT_SCALE_DIR:-target/scale}
QUERIES=dedup_containment,dedup_minhash_cc,dedup_minhash_lsh

ensure() { # <dir> <src> <factor>
  local dir=$1 src=$2 factor=$3
  if [ ! -f "$dir/_GRAFT_SCALEGEN.json" ]; then
    echo "[clone_probe] generating $dir = $src x$factor"
    scripts/run_main.sh graft.ScaleGen "$src" "$dir" "$factor"
  fi
}
ensure "$SCALE/clone_sf1"  /root/testdata/sf0.01 100
ensure "$SCALE/clone_sf10" "$SCALE/clone_sf1" 10
ensure "$SCALE/sf10"       /root/testdata/sf0.1 100

probe() { # <sfDir> <outJson>
  echo "[clone_probe] probing $1 -> $2"
  SPARK_GRAFT_SF_DIR=$1 SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
  SPARK_GRAFT_SHUFFLE_PARTITIONS=256 \
  SPARK_GRAFT_ONLY=$QUERIES SPARK_GRAFT_BENCH_OUT=$2 \
    scripts/run_main.sh graft.Bench >/dev/null
  cat "$2"
}
probe "$SCALE/clone_sf10" "bench/${ROUND}_clone_probe.json"
probe "$SCALE/sf10"       "bench/${ROUND}_clone_probe_control.json"
