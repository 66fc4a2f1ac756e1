#!/usr/bin/env bash
# Alternating A/B per-query bench: check out nothing, just run the CURRENT
# tree's compiled classes N times on a query subset, recording each run's
# per-query seconds to a side history file. Used with two compiled trees by
# alternating invocations from the caller (compile A, run, compile B, run, ...)
# or — more commonly in-round — to collect N same-tree runs whose per-query
# medians are compared against another tree's N runs taken in the same
# session window.
#
# Usage: ab_bench.sh <tag> <comma-query-list> [runs=3] [sfdir=/root/testdata/sf0.1]
# Output: /tmp/ab_<tag>_run<i>.out (full record per run; queries dict inside)
set -euo pipefail
cd "$(dirname "$0")/.."
TAG="$1"; QUERIES="$2"; RUNS="${3:-3}"; SF="${4:-/root/testdata/sf0.1}"
for i in $(seq 1 "$RUNS"); do
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
  SPARK_GRAFT_ONLY="$QUERIES" \
  SPARK_GRAFT_BENCH_OUT="/tmp/ab_${TAG}_run${i}.out" \
  SPARK_GRAFT_BENCH_HIST="/tmp/ab_${TAG}_hist.jsonl" \
  sbt -batch "runMain graft.Bench" > "/tmp/ab_${TAG}_run${i}.log" 2>&1
  grep -o '"value":[0-9.]*' "/tmp/ab_${TAG}_run${i}.out" | head -1
done
