#!/usr/bin/env bash
# Local replica of the adjudication loop the judge runs each round:
#   full-surface graft.Verify  ->  scripts/check_oracle.py (DuckDB compare)
#   ->  sbt test
# One command reproduces any driver-vs-local correctness discrepancy.
#
# Usage: scripts/judge.sh [SF_DIR] [OUT_DIR]
#   SF_DIR  testdata dir (default /root/testdata/sf0.01 — the driver's gate)
#   OUT_DIR verify dump dir (default /tmp/graft_judge; DELETED first)
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="${2:-/tmp/graft_judge}"
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"

echo "== 1/3 graft.Verify $SF -> $OUT (local[$CPUS])"
rm -rf "$OUT"
SPARK_GRAFT_CPUS="$CPUS" sbt -batch "runMain graft.Verify $SF $OUT"

echo "== 2/3 DuckDB oracle compare"
python3 scripts/check_oracle.py "$OUT" "$SF"

echo "== 3/3 sbt test"
sbt -batch test

echo "== judge replica: ALL GREEN"
