#!/usr/bin/env bash
# The COMPLETE per-round guard battery in one command (round-16 verdict
# task 4): everything the round's standing adjudications say must run each
# round, so nothing depends on remembering it.
#
#   1. scripts/judge.sh        — Verify gate -> DuckDB oracle -> sbt test
#                                (the driver's correctness loop, replicated)
#   2. scripts/clone_probe.sh  — the clone-regime dedup mass guard (r14
#                                repartition-before-distinct fix + banded
#                                lanes' partial-agg health; masses must
#                                reproduce round over round TO THE DIGIT)
#   3. q21 isolation probe     — cross-round DECADE comparisons use
#                                isolated probes, never in-battery numbers
#                                (r16 adjudication: single-battery rows
#                                carry a ~1.5x position/cache term). Runs
#                                only when the canonical sf100 corpus is
#                                already present WITH its provenance
#                                marker; generating 100+ GB is a deliberate
#                                act, not a side effect of a guard script.
#                                Each jsonl row carries a CACHE-STATE
#                                WITNESS (round-17 verdict task 4): a timed
#                                re-read of one lineitem part file +
#                                /proc/meminfo Cached, recorded BEFORE the
#                                run, so band assignment (near-cold ~100-120s
#                                vs page-cache-warm ~56-61s) is mechanical,
#                                not narrative. A run with a non-empty
#                                "failed" list ABORTS the battery (round-17
#                                advice: Bench catches per-query throws and
#                                exits 0, so an instant-throw q21 would
#                                otherwise append a bogus ~0.1s row).
#   4. scripts/check_docs.py   — SCALING.md's canonical quoted number must
#                                match BENCH.json (round-17 verdict task 2:
#                                third consecutive round a doc/artifact
#                                number drifted).
#
# Usage: scripts/round_guards.sh [roundTag]       e.g. scripts/round_guards.sh r18
# Artifacts (comparable across rounds, keyed by tag):
#   bench/<tag>_clone_probe{,_control}.json
#   bench/<tag>_q21_sf100_iso.jsonl                (3 isolated runs, if sf100 present)
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND=${1:-adhoc}
SCALE=${SPARK_GRAFT_SCALE_DIR:-target/scale}

echo "== round_guards 1/4: judge replica (Verify -> oracle -> sbt test)"
scripts/judge.sh

echo "== round_guards 2/4: clone-regime dedup probe"
scripts/clone_probe.sh "$ROUND"

echo "== round_guards 3/4: q21 sf100 isolation probe"
if [ -f "$SCALE/sf100/_GRAFT_SCALEGEN.json" ]; then
  # APPEND, never truncate: each line carries commit + code_fp, and a
  # same-tag re-run (e.g. a final-tree battery after a late edit) must
  # accumulate bands, not erase the earlier ones (the r17 q21 two-band
  # observation only survived because git had the morning rows)
  ISO="bench/${ROUND}_q21_sf100_iso.jsonl"
  for i in 1 2 3; do
    OUT="/tmp/graft_q21_iso_$i.json"
    # cache-state witness FIRST: time a sequential re-read of one known
    # lineitem part file and snapshot /proc/meminfo Cached. Page-cache-warm
    # reads run at multiple GB/s; a near-cold corpus reads at disk speed —
    # the two q21 bands separate on witness_read_mbps.
    WFILE=$(find "$SCALE/sf100/lineitem.parquet" -name '*.parquet' -type f | sort | head -1)
    WITNESS=$(python3 - "$WFILE" <<'PY'
import json, sys, time
p = sys.argv[1]
t0 = time.time(); n = 0
with open(p, "rb") as f:
    while True:
        b = f.read(1 << 22)
        if not b:
            break
        n += len(b)
dt = time.time() - t0
cached_kb = 0
with open("/proc/meminfo") as f:
    for line in f:
        if line.startswith("Cached:"):
            cached_kb = int(line.split()[1]); break
print(json.dumps({"file": p, "bytes": n, "read_s": round(dt, 4),
                  "read_mbps": round(n / 1e6 / max(dt, 1e-9), 1),
                  "meminfo_cached_kb": cached_kb}, separators=(",", ":")))
PY
)
    SPARK_GRAFT_SF_DIR="$SCALE/sf100" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
    SPARK_GRAFT_SHUFFLE_PARTITIONS=256 SPARK_GRAFT_ONLY=q21_waiting_suppliers \
    SPARK_GRAFT_BENCH_OUT="$OUT" \
      scripts/run_main.sh graft.Bench >/dev/null
    # merge witness into the record; ABORT on any failed query (set -e):
    # an appended row must be a real q21 wall, never an instant throw
    python3 - "$OUT" "$WITNESS" >> "$ISO" <<'PY'
import json, sys
rec = json.load(open(sys.argv[1]))
if rec.get("failed"):
    sys.stderr.write(f"[round_guards] q21 iso run FAILED queries {rec['failed']}"
                     " — refusing to append a bogus instant-throw row\n")
    sys.exit(1)
rec["witness"] = json.loads(sys.argv[2])
print(json.dumps(rec, separators=(",", ":")))
PY
  done
  echo "[round_guards] q21 isolated runs -> $ISO (q21 wall + witness read MB/s):"
  grep -o '"q21_waiting_suppliers":[0-9.]*\|"read_mbps":[0-9.]*' "$ISO"
else
  echo "[round_guards] SKIP: no canonical sf100 corpus at $SCALE/sf100" \
       "(marker absent) — generate it first (canonical x100 -> x10 chain):" \
       "scripts/run_main.sh graft.ScaleGen /root/testdata/sf0.1 $SCALE/sf10 100 &&" \
       "scripts/run_main.sh graft.ScaleGen $SCALE/sf10 $SCALE/sf100 10"
fi

echo "== round_guards 4/4: doc-vs-artifact drift check"
python3 scripts/check_docs.py

echo "== round_guards: ALL GREEN"
