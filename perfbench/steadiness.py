#!/usr/bin/env python3
"""Steadiness evidence for the benchmark (tables in perfbench/README.md).

    python3 perfbench/steadiness.py spread --workload W --seeds 10 --first-seed 100 --seconds 8
        Runs the benchmark once per seed and prints, for each end-to-end
        metric, the median, the quartiles and the quartile distance as a
        share of the median (`statistics.quantiles(values, n=4)`).

    python3 perfbench/steadiness.py warmup --workload W --seed 1 --runs 25
        One pipeline process, `--runs` consecutive runs: per-run wall, CPU,
        JIT and GC time, which is what fixes the untimed warm-up count.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import run  # noqa: E402


def spread(a):
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.seeds):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True, cwd=run.ROOT)
        res = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
        if not res or not res["correct"]:
            print(f"seed {seed}: rc={r.returncode} {r.stderr[-500:]}")
            continue
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n| metric | median | q1 | q3 | (q3-q1)/median | runs |\n|---|---|---|---|---|---|")
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.1%} | {len(xs)} |")


def warmup(a):
    _, classpath, _ = run.build()
    manifest = corpus.load_or_generate(os.path.join(run.BUILD, "corpus"), a.workload, a.seed)
    tally = run.Tally(manifest)
    pipe = run.Pipeline(classpath, manifest)
    print(f"setup {pipe.setup_s:.2f} s\n\n| run | wall s | cpu s | jit s | gc s |\n|---|---|---|---|---|")
    try:
        for i in range(a.runs):
            e = tally.run(pipe)
            print(f"| {i} | {e['wall_s']:.3f} | {e['cpu_s']:.2f} | {e['jit_s']:.2f} | {e['gc_s']:.3f} |",
                  flush=True)
    finally:
        pipe.close()
    print(f"\nfailed {tally.failed} of {tally.attempted}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True, choices=sorted(corpus.SHAPES))
    s.add_argument("--seeds", type=int, default=10)
    s.add_argument("--first-seed", type=int, default=100)
    s.add_argument("--seconds", type=int, default=7)
    w = sub.add_parser("warmup")
    w.add_argument("--workload", required=True, choices=sorted(corpus.SHAPES))
    w.add_argument("--seed", type=int, default=1)
    w.add_argument("--runs", type=int, default=25)
    a = ap.parse_args()
    spread(a) if a.cmd == "spread" else warmup(a)


if __name__ == "__main__":
    main()
