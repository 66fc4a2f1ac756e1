#!/usr/bin/env python3
"""Product-pipeline benchmark: `graft.AudioToDataset` over generated audio trees.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The first run builds the program from
`src/main` with the Scala compiler that ships with Spark (cached under
`.bench_build/`), generates the seeded corpus (cached per seed), then:

  --trace 0  measures the end-to-end metrics.  A fresh JVM gives
             `setup_s` (launch to a ready SparkSession) and `cold_run_s`
             (its first `AudioToDataset.run`), then times warm runs for S
             seconds after untimed warm-up runs (`wall_s`, `cpu_s`).  One
             more JVM is launched only to time its set-up; `setup_s` is
             the median of the two.
  --trace 1  one JVM with the span agent, a listener, a counting `file:`
             FileSystem and the JMX/codegen readers gives the per-layer
             metrics; traced and untraced warm runs alternate, and their
             median difference is reported as the tracing overhead.

Every run's shards are checked against the corpus manifest outside the timed
span; a run that throws or fails the check counts as failed.  The last
stdout line is the result JSON.  See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import corpus  # noqa: E402
import verify  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
WARMUP_RUNS = 7       # untimed warm runs before timing (see README, warm-up table)
SETUP_SAMPLES = 2     # fresh processes timed to a ready session; the first also runs
MIN_TIMED = 4         # timed warm runs even if --seconds is already spent
DEADLINE_S = 165      # a run must end within 180 s; stop timing before this

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def spark_jars():
    """The jar directory the program's build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) if os.path.exists(sbt) else None
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    raise BenchError("no Spark jars found (build.sbt unmanagedBase or SPARK_HOME)")


def duckdb_jar():
    """Newest cached DuckDB JDBC jar, picked the way build.sbt picks it."""
    jars = glob.glob(os.path.expanduser("~/.cache/coursier/**/duckdb_jdbc-*.jar"), recursive=True)
    ver = lambda p: tuple(int(x) for x in re.findall(r"\d+", os.path.basename(p))[:3])
    return sorted(jars, key=ver)[-1:] if jars else []


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                 + glob.glob(os.path.join(ROOT, "src/main/java/**/*.java"), recursive=True))
    if not src:
        raise BenchError("no program sources under src/main")
    return src


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir()}",
           "-cp", ":".join(jars), "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", ":".join(classpath)] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-3000:])


def build():
    """Compile the program and the harness once per source fingerprint."""
    jars = spark_jars()
    prog = sources()
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    fp = fingerprint(prog + glob.glob(os.path.join(ROOT, "build.sbt")))
    hfp = fingerprint(harness)
    dest = os.path.join(BUILD, "build", f"{fp}-{hfp}")
    if not os.path.exists(os.path.join(dest, "ok")):
        shutil.rmtree(dest, ignore_errors=True)
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        scalac(jars, jars, os.path.join(tmp, "classes"), prog)
        res = os.path.join(ROOT, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(tmp, "classes"), dirs_exist_ok=True)
        scalac(jars, jars + [os.path.join(tmp, "classes")], os.path.join(tmp, "harness"), harness)
        with zipfile.ZipFile(os.path.join(tmp, "agent.jar"), "w") as z:
            z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\nPremain-Class: perfbench.SpanAgent\n")
        open(os.path.join(tmp, "ok"), "w").write(f"{time.time() - t:.1f}\n")
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
        log(f"built program {fp} and harness {hfp} in {time.time() - t:.1f} s")
    classpath = [os.path.join(dest, "classes"), os.path.join(dest, "harness")] + jars + duckdb_jar()
    return fp, classpath, os.path.join(dest, "agent.jar")


def tmp_dir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


# ------------------------------------------------------------- process --

class Pipeline:
    """One harness JVM; `setup_s` is launch to its `ready` line."""

    def __init__(self, classpath, manifest, trace=False, agent=None):
        shape = manifest["shape"]
        flags = ["--input", manifest["tree"], "--format", shape["format"],
                 "--files-per-db", str(shape["files_per_db"]),
                 "--max-depth-size", str(shape["max_depth"]),
                 "--num-threads", str(CORES), "--local-dir", tmp_dir(),
                 "--trace", "1" if trace else "0"]
        if manifest["sidecar"]:
            flags += ["--metadata-file", manifest["sidecar"]]
        if shape["check_mime"]:
            flags.append("--check-mime-type")
        jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={tmp_dir()}"] + ADD_OPENS
        if trace:
            jvm.append(f"-javaagent:{agent}")
        self.log_path = os.path.join(BUILD, "logs", f"jvm-{os.getpid()}-{time.time_ns()}.log")
        os.makedirs(os.path.dirname(self.log_path), exist_ok=True)
        self.err = open(self.log_path, "w")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(jvm + ["-cp", ":".join(classpath), "perfbench.Harness"] + flags,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, bufsize=1, cwd=tmp_dir())
        try:
            self.ready = self._read()
        except BaseException:
            self.close(keep_log=True)
            raise
        self.setup_s = time.perf_counter() - t0

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise BenchError(f"pipeline process exited; see {self.log_path}:\n" + self.tail())
            if line.startswith("{"):
                ev = json.loads(line)
                if ev.get("event") == "error":
                    raise BenchError(ev["error"])
                return ev

    def tail(self):
        self.err.flush()
        return "".join(open(self.log_path).readlines()[-20:])

    def run(self, out_dir, traced=False):
        self.proc.stdin.write(f"run\t{1 if traced else 0}\t{out_dir}\n")
        self.proc.stdin.flush()
        return self._read()

    def spans(self, path):
        self.proc.stdin.write(f"spans\t{path}\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self, keep_log=False):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
        except Exception:
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.err.close()
            if not keep_log:
                os.remove(self.log_path)


# ------------------------------------------------------------ measuring --

class Tally:
    """Counts pipeline runs and failed ones (a throw or a failed check)."""

    def __init__(self, manifest):
        self.manifest = manifest
        self.attempted = self.failed = 0
        self.stats = None
        self.out_dir = os.path.join(BUILD, "work", "out")

    def run(self, pipe, traced=False):
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)
        self.attempted += 1
        ev = pipe.run(self.out_dir, traced)
        errors = [ev["error"]] if ev["error"] else []
        if not errors:
            errors, self.stats = verify.verify(self.manifest, self.out_dir, self.manifest["shape"]["format"])
        if errors:
            self.failed += 1
            log(f"run {self.attempted} FAILED: {'; '.join(errors)[:2000]}")
        return ev


def spread(xs):
    """Median, the highest percentile with >= 10 samples beyond it (when one
    exists at or above the median), and the sample count."""
    xs = sorted(xs)
    out = {"median": statistics.median(xs), "n": len(xs)}
    k = len(xs) - 10
    if k >= 1 and k / len(xs) >= 0.5:
        out[f"p{int(100 * k / len(xs))}"] = xs[k - 1]
    return out


def measure(classpath, manifest, seconds, start):
    tally = Tally(manifest)
    pipe = Pipeline(classpath, manifest)
    try:
        cold = tally.run(pipe)["wall_s"]
        for _ in range(WARMUP_RUNS):
            tally.run(pipe)
        warm = []
        t0 = time.perf_counter()
        while (len(warm) < MIN_TIMED or time.perf_counter() - t0 < seconds) \
                and time.perf_counter() - start < DEADLINE_S:
            warm.append(tally.run(pipe))
    finally:
        pipe.close()
    setups = [pipe.setup_s]
    while len(setups) < SETUP_SAMPLES and time.perf_counter() - start < DEADLINE_S - 15:
        # after the runs, so the corpus writes are long settled
        extra = Pipeline(classpath, manifest)
        extra.close()
        setups.append(extra.setup_s)
    wall = statistics.median(e["wall_s"] for e in warm)
    rows, mb = len(manifest["rows"]), manifest["input_bytes"] / 1e6
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_run_s": (cold, "s"),
        "wall_s": (wall, "s"),
        "files_per_s": (rows / wall, "files/s"),
        "mb_per_s": (mb / wall, "MB/s"),
        "cpu_s": (statistics.median(e["cpu_s"] for e in warm), "s"),
        "output_mb": (tally.stats["output_bytes"] / 1e6 if tally.stats else 0.0, "MB"),
    }
    detail = {"setup_s": spread(setups), "wall_s": spread([e["wall_s"] for e in warm]),
              "cpu_s": spread([e["cpu_s"] for e in warm]), "warm_jit_s": [e["jit_s"] for e in warm]}
    return tally, metrics, detail


def measure_traced(classpath, agent, manifest, seconds, start, spans_path):
    tally = Tally(manifest)
    pipe = Pipeline(classpath, manifest, trace=True, agent=agent)
    try:
        cold = tally.run(pipe, traced=True)
        for _ in range(WARMUP_RUNS):
            tally.run(pipe)
        traced, plain = [], []
        t0 = time.perf_counter()
        while (min(len(traced), len(plain)) < 3 or time.perf_counter() - t0 < seconds) \
                and time.perf_counter() - start < DEADLINE_S:
            (traced if len(traced) <= len(plain) else plain).append(
                tally.run(pipe, traced=len(traced) <= len(plain)))
        pipe.spans(spans_path)
    finally:
        pipe.close()
    stats = tally.stats or {"rows": 0, "shards": 0, "zero_rows": 0, "defaulted": 0}
    levels = [r["level"] for r in manifest["rows"]]

    def med(key, scale=1.0):
        return statistics.median(e["trace"].get(key, 0.0) for e in traced) * scale

    wall = statistics.median(e["wall_s"] for e in traced)
    task_s = med("run.task_s")
    m = {
        "session.start_s": (pipe.ready["session_s"], "s"),
        "jvm.jit_cold_s": (cold["jit_s"], "s"),
        "jvm.jit_warm_s": (statistics.median(e["jit_s"] for e in traced + plain), "s"),
        "jvm.gc_s": (statistics.median(e["gc_s"] for e in traced + plain), "s"),
        "jvm.classes_loaded": (cold["classes"], "count"),
        "codegen.compiles": (cold["trace"].get("codegen.compiles", 0), "count"),
        "codegen.compile_ms": (cold["trace"].get("codegen.compile_ms", 0), "ms"),
        "codegen.source_kb": (cold["trace"].get("codegen.source_bytes", 0) / 1e3, "KB"),
        "metadata.infer_s": (med("metadata.infer.ns", 1e-9), "s"),
        "metadata.load_s": (med("metadata.load.ns", 1e-9), "s"),
        "metadata.sidecar_opens": (med("metadata.sidecar.opens"), "count"),
        "metadata.sidecar_bytes_read": (med("metadata.sidecar.bytes"), "bytes"),
        "metadata.join_s": (med("metadata.join.ns", 1e-9), "s"),
        "metadata.level1_hits": (levels.count(1), "count"),
        "metadata.level2_hits": (levels.count(2), "count"),
        "metadata.level3_hits": (levels.count(3), "count"),
        "metadata.defaulted": (stats["defaulted"], "count"),
        "audioscan.list_s": (med("audioscan.list_ns", 1e-9), "s"),
        "audioscan.read_s": (med("audioscan.content.read_ns", 1e-9), "s"),
        "audioscan.listings": (med("audioscan.listings"), "count"),
        "audioscan.files_listed": (med("audioscan.files_listed"), "count"),
        "audioscan.files_kept": (stats["rows"], "count"),
        "audioscan.content_opens": (med("audioscan.content.opens"), "count"),
        "audioscan.bytes_read": (med("audioscan.content.bytes"), "bytes"),
        "wav.parse_ms": (med("wav.parse.ns", 1e-6), "ms"),
        "wav.zero_rows": (stats["zero_rows"], "count"),
        "sharding.rank_s": (med("sharding.rank.ns", 1e-9), "s"),
        "sharding.jobs": (med("sharding.jobs"), "count"),
        "sinks.write_s": (med("sinks.write.ns", 1e-9), "s"),
        "sinks.bytes_written": (med("sinks.fs_bytes_written"), "bytes"),
        "sinks.shards": (stats["shards"], "count"),
        "sinks.task_s": (med("sinks.task_s"), "s"),
        "sinks.max_task_s": (med("sinks.max_task_s"), "s"),
        "run.jobs": (med("run.jobs"), "count"),
        "run.stages": (med("run.stages"), "count"),
        "run.tasks": (med("run.tasks"), "count"),
        "run.task_s": (task_s, "s"),
        "run.executor_cpu_s": (med("run.executor_cpu_s"), "s"),
        "run.input_mb": (med("run.input_bytes", 1e-6), "MB"),
        "run.shuffle_read_mb": (med("run.shuffle_read_bytes", 1e-6), "MB"),
        "run.shuffle_write_mb": (med("run.shuffle_write_bytes", 1e-6), "MB"),
        "run.spill_mb": (med("run.spill_bytes", 1e-6), "MB"),
        "run.floor_s": (wall - task_s / CORES, "s"),
        "run.busy_ratio": (task_s / (wall * CORES), "ratio"),
        "trace.overhead_s": (wall - statistics.median(e["wall_s"] for e in plain), "s"),
    }
    detail = {"raw": {k: med(k) for k in sorted(set().union(*(e["trace"] for e in traced)))},
              "traced_wall_s": spread([e["wall_s"] for e in traced]),
              "untraced_wall_s": spread([e["wall_s"] for e in plain]), "spans": spans_path}
    return tally, m, detail


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, to record how much CPU
    the hypervisor took from this box during a run."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


def versions(classpath):
    r = subprocess.run(["java", "-XshowSettings:properties", "-version"], capture_output=True, text=True)
    jdk = re.search(r"java\.runtime\.version = (\S+)", r.stderr)
    spark = [os.path.basename(p) for p in classpath if re.match(r"spark-core_.*\.jar", os.path.basename(p))]
    return (jdk.group(1) if jdk else "unknown",
            re.sub(r"^spark-core_[\d.]+-|\.jar$", "", spark[0]) if spark else "unknown")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(corpus.SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.perf_counter()
    steal0, total0 = cpu_ticks()
    try:
        fp, classpath, agent = build()
        manifest = corpus.load_or_generate(os.path.join(BUILD, "corpus"), a.workload, a.seed)
        records = os.path.join(BUILD, "records")
        os.makedirs(records, exist_ok=True)
        if a.trace:
            spans = os.path.join(records, f"spans-{a.workload}-{a.seed}-{time.time_ns()}.jsonl")
            tally, metrics, detail = measure_traced(classpath, agent, manifest, a.seconds, start, spans)
        else:
            tally, metrics, detail = measure(classpath, manifest, a.seconds, start)
    except BenchError as e:
        log(f"benchmark error: {e}")
        return 2
    steal1, total1 = cpu_ticks()
    jdk, spark = versions(classpath)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
              "cpus": CORES, "heap": HEAP, "jdk": jdk, "spark": spark, "code_fp": fp,
              "files": len(manifest["rows"]), "input_mb": manifest["input_bytes"] / 1e6,
              "dropped": manifest["dropped"],
              "attempted": tally.attempted, "failed": tally.failed,
              "metrics": {k: v[0] for k, v in metrics.items()}, "detail": detail,
              "steal_share": (steal1 - steal0) / max(1, total1 - total0),
              "elapsed_s": time.perf_counter() - start}
    with open(os.path.join(records, f"{a.workload}.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
