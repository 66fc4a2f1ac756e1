package graft

object Bench {
  /** Median of a non-empty sequence (even length → mean of the middle two). */
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Newest mtime under `root` (skipping any dir named target), 0 if absent. */
  private def newestMtime(root: java.io.File): Long =
    if (root.isDirectory) {
      if (root.getName == "target") 0L
      else Option(root.listFiles()).toSeq.flatten.map(newestMtime)
        .foldLeft(0L)(math.max)
    } else if (root.isFile) root.lastModified
    else 0L

  /** The fingerprint build.sbt recorded at compile time (the tree the
    * classes on the classpath were actually built from), None before the
    * first compile under the r17 build definition. */
  private[graft] def recordedSrcFp(): Option[String] = {
    val f = new java.io.File("target/scala-2.13/graft-src.fp")
    if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    else None
  }

  /** EXACT staleness (round-16 verdict task 3): the classes are stale iff
    * the compile-time-recorded source hash differs from `current` (the
    * same hash recomputed now). Content-based, so `touch` and
    * edit-then-revert no longer evict clean runs from their median series
    * — only a REAL source difference marks "-stale". A missing record
    * (tree compiled before the build task existed) falls back to the old
    * mtime heuristic rather than silently reporting clean. */
  private[graft] def staleAgainst(recorded: Option[String], current: String): Boolean =
    recorded match {
      case Some(fp) => fp != current
      case None => mtimeStale()
    }

  /** Pre-r17 fallback only: sources NEWER than the compiled classes
    * (scripts/run_main.sh executes target/scala-2.13/classes with no
    * compile step). Absent classes dir → not adjudicable → false. */
  private def mtimeStale(): Boolean = {
    val classes = new java.io.File("target/scala-2.13/classes")
    val newestClass = newestMtime(classes)
    newestClass > 0L && Seq("src/main", "build.sbt", "project")
      .map(p => newestMtime(new java.io.File(p))).max > newestClass
  }

  private def classesStale(current: String): Boolean =
    staleAgainst(recordedSrcFp(), current)

  /** True iff a runs.jsonl row belongs to the CURRENT median series: same
    * sf dir, same round, same code fingerprint AND same core count. The
    * cpus key is round-19 (r18 verdict task 2): the driver's 8-core
    * scaling probe appended under the same fingerprint and round as the
    * 32-core canonical series, so an off-width run could blend into the
    * median. Rows with no cpus field (pre-r19) never match. */
  private[graft] def historyRowMatches(node: com.fasterxml.jackson.databind.JsonNode,
      sfDir: String, round: Int, codeFp: String, cpus: Int): Boolean =
    Option(node.get("sf")).exists(_.asText() == sfDir) &&
      Option(node.get("round")).exists(_.asInt() == round) &&
      Option(node.get("code_fp")).exists(_.asText() == codeFp) &&
      Option(node.get("cpus")).exists(_.asInt() == cpus)

  /** Whether this run may overwrite the driver-facing artifacts
    * (BENCH.json, bench/rNN_per_query.json). A run at FEWER cores than the
    * record they carry is a scaling side probe (the driver's 8-core pass),
    * not the canonical series — in round 18 that probe clobbered
    * BENCH.json with a cpus-8 line and flipped the check_docs.py drift
    * check to failing for the whole next round. A record with no cpus
    * field (pre-r19) is superseded by anything; an unparseable record
    * never blocks (the write would repair it). */
  private[graft] def maySupersede(existingLine: Option[String], cpus: Int): Boolean =
    existingLine.forall { line =>
      try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
        Option(node.get("cpus")).forall(_.asInt() <= cpus)
      } catch { case _: Throwable => true }
    }

  def main(args: Array[String]): Unit = {
    // Fingerprint the code FIRST (round-16 advice): hashing at run END let a
    // mid-battery source edit stamp the record with code that never ran.
    // A second hash after the query loop detects exactly that edit.
    val codeFpStart = SrcFingerprint.of()
    val staleAtStart = classesStale(codeFpStart)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // numeric core count for the series key + artifact guard (non-numeric
    // local[...] specs — never used by the driver — key as -1)
    val cpusInt = scala.util.Try(cpus.trim.toInt).getOrElse(-1)
    // Spill-aware knob for big-SF side runs (driver leaves it unset →
    // partitions = cpus, the frozen contract): at sf100 a 600M-row join
    // at 32 partitions is ~19M rows/partition — sized past executor
    // memory, so the sort-merge spills; partitions must scale with data
    // (measured in SCALING.md round-11).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Generic conf passthrough for scale experiments (driver leaves it
    // unset → zero effect): "k=v;k=v". Used by the SCALING.md round-11
    // runtime-bloom-filter measurements.
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(";").filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); (kv.take(i).trim, kv.drop(i + 1).trim)
      }
    // The SHARED engine config ([[graft.core.GraftSession]]) — identical to
    // Verify's, so every adopted knob (RocksDB store, runtime bloom
    // thresholds, calibrated broadcast bounds) is gated by the same
    // correctness run that benches it. EXTRA_CONF can override any of it.
    val builder0 = graft.core.GraftSession.builder(cpus, shufflePartitions)
    // extraConf folds LAST so the passthrough can override EVERY built-in
    // config above (scale experiments own the semantics risk) — it used to
    // fold before the ui/timezone/nanos/warehouse group, which made those
    // four silently un-overridable.
    val spark = extraConf.foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Scale-statistics side-records are BENCH-ONLY (round-15 verdict
    // task 6): enabling here turns on the dedup lanes' candidate/survivor
    // side-aggregates and registers the observed-metrics listener for the
    // in-plan masses (fuzzy-link lane) — Verify and oracle runs never pay
    // any of it.
    graft.core.BenchStats.enable(spark)
    // Warmup: touch every table (footer read + full scan) so per-query
    // timings measure the query, not first-read I/O or codegen JIT.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (iteration aid; driver unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A failing query must be LOUD: r08's broken events queries each
    // "ran" in 0.1 s (the instant throw) and the record looked like a
    // 2× speedup. Failures keep their timing entry (the driver may key on
    // the full name set) but are named in the record and on stderr.
    val failedQ = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // label the query's jobs (guide §1.5): event logs / the UI attribute
      // every job, stage and task to its query by name — free at run time
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      // full materialization via the noop sink: count() lets Spark prune
      // unused projections, under-timing projection-heavy queries
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        failedQ += name
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop this query's persisted intermediates: several operators
      // persist() (LSH bands, inverted indexes) and the handles go out of
      // scope when the query returns — left cached, 150 queries' blocks
      // accumulate and later queries in the run pay eviction + GC (measured:
      // late-alphabet queries 2-3x slower in a full run than in isolation)
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(null)
      name -> dt
    }
    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    def dict(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    // paths are interpolated into JSON — escape them (a dir with a quote
    // or backslash must not produce an unparseable round record)
    def jstr(v: String): String =
      "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jarr(vs: Seq[String]): String = vs.map(jstr).mkString("[", ",", "]")
    def write(path: java.nio.file.Path, s: String): Unit = {
      Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(path, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // Git commit of the running code — RECORDED for traceability, but NOT
    // the run-series key (round-15 verdict task 1): round 14's mechanism
    // filtered the median to the current commit hash, and still shipped
    // `median_over: 1` because committing the bench ARTIFACTS between runs
    // (bench/runs.jsonl, BENCH.out — files the bench itself writes) moves
    // HEAD without touching code, fragmenting a code-identical series
    // across three hashes. The series key below is therefore a CONTENT
    // fingerprint of the code itself.
    val commit = {
      def sh(cmd: String*): Option[String] =
        try {
          val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          if (p.waitFor() == 0) Some(out) else None
        } catch { case _: Throwable => None }
      sh("git", "rev-parse", "--short=12", "HEAD").getOrElse("unknown")
    }
    // The run-series key: the [[SrcFingerprint]] of the tree, so two runs
    // blend into one median iff their trees are byte-identical. Guarded two
    // ways against recording a fingerprint of code that was NOT the code
    // running (the exact failure class the key exists to prevent):
    //   - "-stale": the source hash recorded at COMPILE time
    //     (target/scala-2.13/graft-src.fp, written by build.sbt) differs
    //     from the hash of the tree now, i.e. a real edit without a
    //     recompile (scripts/run_main.sh runs the classes directly, no
    //     compile step). Content-exact: touch / edit-then-revert stay clean;
    //   - "-editedmidrun": the source tree changed between process start
    //     and the query loop's end (the running classes are whichever
    //     version sbt had loaded — neither hash describes them for sure).
    // Either marker moves the key, so a tainted run can never blend into a
    // clean series' median, and the taint is visible in the record.
    val codeFp = {
      val end = SrcFingerprint.of()
      if (end != codeFpStart) {
        System.err.println(s"[bench] WARNING: src/main changed mid-run " +
          s"($codeFpStart -> $end); record marked -editedmidrun")
        s"$end-editedmidrun"
      } else if (staleAtStart || classesStale(end)) {
        // ASCII-only: the forked JVM's stderr is not reliably UTF-8
        System.err.println("[bench] WARNING: source tree differs from the " +
          "one the compiled classes were built from -- the running code is " +
          "NOT this fingerprint; record marked -stale")
        s"$end-stale"
      } else end
    }

    // Round = last driver-written BENCH_r{N}.json + 1; constant across the
    // driver's n bench runs within one round (it writes BENCH_r{N} after).
    val round = {
      val cwd = new java.io.File(".")
      val ns = Option(cwd.listFiles()).toSeq.flatten.map(_.getName)
        .flatMap("""BENCH_r(\d+)\.json""".r.findFirstMatchIn(_))
        .map(_.group(1).toInt)
      (ns :+ 0).max + 1
    }

    // ---- run history → per-query MEDIANS -----------------------------------
    // The driver runs this main n times per round; a single run's timings on
    // a shared box drift 1.5-2x with sibling load (measured round 4→5:
    // untouched queries moved in lockstep). Each run appends its per-query
    // map to a history file keyed by (sf dir, round), and the emitted record
    // carries the median over the last ≤5 runs at the SAME sf in the SAME
    // round — the stable round-over-round signal, never blending timings of
    // different code. Skipped when SPARK_GRAFT_ONLY restricts the surface
    // (partial runs would poison the history).
    val histPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HIST", "bench/runs.jsonl"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val runLine = s"""{"sf":${jstr(sfDir)},"round":$round,"commit":${jstr(commit)},"code_fp":${jstr(codeFp)},"cpus":$cpusInt,"queries":${dict(results)}}"""
    if (only.isEmpty) {
      Option(histPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(histPath,
        (runLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    val history: Seq[Map[String, Double]] =
      (if (only.isEmpty && java.nio.file.Files.exists(histPath)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.readAllLines(histPath).asScala.toSeq
          .flatMap { line =>
            try {
              val node = mapper.readTree(line)
              // series filter ([[historyRowMatches]]): code fingerprint —
              // entries from OTHER CODE (earlier edits in the same round)
              // never enter the median, while artifact-only commits
              // between runs (the round-14 trap that fragmented six
              // same-code runs into `median_over: 1`) leave the key
              // unchanged — AND core count (the round-18 trap: the
              // driver's 8-core probe blending into the 32-core series).
              // Pre-r15 rows carry no code_fp, pre-r19 rows no cpus —
              // both excluded.
              if (historyRowMatches(node, sfDir, round, codeFp, cpusInt)) {
                val qs = node.get("queries")
                Some(qs.properties().asScala
                  .map(e => e.getKey -> e.getValue.asDouble()).toMap)
              } else None
            } catch { case _: Throwable => None }
          }
      } else Seq(results.toMap)).takeRight(5)
    val medians: Seq[(String, Double)] = results.map { case (name, cur) =>
      name -> median(history.flatMap(_.get(name)) match {
        case Seq() => Seq(cur); case xs => xs
      })
    }
    val medTotal = medians.map(_._2).sum
    val total = results.map(_._2).sum

    // ---- full record: BENCH.out + per-round archive ------------------------
    // Scale-statistics side-records (round-14 verdict task 5): the dedup
    // lanes report their corpus/candidate/survivor masses via BenchStats as
    // they run, so a testdata regeneration is adjudicated by diffing two
    // numbers across rounds instead of re-deriving candidate arithmetic.
    // Observed metrics are harvested ASYNCHRONOUSLY (ExecutionListenerBus on
    // the shared listener bus) — snapshot-after-last-query is a race that a
    // full 215-query run happens to cover but a single-query
    // SPARK_GRAFT_ONLY probe (the primary consumer of these records) does
    // not: the final action's masses can miss the record. Drain the bus
    // first (round-15 verdict task 2).
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    val statsJson = graft.core.BenchStats.snapshot.map { case (q, kvs) =>
      jstr(q) + ":" + kvs.map { case (k, v) => jstr(k) + ":" + v }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","commit":${jstr(commit)},"code_fp":${jstr(codeFp)},"cpus":$cpusInt,"queries":${dict(results)},""" +
      s""""median_total":$medTotal,"median_over":${history.size},""" +
      s""""medians":${dict(medians)},"stats":$statsJson,"failed":${jarr(failedQ.toSeq)},"sf":${jstr(sfDir)}}"""
    // The COMPLETE per-query record goes to a file: the driver captures only
    // the last ~2000 chars of the sbt log, and 150 query names alone exceed
    // that, so a full dict on stdout can never survive the tail window.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out")
    write(java.nio.file.Paths.get(outPath), full + "\n")
    // A custom SPARK_GRAFT_BENCH_OUT marks a side run (ScaleGen sf1/sf10
    // sweeps): those must NOT clobber the driver-facing round artifacts.
    // Neither may a LOWER-core-count run (the driver's scaling probe) —
    // see [[maySupersede]] — nor a SPARK_GRAFT_ONLY partial run (its
    // totals cover a subset of the surface).
    val driverRun = !sys.env.contains("SPARK_GRAFT_BENCH_OUT") && only.isEmpty && {
      val bj = java.nio.file.Paths.get("BENCH.json")
      val existing =
        if (java.nio.file.Files.exists(bj))
          Some(new String(java.nio.file.Files.readAllBytes(bj),
            java.nio.charset.StandardCharsets.UTF_8))
        else None
      val ok = maySupersede(existing, cpusInt)
      if (!ok)
        System.err.println(s"[bench] cpus=$cpusInt is below the canonical " +
          "record's core count -- side probe; BENCH.json and the per-round " +
          "archive left untouched")
      ok
    }
    // Archive the per-round per-query record — carrying the code-fp-keyed
    // MEDIANS, the same statistic the headline quotes (round-17 verdict
    // task 1: the pre-r18 file held final-RUN values, so its sum was
    // 141.5 s while BENCH_r17.json said 145.2 s, and cross-round per-query
    // regression claims diffed single-run ambient noise). Invariant:
    // sum(queries) == value == BENCH.json's value (to its ms rounding).
    // The final-run timings ride along under "last_run" for drill-down;
    // the full stats/history record is BENCH.out.
    val perQuery =
      s"""{"metric":"per_query_median","value":$medTotal,"unit":"sec","commit":${jstr(commit)},""" +
      s""""code_fp":${jstr(codeFp)},"cpus":$cpusInt,"median_over":${history.size},"queries":${dict(medians)},""" +
      s""""last_run":${dict(results)},"failed":${jarr(failedQ.toSeq)},"sf":${jstr(sfDir)}}"""
    if (driverRun)
      write(java.nio.file.Paths.get(f"bench/r$round%02d_per_query.json"), perQuery + "\n")

    // ---- stdout: ONE short line, LAST, nothing after it --------------------
    // The driver parses the tail of the sbt log (~2000 chars). Two historical
    // failure modes: (r1-r4) the line was longer than the window and lost its
    // opening brace; (r5) executor-shutdown WARNs landed after it. So: keep
    // the line well under the window (TPC-H medians only — the full map is in
    // the archive), silence logging, stop Spark, THEN print.
    val headline = medians.filter { case (n, _) => n.matches("^q\\d+_.*") }
      .map { case (n, v) => n -> ms(v) }
    // code_fp rides on the short line too: scripts/check_docs.py keys the
    // SCALING.md-vs-BENCH.json drift check on (fingerprint, value) pairs
    val line = s"""{"metric":"total","value":${ms(medTotal)},"unit":"sec"""" +
      s""","code_fp":${jstr(codeFp)},"cpus":$cpusInt,"queries":${dict(headline)},"median_over":${history.size}""" +
      s""","n_queries":${results.size},"n_failed":${failedQ.size},"full_record":${jstr(outPath)},"sf":${jstr(sfDir)}}"""
    // Belt and braces for the driver's tail parse: the same line also goes
    // to a FIXED file, immune to anything the log stream interleaves.
    if (driverRun)
      write(java.nio.file.Paths.get("BENCH.json"), line + "\n")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(line)
  }
}
