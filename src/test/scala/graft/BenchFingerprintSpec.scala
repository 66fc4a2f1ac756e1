package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the EXACT staleness contract of the bench run-series key (round-16
  * verdict task 3): "-stale" is driven by comparing the source hash
  * build.sbt recorded at compile time (target/scala-2.13/graft-src.fp)
  * against the same hash recomputed at run time — content, never mtimes.
  * So `touch` and edit-then-revert keep a run clean, while any real source
  * difference (compile-time record ≠ current tree) marks it.
  */
class BenchFingerprintSpec extends AnyFunSuite {

  test("build.sbt's compile-time record matches Bench's run-time hash (same function, byte-identical trees)") {
    val recorded = Bench.recordedSrcFp()
    assert(recorded.nonEmpty,
      "target/scala-2.13/graft-src.fp must exist after a compile under the r17 build definition")
    // this test RUNS from the classes that compile produced, so the
    // recorded hash must equal the recomputed one — this is the equality
    // the whole mechanism rests on (build.sbt and Bench both call
    // SrcFingerprint.of, the meta-build compiling the same file)
    assert(recorded.contains(SrcFingerprint.of()),
      s"recorded=$recorded recomputed=${SrcFingerprint.of()} — " +
        "the source tree changed since the compile, or build.sbt no longer " +
        "records SrcFingerprint.of")
  }

  test("touch-without-change stays clean: staleness ignores mtimes when a record exists") {
    // bump the mtime of a real source file — the pre-r17 heuristic
    // (sources newer than classes) would have marked the run -stale
    val src = new java.io.File("src/main/scala/graft/Bench.scala")
    assert(src.isFile)
    assert(src.setLastModified(System.currentTimeMillis()))
    val fp = SrcFingerprint.of()
    assert(!Bench.staleAgainst(Bench.recordedSrcFp(), fp),
      "mtime churn must not evict a content-identical run from its median series")
  }

  test("a real source difference marks stale; an identical tree does not") {
    val fp = SrcFingerprint.of()
    assert(!Bench.staleAgainst(Some(fp), fp))
    // the recorded hash describing ANY other tree content => stale
    assert(Bench.staleAgainst(Some("0123456789abcdef"), fp),
      "a compile-time record differing from the current tree means the " +
        "running classes are not this fingerprint — must mark -stale")
  }

  // ---- round-19: the median series and driver artifacts are keyed by core
  // count (r18 verdict task 2 — the driver's 8-core scaling probe blended
  // into, and clobbered, the 32-core canonical records) ---------------------

  private def node(json: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)

  test("history rows from another core count (or with no cpus field) never enter the median") {
    val base = """"sf":"/d","round":19,"code_fp":"abc","queries":{}"""
    assert(Bench.historyRowMatches(
      node(s"""{$base,"cpus":32}"""), "/d", 19, "abc", 32))
    assert(!Bench.historyRowMatches(
      node(s"""{$base,"cpus":8}"""), "/d", 19, "abc", 32),
      "an 8-core scaling-probe row must not blend into the 32-core series")
    assert(!Bench.historyRowMatches(node(s"{$base}"), "/d", 19, "abc", 32),
      "pre-r19 rows carry no cpus field and must be excluded")
    // the other key components still gate
    assert(!Bench.historyRowMatches(
      node(s"""{$base,"cpus":32}"""), "/d", 18, "abc", 32))
    assert(!Bench.historyRowMatches(
      node(s"""{$base,"cpus":32}"""), "/d", 19, "other", 32))
  }

  test("a lower-core-count run leaves BENCH.json untouched; equal/higher supersedes") {
    val rec32 = Some("""{"metric":"total","value":227.6,"cpus":32}""")
    assert(!Bench.maySupersede(rec32, 8),
      "the 8-core probe must not clobber the 32-core canonical record")
    assert(Bench.maySupersede(rec32, 32))
    assert(Bench.maySupersede(rec32, 64))
    // pre-r19 records (no cpus) and a missing file are superseded by anything
    assert(Bench.maySupersede(Some("""{"metric":"total","value":313.3}"""), 8))
    assert(Bench.maySupersede(None, 8))
    // an unparseable record never blocks (the write repairs it)
    assert(Bench.maySupersede(Some("not json"), 8))
  }
}
