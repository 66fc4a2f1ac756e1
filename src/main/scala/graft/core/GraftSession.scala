package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** THE engine configuration, shared by every driver-facing entrypoint.
  *
  * Verify (the correctness gate) and Bench (the performance record) must
  * run the SAME planner/runtime configuration: the gate must run what the
  * bench runs, or a join strategy the bench takes (say, under a broadcast
  * bound the gate leaves at 10 MB) goes unchecked. This object is the
  * single source of truth; entrypoints add only their genuinely-local knobs
  * (Bench's EXTRA_CONF passthrough, Verify's assertPlans).
  */
object GraftSession {

  /** Common builder: `local[cpus]`, `shufflePartitions`, and the adopted
    * engine configs with their rationale. Callers may append further
    * `.config(...)` calls (appended keys win on conflict). */
  def builder(cpus: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Runtime bloom-filter joins: Spark enables the optimizer rule by
      // default but its 10 MB creation-side cap excludes every TPC-H-sized
      // dimension; these thresholds let a ≤512 MB filtered build side
      // prune a ≥1 GB probe scan BEFORE the shuffle. Inert at the driver's
      // sf0.1 (all scans < 1 GB); measured at sf100: q5 268 s → 139 s
      // (SCALING.md). Semantics-preserving.
      .config("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "512MB")
      .config("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1GB")
      // RocksDB state store: incremental per-batch state updates instead
      // of the HDFS store's full in-memory map copy per version. Parity at
      // sf0.1 (25.6 s vs 26.1 s streaming subtotal); 5× on the stateful
      // entries at sf100 (events_stateful_stream 161 → 30 s,
      // events_ohlc_stream 87 → 16 s — SCALING.md).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Broadcast decisions bounded by SIZE instead of forced hints: no
      // sf-proportional dimension build carries a broadcast() hint (a hint
      // pins the build in executor memory at ANY scale and disables the
      // demote-to-SMJ escape, so a growing build runs out of memory). The
      // default 10 MB caps would instead demote the measured 24-200 MB
      // sf100 builds that were benched green. The
      // STATIC threshold must rise TOO, not just AQE's: a leaf-level
      // static SMJ schedules BOTH children's shuffle map phases together,
      // so the fact side has already written its exchange by the time AQE
      // sees the small runtime build and converts — measured on
      // q9_nation_profit at sf100: 16.9 s (hinted) vs 187.7 s (AQE-only)
      // vs 14.1 s (both thresholds). The bounds are ASYMMETRIC on
      // principle: the static planner decides from pre-filter,
      // column-pruned FILE-byte estimates that understate in-memory build
      // size 3-5×, so it gets the tight 64 MB bound (big enough for every
      // sf100 dim estimate, ≤45 MB; small enough to exclude middle-scale
      // fact projections); AQE decides from measured exchange bytes and
      // gets the looser 256 MB. Both demote automatically when a build
      // outgrows them — the growth-safe property a hint cannot have.
      // Inert at the driver's sf0.1 (every dim estimate is < 10 MB).
      .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256MB")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as ns-long (converted
      // to µs in graft.queries.Util.eventsWithTs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // per-process managed-table warehouse: concurrent sibling JVMs must
      // never share (or sweep) each other's tables — see EphemeralWarehouse
      .config("spark.sql.warehouse.dir", EphemeralWarehouse.dir)

  /** The context's Hadoop conf, its `spark.hadoop.*` settings included,
    * broadcast for the tasks that read or write one of `paths` through a
    * Hadoop FileSystem; None when every path is on the local disk, which
    * tasks reach through [[LocalFiles]] with no conf. */
  def hadoopConf(sc: SparkContext, paths: String*): Option[Broadcast[SerializableConfiguration]] =
    if (paths.forall(LocalFiles.of(_).isDefined)) None
    else Some(sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))

  /** In a task, the conf [[hadoopConf]] shipped; fails naming `path`, the
    * file that needed one, when none was. */
  def shipped(conf: Option[Broadcast[SerializableConfiguration]], path: String): Configuration =
    conf.getOrElse(throw new IllegalStateException(s"no Hadoop conf was shipped for $path")).value.value

  /** Runs `body` with `label` as the description of the Spark jobs it
    * starts, then restores the caller's. */
  def labelled[A](sc: SparkContext, label: String)(body: => A): A = {
    val caller = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty(JobDescription, caller)
  }

  private val JobDescription = "spark.job.description"
}
