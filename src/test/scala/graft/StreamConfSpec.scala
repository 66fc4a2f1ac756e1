package graft

import graft.queries.SinkOps

/** The conf a streaming oracle entry runs under ([[SinkOps.withStreamConf]]):
  * store count and state-store provider derived from the staged source's
  * size, the flush batch from the entry's need, all of it restored after. */
class StreamConfSpec extends SparkSpec {
  private val Parts = "spark.sql.shuffle.partitions"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val HeapStore =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val MiB = 1L << 20

  /** A key's value if the session sets it, None if it is unset. */
  private def setting(k: String): Option[String] =
    spark.conf.getAll.get(k)

  /** The three keys as `body` sees them under the stream conf. */
  private def confUnder(srcBytes: Long, flush: Boolean): (String, String, Option[String]) =
    SinkOps.withStreamConf(spark, srcBytes, flush) {
      (spark.conf.get(Parts), spark.conf.get(NoData), setting(Provider))
    }

  /** Run `body` with the session's keys set as given, then put them back. */
  private def withKeys[T](kv: (String, Option[String])*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> setting(k) }
    try {
      kv.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("about 1 MB of source: 2 stores, the heap-backed provider, the flush batch as asked") {
    withKeys(Parts -> Some("32")) {
      assert(confUnder(MiB, flush = true) == (("2", "true", Some(HeapStore))))
      assert(confUnder(MiB, flush = false) == (("2", "false", Some(HeapStore))))
    }
  }

  test("1 GiB or more: min(session partitions, size / 64 MiB + 1) stores, the session's provider") {
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    withKeys(Parts -> Some("64"), Provider -> Some(rocks)) {
      assert(confUnder(1L << 30, flush = true) == (("17", "true", Some(rocks))))
      assert(confUnder((2L << 30) + 5 * MiB, flush = false) == (("33", "false", Some(rocks))))
      assert(confUnder(100L << 30, flush = true) == (("64", "true", Some(rocks))))
    }
    withKeys(Parts -> Some("64"), Provider -> None) {
      assert(confUnder(1L << 30, flush = true) == (("17", "true", None)))
    }
  }

  test("after a body that throws, every key is restored, or unset if it was unset") {
    withKeys(Parts -> Some("7"), NoData -> None, Provider -> None) {
      val e = intercept[IllegalStateException] {
        SinkOps.withStreamConf(spark, MiB, needsWatermarkFlush = false) {
          assert(spark.conf.get(Parts) == "2" && spark.conf.get(NoData) == "false" &&
            spark.conf.get(Provider) == HeapStore)
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.get(Parts) == "7")
      assert(setting(NoData).isEmpty && setting(Provider).isEmpty)
    }
  }
}
