package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Weighted PageRank in INTEGER fixed-point arithmetic — the second
  * iterative graph operator next to [[ConnectedComponents]].
  *
  * All ranks are longs scaled by `scale`; every per-iteration step is
  * integer (sum of per-edge `(r·w) div outw` contributions, then
  * `base + (85·c) div 100`), so the result is bit-identical regardless of
  * partial-aggregation order or partitioning — which makes a fixed
  * iteration count ORACLE-CHECKABLE (the SQL twin unrolls the same
  * iterations as CTEs). A float PageRank converges to the same ranking but
  * its low bits depend on summation order; this one is exactly
  * reproducible, which production pipelines want anyway (rank-stable
  * reruns).
  *
  * Scale shape per iteration: one join of the (round-invariant,
  * pre-partitioned) edge table with the rank table on `src` + one groupBy
  * `dst` — a single shuffle of |E| contribution rows; ranks localCheckpoint
  * each round (lineage truncation, CC's pattern). Dangling nodes (no
  * out-edges) keep receiving the base term; their outbound leak is NOT
  * redistributed (documented choice — the oracle does the same).
  *
  * Overflow bound: per-edge `r·w` needs `max_rank · max_weight < 2^63`;
  * with the default `scale` = 1e6 (ranks ≤ ~1e6·N/N = 1e6… bounded by
  * `scale` up to rank concentration ≤ scale) any weight < 9e12 is safe.
  */
object PageRank {

  /** @param edges columns `src`, `dst`, `w` (long weight > 0; parallel
    *              edges should be pre-aggregated)
    * @return (node, rank_fp) — fixed-point rank, longs scaled by `scale`
    */
  def run(edges: DataFrame, iterations: Int, scale: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    // Per-round parallelism: session partitions; AQE's partition coalescing
    // (on by default in Spark 4) collapses tiny per-round shuffles, so an
    // explicit count-then-bound pass (ConnectedComponents' RowsPerTask rule)
    // is NOT worth the extra edge materialization here — measured 2× slower
    // on a small graph than letting AQE handle it.
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // Materialize the caller's edge pipeline ONCE (round 18): three
    // derivations read it (nodes, outw, e), and without the cache the
    // upstream pipeline — pagerank_nations feeds a 4-table join — executed
    // once for the nodes checkpoint and again for e's persist (guide §2.4:
    // don't recompute what a single pass provides). |E| is the aggregated
    // edge list the loop persists anyway, so peak storage is unchanged.
    // persist, NOT localCheckpoint (round 19): a checkpoint severs lineage
    // and lives only on executors, so at cluster scale one lost executor
    // kills the job; persist gives the same single execution (the eager
    // `nodes` checkpoint below fills it) while a lost block just
    // recomputes from the source (r18 verdict task 6).
    val eIn = edges.select(col("src"), col("dst"), col("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // explode, not a self-union (round 19): with eIn now LAZILY persisted,
    // a union would put eIn's (expensive) upstream in both branches of this
    // eager checkpoint's single stage — two concurrent executions racing to
    // fill the cache. One explode pass derives both endpoints AND fills
    // eIn's cache exactly once; everything downstream (outw, e) reads it.
    val nodes = eIn.select(explode(array(col("src"), col("dst"))).as("node"))
      .dropDuplicates("node")
      .localCheckpoint()
    val outw = eIn.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    // round-invariant join side, pre-partitioned on the per-round join key,
    // materialized lazily on first use
    val e = eIn.join(outw, "src")
      .select(col("src"), col("dst"), col("w"), col("ow"))
      .repartition(parts, col("src"))
      .persist()
    val n = math.max(1L, nodes.count())
    val base = 15L * scale / (100L * n)
    // pre-partition the (round-invariant) node table on the update-join key
    val nodesP = nodes.repartition(parts, col("node")).persist()
    var r = nodesP.withColumn("r", lit(scale / n)).localCheckpoint()
    var prev = r
    for (_ <- 1 to iterations) {
      val contrib = e.join(r.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst"), expr("(r * w) div ow").as("c"))
        .repartition(parts, col("dst")) // bounded agg parallelism, no extra shuffle
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      r = nodesP.join(contrib, col("node") === col("dst"), "left_outer")
        .select(col("node"),
          (lit(base) + expr("(85 * coalesce(c, 0L)) div 100")).as("r"))
        .localCheckpoint()
      GraftBridge.freeCheckpoint(prev)
      prev = r
    }
    e.unpersist()
    nodesP.unpersist()
    GraftBridge.freeCheckpoint(nodes)
    eIn.unpersist(blocking = false)
    r.select(col("node"), col("r").as("rank_fp"))
  }
}
