package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search: minimum hop distance from a seed set
  * over an edge table — the "crawl frontier depth" / reachability primitive
  * that complements [[ConnectedComponents]] (membership), [[PageRank]]
  * (centrality) and [[LabelPropagation]] (communities).
  *
  * Unweighted BFS has a property the other iterative operators lack: the
  * FIRST round that reaches a node already holds its final distance, so the
  * per-round state splits into a frozen `settled` set and an active
  * `frontier` that only ever shrinks relative to the reachable set. Each
  * round is therefore:
  *
  *   frontier ⨝ edges (src)  →  candidate dst at h+1
  *   candidates ∖ settled (left_anti)  →  next frontier
  *
  * and the per-round shuffle moves `|frontier| · avg-degree` candidate rows
  * plus the settled-id table — never the corpus, never the full edge list
  * (the edge table is pre-partitioned ONCE on the join key, exactly the CC
  * discipline). Rounds are bounded by `maxHops`, with early exit on an
  * empty frontier; per-round localCheckpoints truncate lineage and the
  * previous round's blocks are freed as soon as the next materializes.
  *
  * The bounded round count is what makes the operator ORACLE-CHECKABLE: a
  * depth-guarded recursive CTE (`WITH RECURSIVE … WHERE d < maxHops`,
  * UNION-dedup) followed by `min(d)` reproduces the exact hop distances,
  * so the whole iterative plan is pinned by the driver's DuckDB gate.
  */
object Bfs {

  /** @param edges   columns `src`, `dst` — DIRECTED; callers wanting an
    *                undirected walk union the reversed edges first
    * @param seeds   single column `id`, distance 0 (deduplicated here)
    * @param maxHops bounded number of expansion rounds
    * @return (id, dist) for every node reachable within `maxHops` hops;
    *         unreachable nodes are absent (a left join against the node
    *         universe reintroduces them if a sentinel is wanted)
    */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    val sessionParts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val eRaw = edges.select(col("src"), col("dst")).distinct().persist()
    val nEdges = eRaw.count()
    val p = ConnectedComponents.boundedParts(sessionParts, nEdges)
    // round-invariant join side, pre-partitioned once on the per-round key
    val e = {
      val s = eRaw.repartition(p, col("src")).persist()
      s.count(); eRaw.unpersist()
      s
    }
    var frontier = seeds.select(col("id")).dropDuplicates("id")
      .repartition(p, col("id"))
      .withColumn("dist", lit(0))
      .localCheckpoint()
    // `settled` aliases the seed checkpoint in round 1; a checkpoint is only
    // freed once NOTHING downstream can re-read it (localCheckpoint truncates
    // lineage, so freed blocks are unrecoverable — free-too-early is a
    // correctness bug, not a perf knob).
    var settled = frontier
    var h = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && h < maxHops) {
      h += 1
      val oldFrontier = frontier
      val oldSettled = settled
      val candidates = e
        .join(frontier.withColumnRenamed("id", "src").drop("dist"), Seq("src"))
        .select(col("dst").as("id"))
      val next = candidates
        .repartition(p, col("id")).dropDuplicates("id")
        .join(settled.select(col("id")), Seq("id"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(false)
      frontierSize = next.count() // materializes `next`
      frontier = next
      if (frontierSize > 0) {
        val ns = settled.unionAll(next).localCheckpoint(false)
        ns.count() // materializes before anything older is freed
        settled = ns
        // the old settled table is fully superseded; the old frontier is a
        // subset of it (same blocks in round 1, standalone later) — both are
        // now unreachable by any live plan
        GraftBridge.freeCheckpoint(oldSettled)
        if (oldFrontier ne oldSettled) GraftBridge.freeCheckpoint(oldFrontier)
      }
    }
    e.unpersist(blocking = false)
    settled
  }
}
