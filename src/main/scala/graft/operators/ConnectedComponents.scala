package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Connected components over a similarity-pair graph — the step that turns
  * near-duplicate PAIRS (minhash/simhash/jaccard candidates) into duplicate
  * CLUSTERS with one canonical representative (min id) per cluster.
  *
  * Algorithm: iterative min-label propagation (each node adopts the smallest
  * component id among itself and its neighbors) until fixpoint. Converges in
  * O(graph diameter) rounds; near-dup graphs are unions of small cliques, so
  * 3–5 rounds in practice. Each round is one shuffle (join + min-aggregate);
  * per-round checkpoints are freed through the underlying RDD once the next
  * round materializes, so peak storage is 2× the label table — this is the
  * standard scalable formulation (large-scale variants swap in
  * large-star/small-star for pathological diameters).
  *
  * Per-round parallelism is BOUNDED by the edge count (~500k rows/task, at
  * least 1, at most the session shuffle parallelism): iterative rounds over
  * kilobyte-sized label tables must not pay `spark.sql.shuffle.partitions`
  * tasks per round — at 32 cores that scheduling overhead, not the data,
  * dominated the round time. The edge table is pre-partitioned on the join
  * key once, so each round shuffles only the (small) label table.
  */
object ConnectedComponents {

  /** rows/task target for the per-round shuffles of the graph operators;
    * tiny graphs collapse to 1 task while 100 TB-scale graphs still use the
    * full session parallelism. */
  private val RowsPerTask = 500000L

  /** Tasks for a per-round shuffle over `rows` rows: one per [[RowsPerTask]],
    * at least 1, at most `sessionParts`. [[LabelPropagation]] and [[Bfs]]
    * bound theirs with it too. */
  private[operators] def boundedParts(sessionParts: Int, rows: Long): Int =
    math.max(1, math.min(sessionParts, (rows / RowsPerTask + 1).toInt))

  /** @param nodes single column `id`
    * @param edges columns `src`, `dst` (undirected; direction ignored)
    * @return (id, comp) — comp is the min id in the node's component
    */
  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    val sessionParts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // Symmetrize via explode, NOT unionAll (round 19): a self-union puts
    // the caller's edge plan in BOTH branches of ONE stage, so the
    // (expensive — dedup_clusters feeds the shingle-Jaccard self-join)
    // candidate pipeline executed twice per run. explode emits both
    // directions from a single pass — profiled 2× executor-task time on
    // the min-label CC queries vs runStar's single consumption before the
    // fix. Row set identical: (src,dst) ∪ (dst,src).
    val symFull = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .persist()
    val nEdges = symFull.count() // materialize once; reused every round
    val p = boundedParts(sessionParts, nEdges)
    // pre-partition the (round-invariant) edge table on the JOIN key — in
    // every branch: distinct() left it partitioned on (src,dst), which does
    // NOT satisfy the per-round join's clustering on dst, and re-shuffling
    // the full edge table each of O(diameter) rounds is the dominant cost
    // on large graphs. One extra shuffle here buys label-side-only
    // shuffles in every round.
    val sym = {
      val s = symFull.repartition(p, col("dst")).persist()
      s.count()
      symFull.unpersist()
      s
    }
    // Only nodes that touch an edge can ever change label — isolated nodes
    // (the vast majority of a near-dup corpus: docs with no candidate pair)
    // are their own component and bypass the loop entirely. The iterative
    // label table shrinks from |V| to |V(E)|, so every per-round shuffle
    // moves only the connected fringe of the graph, not the whole corpus.
    // `sym` is symmetric, so distinct dst covers every endpoint; it is
    // already partitioned on dst, so the dedup below adds no exchange.
    val touched = sym.select(col("dst").as("id")).dropDuplicates("id").persist()
    val isolated = nodes.select(col("id")).dropDuplicates("id")
      .join(touched, Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    var labels = nodes.select(col("id"))
      .join(touched, Seq("id"), "left_semi")
      .repartition(p, col("id")).dropDuplicates("id")
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var prevCkpt = labels
    var i = 0
    var converged = false
    while (!converged && i < maxIter) {
      // Fold the convergence check into the label-update aggregate: each id
      // occurs exactly once in `labels`, so min(prev) recovers its old label
      // (neighbor rows vote with prev = null). ONE job per round: the lazy
      // localCheckpoint materializes with the changed-count aggregate, AND
      // truncates lineage — persist alone keeps the logical plan, which
      // otherwise doubles per round and blows up plan rendering on
      // high-diameter graphs.
      val neigh = sym
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("comp"), lit(null).cast(labels.schema("comp").dataType).as("prev"))
      val next = labels.select(col("id"), col("comp"), col("comp").as("prev"))
        .unionAll(neigh)
        .repartition(p, col("id")) // bounded agg parallelism, no extra shuffle
        .groupBy(col("id")).agg(min(col("comp")).as("comp"), min(col("prev")).as("prev"))
        .localCheckpoint(false)
      // coalesce: empty nodes/edges make the global max NULL, not 0
      val changed = next
        .agg(coalesce(max(when(col("comp") =!= col("prev"), 1).otherwise(0)), lit(0)))
        .head().getInt(0) > 0
      GraftBridge.freeCheckpoint(prevCkpt) // next is materialized; last round's blocks can go
      prevCkpt = next
      labels = next.select(col("id"), col("comp"))
      converged = !changed
      i += 1
    }
    // Materialize the loop result ∪ isolated self-labels BEFORE dropping the
    // caches they read from (isolated is a lazy anti-join over sym-derived
    // `touched`); the previous contract — run() returns a materialized
    // frame with truncated lineage — is preserved.
    val result = labels.unionAll(isolated).localCheckpoint()
    sym.unpersist()
    touched.unpersist()
    GraftBridge.freeCheckpoint(prevCkpt)
    result
  }

  /** Alternating large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — converges in
    * O(log n) rounds on ANY graph, vs O(diameter) for min-label
    * propagation. The alternative for pathological diameters (long chains);
    * near-dup graphs are clique unions where [[run]]'s 3–5 rounds win.
    *
    * Each round is two edge rewrites:
    *   large-star: for each node u, connect every strictly-greater neighbor
    *     to m(u) = min(N(u) ∪ {u});
    *   small-star: connect every not-greater neighbor (and u) to the min of
    *     that set.
    * Fixpoint: the edge set is a forest of stars rooted at component minima.
    */
  def runStar(nodes: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val spark = nodes.sparkSession
    val sessionParts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    import org.apache.spark.sql.DataFrame

    def largeStar(e: DataFrame, p: Int): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .repartition(p, col("u"), col("v")).dropDuplicates()
    }

    def smallStar(e: DataFrame, p: Int): DataFrame = {
      // orient edges small←large: (u, v) with v <= u
      val oriented = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val j = oriented.join(m, Seq("u"))
      j.select(col("v").as("u"), col("m").as("v"))
        .unionAll(j.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .repartition(p, col("u"), col("v")).dropDuplicates()
    }

    // localCheckpoint (not persist): each round's plan nests the previous
    // one, so lineage grows exponentially across rounds — checkpointing
    // truncates it (persist alone caches data but keeps the logical plan)
    var e = edges.select(col("src").as("u"), col("dst").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    val p = boundedParts(sessionParts, e.count())
    var i = 0
    var stable = false
    while (!stable && i < maxIter) {
      val next = smallStar(largeStar(e, p), p).localCheckpoint()
      // fixpoint when the edge sets coincide (cheap: counts + anti-join probe)
      val sameCount = next.count() == e.count()
      stable = sameCount &&
        next.join(e, Seq("u", "v"), "left_anti").limit(1).count() == 0
      GraftBridge.freeCheckpoint(e) // the probe above was this round's last read of e
      e = next
      i += 1
    }
    // stars point child → root; roots and isolated nodes map to themselves
    // (min-agg guards against a not-fully-converged star under maxIter).
    // The final checkpoint `e` is NOT freed here: `labels` still reads it
    // lazily, and a freed localCheckpoint cannot recompute.
    nodes.select(col("id")).distinct()
      .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .groupBy(col("id")).agg(min(col("comp")).as("comp"))
  }
}
