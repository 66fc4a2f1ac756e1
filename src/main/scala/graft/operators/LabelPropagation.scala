package graft.operators

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** Synchronous label propagation (LPA, Raghavan et al. 2007) — community
  * detection over an undirected graph: every node starts with its own id as
  * label and, each round, adopts the most frequent label among its
  * neighbours (ties broken toward the smaller label; isolated nodes keep
  * their own). Deterministic by construction — the classic async LPA is
  * order-dependent, the synchronous min-tie-break variant here is not, so
  * the whole operator is oracle-checkable as unrolled SQL.
  *
  * This is the third iterative graph operator next to
  * [[ConnectedComponents]] (reachability) and [[PageRank]] (centrality):
  * LPA converges to DENSE communities, not mere connectivity — two cliques
  * joined by one bridge edge are one CC but two LPA communities.
  *
  * Scale shape (the CC/PageRank loop discipline, all three knobs):
  *  - The symmetrized edge table is round-invariant, pre-partitioned on
  *    the per-round join key `src`, persisted once — each round shuffles
  *    ONLY the label table to it.
  *  - Isolated-node bypass: only nodes touching an edge can ever change
  *    label, so the loop's label table is |V(E)|, not |V| — the isolated
  *    majority of a near-dup corpus short-circuits to self-labels.
  *  - Per-round parallelism is BOUNDED by edge count (CC's rows-per-task
  *    rule): kilobyte label tables must not pay the session's full shuffle
  *    parallelism in scheduling per round, while 100 TB graphs still fan
  *    out fully.
  * Vote rows take one |E| exchange onto `id`; both vote aggregations — the
  * per-(node,label) counts and the per-node argmax as a lexicographic
  * struct-min (map-side combinable, never a per-node window) — run
  * partition-local on it, because partitioning on `id` already clusters
  * `(id, label)`. The label update joins two id-partitioned sides: no
  * further exchange. Labels localCheckpoint each round (lineage
  * truncation), previous blocks freed; nothing is collected to the driver.
  */
object LabelPropagation {

  /** @param nodes one column `id`
    * @param edges columns `src`, `dst` — each undirected edge listed ONCE;
    *              both directions are derived here so multiplicities stay
    *              exact (votes are counted, a doubled edge would double its
    *              weight)
    * @return `(id, label)` after `iterations` synchronous rounds
    */
  def run(nodes: DataFrame, edges: DataFrame, iterations: Int): DataFrame = {
    val spark = edges.sparkSession
    val sessionParts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // explode-symmetrization, not a self-union (round 19): the union put
    // the caller's edge pipeline (the shingle-Jaccard self-join for
    // label_propagation) in both branches of one stage — two full
    // executions per run. One pass emits both directions; multiplicities
    // stay exact (each input edge contributes exactly one row per
    // direction, as before).
    val symFull = edges.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    val nEdges = symFull.count() // materialize once; reused every round
    val p = ConnectedComponents.boundedParts(sessionParts, nEdges)
    val sym = {
      val s = symFull.repartition(p, col("src")).persist()
      s.count()
      symFull.unpersist()
      s
    }
    // sym is symmetric, so distinct src covers every endpoint; selecting the
    // partitioning key keeps the dedup exchange-free
    val touched = sym.select(col("src").as("id")).dropDuplicates("id").persist()
    val isolated = nodes.select(col("id")).dropDuplicates("id")
      .join(touched, Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    var labels = nodes.select(col("id"))
      .join(touched, Seq("id"), "left_semi")
      .repartition(p, col("id")).dropDuplicates("id")
      .withColumn("label", col("id"))
      .localCheckpoint()
    var prev = labels
    // Fixpoint short-circuit (CC's pattern): if a round leaves every label
    // unchanged, every later round reproduces it — stopping early returns
    // the SAME frame as running all `iterations` rounds (2-cycling graphs
    // never trigger it and just run the full budget). The changed-flag is
    // folded into the update row so each round is one job: the lazy
    // localCheckpoint materializes with the changed-count aggregate.
    var i = 0
    var converged = nEdges == 0 // no edges → labels are already final
    while (!converged && i < iterations) {
      val votes = sym
        .join(labels.select(col("id").as("src"), col("label")), Seq("src"))
        .select(col("dst").as("id"), col("label"))
        .repartition(p, col("id")) // clusters (id, label) AND id: both
      val counts = votes            //   aggs below stay partition-local
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("n"))
      val best = counts
        .groupBy(col("id"))
        .agg(min(struct((-col("n")).as("negn"), col("label").as("l"))).as("b"))
        .select(col("id"), col("b.l").as("next_label"))
      val upd = labels.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("next_label"), col("label")).as("label"),
          (coalesce(col("next_label"), col("label")) =!= col("label")).as("chg"))
        .localCheckpoint(false)
      val changed = upd
        .agg(coalesce(max(when(col("chg"), 1).otherwise(0)), lit(0)))
        .head().getInt(0) > 0
      labels = upd.select(col("id"), col("label"))
      GraftBridge.freeCheckpoint(prev)
      prev = upd
      converged = !changed
      i += 1
    }
    // Materialize loop result ∪ isolated self-labels BEFORE dropping the
    // caches they read from (isolated is an anti-join over sym-derived
    // `touched`); callers get a materialized frame with truncated lineage.
    val result = labels.unionAll(isolated).localCheckpoint()
    sym.unpersist()
    touched.unpersist()
    GraftBridge.freeCheckpoint(prev)
    result
  }
}
