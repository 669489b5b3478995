package graft.substrate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Graph reachability over an edge DataFrame — the relational backing for
  * the lineage checks (reference `factors/requirements.yaml:132-134`
  * lineage completeness, `156-158` impact analysis).
  *
  * Two execution paths behind one API:
  *
  * - **Metadata-sized graphs** (≤ `LocalThreshold` edges — every lineage /
  *   dependency catalog; SURVEY.md §4): collect once and run BFS on the
  *   driver. The iterative-join formulation costs ~3 Spark jobs per hop
  *   (frontier count, anti-join, checkpoint), all scheduler-latency-bound
  *   on a tiny graph.
  * - **Data-scale graphs**: semi-naive iteration — each round joins only
  *   the NEW frontier against the edge list, with a visited set guarding
  *   against cycles and `localCheckpoint` truncating the growing plan.
  *
  * Results are identical (both are exact reachability with cycle guards).
  */
object Graph {

  /** Above this edge count the distributed path runs. */
  val LocalThreshold: Long = 100000L

  /** All nodes reachable from `seeds` by following `edges` (src → dst),
    * INCLUDING the seeds. `edges` must have columns (src, dst); `seeds`
    * one column (node).
    */
  def reachable(edges: DataFrame, seeds: DataFrame, maxIters: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("string"), col("dst").cast("string"))
    val local = e.limit(LocalThreshold.toInt + 1).collect()
    if (local.length <= LocalThreshold) {
      val adj = local.groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1))).toMap
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      val queue = scala.collection.mutable.Queue[String]()
      seeds.select(col("node").cast("string")).collect().foreach { r =>
        if (seen.add(r.getString(0))) queue.enqueue(r.getString(0))
      }
      while (queue.nonEmpty) {
        adj.getOrElse(queue.dequeue(), Array.empty[String])
          .foreach(n => if (seen.add(n)) queue.enqueue(n))
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        seen.toSeq.map(Row(_)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType))))
    } else reachableDistributed(edges, seeds, maxIters)
  }

  private[substrate] def reachableDistributed(edges: DataFrame, seeds: DataFrame,
      maxIters: Int): DataFrame = {
    var reached = seeds.toDF("node").distinct().localCheckpoint()
    var frontier = reached
    var iter = 0
    while (iter < maxIters && frontier.limit(1).count() > 0) {
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(edges("dst").as("node")).distinct()
      frontier = next.join(reached, Seq("node"), "left_anti").localCheckpoint()
      reached = reached.unionAll(frontier).localCheckpoint()
      iter += 1
    }
    // a live frontier after maxIters means the BFS was truncated — an
    // incomplete (silently wrong) reachable set must never be returned
    if (frontier.limit(1).count() > 0)
      throw new IllegalStateException(
        s"reachableDistributed did not converge in $maxIters rounds " +
          "(graph depth exceeds maxIters; raise it)")
    reached
  }

  /** Full transitive closure as (node, reachable) pairs — every node
    * paired with every node strictly reachable from it. Used by the
    * `lineage_impact` operator (downstream impact enumeration).
    */
  /** closure()'s local fast path runs one BFS per source node — worst case
    * O(sources × edges) driver work — so unlike reachable() it is gated on
    * that PRODUCT, not on edge count alone (2e8 ops ≈ low-seconds on one
    * driver core; beyond that the distributed semi-naive path wins).
    */
  val ClosureLocalOpsBound: Long = 200000000L

  def closure(edges: DataFrame, maxIters: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("string"), col("dst").cast("string"))
    val local = e.limit(LocalThreshold.toInt + 1).collect()
    val nSources =
      if (local.length <= LocalThreshold)
        local.iterator.map(_.getString(0)).toSet.size else 0
    if (local.length <= LocalThreshold &&
        nSources.toLong * local.length <= ClosureLocalOpsBound) {
      val adj = local.groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1))).toMap
      val pairs = adj.keys.toSeq.sorted.flatMap { start =>
        val seen = scala.collection.mutable.LinkedHashSet[String]()
        val queue = scala.collection.mutable.Queue[String](start)
        while (queue.nonEmpty) {
          adj.getOrElse(queue.dequeue(), Array.empty[String])
            .foreach(n => if (seen.add(n)) queue.enqueue(n))
        }
        seen.toSeq.map(start -> _)
      }
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        pairs.map(p => Row(p._1, p._2)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("reachable",
            org.apache.spark.sql.types.StringType))))
    } else closureDistributed(edges, maxIters)
  }

  /** Connected components of an UNDIRECTED graph with numeric node ids:
    * (node, label) where label = the component's minimum id — the
    * canonical "cluster representative" for dedup clustering (keep the
    * min-id document of each near-dup cluster).
    *
    * Same two-path shape as reachable()/closure(): union-find on the
    * driver for metadata-sized edge sets; distributed min-label
    * propagation with a pointer-doubling shortcut (converges in
    * O(log diameter) rounds, and FAILS rather than return unconverged
    * labels) with localCheckpoint truncating the plan per round.
    * Only nodes that appear in an edge participate (singletons are the
    * caller's complement set).
    */
  def components(edges: DataFrame, maxIters: Int = 32): DataFrame = {
    val e = edges.toDF("src", "dst")
      .select(col("src").cast("long"), col("dst").cast("long"))
    val local = e.limit(LocalThreshold.toInt + 1).collect()
    if (local.length <= LocalThreshold) {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      local.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val rows = parent.keys.toSeq.sorted.map(n => Row(n, find(n)))
      import scala.jdk.CollectionConverters._
      e.sparkSession.createDataFrame(rows.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType))))
    } else componentsDistributed(e, maxIters)
  }

  private[substrate] def componentsDistributed(e: DataFrame,
      maxIters: Int): DataFrame = componentsDistributedWithRounds(e, maxIters)._1

  /** [[componentsDistributed]] plus the CONVERGENCE ROUND COUNT — the
    * number the O(log diameter) pointer-doubling claim is measured by
    * (SCALE.md's `components chain` rows record rounds vs log2(diameter)
    * at 1×/10×/100×).
    */
  private[graft] def componentsDistributedWithRounds(e: DataFrame,
      maxIters: Int): (DataFrame, Int) = {
    val spark = e.sparkSession
    // Round-state checkpointing via SELF-OWNED persisted RDDs: like
    // localCheckpoint this truncates lineage (plans stay O(1) per round),
    // but the explicit handle lets the PREVIOUS round's blocks be freed
    // the moment the next round is materialized — O(1) generations of
    // storage instead of O(rounds), which is what let a 24-round 15M-edge
    // chain OOM an 8g JVM (r5 rehearsal) and would bloat executor storage
    // on a real cluster the same way. (localCheckpoint exposes no safe
    // per-DF unpersist, and sweeping sc.getPersistentRDDs would race
    // concurrent queries' caches — a concurrent engine can't do that.)
    // Deserialized storage: the Rows are built once at materialization
    // and each of the ~3 per-round reads is by reference — a SER level
    // re-decodes the whole generation per read (measured ~1.6× the round
    // wall); with the previous generation freed every round the deser
    // footprint stays at ~2 generations, which is the point of the handle.
    def checkpoint(df: DataFrame): (DataFrame,
        org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize eagerly, like localCheckpoint(true)
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    val (sym, symRdd) = checkpoint(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct())
    var (labels, labelsRdd) = checkpoint(
      sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // push each node's label to its neighbors; fold the min per node.
      // The OLD label rides along the whole round (carried column, not a
      // post-hoc join) so convergence detection reuses the checkpointed
      // result instead of re-joining next×labels — one shuffle and one
      // action fewer per round.
      val msgs = sym.join(labels, sym("src") === labels("node"))
        .select(sym("dst").as("node"), col("label"))
      val msgMin = msgs.groupBy("node").agg(min("label").as("mlabel"))
      val merged = labels.withColumnRenamed("label", "old")
        .join(msgMin, Seq("node"), "left")
        .select(col("node"), col("old"),
          least(col("old"), coalesce(col("mlabel"), col("old"))).as("label"))
      // pointer-doubling shortcut: also jump to the LABEL's current label
      // (labels are node ids, so every label has a row). Each round the
      // remaining path to the component min halves — O(log diameter)
      // rounds instead of O(diameter), so long near-dup chains converge
      // well inside maxIters.
      val byNode = merged.select(col("node").as("l_node"), col("label").as("l_label"))
      val (next, nextRdd) = checkpoint(merged
        .join(byNode, merged("label") === byNode("l_node"), "left")
        .select(merged("node"), merged("old"),
          least(merged("label"), coalesce(col("l_label"), merged("label"))).as("label")))
      converged = next.filter(col("label") =!= col("old")).limit(1).count() == 0
      // the previous round fed `next`, which is now materialized — free it
      labelsRdd.unpersist(false)
      // cheap projection over the already-checkpointed round result
      labels = next.select("node", "label")
      labelsRdd = nextRdd
      iter += 1
    }
    symRdd.unpersist(false) // the final labels read only their own blocks
    // unconverged labels are WRONG labels (a component would be split
    // across several representatives) — fail loudly, never return them
    if (!converged)
      throw new IllegalStateException(
        s"componentsDistributed did not converge in $maxIters rounds " +
          "(should be ~log2(diameter) with pointer doubling; raise maxIters)")
    (labels, iter)
  }

  private[substrate] def closureDistributed(edges: DataFrame, maxIters: Int): DataFrame = {
    val e = edges.select(col("src").as("node"), col("dst").as("reachable")).distinct()
    var acc = e.localCheckpoint()
    var frontier = e
    var iter = 0
    while (iter < maxIters && frontier.limit(1).count() > 0) {
      val next = frontier.join(e.toDF("mid", "nxt"),
          frontier("reachable") === col("mid"))
        .select(frontier("node"), col("nxt").as("reachable")).distinct()
      frontier = next.join(acc, Seq("node", "reachable"), "left_anti").localCheckpoint()
      acc = acc.unionAll(frontier).localCheckpoint()
      iter += 1
    }
    if (frontier.limit(1).count() > 0)
      throw new IllegalStateException(
        s"closureDistributed did not converge in $maxIters rounds " +
          "(graph depth exceeds maxIters; raise it)")
    acc
  }
}
