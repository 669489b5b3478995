package graft.substrate

import org.apache.spark.sql.DataFrame

/** Process-local memo for corpus-DERIVED index knobs (auto bucket widths,
  * auto band bits, centroid counts, centering vectors).
  *
  * Every auto-knob policy in the substrate is a small deterministic
  * aggregate of its input plan (a count, a per-table min/max, a per-dim
  * mean), re-derived eagerly on the driver each time an operator builds its
  * plan. Under the bench's concurrent FAIR-pool suite those eager actions
  * dominate: each one schedules an extra Spark job that holds a pool worker
  * while it queues behind the suite (the vector tier's 7-18×
  * serial-vs-concurrent inflation), and the SAME derivation
  * re-runs for every check sharing a corpus and for every serial repeat of
  * the same check.
  *
  * The knobs are pure functions of the (deterministic) input plan, so they
  * are memoized by the plan's canonicalized semantic hash + a tag naming
  * the derivation and its parameters. Correctness within a run is
  * unaffected: a cache hit returns the value the action would have
  * recomputed bit-for-bit, and a DIFFERENT corpus (other sf dir, other
  * planted augmentation) hashes to a different key and derives fresh.
  * Bounded: a handful of Ints/Seq[Double] per distinct (corpus,
  * derivation) pair.
  *
  * Assumption, stated: file-source canonicalization hashes by ROOT PATHS
  * (that is what makes cross-check sharing work — pinned in BrpLshSpec),
  * so the cache treats a parquet path as an immutable snapshot for the
  * JVM's lifetime — the bench/verify shape. A long-lived session that
  * APPENDS files under the same path between derivations must
  * [[DerivationCache.clear]] at the ingest boundary (the same boundary
  * where a pinned-width index artifact re-derives its widths — see
  * BrpLsh's append-vs-rebuild contract).
  */
object DerivationCache {

  /** One derivation slot: allocation is what goes through the map's
    * computeIfAbsent (cheap, never re-enters the map), evaluation happens
    * OUTSIDE it on the cell's lazy val — so derivations may NEST (a
    * memoized index build consuming a memoized fixture evaluates a
    * DIFFERENT cell; ConcurrentHashMap's own "Recursive update" guard
    * never fires) while concurrent same-key callers still BLOCK on the
    * one in-flight computation instead of duplicating it (the concurrent
    * bench suite launches several checks sharing one stored index — a
    * lock-free get/putIfAbsent variant let all of them build it in
    * parallel and multiplied the suite wall; both failure modes are now
    * spec-pinned).
    */
  private final class Cell(key: (Int, String), compute: () => Any) {
    // Guarded against SAME-KEY re-entry: lazy-val init holds `this`'s
    // reentrant monitor, so a compute body that (transitively) asks for
    // its own key would re-run the initializer and recurse to
    // StackOverflowError deep in Spark planning. Naming the cycle here
    // preserves the loud diagnosis ConcurrentHashMap's "Recursive
    // update" guard used to give before evaluation moved out of the map.
    //
    // LOCK-ORDERING CONTRACT (cross-key nesting): a compute body may
    // nest memo requests only along the fixed derivation DAG (fixture →
    // index → knob) — two bodies must never request each other's keys,
    // or threads A(key1→key2) and B(key2→key1) deadlock on the two
    // lazy-val monitors with no diagnostic. Every substrate derivation
    // nests strictly downward in that DAG, so the order is total today;
    // a new derivation that nests must keep it acyclic.
    private var owner: Thread = null
    lazy val value: Any = {
      if (owner eq Thread.currentThread())
        throw new IllegalStateException(
          s"Recursive derivation: memo key $key requested from inside " +
            "its own compute body (self-cycle); nest only DIFFERENT keys")
      owner = Thread.currentThread()
      try compute() finally owner = null
    }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), Cell]()

  /** Memoize `compute` under (df's canonicalized plan hash, tag). The tag
    * must encode every non-plan parameter the derivation depends on.
    */
  def memo[T](df: DataFrame, tag: String)(compute: => T): T =
    cache.computeIfAbsent(
      (df.queryExecution.analyzed.semanticHash(), tag),
      k => new Cell(k, () => compute)).value.asInstanceOf[T]

  /** Canonical session for building memoized DataFrame ARTIFACTS. A
    * memoized DataFrame carries its builder's SparkSession, so every
    * consumer's downstream joins/windows execute under the BUILDER's
    * SQL conf — if a low-latency serving entry (shuffle.partitions=2
    * sub-session) happens to touch a shared index first, every other
    * entry's benched plan silently inherits those knobs (run-order
    * sensitivity). Memo bodies that cache DataFrames
    * shared ACROSS entries build against this one pinned sibling
    * session instead: same SparkContext, shuffle partitions pinned
    * from the context conf, one per JVM.
    */
  def artifactSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    artifactSessions.computeIfAbsent(spark.sparkContext, _ => {
      val s = spark.newSession()
      // precedence: the CONTEXT conf wins when set — it is launch-time
      // truth and immune to a sub-session's conf.set. When the builder
      // never set it, the first caller's RUNTIME conf is consulted (the
      // harness that configures partitions only via spark.conf.set) —
      // but only if it is at least the context's core width: a runtime
      // value NARROWER than defaultParallelism is a latency-tuned knob
      // (the serving entries pin partitions=2), and adopting it would
      // pin the shared artifact session to the first caller's run order
      // for the JVM lifetime — the exact hazard this session exists to
      // prevent. The bounded fallback is the cluster width itself.
      val width = spark.sparkContext.defaultParallelism
      s.conf.set("spark.sql.shuffle.partitions",
        spark.sparkContext.getConf
          .getOption("spark.sql.shuffle.partitions")
          .getOrElse {
            val runtime = spark.conf.get("spark.sql.shuffle.partitions")
            if (runtime.toInt >= width) runtime else width.toString
          })
      s
    })

  private val artifactSessions = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, org.apache.spark.sql.SparkSession]()

  /** Drop every memoized derivation — call at an ingest boundary when new
    * files land under an already-derived path (class doc), or from tests.
    */
  def clear(): Unit = cache.clear()

  private[graft] def size: Int = cache.size()
}
