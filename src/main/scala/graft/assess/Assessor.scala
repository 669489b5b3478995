package graft.assess

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.{Check, CheckDsl, Checks}
import graft.model.{Registry, Workload}

/** Thresholds per requirement × workload. The reference's `meta.yaml`
  * (referenced at `factors/requirements.yaml:5`) is absent from the
  * snapshot, so thresholds are engine-defined in ONE place (SURVEY.md §7f):
  * serving is the stricter bar; "Requirements and thresholds are defined
  * per factor and per workload" (`definitions.md:39`).
  */
object Thresholds {
  private val byWorkload: Map[Workload, Double] = Map(
    Workload.Serving -> 0.7, Workload.Training -> 0.6)
  private val overrides: Map[(String, Workload), Double] = Map(
    // record-grain integrity checks demand near-totality
    ("temporal_referential_integrity", Workload.Serving) -> 0.99,
    ("temporal_referential_integrity", Workload.Training) -> 0.99,
    ("record_level_traceability", Workload.Serving) -> 0.99,
    ("record_level_traceability", Workload.Training) -> 0.99,
    ("point_lookup_availability", Workload.Serving) -> 0.95,
    ("consent_coverage", Workload.Serving) -> 0.75,
    ("consent_coverage", Workload.Training) -> 0.75)

  def forReq(key: String, w: Workload): Double =
    overrides.getOrElse((key, w), byWorkload(w))
}

/** EP1 — full assessment (SURVEY.md §3): resolve requirements for the
  * workload, run every implemented check, evaluate against thresholds,
  * roll up per factor ("automated assessments or dashboards",
  * reference `README.md:43-45`).
  *
  * Fusion invariant: fractions that declare the same source run as ONE
  * aggregate over it, and nothing is fused across sources. Each source
  * group and each remaining check is its own small job on a shared pool;
  * a union of every check into one plan loses to single-threaded Catalyst
  * planning.
  */
object Assessor {

  /** Whole-scorecard deadline; generous vs the ~10s sf0.1 wall time but
    * finite, so a wedged check can't hang an assessment forever.
    */
  val ScorecardTimeout: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, "min")

  /** One check's scored row. */
  private[graft] final case class Result(requirement: String, hits: Long,
      population: Long, value: Double)

  /** Every check's result. The fraction checks that declare an equal
    * source run as one aggregate ([[CheckDsl.fractions]]); every other
    * check runs its own plan. The groups run concurrently on a bounded
    * pool under one deadline, and a failure names its group's requirement
    * keys. The unfused checks are submitted first: they are the multi-job
    * ones, and a fused group is one short aggregate that fills the tail.
    */
  private[graft] def results(spark: SparkSession, dir: String,
      checks: Seq[Check]): Seq[Result] = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._

    val key = (c: Check) => c.fraction.fold[Any](c.name)(_.source)
    val groups = checks.map(key).distinct.map(k => checks.filter(key(_) == k))
      .sortBy(_.head.fraction.isDefined)
    def run(group: Seq[Check]): Seq[Result] = group.head.fraction match {
      case Some(f) =>
        val row = CheckDsl.fractions(f.source.df(spark, dir),
          group.map(_.fraction.get.aggs(spark, dir))).collect().head
        group.indices.map(i => Result(group(i).name, row.getLong(3 * i),
          row.getLong(3 * i + 1), row.getDouble(3 * i + 2)))
      case None =>
        val r = group.head.run(spark, dir).collect().head
        Seq(Result(group.head.name, r.getAs[Long]("hits"),
          r.getAs[Long]("population"), r.getAs[Double]("value")))
    }
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val deadline = System.nanoTime() + ScorecardTimeout.toNanos
    try groups.map(g => g -> Future(run(g))).flatMap { case (g, f) =>
        val keys = g.map(c => s"'${c.name}'").mkString(", ")
        val remaining = math.max(1L, deadline - System.nanoTime()).nanos
        try Await.result(f, remaining)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            throw new RuntimeException(
              s"scorecard check $keys exceeded the $ScorecardTimeout assessment deadline")
          case e: Throwable =>
            throw new RuntimeException(s"scorecard check $keys failed: ${e.getMessage}", e)
        }
      }
    finally pool.shutdown()
  }

  /** Per-requirement scorecard for a workload: every applicable score
    * check's result ([[results]]) against its threshold, as a LocalRelation
    * already in (factor, requirement) order, so collecting it runs no job.
    */
  def scorecard(spark: SparkSession, dir: String, workload: Workload): DataFrame = {
    val applicable = Registry.forWorkload(workload).map(_.key).toSet
    val runs = Checks.all.filter(c => c.isScore && applicable.contains(c.name))
    val meta = Registry.byKey
    val out = results(spark, dir, runs).map { r =>
      val m = meta(r.requirement)
      val threshold = Thresholds.forReq(r.requirement, workload)
      (r.requirement, m.factor.id, m.factor.name, workload.name, r.value,
        threshold, r.value >= threshold,
        Registry.extensionKeys.contains(r.requirement))
    }.sortBy(r => (r._2, r._1))
    spark.createDataFrame(out)
      .toDF("requirement", "factor", "factor_name", "workload", "value",
        "threshold", "passed", "extension")
  }

  /** The REFERENCE-comparable rollup (ADVICE r10): same arithmetic as
    * [[factorRollup]] over the 48 reference requirements ONLY — the
    * engine-defined extension rows are excluded via the scorecard's
    * `extension` tag, so the fractions use the pure-48 denominator a
    * reference implementation would report and stay numerically
    * comparable across frameworks.
    */
  def factorRollupReference(spark: SparkSession, dir: String,
      workload: Workload): DataFrame =
    rollupOf(scorecard(spark, dir, workload).filter(!col("extension")))

  /** Factor rollup: avg score + pass fraction per factor (the dashboard
    * row contract, `README.md:45`).
    */
  def factorRollup(spark: SparkSession, dir: String, workload: Workload): DataFrame =
    rollupOf(scorecard(spark, dir, workload))

  /** L1/L2/L3 capability level per factor — the maturity ladder the
    * reference names (`definitions.md:45`: "capabilities per workload
    * (L1/L2/L3)") but never defines. Engine-defined banding, documented
    * here once (SURVEY §0 discipline, same as the Thresholds object):
    * the factor's pass_rate against its workload thresholds maps to
    * L3 ≥ 0.9 (production-AI-ready), L2 ≥ 0.6 (usable with gaps),
    * else L1 (foundational). Derived from the rollup — one extra CASE
    * over an already-computed scorecard.
    */
  def capabilityLevels(scorecard: DataFrame): DataFrame =
    rollupOf(scorecard)
      .select(col("factor"), col("factor_name"),
        col("n_checks").cast("long").as("n_checks"), col("pass_rate"),
        when(col("pass_rate") >= 0.9, "L3")
          .when(col("pass_rate") >= 0.6, "L2")
          .otherwise("L1").as("level"))
      .orderBy("factor")

  /** Rollup from an ALREADY-COMPUTED scorecard — callers holding one (the
    * Assess CLI) must not pay for a second full assessment pass.
    */
  def rollupOf(scorecard: DataFrame): DataFrame =
    scorecard
      .groupBy("factor", "factor_name")
      .agg(
        count(lit(1)).as("n_checks"),
        avg("value").as("avg_score"),
        avg(when(col("passed"), 1.0).otherwise(0.0)).as("pass_rate"))
      .orderBy("factor")
}
