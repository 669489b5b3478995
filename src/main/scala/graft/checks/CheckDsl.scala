package graft.checks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Fixture

/** One assessment check: a Spark plan plus (when SQL-expressible) the
  * equivalent DuckDB oracle SQL. Output contract (reference
  * `factors/requirements.yaml:3`): a `value` column in [0,1].
  *
  * Uniform output schema: (requirement, scope, hits, population, value)
  * with value = hits/population and the vacuous population defined as 1.0
  * (SURVEY.md §7 hard-part (d) — the spec is silent; we document it here
  * once for all checks).
  */
final case class Check(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** true for the 48 requirement checks (uniform CheckResult schema —
      * unionable into the assessment rollup); false for operator queries
      * whose output is domain-shaped (e.g. lineage_impact's edge pairs).
      */
    isScore: Boolean = true,
    /** false to exclude from the bench headline set (a query that strictly
      * re-runs another headline query's plan, e.g. factor_rollup =
      * assessment_scorecard + a 5-row agg).
      */
    inBench: Boolean = true)

object CheckDsl {

  /** Read one driver-generated table: the single parquet file
    * `<dir>/<name>.parquet`. Filters/projections layered on top push down
    * to the vectorized parquet scan (verified via explain). The schema
    * comes from the file's footer on the driver (`MetaIo.readParquet`),
    * so resolving a table runs no Spark job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The session confs the footer → schema conversion reads, so they
    // are in place before it: nanosAsLong admits a TIMESTAMP(NANOS)
    // `ts`, and UTC makes `normalizeEventTs`'s NTZ→Timestamp cast (which
    // reads the naive wall-clock in the session timezone) agree with the
    // LONG branch and the DuckDB oracle's epoch_us(ts), both
    // tz-independent epoch micros — whichever SparkSession calls us.
    // Written only when they differ: the settings are session-global,
    // and concurrent checks call this from many threads.
    setIfDifferent(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    setIfDifferent(spark, "spark.sql.session.timeZone", "UTC")
    val df = graft.substrate.MetaIo.readParquet(spark,
      Seq(s"$dir/$name.parquet"), mergeSchema = false)
    if (name == "events") normalizeEventTs(df) else df
  }

  private def setIfDifferent(spark: SparkSession, key: String,
      value: String): Unit =
    if (!spark.conf.getOption(key).contains(value)) spark.conf.set(key, value)

  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: TIMESTAMP(NANOS) — which Spark 4 refuses to read as a
    * timestamp, so it arrives as a nanos-epoch LONG under
    * `spark.sql.legacy.parquet.nanosAsLong` and converts via integer
    * division (`div`, not `/` — nanos-epoch ≈ 1.7e18 exceeds the 2^53
    * double mantissa, float division would corrupt the low digits) — and
    * plain TIMESTAMP(MICROS), which arrives as TIMESTAMP_NTZ and casts to
    * TimestampType. The NTZ cast interprets the naive wall-clock in the
    * session timezone, so it matches DuckDB's tz-independent `epoch_us(ts)`
    * ONLY under a UTC session — `table()` pins
    * `spark.sql.session.timeZone=UTC` to guarantee that precondition for
    * any caller's SparkSession. Works on static and streaming frames alike
    * (pure projection on a known schema).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** hits/population → the uniform single-row result. Both inputs are
    * single-row single-column LONG aggregates; the cross join is trivially
    * broadcast (1×1) — no scale concern.
    */
  def fractionDf(spark: SparkSession, req: String, hits: DataFrame,
      population: DataFrame, scope: String = "ALL"): DataFrame = {
    val h = hits.toDF("hits")
    val p = population.toDF("population")
    h.crossJoin(p).select(
      lit(req).as("requirement"),
      lit(scope).as("scope"),
      col("hits"),
      col("population"),
      valueExpr(col("hits"), col("population")))
  }

  /** value = hits/population, vacuous→1.0, as a Column. Exact-arithmetic
    * discipline: both operands are integers, so the single IEEE division is
    * bit-identical between Spark and DuckDB (no summation-order hazards).
    */
  def valueExpr(hits: Column, population: Column): Column =
    when(population === 0, lit(1.0))
      .otherwise(hits.cast("double") / population.cast("double"))
      .as("value")

  /** Count rows of a DF as a 1×1 LONG aggregate (lazy — no action). */
  def cnt(df: DataFrame): DataFrame = df.agg(count(lit(1)))

  // ── oracle side ───────────────────────────────────────────────────────

  /** Oracle mirror of `fractionDf`: `hitsQ`/`popQ` are complete scalar
    * SELECTs (e.g. "SELECT COUNT(*) FROM x WHERE ...").
    */
  def fractionSql(req: String, hitsQ: String, popQ: String,
      fixtures: Seq[Fixture], extraCtes: Seq[String] = Nil,
      scope: String = "ALL"): String = {
    val body =
      s"""SELECT '$req' AS requirement, '$scope' AS scope, hits, population,
         |CASE WHEN population = 0 THEN 1.0
         |     ELSE CAST(hits AS DOUBLE) / CAST(population AS DOUBLE)
         |END AS value
         |FROM (SELECT CAST(($hitsQ) AS BIGINT) AS hits,
         |             CAST(($popQ) AS BIGINT) AS population)"""
        .stripMargin.replace("\n", " ")
    Fixture.oracle(fixtures, body, extraCtes)
  }
}
