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
    inBench: Boolean = true,
    /** The declared source and aggregates, set by [[CheckDsl.fraction]]. */
    fraction: Option[Fraction] = None)

/** The rows a fraction check counts: a catalog fixture, or a product table
  * read through [[CheckDsl.table]]. Sources compare by value, so checks
  * that declare the same fixture or table name declare the same source.
  */
sealed trait Source {
  def df(spark: SparkSession, dir: String): DataFrame = this match {
    case Source.Catalog(f) => CheckDsl.catalogOnly(f.df(spark))
    case Source.Table(name) => CheckDsl.table(spark, dir, name)
  }
}

object Source {
  final case class Catalog(fixture: Fixture) extends Source
  final case class Table(name: String) extends Source
}

/** A fraction check's shape: `hits` and `population` as aggregate Columns
  * over one `source` (`count_if(cond)`, `count(lit(1))`). A hit that needs a
  * matching row elsewhere is an IN/EXISTS predicate inside `count_if`, which
  * Spark plans as an existence join, so no source row is duplicated. An
  * EXISTS subquery must not name its columns like the outer columns it
  * correlates with: Spark resolves such an `outer()` reference to the inner
  * column, and `asset === col("asset").outer()` holds on every row.
  */
final case class Fraction(source: Source,
    aggs: (SparkSession, String) => (Column, Column))

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

  /** A fraction check of one declared source: `run` is one aggregate over
    * it, which a scorecard fuses with the checks declaring an equal source.
    */
  def fraction(name: String, source: Source, oracle: String)(
      aggs: (SparkSession, String) => (Column, Column)): Check =
    Check(name, (spark, dir) => {
        val (hits, population) = aggs(spark, dir)
        fractionOf(name, source.df(spark, dir), hits, population)
      }, Some(oracle), fraction = Some(Fraction(source, aggs)))

  /** `x IN rels` for an uncorrelated semi-join against catalog rows: the
    * rows are collected on the driver (a projected or filtered catalog
    * fixture is a LocalRelation, which collects with no job) and become a
    * literal IN-list ([[graft.substrate.KeySet.literals]]), so no
    * broadcast job runs. A row with a null never matches under SQL
    * equality and is dropped, which keeps a struct `x` (whose IN compares
    * null fields as equal) at EXISTS semantics; a multi-column row
    * becomes a struct with the relation's field names.
    */
  def inCatalog(x: Column, rels: DataFrame*): Column =
    x.isin(rels.flatMap(r =>
      graft.substrate.KeySet.literals(r.schema, r.collect().toSeq)): _*)

  /** A catalog-only relation is metadata-small: read as one partition, an
    * aggregate over it needs no exchange and runs as one one-task job.
    */
  def catalogOnly(df: DataFrame): DataFrame = df.coalesce(1)

  /** One aggregate over `df` for every (hits, population) pair: a single
    * row of `hits_i`, `population_i`, `value_i` per pair, in order.
    */
  def fractions(df: DataFrame, parts: Seq[(Column, Column)]): DataFrame = {
    val aggs = parts.zipWithIndex.flatMap { case ((h, p), i) =>
      Seq(h.as(s"hits_$i"), p.as(s"population_$i"))
    }
    df.agg(aggs.head, aggs.tail: _*).select(parts.indices.flatMap { i =>
      Seq(col(s"hits_$i"), col(s"population_$i"),
        valueExpr(col(s"hits_$i"), col(s"population_$i")).as(s"value_$i"))
    }: _*)
  }

  /** The uniform single-row result of one aggregate over `df`. */
  def fractionOf(req: String, df: DataFrame, hits: Column,
      population: Column): DataFrame =
    fractions(df, Seq(hits -> population)).select(lit(req).as("requirement"),
      lit("ALL").as("scope"), col("hits_0").as("hits"),
      col("population_0").as("population"), col("value_0").as("value"))

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

  /** Oracle mirror of a fraction check: `hitsQ`/`popQ` are complete scalar
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
