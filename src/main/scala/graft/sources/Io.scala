package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source/sink layer for the formats the reference declares consumption-
  * ready: "Native formats (Parquet, JSON, vectors) without conversion
  * overhead" (reference `factors/2-consumable.md:17`; assessed by
  * `native_format_availability`, `requirements.yaml:62-64`).
  *
  * Design rules for 100 TB:
  * - Schema is always DECLARED on read (never inferred): inference is a
  *   full extra pass over the data and can silently widen types between
  *   runs. `readJsonLines` takes the expected StructType and runs in
  *   FAILFAST mode so a drifted record fails loudly instead of becoming a
  *   row of nulls (Factor 1's typed-schema contract,
  *   `factors/1-contextual.md:13`).
  * - Writers take explicit partition columns — layout is part of the API
  *   (`access_optimization`, `requirements.yaml:42-44`), not an
  *   afterthought; parquet is the columnar/training format, JSON-lines the
  *   interchange format.
  */
object Io {

  /** Vectorized parquet scan; filters/projections layered on top push down
    * (ReadSchema/PushedFilters — see `tools.Diag plan <entry>`).
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Schema-enforced JSON-lines read. FAILFAST: a record that doesn't
    * match the declared schema aborts the scan rather than silently
    * nulling fields (PERMISSIVE's default) — schema drift is a pipeline
    * bug, not data.
    */
  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** Columnar sink; optional hive-style partition columns for partition
    * pruning downstream.
    */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** JSON-lines sink (one object per line — splittable, streamable). */
  def writeJsonLines(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).json(path)
  }

  /** Parse a JSON-in-string column against a declared schema (the
    * `events.props` shape — semi-structured props travel as strings in
    * parquet, reference `2-consumable.md:17`). FAILFAST per read rule.
    */
  def parseJsonColumn(df: DataFrame, column: String, schema: StructType): DataFrame =
    df.withColumn(column,
      from_json(col(column), schema, Map("mode" -> "FAILFAST")))

  /** Schema-enforced CSV read — same contract as readJsonLines: declared
    * schema, FAILFAST on drift, explicit header flag (no inference pass).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST")
      .option("header", header.toString).csv(path)

  /** CSV sink with header (interchange format for row-oriented consumers). */
  def writeCsv(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).option("header", "true")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).csv(path)
  }

  /** ORC scan — the second columnar format Spark vectorizes natively;
    * same pushdown behavior as parquet.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC sink (columnar alternative where the consuming stack is
    * ORC-native).
    */
  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }
}
