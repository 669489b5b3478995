package org.apache.spark.sql

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkException
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.types.StructType

/** The session-scoped pieces of Spark's parquet schema inference, which
  * Spark keeps `private[sql]` (the session state, `StructType.merge`, its
  * merge error) — the same extension-library access pattern as
  * [[GraftColumn]]. `graft.substrate.MetaIo.readParquet` composes them
  * into the schema Spark's inference job would compute, on the driver.
  */
object GraftParquetSchema {

  /** The Hadoop conf a parquet read with these options plans under. */
  def hadoopConf(spark: SparkSession, options: Map[String, String])
      : Configuration =
    spark.sessionState.newHadoopConfWithOptions(options)

  /** Footer → Spark schema under the session's parquet confs
    * (binaryAsString, int96AsTimestamp, inferTimestampNTZ, nanosAsLong),
    * read at construction.
    */
  def converter(spark: SparkSession): ParquetToSparkSchemaConverter =
    new ParquetToSparkSchemaConverter(spark.sessionState.conf)

  /** `mergeSchema`'s pairwise step: Spark's own merge at the session's
    * case sensitivity, failing with the error the inference job raises.
    */
  def merge(spark: SparkSession, left: StructType, right: StructType)
      : StructType =
    try left.merge(right, spark.sessionState.conf.caseSensitiveAnalysis)
    catch { case e: SparkException =>
      throw QueryExecutionErrors.failedMergingSchemaError(left, right, e)
    }
}
