package graft.substrate

import org.apache.spark.sql.{Column, DataFrame, GraftColumn, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** A pending delete sidecar's key tuples as a read applies them to a
  * scan: a [[KeySet]] held on the driver when the sidecar is small, a
  * [[KeyFrame]] left in its parquet otherwise. Either way a scan row
  * whose tuple has a null in any column is never matched: the sidecar
  * cannot name it.
  */
private[graft] sealed trait PendingKeys {

  /** The rows of `df` whose `cols` tuple is NOT among the keys. */
  def hide(df: DataFrame, cols: Seq[String]): DataFrame

  /** The rows of `df` whose `cols` tuple IS among the keys. */
  def keep(df: DataFrame, cols: Seq[String]): DataFrame
}

/** Where both stores choose how a pending sidecar's keys apply. */
private[graft] object PendingKeys {

  /** The distinct `cols` tuples of one sidecar's `files`. A sidecar
    * whose footers hold at most [[sidecarKeySetMaxRows]] rows, in the
    * metadata type universe, is read on the driver through
    * [[MetaIo.readRowsUpTo]] with no Spark job and becomes a [[KeySet]];
    * any other stays a [[KeyFrame]] over its parquet, decided from the
    * footers before any row is read.
    */
  def sidecarKeys(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): PendingKeys =
    MetaIo.readRowsUpTo(spark.sparkContext.hadoopConfiguration, files,
        sidecarKeySetMaxRows) match {
      case Some((schema, rows)) =>
        val at = cols.map(schema.fieldIndex)
        KeySet(StructType(at.map(schema(_))),
          rows.map(r => Row.fromSeq(at.map(r.get))).distinct)
      case None =>
        KeyFrame(MetaIo.readParquet(spark, files, mergeSchema = false)
          .select(cols.map(col): _*).distinct())
    }

  /** The most rows a pending sidecar may hold and still apply as a
    * driver-held [[KeySet]]. Its cost grows with the set (a driver read,
    * a literal per key, and an `InSet` whose plan string lists every
    * key), while a broadcast join's barely moves: over a 4M-row store
    * under one delete sidecar on 4 cores (median of 5 reads), the key set
    * reads as fast up to 2,000 keys and its change feed faster, but at
    * 4,000 keys the read is slower (276 vs 237 ms), at 8,000 clearly
    * (415 vs 235 ms), and at 100k ten times (4.4 vs 0.45 s). A var ONLY
    * as a test seam; production never writes it.
    */
  private[graft] var sidecarKeySetMaxRows: Long = 2048
}

/** Key tuples held on the driver, applied as one `InSet` filter instead
  * of a join — no broadcast, no extra job, and the generated code does
  * not depend on the set. A probe compares the scan's column and the key
  * in their wider type ([[KeySet.probeType]]), so it never narrows the
  * data.
  */
private[graft] final case class KeySet(schema: StructType, rows: Seq[Row])
    extends PendingKeys {

  def hide(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(cols.map(col(_).isNull).reduce(_ || _) || !includes(df, cols))

  def keep(df: DataFrame, cols: Seq[String]): DataFrame =
    df.filter(includes(df, cols))

  /** `cols IN set`; a null in any column never matches (the set's own
    * null-bearing rows are dropped, see [[KeySet.literals]]).
    */
  private def includes(df: DataFrame, cols: Seq[String]): Column = {
    val probe = StructType(cols.zip(schema.fields).map { case (c, f) =>
      f.copy(dataType = KeySet.probeType(df.schema(c).dataType, f.dataType))
    })
    // a same-type cast plans as nothing
    val x = cols.zip(probe.fields).map { case (c, f) =>
      col(c).cast(f.dataType) }
    val t = if (probe.size == 1) probe.head.dataType else probe
    GraftColumn.inSet(if (x.size == 1) x.head else struct(x: _*),
      KeySet.literals(schema, rows), t)
  }

  /** The set's leading-column values in ascending order, when that column
    * is integral — what bounds planning probes; None otherwise.
    */
  def sortedLeading: Option[Array[Long]] =
    if (!KeySet.integral(schema.head.dataType)) None
    else Some(rows.filterNot(_.isNullAt(0))
      .map(_.get(0).asInstanceOf[Number].longValue).toArray.sorted)
}

/** Key tuples too many to hold on the driver (or of a type its metadata
  * reader does not carry), applied as a broadcast join: the equi-join
  * never matches a null key, and the analyzer coerces both sides.
  */
private[graft] final case class KeyFrame(keys: DataFrame)
    extends PendingKeys {

  def hide(df: DataFrame, cols: Seq[String]): DataFrame =
    df.join(broadcast(keys), cols, "left_anti")

  def keep(df: DataFrame, cols: Seq[String]): DataFrame =
    df.join(broadcast(keys), cols, "semi")
}

private[graft] object KeySet {

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The type a scan column of type `data` and a key of type `key`
    * compare in: their wider type under the session's coercion rules —
    * what an equi-join on them would compare — with every integral type
    * as LONG, since an `InSet` over narrower integers compiles its values
    * into a `switch`, one class per set.
    */
  private def probeType(data: DataType, key: DataType): DataType = {
    val wider =
      if (data == key) Some(key)
      else if (SQLConf.get.ansiEnabled)
        AnsiTypeCoercion.findWiderTypeForTwo(data, key)
      else TypeCoercion.findWiderTypeForTwo(data, key)
    wider match {
      case Some(t) if integral(t) => LongType
      case Some(t) => t
      case None => throw new IllegalArgumentException(
        s"a sidecar key of type ${key.simpleString} cannot be compared " +
          s"with a column of type ${data.simpleString}")
    }
  }

  /** Key rows as typed IN-list literals: a row with a null in any
    * column is dropped — it never matches under SQL equality, and a null
    * in the list would turn every miss into null; a one-column row
    * becomes its value, a wider row a struct with `schema`'s field names.
    */
  def literals(schema: StructType, rows: Seq[Row]): Seq[Column] =
    rows.filterNot(_.anyNull).map(r =>
      if (schema.size == 1) GraftColumn.literal(r.get(0), schema.head.dataType)
      else GraftColumn.literal(r, schema))
}
