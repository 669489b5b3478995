package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver-side metadata reads: the schema comes from the parquet footer,
  * and integral columns written at two widths merge as LONG. The
  * driver-side schema of a data read (`readParquet`) equals the one
  * Spark's inference job computes over the same files.
  */
class MetaIoSpec extends graft.SparkSpec {

  private val conf = new Configuration()

  private def withTmp[T](f: String => T): T = {
    val tmp = java.nio.file.Files.createTempDirectory("metaio_spec").toString
    try f(tmp) finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("a zero-row manifest reads back with its columns") {
    withTmp { tmp =>
      val schema = StructType(Seq(StructField("version", LongType),
        StructField("file", StringType), StructField("row_count", LongType)))
      MetaIo.writeRows(conf, s"$tmp/m", schema, Seq.empty)
      val (got, rows) = MetaIo.readRows(conf, s"$tmp/m")
      assert(rows.isEmpty)
      assert(got.fields.map(f => (f.name, f.dataType)).toSeq ==
        schema.fields.map(f => (f.name, f.dataType)).toSeq)
    }
  }

  test("INT32 and INT64 under one name merge as LONG") {
    withTmp { tmp =>
      MetaIo.writeRows(conf, s"$tmp/a",
        StructType(Seq(StructField("n", IntegerType))), Seq(Row(7)))
      MetaIo.writeRows(conf, s"$tmp/b",
        StructType(Seq(StructField("n", LongType))), Seq(Row(1L << 40)))
      val (schema, rows) =
        MetaIo.readRowsMerged(conf, Seq(s"$tmp/a", s"$tmp/b"))
      assert(schema("n").dataType == LongType)
      assert(rows.map(_.getLong(0)) == Seq(7L, 1L << 40))
    }
  }

  test("any other type disagreement under one name still fails") {
    withTmp { tmp =>
      MetaIo.writeRows(conf, s"$tmp/a",
        StructType(Seq(StructField("n", LongType))), Seq(Row(1L)))
      MetaIo.writeRows(conf, s"$tmp/b",
        StructType(Seq(StructField("n", StringType))), Seq(Row("x")))
      intercept[IllegalArgumentException] {
        MetaIo.readRowsMerged(conf, Seq(s"$tmp/a", s"$tmp/b"))
      }
    }
  }

  /** One row written with parquet-hadoop under the declared schema. */
  private def writeParquet(file: String, schema: String)(
      fill: Group => Unit): Unit = {
    val msg = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(schema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(file), conf))
      .withConf(conf).withType(msg).build()
    try {
      val g = new org.apache.parquet.example.data.simple
        .SimpleGroupFactory(msg).newGroup()
      fill(g)
      w.write(g)
    } finally w.close()
  }

  private def filesUnder(dirs: String*): Seq[String] =
    dirs.flatMap(d => MetaIo.parquetFiles(conf, d).map(_.getPath.toString))

  /** readParquet's schema, asserted equal to Spark's inferred one. */
  private def sameAsInferred(files: Seq[String], merge: Boolean)
      : StructType = {
    val inferred = spark.read.option("mergeSchema", merge)
      .parquet(files: _*).schema
    val got = MetaIo.readParquet(spark, files, merge).schema
    assert(got == inferred, s"mergeSchema=$merge")
    got
  }

  private def withSessionConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("readParquet: an additively evolved file set, merged and unmerged " +
      "(unmerged samples the smallest path, not the first listed)") {
    withTmp { tmp =>
      import spark.implicits._
      Seq((1L, "a")).toDF("id", "x").coalesce(1).write.parquet(s"$tmp/a")
      Seq((2L, "b", 7)).toDF("id", "x", "y").coalesce(1)
        .write.parquet(s"$tmp/b")
      val files = filesUnder(s"$tmp/b", s"$tmp/a") // widest listed first
      assert(sameAsInferred(files, merge = true).fieldNames.toSeq ==
        Seq("id", "x", "y"))
      assert(sameAsInferred(files, merge = false).fieldNames.toSeq ==
        Seq("id", "x"))
    }
  }

  test("readParquet: Spark-written files use their stored row metadata") {
    withTmp { tmp =>
      val noted = new MetadataBuilder().putString("comment", "kept").build()
      spark.range(3).select(col("id"), col("id").cast("short").as("s"),
          struct(col("id").as("a")).as("nested"),
          col("id").cast("string").as("note", noted))
        .coalesce(1).write.parquet(s"$tmp/t")
      val files = filesUnder(s"$tmp/t")
      val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(files.head), conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter
          .SKIP_ROW_GROUPS)
      assert(footer.getFileMetaData.getKeyValueMetaData
        .containsKey("org.apache.spark.sql.parquet.row.metadata"))
      Seq(true, false).foreach { m =>
        val got = sameAsInferred(files, m)
        assert(got("note").metadata.getString("comment") == "kept")
        assert(got("s").dataType == ShortType)
      }
    }
  }

  test("readParquet: TIMESTAMP(NANOS) reads as LONG under nanosAsLong") {
    withTmp { tmp =>
      writeParquet(s"$tmp/n.parquet", "message m { optional int64 ts " +
          "(TIMESTAMP(NANOS,true)); optional int64 id; }") { g =>
        g.append("ts", 1700000000123456789L).append("id", 1L)
      }
      withSessionConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
        assert(sameAsInferred(Seq(s"$tmp/n.parquet"), merge = false)("ts")
          .dataType == LongType)
      }
    }
  }

  test("readParquet: TIMESTAMP(MICROS) with and without UTC adjustment") {
    withTmp { tmp =>
      writeParquet(s"$tmp/t.parquet", "message m { optional int64 utc " +
          "(TIMESTAMP(MICROS,true)); optional int64 local " +
          "(TIMESTAMP(MICROS,false)); }") { g =>
        g.append("utc", 1700000000123456L).append("local", 1700000000123456L)
      }
      val got = sameAsInferred(Seq(s"$tmp/t.parquet"), merge = true)
      assert(got("utc").dataType == TimestampType)
      assert(got("local").dataType == TimestampNTZType)
    }
  }

  test("readParquet: an incompatible BIGINT/STRING merge still fails") {
    withTmp { tmp =>
      import spark.implicits._
      Seq(1L).toDF("n").write.parquet(s"$tmp/a")
      Seq("x").toDF("n").write.parquet(s"$tmp/b")
      val files = filesUnder(s"$tmp/a", s"$tmp/b")
      intercept[Exception] {
        spark.read.option("mergeSchema", "true").parquet(files: _*).schema
      }
      intercept[org.apache.spark.SparkException] {
        MetaIo.readParquet(spark, files, mergeSchema = true)
      }
    }
  }
}
