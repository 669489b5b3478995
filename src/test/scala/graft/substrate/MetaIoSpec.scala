package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side metadata reads: the schema comes from the parquet footer,
  * and integral columns written at two widths merge as LONG.
  */
class MetaIoSpec extends AnyFunSuite {

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
}
