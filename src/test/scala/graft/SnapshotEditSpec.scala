package graft

import org.apache.spark.sql.DataFrame

import graft.substrate.{Layout, MetaIo, PathNorm, SnapshotStore}

/** Characterization of every public derived commit of the snapshot store
  * on small clustered stores: for each committed version it pins the
  * manifest's column names and types in order, every row in manifest
  * order with every cell (the file relative to the store with its write
  * UUID masked; `kind`, `delete_key`, `delete_v`, `added_v`, `batch_tag`,
  * `row_count`, bounds and blooms), the value each commit call returns,
  * and the logical `readAt` result. Any change
  * to how a commit assembles its manifest shows up here as a diff.
  */
class SnapshotEditSpec extends SparkSpec {

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("snapedit").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  private val WriteId =
    "-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}-c000"

  private def rel(tmp: String, f: String): String =
    PathNorm(f).stripPrefix(tmp + "/").replaceAll(WriteId, "")

  /** One committed version: schema, rows in manifest order, readAt. */
  private def describe(tmp: String, v: Long): String = {
    val (schema, rows) = MetaIo.readRows(
      spark.sparkContext.hadoopConfiguration, s"$tmp/_manifest/v=$v")
    val cols = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
    // every cell in column order: the file relative to the store, a
    // bloom as its length and content hash, a null as "-"
    val manifestRows = rows.map(r => schema.fieldNames.indices.map { i =>
      if (r.isNullAt(i)) "-"
      else r.get(i) match {
        case b: Array[Byte] =>
          s"${b.length}B#${java.util.Arrays.hashCode(b)}"
        case f: String if schema.fieldNames(i) == "file" => rel(tmp, f)
        case x => x.toString
      }
    }.mkString("|"))
    val read = SnapshotStore.readAt(spark, tmp, v)
    val readRows = read.collect().map(_.toSeq.mkString(":")).sorted
    (Seq(s"cols ${cols.mkString(",")}") ++ manifestRows.map("row " + _) ++
      Seq(s"read ${read.columns.mkString(",")} = ${readRows.mkString(" ")}"))
      .mkString("\n")
  }

  private def check(tmp: String, expected: Map[Long, String]): Unit = {
    val vs = SnapshotStore.committedVersions(spark, tmp)
    assert(vs == expected.keys.toSeq.sorted)
    vs.foreach { v =>
      val got = describe(tmp, v)
      assert(got == expected(v), s"v=$v of $tmp:\n$got")
    }
  }

  private def changes(rows: Seq[(Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (k, v, op) => (k, v, op, 1L) }.toDF("k", "v", "op", "seq")
  }

  test("single-key store: append, CoW delete, CoW merge, MoR delete, MoR " +
      "merge, positional delete and materialize commit these manifests") {
    withStore { tmp =>
      import spark.implicits._
      val base = (0L until 40L).map(k => (k, k * 3 % 11)).toDF("k", "v")
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k"), Seq("k"), bloomBits = 256, bloomK = 3))
      Layout.writeClustered((40L until 46L).map(k => (k, k % 5)).toDF("k", "v"),
        s"$tmp/w2", "k", numFiles = 1)
      val returned = Seq(
        SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"), Seq("k"),
          batchTag = Some("b2")),
        SnapshotStore.deleteCommit(spark, tmp, 3L, 2L, "k", 10L, 14L,
          s"$tmp/r3"),
        SnapshotStore.mergeCommit(spark, tmp, 4L, 3L, "k",
          changes(Seq((20L, 120L, "U"), (21L, 121L, "U"), (25L, 0L, "D"),
            (26L, 0L, "D"), (50L, 5L, "I"), (51L, 6L, "I"))), s"$tmp/r4"),
        SnapshotStore.deleteCommitMor(spark, tmp, 5L, 4L, "k",
          Seq(5L, 6L).toDF("k"), s"$tmp/x5"),
        SnapshotStore.mergeCommitMor(spark, tmp, 6L, 5L, "k",
          changes(Seq((30L, 130L, "U"), (31L, 131L, "U"), (32L, 0L, "D"),
            (60L, 7L, "I"))), s"$tmp/x6", s"$tmp/i6"),
        SnapshotStore.deleteCommitPos(spark, tmp, 7L, 6L, "k",
          Seq(35L, 36L).toDF("k"), s"$tmp/p7"),
        SnapshotStore.materializeCommit(spark, tmp, 8L, 7L, "k", s"$tmp/r8",
          numFiles = 2))
      assert(returned.mkString(" ") == SingleKeyReturns)
      check(tmp, SingleKey)
    }
  }

  test("composite-key store: plain append, composite MoR delete and " +
      "merge, then materialize commit these manifests") {
    withStore { tmp =>
      import spark.implicits._
      val base = (for (a <- 0L until 10L; b <- 0L until 3L)
        yield (a, b, a * 10 + b)).toDF("a", "b", "v")
      Layout.writeClustered(base, s"$tmp/d1", "a", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq("a")))
      Layout.writeClustered(
        (for (a <- 10L until 12L; b <- 0L until 2L) yield (a, b, a * 10 + b))
          .toDF("a", "b", "v"), s"$tmp/w2", "a", numFiles = 1)
      val ch = Seq((3L, 0L, 999L, "U"), (4L, 1L, 0L, "D"), (12L, 0L, 1L, "I"))
        .map { case (a, b, v, op) => (a, b, v, op, 1L) }
        .toDF("a", "b", "v", "op", "seq")
      val returned = Seq(
        SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2")),
        SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L, Seq("a", "b"),
          Seq((1L, 1L), (2L, 2L)).toDF("a", "b"), s"$tmp/x3"),
        SnapshotStore.mergeCommitMor(spark, tmp, 4L, 3L, Seq("a", "b"), ch,
          s"$tmp/x4", s"$tmp/i4", 1, "seq", "op"),
        SnapshotStore.materializeCommit(spark, tmp, 5L, 4L, "a", s"$tmp/r5"))
      assert(returned.mkString(" ") == CompositeReturns)
      check(tmp, Composite)
    }
  }

  private val SingleKeyReturns = "2 (1,5) (1,5) 2 (4,3) 2 ()"
  private val SingleKey: Map[Long, String] = Map(
    1L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint
      |row 1|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3
      |row 1|d1/part-00001.snappy.parquet|10|10|19|32B#42587045|3
      |row 1|d1/part-00002.snappy.parquet|10|20|29|32B#1588810097|3
      |row 1|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3
      |read k,v = 0:0 10:8 11:0 12:3 13:6 14:9 15:1 16:4 17:7 18:10 19:2 1:3 20:5 21:8 22:0 23:3 24:6 25:9 26:1 27:4 28:7 29:10 2:6 30:2 31:5 32:8 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 4:1 5:4 6:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    2L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string
      |row 2|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-
      |row 2|d1/part-00001.snappy.parquet|10|10|19|32B#42587045|3|-|-
      |row 2|d1/part-00002.snappy.parquet|10|20|29|32B#1588810097|3|-|-
      |row 2|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-
      |row 2|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2
      |read k,v = 0:0 10:8 11:0 12:3 13:6 14:9 15:1 16:4 17:7 18:10 19:2 1:3 20:5 21:8 22:0 23:3 24:6 25:9 26:1 27:4 28:7 29:10 2:6 30:2 31:5 32:8 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 5:4 6:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    3L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string
      |row 3|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-
      |row 3|d1/part-00002.snappy.parquet|10|20|29|32B#1588810097|3|-|-
      |row 3|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-
      |row 3|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2
      |row 3|r3/part-00000.snappy.parquet|5|15|19|32B#603881624|3|-|-
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:5 21:8 22:0 23:3 24:6 25:9 26:1 27:4 28:7 29:10 2:6 30:2 31:5 32:8 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 5:4 6:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    4L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string
      |row 4|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-
      |row 4|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-
      |row 4|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2
      |row 4|r3/part-00000.snappy.parquet|5|15|19|32B#603881624|3|-|-
      |row 4|r4/part-00000.snappy.parquet|10|20|51|32B#7201039|3|-|-
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:120 21:121 22:0 23:3 24:6 27:4 28:7 29:10 2:6 30:2 31:5 32:8 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 50:5 51:6 5:4 6:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    5L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string,kind:string,delete_key:string
      |row 5|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-|-|-
      |row 5|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-|-|-
      |row 5|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2|-|-
      |row 5|r3/part-00000.snappy.parquet|5|15|19|32B#603881624|3|-|-|-|-
      |row 5|r4/part-00000.snappy.parquet|10|20|51|32B#7201039|3|-|-|-|-
      |row 5|x5/part-00000.snappy.parquet|-|-|-|-|-|-|-|delete|k
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:120 21:121 22:0 23:3 24:6 27:4 28:7 29:10 2:6 30:2 31:5 32:8 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 50:5 51:6 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    6L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string,kind:string,delete_key:string,delete_v:bigint
      |row 6|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-|-|-|-
      |row 6|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-|-|-|-
      |row 6|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2|-|-|-
      |row 6|r3/part-00000.snappy.parquet|5|15|19|32B#603881624|3|-|-|-|-|-
      |row 6|r4/part-00000.snappy.parquet|10|20|51|32B#7201039|3|-|-|-|-|-
      |row 6|x5/part-00000.snappy.parquet|-|-|-|-|-|-|-|delete|k|-
      |row 6|x6/part-00000.snappy.parquet|-|-|-|-|-|-|-|merge_delete|k|6
      |row 6|i6/part-00000.snappy.parquet|3|30|60|32B#1359320154|3|6|-|-|-|-
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:120 21:121 22:0 23:3 24:6 27:4 28:7 29:10 2:6 30:130 31:131 33:0 34:3 35:6 36:9 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 50:5 51:6 60:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    7L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint,added_v:bigint,batch_tag:string,kind:string,delete_key:string,delete_v:bigint
      |row 7|d1/part-00000.snappy.parquet|10|0|9|32B#2094305681|3|-|-|-|-|-
      |row 7|d1/part-00003.snappy.parquet|10|30|39|32B#899427205|3|-|-|-|-|-
      |row 7|w2/part-00000.snappy.parquet|6|40|45|-|-|2|b2|-|-|-
      |row 7|r3/part-00000.snappy.parquet|5|15|19|32B#603881624|3|-|-|-|-|-
      |row 7|r4/part-00000.snappy.parquet|10|20|51|32B#7201039|3|-|-|-|-|-
      |row 7|x5/part-00000.snappy.parquet|-|-|-|-|-|-|-|delete|k|-
      |row 7|x6/part-00000.snappy.parquet|-|-|-|-|-|-|-|merge_delete|k|6
      |row 7|i6/part-00000.snappy.parquet|3|30|60|32B#1359320154|3|6|-|-|-|-
      |row 7|p7/part-00000.snappy.parquet|-|-|-|-|-|-|-|pos_delete|k|-
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:120 21:121 22:0 23:3 24:6 27:4 28:7 29:10 2:6 30:130 31:131 33:0 34:3 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 50:5 51:6 60:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"),
    8L -> """
      |cols version:bigint,file:string,row_count:bigint,min_k:bigint,max_k:bigint,bloom_k:binary,bloomk_k:bigint
      |row 8|r8/part-00000.snappy.parquet|19|0|27|32B#824167791|3
      |row 8|r8/part-00001.snappy.parquet|18|28|60|32B#-867527689|3
      |read k,v = 0:0 15:1 16:4 17:7 18:10 19:2 1:3 20:120 21:121 22:0 23:3 24:6 27:4 28:7 29:10 2:6 30:130 31:131 33:0 34:3 37:1 38:4 39:7 3:9 40:0 41:1 42:2 43:3 44:4 45:0 4:1 50:5 51:6 60:7 7:10 8:2 9:5""".stripMargin.stripPrefix("\n"))
  private val CompositeReturns = "2 2 (3,2) ()"
  private val Composite: Map[Long, String] = Map(
    1L -> """
      |cols version:bigint,file:string,row_count:bigint,min_a:bigint,max_a:bigint
      |row 1|d1/part-00000.snappy.parquet|15|0|4
      |row 1|d1/part-00001.snappy.parquet|15|5|9
      |read a,b,v = 0:0:0 0:1:1 0:2:2 1:0:10 1:1:11 1:2:12 2:0:20 2:1:21 2:2:22 3:0:30 3:1:31 3:2:32 4:0:40 4:1:41 4:2:42 5:0:50 5:1:51 5:2:52 6:0:60 6:1:61 6:2:62 7:0:70 7:1:71 7:2:72 8:0:80 8:1:81 8:2:82 9:0:90 9:1:91 9:2:92""".stripMargin.stripPrefix("\n"),
    2L -> """
      |cols version:bigint,file:string,row_count:bigint,min_a:bigint,max_a:bigint,added_v:bigint
      |row 2|d1/part-00000.snappy.parquet|15|0|4|-
      |row 2|d1/part-00001.snappy.parquet|15|5|9|-
      |row 2|w2/part-00000.snappy.parquet|-|-|-|2
      |read a,b,v = 0:0:0 0:1:1 0:2:2 10:0:100 10:1:101 11:0:110 11:1:111 1:0:10 1:1:11 1:2:12 2:0:20 2:1:21 2:2:22 3:0:30 3:1:31 3:2:32 4:0:40 4:1:41 4:2:42 5:0:50 5:1:51 5:2:52 6:0:60 6:1:61 6:2:62 7:0:70 7:1:71 7:2:72 8:0:80 8:1:81 8:2:82 9:0:90 9:1:91 9:2:92""".stripMargin.stripPrefix("\n"),
    3L -> """
      |cols version:bigint,file:string,row_count:bigint,min_a:bigint,max_a:bigint,added_v:bigint,kind:string,delete_key:string
      |row 3|d1/part-00000.snappy.parquet|15|0|4|-|-|-
      |row 3|d1/part-00001.snappy.parquet|15|5|9|-|-|-
      |row 3|w2/part-00000.snappy.parquet|-|-|-|2|-|-
      |row 3|x3/part-00000.snappy.parquet|-|-|-|-|delete|a,b
      |read a,b,v = 0:0:0 0:1:1 0:2:2 10:0:100 10:1:101 11:0:110 11:1:111 1:0:10 1:2:12 2:0:20 2:1:21 3:0:30 3:1:31 3:2:32 4:0:40 4:1:41 4:2:42 5:0:50 5:1:51 5:2:52 6:0:60 6:1:61 6:2:62 7:0:70 7:1:71 7:2:72 8:0:80 8:1:81 8:2:82 9:0:90 9:1:91 9:2:92""".stripMargin.stripPrefix("\n"),
    4L -> """
      |cols version:bigint,file:string,row_count:bigint,min_a:bigint,max_a:bigint,added_v:bigint,kind:string,delete_key:string,delete_v:bigint,min_b:bigint,max_b:bigint
      |row 4|d1/part-00000.snappy.parquet|15|0|4|-|-|-|-|-|-
      |row 4|d1/part-00001.snappy.parquet|15|5|9|-|-|-|-|-|-
      |row 4|w2/part-00000.snappy.parquet|-|-|-|2|-|-|-|-|-
      |row 4|x3/part-00000.snappy.parquet|-|-|-|-|delete|a,b|-|-|-
      |row 4|x4/part-00000.snappy.parquet|-|-|-|-|merge_delete|a,b|4|-|-
      |row 4|i4/part-00000.snappy.parquet|2|3|12|4|-|-|-|0|0
      |read a,b,v = 0:0:0 0:1:1 0:2:2 10:0:100 10:1:101 11:0:110 11:1:111 12:0:1 1:0:10 1:2:12 2:0:20 2:1:21 3:0:999 3:1:31 3:2:32 4:0:40 4:2:42 5:0:50 5:1:51 5:2:52 6:0:60 6:1:61 6:2:62 7:0:70 7:1:71 7:2:72 8:0:80 8:1:81 8:2:82 9:0:90 9:1:91 9:2:92""".stripMargin.stripPrefix("\n"),
    5L -> """
      |cols version:bigint,file:string,row_count:bigint,min_a:bigint,max_a:bigint,min_b:bigint,max_b:bigint
      |row 5|r5/part-00000.snappy.parquet|32|0|12|0|2
      |read a,b,v = 0:0:0 0:1:1 0:2:2 10:0:100 10:1:101 11:0:110 11:1:111 12:0:1 1:0:10 1:2:12 2:0:20 2:1:21 3:0:999 3:1:31 3:2:32 4:0:40 4:2:42 5:0:50 5:1:51 5:2:52 6:0:60 6:1:61 6:2:62 7:0:70 7:1:71 7:2:72 8:0:80 8:1:81 8:2:82 9:0:90 9:1:91 9:2:92""".stripMargin.stripPrefix("\n"))
}
