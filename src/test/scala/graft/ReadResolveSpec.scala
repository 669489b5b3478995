package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checks.CheckDsl
import graft.substrate.{Cdc, Layout, SnapshotStore}

/** Resolving a read is planning, not execution: the store's read paths
  * and `CheckDsl.table` build their DataFrames without starting a Spark
  * job (the parquet schema comes from footers read on the driver), even
  * when every pending sidecar kind applies. Executing such a read applies
  * the sidecars as driver-held key sets: no broadcast, one scan job. An
  * append commit's manifest is driver-side metadata too, so appending
  * written files starts none.
  */
class ReadResolveSpec extends SparkSpec {

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("resolve").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  private def changes(upd: Range, del: Range): DataFrame = {
    import spark.implicits._
    (upd.map(i => (i.toLong, (i % 7) + 100L, "U", 1L)) ++
      del.map(i => (i.toLong, 0L, "D", 1L))).toDF("k", "v", "op", "seq")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The frame `build` returns, asserting it started no job. */
  private def resolved(what: String)(build: => DataFrame): DataFrame = {
    val (df, jobs) = jobsDuring(build)
    assert(jobs == 0, s"resolving $what started $jobs Spark job(s)")
    df
  }

  /** `df`'s rows, asserting its execution planned no broadcast and
    * started at most `budget` jobs.
    */
  private def executed(what: String, budget: Int)(df: DataFrame): DataFrame = {
    val (rows, jobs) = jobsDuring(df.collect())
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Broadcast"), s"$what planned a broadcast:\n$plan")
    assert(jobs <= budget, s"$what started $jobs Spark job(s), budget $budget")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  test("readAt, readAtPoint and readAtWhere resolve without a Spark job " +
      "under two pending merge sidecars and a positional sidecar") {
    // executing each read plans no broadcast and runs one job, and the
    // null-key row survives every sidecar
    withStore { tmp =>
      import spark.implicits._
      val base = ((0 until 100).map(i => (Option(i.toLong), (i % 7).toLong))
        :+ ((None: Option[Long]) -> 5L)).toDF("k", "v")
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch2 = changes(10 to 20, 30 to 40)
      val ch3 = changes(50 to 55, 70 to 72)
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, "k", ch2,
        s"$tmp/del2", s"$tmp/img2")
      SnapshotStore.mergeCommitMor(spark, tmp, 3L, 2L, "k", ch3,
        s"$tmp/del3", s"$tmp/img3")
      SnapshotStore.deleteCommitPos(spark, tmp, 4L, 3L, "k",
        (60 to 65).map(_.toLong).toDF("k"), s"$tmp/pos4")
      val kinds = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 4L && col("kind").isNotNull)
        .groupBy("kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(kinds == Map("merge_delete" -> 2L, "pos_delete" -> 1L))

      val expected = Cdc.applyChangeLog(
          Cdc.applyChangeLog(base, ch2, Seq("k")), ch3, Seq("k"))
        .filter(col("k").isNull || !col("k").between(60, 65))
      val all = executed("readAt", 1)(
        resolved("readAt")(SnapshotStore.readAt(spark, tmp, 4L)))
      val point = executed("readAtPoint", 1)(resolved("readAtPoint")(
        SnapshotStore.readAtPoint(spark, tmp, 4L, "k", 12L)))
      val range = executed("readAtWhere", 1)(resolved("readAtWhere")(
        SnapshotStore.readAtWhere(spark, tmp, 4L, "k", 0L, 70L)))
      assert(all.filter(col("k").isNull).count() == 1)
      assert(sameRows(all, expected))
      assert(sameRows(point, expected.filter(col("k") === 12L)))
      assert(sameRows(range, expected.filter(col("k").between(0, 70))))
    }
  }

  test("a composite-key row with one null key column survives a pending " +
      "merge sidecar on that key") {
    withStore { tmp =>
      import spark.implicits._
      val base = ((0 until 30).map(i =>
          (i.toLong, Option((i % 3).toLong), i.toLong * 10)) :+
        ((5L, None: Option[Long], 99L))).toDF("k", "j", "v")
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch = Seq((5L, 2L, 500L, "U", 1L), (6L, 0L, 0L, "D", 1L),
        (40L, 1L, 400L, "I", 1L)).toDF("k", "j", "v", "op", "seq")
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, Seq("k", "j"), ch,
        s"$tmp/del2", s"$tmp/img2", 1, "seq", "op")
      val read = executed("readAt", 1)(SnapshotStore.readAt(spark, tmp, 2L))
      assert(read.filter(col("k") === 5L && col("j").isNull)
        .select("v").as[Long].collect().toSeq == Seq(99L))
      assert(sameRows(read, Cdc.applyChangeLog(base, ch, Seq("k", "j"))))
    }
  }

  test("readChanged resolves from the committed manifests: an append " +
      "window reads exactly the appended files with no Spark job, a " +
      "compaction window the rewritten set, and an empty or sidecar " +
      "window refuses") {
    withStore { tmp =>
      import spark.implicits._
      def kv(r: Range) = r.map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
      def names(df: DataFrame) =
        df.inputFiles.map(new org.apache.hadoop.fs.Path(_).getName).toSet
      def written(dir: String) = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
      Layout.writeClustered(kv(0 until 100), s"$tmp/d1", "k", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      Layout.writeClustered(kv(100 until 130), s"$tmp/w2", "k",
        numFiles = 2)
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"),
        Seq("k")) == 2L)
      val appended = resolved("readChanged")(
        SnapshotStore.readChanged(spark, tmp, 1L, 2L))
      assert(names(appended) == written(s"$tmp/w2"))
      assert(sameRows(appended, kv(100 until 130)))
      // a compaction rewrites every file: the window is the new set
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
        s"$tmp/d3", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"),
          Seq("k")))
      val rewritten = SnapshotStore.readChanged(spark, tmp, 2L, 3L)
      assert(names(rewritten) == written(s"$tmp/d3"))
      assert(sameRows(rewritten, kv(0 until 130)))
      val empty = intercept[IllegalArgumentException] {
        SnapshotStore.readChanged(spark, tmp, 3L, 3L)
      }
      assert(empty.getMessage.contains("no files changed"))
      // a pending sidecar hides rows across the whole table
      SnapshotStore.deleteCommitMor(spark, tmp, 4L, 3L, "k",
        Seq(5L).toDF("k"), s"$tmp/del4")
      val pending = intercept[IllegalArgumentException] {
        SnapshotStore.readChanged(spark, tmp, 3L, 4L)
      }
      assert(pending.getMessage.contains("merge-on-read"))
    }
  }

  test("appendCommit over an already-written batch dir starts no Spark " +
      "job: its manifest is driver-side metadata") {
    withStore { tmp =>
      import spark.implicits._
      Layout.writeClustered((0 until 40).map(i => (i.toLong, 1L))
        .toDF("k", "v"), s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq("k")))
      Layout.writeClustered((40 until 50).map(i => (i.toLong, 2L))
        .toDF("k", "v"), s"$tmp/w2", "k", numFiles = 1)
      val (v, jobs) = jobsDuring(SnapshotStore.appendCommit(spark, tmp,
        Seq(s"$tmp/w2"), Seq("k")))
      assert(v == 2L)
      assert(jobs == 0, s"appendCommit started $jobs Spark job(s)")
      assert(SnapshotStore.countAt(spark, tmp, 2L) == 50L)
    }
  }

  test("CheckDsl.table resolves a table without a Spark job") {
    val events = resolved("CheckDsl.table")(
      CheckDsl.table(spark, sf, "events"))
    assert(events.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(events.count() ==
      spark.read.parquet(s"$sf/events.parquet").count())
  }
}
