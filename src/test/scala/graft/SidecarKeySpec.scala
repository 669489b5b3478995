package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.substrate.{Cdc, IvfPq, Layout, PathNorm, PendingKeys, PqIndex,
  SnapshotStore, VectorArtifact}

/** A pending sidecar's keys are read on the driver before a read applies
  * them when its footers' row counts are within the key-set bound; past
  * it, the sidecar applies as a broadcast join with the same results. A
  * key compares with the data in their wider type, and a key column whose
  * parquet type carries a logical annotation (DATE, DECIMAL) keeps its
  * own type through the read.
  */
class SidecarKeySpec extends SparkSpec {

  private def withDir[A](f: String => A): A = {
    val tmp = java.nio.file.Files.createTempDirectory("sidecar").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Runs `f` with [[PendingKeys.sidecarKeySetMaxRows]] at `max`. */
  private def withKeySetMax[A](max: Long)(f: => A): A = {
    val was = PendingKeys.sidecarKeySetMaxRows
    PendingKeys.sidecarKeySetMaxRows = max
    try f
    finally PendingKeys.sidecarKeySetMaxRows = was
  }

  test("a sidecar past the key-set bound is left in its parquet, " +
      "decided from the footer row counts alone") {
    withDir { tmp =>
      import spark.implicits._
      (0 until 10).map(_.toLong).toDF("k").coalesce(1)
        .write.parquet(s"$tmp/del")
      val dir = new java.io.File(s"$tmp/del")
      val file = dir.listFiles().find(_.getName.endsWith(".parquet")).get
      // zero every byte between the magic and the footer, so reading any
      // row fails while the footer (and its row count) still reads; the
      // checksum file goes too, or the whole file would fail to open
      val bytes = java.nio.file.Files.readAllBytes(file.toPath)
      val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      java.util.Arrays.fill(bytes, 4, bytes.length - 8 - footerLen, 0.toByte)
      java.nio.file.Files.write(file.toPath, bytes)
      dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(_.delete())

      val past = withKeySetMax(5)(
        PendingKeys.sidecarKeys(spark, Seq(file.getPath), Seq("k")))
      assert(past.isInstanceOf[graft.substrate.KeyFrame])
      // under the bound the same call reads the zeroed rows and fails
      intercept[Exception](withKeySetMax(100)(
        PendingKeys.sidecarKeys(spark, Seq(file.getPath), Seq("k"))))
    }
  }

  test("delete sidecars accumulated past the key-set bound read, feed " +
      "and materialize as under it") {
    import spark.implicits._
    val base = (0 until 100).map(i => (i.toLong, i.toLong * 10))
      .toDF("k", "v")
    // two delete sidecars on `k` form one 8-key set, then a positional
    // sidecar and a merge sidecar
    val gone = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L, 20L, 21L, 22L, 31L)
    val ch = Seq((30L, 300L, "U", 1L), (31L, 0L, "D", 1L),
      (200L, 2000L, "I", 1L)).toDF("k", "v", "op", "seq")
    val expected = Cdc.applyChangeLog(base, ch, Seq("k"))
      .filter(!col("k").isin(gone: _*))
    def run(max: Long) = withKeySetMax(max) {
      withDir { tmp =>
        Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 4)
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
            Seq("k")))
        SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "k",
          Seq(1L, 2L, 3L, 4L).toDF("k"), s"$tmp/del2")
        SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L, "k",
          Seq(10L, 11L, 12L, 13L).toDF("k"), s"$tmp/del3")
        SnapshotStore.deleteCommitPos(spark, tmp, 4L, 3L, "k",
          Seq(20L, 21L, 22L).toDF("k"), s"$tmp/pos4")
        SnapshotStore.mergeCommitMor(spark, tmp, 5L, 4L, "k", ch,
          s"$tmp/del5", s"$tmp/img5")
        val read = SnapshotStore.readAt(spark, tmp, 5L)
        assert(sameRows(read, expected))
        val plan = read.queryExecution.executedPlan.toString
        val feed = SnapshotStore.readChangesBetween(spark, tmp, 1L, 5L, "k")
          .orderBy("_commit_version", "k", "_change_type").collect()
        SnapshotStore.materializeCommit(spark, tmp, 6L, 5L, "k",
          s"$tmp/m6", numFiles = 2)
        assert(sameRows(SnapshotStore.readAt(spark, tmp, 6L), expected))
        assert(SnapshotStore.countAt(spark, tmp, 6L) == expected.count())
        (read.orderBy("k").collect(), plan, feed)
      }
    }
    val (under, underPlan, underFeed) = run(PendingKeys.sidecarKeySetMaxRows)
    val (past, pastPlan, pastFeed) = run(5)
    assert(!underPlan.contains("Join"), underPlan)
    assert(pastPlan.contains("BroadcastHashJoin") &&
      pastPlan.contains("LeftAnti"), pastPlan)
    assert(past.toSeq == under.toSeq)
    assert(pastFeed.toSeq == underFeed.toSeq)
    assert(underFeed.count(_.getAs[String]("_change_type") == "delete") ==
      gone.size)
  }

  test("vector delete sidecars load, prune and materialize alike under " +
      "and past the key-set bound") {
    val dim = 16
    val e = spark.range(150).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => sin(col("id") * (j + lit(1)) * lit(0.37))).as("v"))
      .localCheckpoint(true)
    val cents = IvfPq.servingCentroids(e, centroidMod = 7)
      .localCheckpoint(true)
    val cb = Array.tabulate(8, 16)((s, c) =>
      Array(math.sin(s * 1.3 + c * 0.41), math.cos(s * 0.7 + c * 0.53)))
    val codes = PqIndex.encode(e, "vec_id", "v", cb, dim = dim)
      .join(IvfPq.probeCellsFrom(cents, e, "vec_id", "v", nProbe = 1)
        .select(col("qid").as("vec_id"), col("cell")), Seq("vec_id"))
      .localCheckpoint(true)
    val cells = codes.select("cell").distinct().orderBy("cell")
      .collect().map(_.getLong(0)).toSeq.take(4)
    def rows(df: DataFrame): Seq[String] =
      df.orderBy("vec_id").collect().map(_.toSeq.mkString(":")).toSeq
    def run(max: Long) = withKeySetMax(max) {
      withDir { tmp =>
        import spark.implicits._
        VectorArtifact.saveClustered(spark, tmp, 0L, dim, cents, cb,
          codes.filter(col("vec_id") < 120))
        VectorArtifact.appendPublish(spark, tmp, 1L, 0L, dim, cents, cb,
          codes.filter(col("vec_id") >= 120))
        // two chained sidecars hold 30 keys between them
        VectorArtifact.deletePublishMor(spark, tmp, 2L, 1L,
          (0L until 150L by 10L).toDF("vec_id"))
        VectorArtifact.deletePublishMor(spark, tmp, 3L, 2L,
          (5L until 150L by 10L).toDF("vec_id"))
        val loaded = VectorArtifact.load(spark, tmp, 3L).codes
        val plan = loaded.queryExecution.executedPlan.toString
        val pruned = rows(VectorArtifact.codesForCells(spark, tmp, 3L, cells))
        VectorArtifact.compactPublish(spark, tmp, 4L, 3L)
        val manifest = VectorArtifact.readManifestFull(spark, tmp, 4L)
          .map { case (f, c, k) => (PathNorm(f).stripPrefix(tmp)
            .replaceAll("/part-[^/]+$", ""), c, k) }.sorted
        (rows(loaded), plan, pruned, manifest,
          rows(VectorArtifact.load(spark, tmp, 4L).codes))
      }
    }
    val under = run(PendingKeys.sidecarKeySetMaxRows)
    val past = run(0)
    assert(!under._2.contains("Join"), under._2)
    assert(past._2.contains("BroadcastHashJoin") &&
      past._2.contains("LeftAnti"), past._2)
    val expected = rows(codes.filter(col("vec_id") % 5 =!= 0))
    assert(under._1 == expected && past._1 == expected)
    assert(under._3 == past._3 && under._3.nonEmpty)
    assert(under._4 == past._4 && !under._4.exists(_._3.isDefined))
    assert(under._5 == expected && past._5 == expected)
  }

  test("a key probes a column of another type in their wider type") {
    withDir { tmp =>
      import spark.implicits._
      // LONG keys over a DECIMAL column (a driver-held key set) and DATE
      // keys over a TIMESTAMP column (past the metadata type universe):
      // 5.50 and noon are not the keys 5 and the day, and stay
      val base = Seq((1L, "5.00", "2024-01-01 00:00:00"),
          (2L, "5.50", "2024-01-01 12:00:00"),
          (3L, "6.00", "2024-01-03 00:00:00"),
          (4L, "6.25", "2024-01-03 06:00:00"))
        .toDF("id", "p", "t")
        .select(col("id"), col("p").cast("decimal(12,2)").as("p"),
          col("t").cast("timestamp").as("t"))
      Layout.writeClustered(base, s"$tmp/d1", "id", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("id")))
      def ids(v: Long): Seq[Long] = SnapshotStore.readAt(spark, tmp, v)
        .select("id").as[Long].collect().sorted.toSeq
      SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "p",
        Seq(5L).toDF("p"), s"$tmp/del2")
      assert(ids(2L) == Seq(2L, 3L, 4L))
      SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L, "t",
        Seq("2024-01-03").toDF("t").select(col("t").cast("date").as("t")),
        s"$tmp/del3")
      assert(ids(3L) == Seq(2L, 4L))
    }
  }

  /** A merge-on-read MERGE on a `key` of an annotated type reads as the
    * changelog applied to the base.
    */
  private def mergeKeyed(tmp: String, base: DataFrame,
      changes: DataFrame, key: String): Unit = {
    Layout.writeClustered(base, s"$tmp/d1", key, numFiles = 3)
    SnapshotStore.commit(spark, tmp, 1L,
      SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq(key)))
    SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, key, changes,
      s"$tmp/del2", s"$tmp/img2")
    val read = SnapshotStore.readAt(spark, tmp, 2L)
    assert(read.schema(key).dataType == base.schema(key).dataType)
    val expected = Cdc.applyChangeLog(base, changes, Seq(key))
    assert(read.count() == expected.count())
    assert(sameRows(read, expected))
  }

  test("a DATE-keyed mergeCommitMor read equals Cdc.applyChangeLog") {
    withDir { tmp =>
      import spark.implicits._
      val base = (0 until 60).map(i => (i, i.toLong)).toDF("i", "v")
        .select(date_add(lit("2024-01-01").cast("date"), col("i")).as("d"),
          col("v"))
      val changes = (Seq((3, 300L, "U"), (4, 0L, "D"), (70, 700L, "I")) ++
          (10 until 25).map(i => (i, i * 100L, "U")))
        .toDF("i", "v", "op")
        .select(date_add(lit("2024-01-01").cast("date"), col("i")).as("d"),
          col("v"), col("op"), lit(1L).as("seq"))
      mergeKeyed(tmp, base, changes, "d")
    }
  }

  test("a DECIMAL(9,2)-keyed mergeCommitMor read equals " +
      "Cdc.applyChangeLog") {
    withDir { tmp =>
      import spark.implicits._
      def dec(df: DataFrame): DataFrame =
        df.withColumn("p", (col("i") / 4).cast("decimal(9,2)")).drop("i")
      val base = dec((0 until 60).map(i => (i, i.toLong)).toDF("i", "v"))
      val changes = dec((Seq((3, 300L, "U"), (4, 0L, "D"),
          (70, 700L, "I")) ++ (10 until 25).map(i => (i, i * 100L, "U")))
        .toDF("i", "v", "op").withColumn("seq", lit(1L)))
      mergeKeyed(tmp, base.select("p", "v"),
        changes.select("p", "v", "op", "seq"), "p")
    }
  }
}
