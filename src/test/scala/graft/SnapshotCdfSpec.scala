package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.substrate.{Cdc, Layout, SnapshotStore}

/** Merge-on-read MERGE and the row-level change data feed (r15 —
  * VERDICT r14 next #4/#5): an O(batch) equality-sidecar + image-append
  * merge whose read equals applyChangeLog and whose materialization
  * converges to the copy-on-write result; and readChangesBetween
  * composing appends, MoR deletes, and MoR merges into typed row-level
  * events — including across the rewrite steps where the file-level
  * delta degenerates or refuses.
  */
class SnapshotCdfSpec extends SparkSpec {

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("snapcdf").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  private def kv(range: Range): DataFrame = {
    import spark.implicits._
    range.map(i => (i.toLong, (i % 7).toLong)).toDF("k", "v")
  }

  private def changes(upd: Range, del: Range, ins: Range): DataFrame = {
    import spark.implicits._
    val u = upd.map(i => (i.toLong, (i % 7) + 100L, "U", 1L))
    val d = del.map(i => (i.toLong, 0L, "D", 1L))
    val n = ins.map(i => (i.toLong, 999L, "I", 1L))
    (u ++ d ++ n).toDF("k", "v", "op", "seq")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def dataFilesOf(tmp: String, v: Long): Set[String] =
    SnapshotStore.manifest(spark, tmp)
      .filter(col("version") === v &&
        (col("kind").isNull || !col("kind").isin("delete", "merge_delete")))
      .select("file").collect().map(_.getString(0)).toSet

  test("mergeCommitMor: zero data files rewritten, read equals " +
      "applyChangeLog, pruned reads stay correct, materialize converges") {
    withStore { tmp =>
      val base = kv(0 until 100)
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch = changes(10 to 20, 30 to 40, 200 to 210)
      val (nKeys, nImages) = SnapshotStore.mergeCommitMor(spark, tmp,
        2L, 1L, "k", ch, s"$tmp/del2", s"$tmp/img2")
      assert(nKeys == 33 && nImages == 22) // 11 upd + 11 ins survive
      // every ancestor data file carried verbatim; only images added
      val (f1, f2) = (dataFilesOf(tmp, 1L), dataFilesOf(tmp, 2L))
      assert(f1.subsetOf(f2), "a MoR merge must rewrite ZERO data files")
      assert((f2 -- f1).forall(_.contains("/img2/")))
      // the logical read IS the merge
      val expected = Cdc.applyChangeLog(
        SnapshotStore.readAt(spark, tmp, 1L), ch, Seq("k"))
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 2L), expected))
      // pruned reads apply the scoped sidecar too: the updated range
      // must serve the NEW images, not the superseded base rows
      val pruned = SnapshotStore.readAtWhere(spark, tmp, 2L, "k", 0L, 50L)
      assert(sameRows(pruned, expected.filter(col("k").between(0, 50))))
      // metadata counts refuse while pending (the Iceberg call)
      intercept[IllegalArgumentException] {
        SnapshotStore.countAt(spark, tmp, 2L)
      }
      // time travel: v1 still serves the pre-merge rows
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 1L), base))
      // materialization converges to the CoW result and re-arms counts
      SnapshotStore.materializeCommit(spark, tmp, 3L, 2L, "k",
        s"$tmp/d3", numFiles = 2)
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 3L), expected))
      assert(SnapshotStore.countAt(spark, tmp, 3L) == expected.count())
      assert(SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 3L &&
          col("kind").isin("delete", "merge_delete")).isEmpty)
    }
  }

  test("chained MoR merges compose: a later merge's images are exempt " +
      "from every earlier sidecar, so a deleted key re-admits") {
    withStore { tmp =>
      val base = kv(0 until 50)
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch1 = changes(0 until 0, 10 to 19, 0 until 0) // pure delete
      val (_, img1) = SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L,
        "k", ch1, s"$tmp/del2", s"$tmp/img2")
      assert(img1 == 0, "an all-delete changelog appends no images")
      val ch2 = changes(0 until 0, 0 until 0, 15 to 15) // re-admit 15
      SnapshotStore.mergeCommitMor(spark, tmp, 3L, 2L, "k", ch2,
        s"$tmp/del3", s"$tmp/img3")
      val expected = Cdc.applyChangeLog(
        Cdc.applyChangeLog(base, ch1, Seq("k")), ch2, Seq("k"))
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 3L), expected))
      // the re-admitted key serves its NEW image; its neighbors stay gone
      val head = SnapshotStore.readAt(spark, tmp, 3L)
      assert(head.filter(col("k") === 15).count() == 1)
      assert(head.filter(col("k") === 15).head.getLong(1) == 999L)
      assert(head.filter(col("k").between(10, 19)).count() == 1)
    }
  }

  test("string-keyed MoR merge works where the CoW merge refuses " +
      "(no bounds planning to need a LONG domain)") {
    withStore { tmp =>
      import spark.implicits._
      val base = (0 until 40)
        .map(i => (f"key$i%03d", i.toLong)).toDF("s", "v")
      Layout.writeClustered(base, s"$tmp/d1", "s", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("s")))
      val ch = Seq(("key005", 500L, "U", 1L), ("key010", 0L, "D", 1L),
        ("key100", 1000L, "I", 1L)).toDF("s", "v", "op", "seq")
      intercept[IllegalArgumentException] {
        SnapshotStore.mergeCommit(spark, tmp, 2L, 1L, "s", ch, s"$tmp/m2")
      }
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, "s", ch,
        s"$tmp/del2", s"$tmp/img2")
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 2L),
        Cdc.applyChangeLog(base, ch, Seq("s"))))
    }
  }

  test("append under a pending merge sidecar SERVES immediately (r16, " +
      "per-file sequence stamping): fresh keys AND an append-path " +
      "re-admit; a governance sidecar still hides later appends") {
    withStore { tmp =>
      val base = kv(0 until 30)
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, "k",
        changes(0 until 0, 5 to 9, 0 until 0), s"$tmp/del2", s"$tmp/img2")
      // append fresh keys 100..104 and an append-path re-admit at k=7
      Layout.writeClustered(kv(100 until 105).unionByName(
          kv(7 until 8)), s"$tmp/w3", "k", numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w3"), Seq("k"))
      val head = SnapshotStore.readAt(spark, tmp, 3L)
      assert(head.filter(col("k") >= 100).count() == 5,
        "fresh appended keys must serve under a pending sidecar")
      // the r15 boundary, FLIPPED (ADVICE r15 medium / VERDICT r15
      // next #5): appendCommit stamps added_v, so the appended row is
      // exempt from the earlier merge sidecar — the Iceberg
      // sequence-number discipline (equality deletes apply only to
      // files with strictly smaller sequence numbers); the superseded
      // BASE row at k=7 stays hidden
      assert(head.filter(col("k") === 7).count() == 1,
        "an append after a MoR merge must serve immediately — " +
          "equality deletes apply only to smaller sequence numbers")
      assert(head.filter(col("k").between(5, 9)).count() == 1,
        "the other superseded base keys stay hidden")
      // the GOVERNANCE sidecar keeps its whole-table scope: a forget
      // subject must never reappear through a later append
      import spark.implicits._
      SnapshotStore.deleteCommitMor(spark, tmp, 4L, 3L, "k",
        Seq(100L).toDF("k"), s"$tmp/del4")
      Layout.writeClustered(kv(100 until 101), s"$tmp/w5", "k",
        numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w5"), Seq("k"))
      assert(SnapshotStore.readAt(spark, tmp, 5L)
          .filter(col("k") === 100).count() == 0,
        "a governance forget must hide even later-appended subjects")
    }
  }

  test("readChangesBetween: typed row events across append, MoR " +
      "delete, MoR merge; a materialize step emits nothing") {
    withStore { tmp =>
      Layout.writeClustered(kv(0 until 40), s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      Layout.writeClustered(kv(40 until 50), s"$tmp/w2", "k", numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"), Seq("k"))
      import spark.implicits._
      val forget = (0 until 50).filter(_ % 10 == 3)
        .map(_.toLong).toDF("k")
      SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L, "k", forget,
        s"$tmp/del3")
      SnapshotStore.mergeCommitMor(spark, tmp, 4L, 3L, "k",
        changes(5 to 8, 25 to 25, 100 to 102), s"$tmp/del4", s"$tmp/img4")
      SnapshotStore.materializeCommit(spark, tmp, 5L, 4L, "k",
        s"$tmp/d5", numFiles = 2)
      // the file-level delta REFUSES under pending deletes; the
      // row-level feed serves the same window
      intercept[IllegalArgumentException] {
        SnapshotStore.readChanged(spark, tmp, 2L, 3L)
      }
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 5L, "k")
      val byStep = cdf.groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sk"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(byStep((2L, "insert")) == (10L, (40L until 50L).sum))
      assert(byStep((3L, "delete")) == (5L, Seq(3L, 13L, 23L, 33L, 43L).sum))
      assert(byStep((4L, "update_preimage")) == (4L, (5L to 8L).sum))
      assert(byStep((4L, "update_postimage")) == (4L, (5L to 8L).sum))
      assert(byStep((4L, "delete")) == (1L, 25L))
      assert(byStep((4L, "insert")) == (3L, (100L to 102L).sum))
      // exactly the 6 groups above — the materialize step (v5, a full
      // rewrite) emits NOTHING where the file-level diff degenerated
      // to the whole table
      assert(byStep.size == 6)
      assert(cdf.filter(col("_commit_version") === 5L).isEmpty)
      // postimages carry the updated values
      val post = cdf.filter(col("_change_type") === "update_postimage")
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
      assert((5L to 8L).forall(k => post(k) == (k % 7) + 100L))
      // replaying the feed over v1 reproduces v5 exactly: inserts and
      // postimages add, deletes and preimages remove (multiset algebra)
      val addRows = cdf.filter(col("_change_type")
          .isin("insert", "update_postimage")).select("k", "v")
      val dropRows = cdf.filter(col("_change_type")
          .isin("delete", "update_preimage")).select("k", "v")
      val replayed = SnapshotStore.readAt(spark, tmp, 1L)
        .unionByName(addRows).exceptAll(dropRows)
      assert(sameRows(replayed, SnapshotStore.readAt(spark, tmp, 5L)))
    }
  }

  test("readChangesBetween works across COPY-ON-WRITE steps too: a CoW " +
      "delete emits exactly its deletes, a compaction emits nothing") {
    // the file-level diff degenerates to the full table on both of
    // these steps (the snapshot_incremental_read caveat) — the keyed
    // row diff must see through the rewrite
    withStore { tmp =>
      Layout.writeClustered(kv(0 until 30), s"$tmp/d1", "k", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      SnapshotStore.deleteCommit(spark, tmp, 2L, 1L, "k", 5L, 9L,
        s"$tmp/d2")
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
        s"$tmp/d3", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"),
          Seq("k")))
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 3L, "k")
      val byStep = cdf.groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sk")).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(byStep == Map((2L, "delete") -> (5L, (5L to 9L).sum)),
        s"CoW delete must emit exactly its deletes and the compaction " +
          s"nothing, got $byStep")
    }
  }

  test("readChangesBetween: an append-only window reads only the " +
      "delta files and a no-change window yields an empty typed frame") {
    withStore { tmp =>
      Layout.writeClustered(kv(0 until 20), s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      Layout.writeClustered(kv(20 until 25), s"$tmp/w2", "k", numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"), Seq("k"))
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 2L, "k")
      assert(cdf.filter(col("_change_type") =!= "insert").isEmpty)
      assert(cdf.count() == 5)
      // the plan scans only the appended file — the whole point of a
      // manifest-composed feed (no full-table diff on an append step)
      val scanned = cdf.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.toString.split("\\n"))
        .filter(_.contains("/d1/")).size
      assert(scanned == 0, "an append step must not scan base files")
      // fromV == toV is rejected loudly
      intercept[IllegalArgumentException] {
        SnapshotStore.readChangesBetween(spark, tmp, 2L, 2L, "k"); ()
      }
    }
  }

  private def kv2(range: Range): DataFrame = {
    import spark.implicits._
    // composite key (k1, k2): two lines per k1, like (orderkey, lineno)
    range.flatMap(i => Seq((i.toLong, 1L, (i % 7).toLong),
      (i.toLong, 2L, (i % 5).toLong))).toDF("k1", "k2", "v")
  }

  test("composite-key MoR + CDF (r16): deleteCommitMor, mergeCommitMor " +
      "and readChangesBetween on a two-column key match applyChangeLog " +
      "and the relational replay") {
    withStore { tmp =>
      import spark.implicits._
      val base = kv2(0 until 40)
      Layout.writeClustered(base, s"$tmp/d1", "k1", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k1")))
      // v2: composite governance forget — (k1, k2) tuples, NOT whole
      // k1 groups: only line 2 of every 10th key is forgotten
      val forget = (0 until 40 by 10).map(i => (i.toLong, 2L))
        .toDF("k1", "k2")
      val n = SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L,
        Seq("k1", "k2"), forget, s"$tmp/del2")
      assert(n == 4)
      val afterForget = base.join(forget, Seq("k1", "k2"), "left_anti")
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 2L), afterForget))
      // line 1 of the forgotten keys must SURVIVE (tuple, not k1, is
      // the identity)
      assert(SnapshotStore.readAt(spark, tmp, 2L)
        .filter(col("k1") === 10L).count() == 1)
      // v3: composite MoR merge — update (3,1), delete (4,2), insert
      // (100,1)
      val ch = Seq((3L, 1L, 999L, "U", 1L), (4L, 2L, 0L, "D", 1L),
        (100L, 1L, 777L, "I", 1L)).toDF("k1", "k2", "v", "op", "seq")
      SnapshotStore.mergeCommitMor(spark, tmp, 3L, 2L, Seq("k1", "k2"),
        ch, s"$tmp/del3", s"$tmp/img3", 1, "seq", "op")
      val expected = Cdc.applyChangeLog(afterForget, ch, Seq("k1", "k2"))
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 3L), expected))
      // v4: materialize; the full feed then replays v1 → v4 exactly
      SnapshotStore.materializeCommit(spark, tmp, 4L, 3L, "k1",
        s"$tmp/d4", numFiles = 2)
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 4L,
        Seq("k1", "k2"))
      assert(cdf.filter(col("_commit_version") === 4L).isEmpty,
        "the materialize step emits nothing")
      val adds = cdf.filter(col("_change_type")
        .isin("insert", "update_postimage")).select("k1", "k2", "v")
      val drops = cdf.filter(col("_change_type")
        .isin("delete", "update_preimage")).select("k1", "k2", "v")
      val replayed = SnapshotStore.readAt(spark, tmp, 1L)
        .unionByName(adds).exceptAll(drops)
      assert(sameRows(replayed, SnapshotStore.readAt(spark, tmp, 4L)))
      // the update classified per TUPLE: (3,1) updated, (3,2) silent
      assert(cdf.filter(col("_change_type") === "update_postimage")
        .select("k1", "k2").collect().map(r =>
          (r.getLong(0), r.getLong(1))).toSet == Set((3L, 1L)))
    }
  }

  test("multi-file sidecars compose through readCore and " +
      "readChangesBetween (r16: numFiles ∝ batch, no single-task write)") {
    val saved = SnapshotStore.sidecarTargetKeysPerFile
    SnapshotStore.sidecarTargetKeysPerFile = 3L // force fan-out
    try withStore { tmp =>
      import spark.implicits._
      Layout.writeClustered(kv(0 until 60), s"$tmp/d1", "k", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val forget = (0L until 60L by 7L).toDF("k") // 9 keys → 3 files
      SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "k", forget,
        s"$tmp/del2")
      val sidecarFiles = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 2L && col("kind") === "delete")
        .select("file").distinct().count()
      assert(sidecarFiles == 3,
        s"9 keys at 3/file must write 3 sidecar files, got $sidecarFiles")
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 2L),
        kv(0 until 60).filter(col("k") % 7 =!= 0)))
      // the feed applies the multi-file sidecar as ONE delete batch
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 2L, "k")
      assert(cdf.filter(col("_change_type") === "delete").count() == 9)
      assert(cdf.filter(col("_change_type") =!= "delete").isEmpty)
      // and the merge path fans out too, composing identically
      val ch = changes(10 to 12, 0 until 0, 200 to 206) // 10 keys
      SnapshotStore.mergeCommitMor(spark, tmp, 3L, 2L, "k", ch,
        s"$tmp/del3", s"$tmp/img3")
      val mergeSidecarFiles = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 3L && col("kind") === "merge_delete")
        .select("file").distinct().count()
      assert(mergeSidecarFiles == 4, // ceil(10/3)
        s"10 keys at 3/file must write 4 files, got $mergeSidecarFiles")
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 3L),
        Cdc.applyChangeLog(
          kv(0 until 60).filter(col("k") % 7 =!= 0), ch, Seq("k"))))
    } finally SnapshotStore.sidecarTargetKeysPerFile = saved
  }

  test("CDF carried-file prune is DISTRIBUTED (r16): sidecar keys " +
      "never collect to the driver, and non-matching carried files " +
      "are still not scanned") {
    withStore { tmp =>
      import spark.implicits._
      // 4 clustered files over 0..400; the merge touches only 0..80
      Layout.writeClustered(kv(0 until 400), s"$tmp/d1", "k",
        numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch = changes(10 to 80, 0 until 0, 0 until 0)
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, "k", ch,
        s"$tmp/del2", s"$tmp/img2")
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 2L, "k")
      // correctness: exactly the update pairs
      assert(cdf.filter(col("_change_type") === "update_postimage")
        .count() == 71)
      assert(cdf.filter(col("_change_type") === "delete").isEmpty)
      // the prune: carried files whose bounds miss [10, 80] must not
      // appear in the feed's scan (bin coverage is conservative but at
      // this clustering each file covers ~100 keys, so at most the
      // first file survives). DISTINCT part numbers — the 4-branch
      // union re-scans the same pruned file once per event type
      val d1Counts = "InMemoryFileIndex\\((\\d+) paths\\)\\[[^,\\]]*d1/"
        .r.findAllMatchIn(cdf.queryExecution.executedPlan.toString)
        .map(_.group(1).toInt).toSeq
      assert(d1Counts.nonEmpty && d1Counts.max <= 1,
        s"the carried-file prune must skip non-matching files, " +
          s"d1 scan path counts: $d1Counts")
    }
  }

  test("positional delete (r16): countAt stays ALIVE, zero rewrites, " +
      "reads exact, re-inserts serve, CDF emits the deletes, equality " +
      "pending still refuses counts, materialize converges") {
    withStore { tmp =>
      import spark.implicits._
      Layout.writeClustered(kv(0 until 200), s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val forget = (0L until 200L by 13L).toDF("k") // 16 scattered keys
      val n = SnapshotStore.deleteCommitPos(spark, tmp, 2L, 1L, "k",
        forget, s"$tmp/pos2")
      assert(n == 16)
      // THE headline: the metadata count survives the forget (where
      // the equality sidecar refuses) — and matches the logical read
      assert(SnapshotStore.countAt(spark, tmp, 2L) == 200 - 16)
      assert(SnapshotStore.countAt(spark, tmp, 2L) ==
        SnapshotStore.readAt(spark, tmp, 2L).count())
      // zero data files rewritten
      def dataFilesOf(v: Long) = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === v && (col("kind").isNull ||
          !col("kind").isin("delete", "merge_delete", "pos_delete")))
        .select("file").collect().map(_.getString(0)).toSet
      assert(dataFilesOf(1L) == dataFilesOf(2L))
      val expected = kv(0 until 200).filter(col("k") % 13 =!= 0)
      assert(sameRows(SnapshotStore.readAt(spark, tmp, 2L), expected))
      // pruned reads apply the positions too
      assert(sameRows(
        SnapshotStore.readAtWhere(spark, tmp, 2L, "k", 0L, 60L),
        expected.filter(col("k").between(0, 60))))
      // a second DISJOINT positional forget composes; counts stay exact
      val n2 = SnapshotStore.deleteCommitPos(spark, tmp, 3L, 2L, "k",
        (1L until 200L by 50L).toDF("k"), s"$tmp/pos3")
      assert(n2 == 4)
      assert(SnapshotStore.countAt(spark, tmp, 3L) == 200 - 16 - 4)
      // re-deleting an already-forgotten key matches NOTHING (the
      // build scans the logical table — positions stay disjoint);
      // nothing to commit, so it refuses
      intercept[IllegalArgumentException] {
        SnapshotStore.deleteCommitPos(spark, tmp, 4L, 3L, "k",
          Seq(13L).toDF("k"), s"$tmp/pos4")
      }
      // an append RE-INSERTING a forgotten key SERVES (positions name
      // existing rows only — the stated contrast with the governance
      // equality forget) and the count stays metadata-exact
      Layout.writeClustered(kv(13 until 14), s"$tmp/w4", "k",
        numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w4"), Seq("k"))
      assert(SnapshotStore.readAt(spark, tmp, 4L)
        .filter(col("k") === 13L).count() == 1)
      assert(SnapshotStore.countAt(spark, tmp, 4L) == 200 - 20 + 1)
      // the row-level feed serves the positional steps as deletes
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 4L, "k")
      val byStep = cdf.groupBy("_commit_version", "_change_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sk")).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(byStep((2L, "delete")) ==
        (16L, (0L until 200L by 13L).sum))
      assert(byStep((3L, "delete")) == (4L, (1L until 200L by 50L).sum))
      assert(byStep((4L, "insert")) == (1L, 13L))
      assert(byStep.size == 3)
      // copy-rewrites refuse while pending (the resurrect hazard)
      intercept[IllegalArgumentException] {
        SnapshotStore.deleteCommit(spark, tmp, 5L, 4L, "k", 0L, 5L,
          s"$tmp/cow5")
      }
      // an EQUALITY sidecar joining the pending set re-arms the
      // count refusal (matched counts unknowable again)
      SnapshotStore.deleteCommitMor(spark, tmp, 5L, 4L, "k",
        Seq(2L).toDF("k"), s"$tmp/del5")
      intercept[IllegalArgumentException] {
        SnapshotStore.countAt(spark, tmp, 5L)
      }
      // materialize converges everything and re-arms counts
      SnapshotStore.materializeCommit(spark, tmp, 6L, 5L, "k",
        s"$tmp/d6", numFiles = 2)
      val head = SnapshotStore.readAt(spark, tmp, 6L)
      assert(SnapshotStore.countAt(spark, tmp, 6L) == head.count())
      val expect6 = kv(0 until 200)
        .filter(col("k") % 13 =!= 0 && col("k") % 50 =!= 1 &&
          col("k") =!= 2L)
        .unionByName(kv(13 until 14))
      assert(sameRows(head, expect6))
    }
  }

  test("positional path reserves its helper column names LOUDLY: a " +
      "table with a _graft_file column refuses instead of corrupting") {
    withStore { tmp =>
      import spark.implicits._
      val odd = (0 until 20).map(i => (i.toLong, s"f$i"))
        .toDF("k", "_graft_file")
      Layout.writeClustered(odd, s"$tmp/d1", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      intercept[IllegalArgumentException] {
        SnapshotStore.deleteCommitPos(spark, tmp, 2L, 1L, "k",
          Seq(3L).toDF("k"), s"$tmp/pos2")
      }
    }
  }

  test("streaming feed consumer ≡ batch fold ≡ full recompute (r16): " +
      "a foreachBatch consumer folding readChangesBetween windows into " +
      "a persisted MV lands on the head's truth") {
    withStore { tmp =>
      import graft.substrate.MaterializedView
      Layout.writeClustered(kv(0 until 60), s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      Layout.writeClustered(kv(60 until 80), s"$tmp/w2", "k", numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"), Seq("k"))
      SnapshotStore.mergeCommitMor(spark, tmp, 3L, 2L, "k",
        changes(10 to 20, 30 to 35, 100 to 104), s"$tmp/del3",
        s"$tmp/img3")
      SnapshotStore.materializeCommit(spark, tmp, 4L, 3L, "k",
        s"$tmp/d4", numFiles = 1)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      implicit val sq: org.apache.spark.sql.SQLContext = ss.sqlContext
      import ss.implicits._
      def grouped(df: DataFrame) = df.groupBy((col("k") % 5).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      def imagesOf(w: DataFrame) = {
        val pre = w.filter(col("_change_type")
            .isin("delete", "update_preimage"))
          .select(col("k"), (col("k") % 5).as("b_g"),
            col("v").as("b_v"), col("_commit_version").as("seq"))
        val post = w.filter(col("_change_type")
            .isin("insert", "update_postimage"))
          .select(col("k"), (col("k") % 5).as("a_g"),
            col("v").as("a_v"), col("_commit_version").as("seq"))
        pre.join(post, Seq("k", "seq"), "full_outer")
      }
      var mv = grouped(SnapshotStore.readAt(ss, tmp, 1L))
        .localCheckpoint(true)
      var lastSeen = 1L
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val q = input.toDF().toDF("head").writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val hd = batch.agg(max(col("head"))).head
          val head = if (hd.isNullAt(0)) lastSeen else hd.getLong(0)
          if (head > lastSeen) {
            mv = MaterializedView.refreshSumCount(mv,
              imagesOf(SnapshotStore.readChangesBetween(ss, tmp,
                lastSeen, head, "k")), Seq("k")).localCheckpoint(true)
            lastSeen = head
          }
        }.start()
      try Seq(2L, 4L).foreach { h =>
        input.addData(h); q.processAllAvailable()
      } finally q.stop()
      assert(lastSeen == 4L)
      val recomputed = grouped(SnapshotStore.readAt(ss, tmp, 4L))
      assert(sameRows(mv, recomputed),
        "stream-maintained MV must equal the full recompute")
      val batchMv = MaterializedView.refreshSumCount(
        grouped(SnapshotStore.readAt(ss, tmp, 1L)),
        imagesOf(SnapshotStore.readChangesBetween(ss, tmp, 1L, 4L, "k")),
        Seq("k"))
      assert(sameRows(mv, batchMv),
        "streamed windows must equal the one-shot batch fold")
    }
  }

  test("readChangesBetween STRIDES past CdfStrideSteps commits (r16): " +
      "a 20-append history folds into O(steps/stride) plan leaves and " +
      "stays correct") {
    withStore { tmp =>
      Layout.writeClustered(kv(0 until 10), s"$tmp/d1", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      (0 until 20).foreach { i =>
        Layout.writeClustered(kv((10 + 10 * i) until (20 + 10 * i)),
          s"$tmp/w${i + 2}", "k", numFiles = 1)
        SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w${i + 2}"),
          Seq("k"))
      }
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 21L, "k")
      assert(cdf.count() == 200)
      assert(cdf.filter(col("_change_type") =!= "insert").isEmpty)
      assert(cdf.select(countDistinct(col("_commit_version"))).head
        .getLong(0) == 20)
      // the plan is bounded: 20 steps at stride 16 → 1 checkpointed
      // leaf + the 4-step tail, never a 20-frame union
      val leaves = cdf.queryExecution.optimizedPlan.collectLeaves().size
      assert(leaves <= SnapshotStore.CdfStrideSteps,
        s"a 20-step window must stride, got $leaves plan leaves")
      // replay still lands on the head
      val replayed = SnapshotStore.readAt(spark, tmp, 1L)
        .unionByName(cdf.select("k", "v"))
      assert(sameRows(replayed, SnapshotStore.readAt(spark, tmp, 21L)))
    }
  }
}
