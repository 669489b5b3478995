package graft

import org.apache.spark.sql.functions._

import graft.substrate.{Layout, SnapshotStore}

/** File-level statistics in the snapshot manifest (r13): footer-read
  * bounds equal the data's, planning prunes conservatively and never
  * changes results, counts answer from metadata, and an appended
  * column serves through a merged read without touching old files.
  */
class SnapshotStatsSpec extends SparkSpec {

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("snapstats").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
    .select("l_orderkey", "l_quantity")

  test("committed footer stats equal the data's per-file count/min/max") {
    withStore { tmp =>
      Layout.writeClustered(li, s"$tmp/d1", "l_orderkey", numFiles = 4)
      val m = SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
        Seq("l_orderkey"))
      SnapshotStore.commit(spark, tmp, 1L, m)
      // ground truth per physical file, from the data itself
      def norm(u: String) = new java.net.URI(u).getPath
      val actual = spark.read.parquet(s"$tmp/d1")
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"), min("l_orderkey").as("mn"),
          max("l_orderkey").as("mx"))
        .collect()
        .map(r => norm(r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val committed = SnapshotStore.manifest(spark, tmp)
        .select("file", "row_count", "min_l_orderkey", "max_l_orderkey")
        .collect()
        .map(r => norm(r.getString(0)) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(committed.keySet == actual.keySet)
      assert(committed == actual)
      assert(SnapshotStore.countAt(spark, tmp, 1L) == li.count())
    }
  }

  test("pruned range read equals full read + filter; impossible range " +
      "plans to zero files but keeps the schema") {
    withStore { tmp =>
      Layout.writeClustered(li, s"$tmp/d1", "l_orderkey", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      val (surv, total) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "l_orderkey", 50L, 200L)
      assert(surv.nonEmpty && surv.size < total,
        s"clustered bounds must prune: ${surv.size}/$total")
      val pruned = SnapshotStore.readAtWhere(spark, tmp, 1L,
        "l_orderkey", 50L, 200L)
      val full = SnapshotStore.readAt(spark, tmp, 1L)
        .filter(col("l_orderkey").between(50, 200))
      assert(pruned.count() == full.count())
      assert(pruned.agg(sum("l_quantity")).head.getDouble(0) ==
        full.agg(sum("l_quantity")).head.getDouble(0))
      val empty = SnapshotStore.readAtWhere(spark, tmp, 1L,
        "l_orderkey", -10L, -1L)
      assert(empty.count() == 0L)
      assert(empty.schema.fieldNames.toSet ==
        Set("l_orderkey", "l_quantity"))
    }
  }

  test("unknown bounds are conservative: a plain commit prunes nothing " +
      "and countAt fails loudly instead of undercounting") {
    withStore { tmp =>
      Layout.writeClustered(li, s"$tmp/d1", "l_orderkey", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil)
          .select("version", "file"))
      val (surv, total) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "l_orderkey", -10L, -1L)
      assert(surv.size == total,
        "files without committed bounds must survive every prune")
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.countAt(spark, tmp, 1L)
      }
      assert(e.getMessage.contains("row counts"))
      // stats on a column the files don't have: unknown, kept
      val m = SnapshotStore.manifestForStats(spark, 2L, Seq(s"$tmp/d1"),
        Seq("no_such_col"))
      assert(m.filter(col("min_no_such_col").isNotNull).count() == 0L)
    }
  }

  test("a store mixing plain and stats commits reads as one manifest") {
    withStore { tmp =>
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 0),
        s"$tmp/d1", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil)
          .select("version", "file"))
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 1),
        s"$tmp/d2", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Seq("l_orderkey")))
      val m = SnapshotStore.manifest(spark, tmp)
      assert(m.schema.fieldNames.contains("row_count"))
      assert(m.filter(col("version") === 1 &&
        col("row_count").isNotNull).count() == 0L)
      assert(SnapshotStore.countAt(spark, tmp, 2L) == li.count())
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == li.count())
    }
  }

  test("rectangle pruning over a z-ordered store: conjunction prunes " +
      "tighter than one factor and equals the filtered full read") {
    withStore { tmp =>
      // x/y from columns whose modular range is FULL at every SF —
      // suppkey spans only 1..10 at sf0.001, which would leave the
      // rectangle legitimately empty
      val l = spark.read.parquet(s"$sf/lineitem.parquet").select(
        pmod(col("l_orderkey"), lit(256L)).cast("long").as("x"),
        pmod(col("l_partkey"), lit(128L)).cast("long").as("y"),
        col("l_quantity"))
      Layout.writeZClustered(l, s"$tmp/d0", "x", "y", bits = 8,
        numFiles = 16)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d0"),
          Seq("x", "y")))
      val rect = Seq(("x", 32L, 63L), ("y", 96L, 127L))
      val (rectSurv, total) =
        SnapshotStore.filesWhereAll(spark, tmp, 1L, rect)
      val (xSurv, _) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "x", 32L, 63L)
      assert(rectSurv.nonEmpty && rectSurv.size < xSurv.size &&
        xSurv.size < total)
      val pruned = SnapshotStore.readAtWhereAll(spark, tmp, 1L, rect)
      val full = SnapshotStore.readAt(spark, tmp, 1L)
        .filter(col("x").between(32, 63) && col("y").between(96, 127))
      assert(pruned.count() == full.count() && pruned.count() > 0)
      assert(pruned.agg(sum("l_quantity")).head.getDouble(0) ==
        full.agg(sum("l_quantity")).head.getDouble(0))
      // an impossible dimension empties the conjunction at planning
      val none = SnapshotStore.readAtWhereAll(spark, tmp, 1L,
        Seq(("x", 32L, 63L), ("y", -5L, -1L)))
      assert(none.count() == 0L)
      // a delete on x re-records y's bounds on the rewritten files too
      // — the store must not lose its y-skipping to maintenance on x
      val (rwz, _) = SnapshotStore.deleteCommit(spark, tmp, 2L, 1L,
        "x", 0L, 15L, s"$tmp/dd2")
      assert(rwz >= 1)
      val m2 = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 2 && col("file").contains("/dd2/"))
      assert(m2.count() > 0 &&
        m2.filter(col("min_y").isNull || col("max_y").isNull).count() == 0L)
    }
  }

  test("bloom point lookup: present key found with pruning, absent key " +
      "exonerates, bloom-less commits keep every file") {
    withStore { tmp =>
      // ukey = engine hash of the natural key — uncorrelated with the
      // l_orderkey clustering, the shape a UUID/hashed id has
      val d = li.withColumn("ukey", xxhash64(col("l_orderkey")))
      Layout.writeClustered(d, s"$tmp/d1", "l_orderkey", numFiles = 6)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$tmp/d1"),
          statsCols = Seq("l_orderkey"), bloomCols = Seq("ukey"),
          bloomBits = 1 << 16))
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.LongType
      val key = XxHash64Function.hash(100L, LongType, 42L)
      val (surv, total) =
        SnapshotStore.filesWherePoint(spark, tmp, 1L, "ukey", key)
      assert(surv.nonEmpty && surv.size < total,
        s"bloom must prune: ${surv.size}/$total")
      val hits = SnapshotStore.readAtPoint(spark, tmp, 1L, "ukey", key)
      assert(hits.count() ==
        li.filter(col("l_orderkey") === 100).count() && hits.count() > 0)
      // an absent key: false positives may keep a few files, but the
      // residual filter returns nothing
      val absent = XxHash64Function.hash(-99999L, LongType, 42L)
      val (fp, _) =
        SnapshotStore.filesWherePoint(spark, tmp, 1L, "ukey", absent)
      assert(fp.size <= total / 2, s"absent key kept ${fp.size}/$total")
      assert(SnapshotStore.readAtPoint(spark, tmp, 1L, "ukey", absent)
        .count() == 0L)
      // a governance delete re-records blooms on the rewritten files —
      // point skipping must survive maintenance (the bounds-inheritance
      // guarantee, extended to blooms). Derives from the HEAD (v1) —
      // the r14 from-head guard refuses stale ancestors
      val (rwb, _) = SnapshotStore.deleteCommit(spark, tmp, 2L, 1L,
        "l_orderkey", 1L, 30L, s"$tmp/dd2")
      assert(rwb >= 1)
      val m2 = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 2 && col("file").contains("/dd2/"))
      assert(m2.count() > 0 &&
        m2.filter(col("bloom_ukey").isNull).count() == 0L,
        "rewritten files must carry rebuilt blooms")
      val (s2, t2) =
        SnapshotStore.filesWherePoint(spark, tmp, 2L, "ukey", key)
      assert(s2.size < t2, "point skipping must survive the delete")
      assert(SnapshotStore.readAtPoint(spark, tmp, 2L, "ukey", key)
        .count() == hits.count(),
        "the surviving key's rows must still be found after the delete")
      // a stats-only commit has no blooms: every file survives (unknown)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      val (all, t3) =
        SnapshotStore.filesWherePoint(spark, tmp, 3L, "ukey", key)
      assert(all.size == t3)
    }
  }

  test("deleteCommit rewrites only intersecting files, never null-key " +
      "rows, and a miss commits metadata-only") {
    withStore { tmp =>
      // plant null keys: every 50th key nulled, outside the deleted range
      val planted = li.withColumn("k",
        when(col("l_orderkey") % 50 === 0, lit(null))
          .otherwise(col("l_orderkey")))
      Layout.writeClustered(planted, s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq("k")))
      val nulls = planted.filter(col("k").isNull).count()
      val inRange = planted.filter(col("k").between(50, 200)).count()
      assert(nulls > 0 && inRange > 0)
      val (rw, total) = SnapshotStore.deleteCommit(spark, tmp, 2L, 1L,
        "k", 50L, 200L, s"$tmp/dd2")
      assert(rw >= 1 && rw < total)
      val v2 = SnapshotStore.readAt(spark, tmp, 2L)
      assert(v2.filter(col("k").between(50, 200)).count() == 0L)
      assert(v2.filter(col("k").isNull).count() == nulls,
        "a range delete must never forget null-key rows")
      assert(v2.count() == planted.count() - inRange)
      // v1 still serves the deleted rows until retention retires it
      assert(SnapshotStore.readAt(spark, tmp, 1L)
        .filter(col("k").between(50, 200)).count() == inRange)
      // a range outside every bound commits metadata-only: same files
      val (rw3, _) = SnapshotStore.deleteCommit(spark, tmp, 3L, 2L,
        "k", -100L, -1L, s"$tmp/dd3")
      assert(rw3 == 0)
      def filesOf(v: Long) = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === v).select("file")
        .collect().map(_.getString(0)).toSet
      assert(filesOf(3L) == filesOf(2L))
      // physical forget: retire v1/v2, purge, v3 reads complete
      val reclaimed = SnapshotStore.vacuumExecute(spark, tmp, Seq(3L))
      assert(reclaimed.nonEmpty)
      assert(SnapshotStore.readAt(spark, tmp, 3L).count() ==
        planted.count() - inRange)
    }
  }

  test("deleteCommit on a schema-evolved store keeps the evolved " +
      "column through the rewrite") {
    // code-review r13 round 2: the rewrite scan reads the hit files
    // with mergeSchema — a single-footer inference could pick a
    // pre-evolution file and silently DROP the evolved column from
    // surviving rows (durable loss under a green commit)
    withStore { tmp =>
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      Layout.writeClustered(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice"),
        s"$tmp/d1", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        s"$tmp/d2", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      // v2's manifest has no bounds (plain commit) → every file is a
      // conservative hit; the rewrite must still carry the new column
      val (rw, total) = SnapshotStore.deleteCommit(spark, tmp, 3L, 2L,
        "o_orderkey", 1L, 10L, s"$tmp/dd3")
      assert(rw == total, "unknown bounds must rewrite conservatively")
      val v3 = SnapshotStore.readAt(spark, tmp, 3L, mergeSchema = true)
      assert(v3.schema.fieldNames.contains("o_orderpriority"),
        "the evolved column must survive the delete rewrite")
      val expectOdd = orders
        .filter(col("o_orderkey") % 2 === 1 &&
          !col("o_orderkey").between(1, 10)).count()
      assert(v3.filter(col("o_orderpriority").isNotNull).count() ==
        expectOdd)
      assert(v3.count() ==
        orders.filter(!col("o_orderkey").between(1, 10)).count())
    }
  }

  test("additive schema evolution: the merged read serves the new " +
      "column, null exactly on pre-evolution files' rows") {
    withStore { tmp =>
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      Layout.writeClustered(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice"),
        s"$tmp/d1", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(
        orders.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderpriority"),
        s"$tmp/d2", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      assert(!SnapshotStore.readAt(spark, tmp, 1L)
        .schema.fieldNames.contains("o_orderpriority"))
      val merged = SnapshotStore.readAt(spark, tmp, 2L, mergeSchema = true)
      assert(merged.schema.fieldNames.contains("o_orderpriority"))
      // nulls land exactly on the old (even-key) files' rows
      assert(merged.filter(col("o_orderpriority").isNull &&
        col("o_orderkey") % 2 === 1).count() == 0L)
      assert(merged.filter(col("o_orderpriority").isNotNull &&
        col("o_orderkey") % 2 === 0).count() == 0L)
      assert(merged.count() == orders.count())
    }
  }

  test("string bounds: a source-clustered commit prunes a string range, " +
      "the pruned read equals the filtered full read, plain commits " +
      "keep every file") {
    // VERDICT r13 what's-missing #3: predicates on dimension-like
    // string columns (documents.source/lang) used to prune nothing
    withStore { tmp =>
      import spark.implicits._
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select("doc_id", "source", "n_chars")
      Layout.writeClustered(docs, s"$tmp/d1", "source", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("source")))
      val srcs = docs.select("source").distinct().orderBy("source")
        .as[String].collect()
      assert(srcs.length >= 3, "fixture needs several sources")
      val v = srcs.head
      val (surv, total) =
        SnapshotStore.filesWhereStr(spark, tmp, 1L, "source", v, v)
      assert(surv.nonEmpty && surv.size < total,
        s"string bounds must prune: ${surv.size}/$total")
      val pruned = SnapshotStore.readAtWhereStr(spark, tmp, 1L,
        "source", v, v)
      val full = SnapshotStore.readAt(spark, tmp, 1L)
        .filter(col("source") === v)
      assert(pruned.count() == full.count() && pruned.count() > 0)
      // a range below every source (digits sort before letters in
      // UTF-8 order) exonerates every file at planning
      val (none, _) =
        SnapshotStore.filesWhereStr(spark, tmp, 1L, "source", "0", "0")
      assert(none.isEmpty,
        "an impossible string range must exonerate every file")
      // a plain commit has no string bounds: unknown, all files kept
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L, Seq(s"$tmp/d1"), Nil)
          .select("version", "file"))
      val (all, t2) =
        SnapshotStore.filesWhereStr(spark, tmp, 2L, "source", v, v)
      assert(all.size == t2)
    }
  }

  test("over-long string bounds truncate conservatively: the prefix " +
      "scan prunes files and never exonerates a matching one") {
    // r15 (VERDICT r14 what's-missing #4): bounds past 64 chars used to
    // drop to unknown, so long-text prefix predicates never skipped
    withStore { tmp =>
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"),
          concat(col("source"), lit("/"),
            lpad(col("doc_id").cast("string"), 9, "0"), lit("/"),
            lit("y" * 90)).as("longkey"))
      Layout.writeClustered(docs, s"$tmp/d1", "source", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("longkey")))
      // every committed bound is the TRUNCATED form: present, ≤ 16+1
      // chars, never the raw >64-char value
      val bounds = SnapshotStore.manifest(spark, tmp)
        .select("smin_longkey", "smax_longkey").collect()
      assert(bounds.nonEmpty && bounds.forall(r =>
        !r.isNullAt(0) && !r.isNullAt(1) &&
          r.getString(0).length <= 17 && r.getString(1).length <= 17))
      // the prefix range ["src1/", "src10") covers exactly source=src1
      // ('/' = 0x2f < '0' = 0x30); truncated bounds must prune to a
      // strict subset and the pruned read must equal the full filter
      val (surv, total) = SnapshotStore.filesWhereStr(spark, tmp, 1L,
        "longkey", "src1/", "src10")
      assert(surv.nonEmpty && surv.size < total,
        s"truncated bounds must prune: ${surv.size}/$total")
      val pruned = SnapshotStore.readAtWhereStr(spark, tmp, 1L,
        "longkey", "src1/", "src10")
      val full = SnapshotStore.readAt(spark, tmp, 1L)
        .filter(col("longkey") >= "src1/" && col("longkey") <= "src10")
      assert(pruned.count() == full.count() && pruned.count() > 0,
        "truncation may widen ranges but never lose a matching row")
    }
  }

  test("string bloom: a high-cardinality string key uncorrelated with " +
      "the layout prunes point lookups and never loses the row") {
    withStore { tmp =>
      // skey = a URL-ish string id; layout clustered by n_chars so the
      // key is uncorrelated with file boundaries
      val docs = spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("n_chars"),
          concat(lit("doc://corpus/"), col("doc_id")).as("skey"))
      Layout.writeClustered(docs, s"$tmp/d1", "n_chars", numFiles = 6)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$tmp/d1"),
          statsCols = Seq("n_chars"), bloomCols = Seq("skey"),
          bloomBits = 1 << 16))
      val probe = "doc://corpus/42"
      val (surv, total) =
        SnapshotStore.filesWherePointStr(spark, tmp, 1L, "skey", probe)
      assert(surv.nonEmpty && surv.size < total,
        s"string bloom must prune: ${surv.size}/$total")
      val hits = SnapshotStore.readAtPointStr(spark, tmp, 1L, "skey", probe)
      assert(hits.count() == 1L, "the bloom must never lose the row")
      assert(SnapshotStore
        .readAtPointStr(spark, tmp, 1L, "skey", "doc://corpus/nope")
        .count() == 0L)
    }
  }

  test("an INT bloom column hashes in the LONG domain: the probe finds " +
      "every row (the build-probe domain mismatch lost rows pre-r14)") {
    // ADVICE r13 medium: xxhash64 of an IntegerType value differs from
    // the LongType hash of the same number — on an INT column every
    // probe computed different bit positions than the build and files
    // holding the key were silently exonerated (readAtPoint lost rows)
    withStore { tmp =>
      val d = li.withColumn("ik", (col("l_orderkey") % 1000).cast("int"))
      Layout.writeClustered(d, s"$tmp/d1", "l_quantity", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$tmp/d1"),
          statsCols = Seq.empty, bloomCols = Seq("ik"),
          bloomBits = 1 << 16))
      val expect = d.filter(col("ik") === 123).count()
      assert(expect > 0)
      assert(SnapshotStore.readAtPoint(spark, tmp, 1L, "ik", 123L)
        .count() == expect,
        "an INT bloom column must serve the same rows as a LONG one")
      // an unbloomable type fails at BUILD time, not probe time
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.manifestForStatsBloom(spark, 2L, Seq(s"$tmp/d1"),
          Seq.empty, Seq("l_quantity"), bloomBits = 1 << 16)
      }
      assert(e.getMessage.contains("bloom column"))
    }
  }

  test("appendCommit is idempotent under re-delivery: a replayed wave " +
      "returns the head instead of minting a double-counting version") {
    // ADVICE r13 low #3: a foreachBatch re-execution after a successful
    // appendCommit used to commit an extra version whose manifest
    // carried the wave's files TWICE (ancestor carry + fresh rows)
    withStore { tmp =>
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 0),
        s"$tmp/d0", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 0L,
        SnapshotStore.manifestForStats(spark, 0L, Seq(s"$tmp/d0"),
          Seq("l_orderkey")))
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 1),
        s"$tmp/w0", "l_orderkey", numFiles = 1)
      val v1 = SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w0"),
        Seq("l_orderkey"))
      assert(v1 == 1L)
      val replay = SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w0"),
        Seq("l_orderkey"))
      assert(replay == 1L, "a replayed wave must return the head")
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(0L, 1L))
      assert(SnapshotStore.countAt(spark, tmp, 1L) == li.count(),
        "the replayed wave must not double-count")
      // a genuinely NEW wave still appends
      Layout.writeClustered(li.limit(10), s"$tmp/w1", "l_orderkey",
        numFiles = 1)
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w1"),
        Seq("l_orderkey")) == 2L)
      // the TAG layer: survives a re-execution that REWROTE the wave
      // dir with fresh UUID part names (the file-set check cannot see
      // that replay — code-review r14)
      Layout.writeClustered(li.limit(5), s"$tmp/w2", "l_orderkey",
        numFiles = 1)
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"),
        Seq("l_orderkey"), batchTag = Some("b2")) == 3L)
      assert(SnapshotStore.batchTagCommitted(spark, tmp, "b2"))
      assert(!SnapshotStore.batchTagCommitted(spark, tmp, "b3"))
      // simulate the re-execution: same tag, rewritten files
      Layout.writeClustered(li.limit(5), s"$tmp/w2", "l_orderkey",
        numFiles = 1)
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"),
        Seq("l_orderkey"), batchTag = Some("b2")) == 3L,
        "a committed tag must return the head, never a new version")
      assert(SnapshotStore.committedVersions(spark, tmp) ==
        Seq(0L, 1L, 2L, 3L))
      // the tag rides the ancestor carry: still committed after a
      // later untagged append
      Layout.writeClustered(li.limit(3), s"$tmp/w3", "l_orderkey",
        numFiles = 1)
      SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w3"),
        Seq("l_orderkey"))
      assert(SnapshotStore.batchTagCommitted(spark, tmp, "b2"))
    }
  }

  test("merge-on-read deletes: zero data files rewritten, every read " +
      "path applies the sidecar, chained deletes compose, copy-rewrites " +
      "refuse until materialized") {
    withStore { tmp =>
      Layout.writeClustered(li, s"$tmp/d1", "l_orderkey", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      val k1 = li.filter(col("l_orderkey") % 31 === 0)
        .select("l_orderkey").distinct()
      val n1 = SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L,
        "l_orderkey", k1, s"$tmp/del2")
      assert(n1 > 0)
      // zero data files rewritten
      def dataFiles(v: Long) = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === v &&
          (col("kind").isNull || col("kind") =!= "delete"))
        .select("file").collect().map(_.getString(0)).toSet
      assert(dataFiles(2L) == dataFiles(1L))
      // full read, pruned read, and point residual all apply the sidecar
      val expect = li.join(k1, Seq("l_orderkey"), "left_anti").count()
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == expect)
      val pruned = SnapshotStore.readAtWhere(spark, tmp, 2L,
        "l_orderkey", 0L, Long.MaxValue)
      assert(pruned.join(k1, Seq("l_orderkey")).count() == 0L)
      // time travel: v1 untouched
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == li.count())
      // chained second delete composes
      val k2 = li.filter(col("l_orderkey") % 37 === 0)
        .select("l_orderkey").distinct()
      SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L,
        "l_orderkey", k2, s"$tmp/del3")
      val expect3 = li.join(k1, Seq("l_orderkey"), "left_anti")
        .join(k2, Seq("l_orderkey"), "left_anti").count()
      assert(SnapshotStore.readAt(spark, tmp, 3L).count() == expect3)
      // counts and copy-rewrites refuse under pending deletes
      val eCnt = intercept[IllegalArgumentException] {
        SnapshotStore.countAt(spark, tmp, 3L)
      }
      assert(eCnt.getMessage.contains("merge-on-read"))
      val eCow = intercept[IllegalArgumentException] {
        SnapshotStore.deleteCommit(spark, tmp, 4L, 3L, "l_orderkey",
          1L, 10L, s"$tmp/dd4")
      }
      assert(eCow.getMessage.contains("materialize"))
      // materialize: physical, metadata counts serve again, stats kept
      SnapshotStore.materializeCommit(spark, tmp, 4L, 3L, "l_orderkey",
        s"$tmp/d4", numFiles = 2)
      assert(SnapshotStore.countAt(spark, tmp, 4L) == expect3)
      val m4 = SnapshotStore.manifest(spark, tmp)
        .filter(col("version") === 4L)
      assert(m4.filter(col("kind") === "delete").count() == 0L)
      assert(m4.filter(col("min_l_orderkey").isNull).count() == 0L,
        "the materialized files must carry rebuilt bounds")
      // the file-level delta refuses under pending deletes
      val eChg = intercept[IllegalArgumentException] {
        SnapshotStore.readChanged(spark, tmp, 1L, 3L)
      }
      assert(eChg.getMessage.contains("merge-on-read"))
      // vacuum reclaims the sidecars and the pre-delete files
      val reclaimed = SnapshotStore.vacuumExecute(spark, tmp, Seq(4L))
      assert(reclaimed.exists(_.contains("/del2/")) &&
        reclaimed.exists(_.contains("/del3/")))
      assert(SnapshotStore.readAt(spark, tmp, 4L).count() == expect3)
    }
  }

  test("MoR guard rails: a materialize that empties the table and a " +
      "string-keyed merge both fail loudly with the real reason") {
    withStore { tmp =>
      val d = li.limit(100)
      Layout.writeClustered(d, s"$tmp/d1", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      // a string-keyed merge fails on the TYPE, not 'empty changelog'
      // (checked at head=1, before the MoR commits move the head —
      // against a stale ancestor the from-head conflict fires first,
      // which is also correct but not the subject here)
      val eStr0 = intercept[IllegalArgumentException] {
        SnapshotStore.mergeCommit(spark, tmp, 2L, 1L, "skey",
          d.selectExpr("CAST(l_orderkey AS STRING) AS skey",
            "l_quantity", "'U' AS op", "CAST(1 AS BIGINT) AS seq"),
          s"$tmp/m0")
      }
      assert(eStr0.getMessage.contains("LONG bounds"))
      // sidecar covering EVERY key
      SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "l_orderkey",
        SnapshotStore.readAt(spark, tmp, 1L).select("l_orderkey"),
        s"$tmp/delall")
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == 0L)
      val eMat = intercept[IllegalArgumentException] {
        SnapshotStore.materializeCommit(spark, tmp, 3L, 2L,
          "l_orderkey", s"$tmp/d3")
      }
      assert(eMat.getMessage.contains("empties the table"))
      // a stale MoR intent gets the TYPED conflict BEFORE writing its
      // sidecar (the caller retries with a fresh deleteDir)
      intercept[graft.substrate.CommitConflictException] {
        SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "l_orderkey",
          d.select("l_orderkey"), s"$tmp/delstale")
      }
      assert(!new java.io.File(s"$tmp/delstale").exists(),
        "the conflicted intent must not have written its sidecar")
      // a rewrite derived from a STALE ancestor gets the typed
      // conflict — the lost-update guard (code-review r14 #2: it would
      // silently drop every delta committed since)
      val eStale = intercept[graft.substrate.CommitConflictException] {
        SnapshotStore.deleteCommit(spark, tmp, 3L, 1L, "l_orderkey",
          1L, 10L, s"$tmp/ddstale")
      }
      assert(eStale.getMessage.contains("stale"))
    }
  }

  // Spark writes a footer-only file for partition 0 even when no row
  // survives, so a rewrite that empties the table still lists a file:
  // the guard must read the committed row counts, not the listing
  test("a CoW delete of every row refuses to commit an empty version " +
      "and reclaims its rewrite") {
    withStore { tmp =>
      val d = spark.range(100).select(col("id").as("k"))
      Layout.writeClustered(d, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq("k")))
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.deleteCommit(spark, tmp, 2L, 1L, "k", 0L, 99L,
          s"$tmp/r2")
      }
      assert(e.getMessage.contains("an empty version cannot be committed"))
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L))
      assert(!new java.io.File(s"$tmp/r2").exists())
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L)
    }
  }

  test("an all-delete CoW merge refuses to commit an empty version and " +
      "reclaims its rewrite") {
    withStore { tmp =>
      val d = spark.range(100).select(col("id").as("k"),
        (col("id") % 3).as("v"))
      Layout.writeClustered(d, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Seq("k")))
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.mergeCommit(spark, tmp, 2L, 1L, "k",
          d.select(col("k"), col("v"), lit("D").as("op"), lit(1L).as("seq")),
          s"$tmp/r2")
      }
      assert(e.getMessage.contains("an empty version cannot be committed"))
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L))
      assert(!new java.io.File(s"$tmp/r2").exists())
    }
  }

  test("mergeCommit: the file-bounded upsert equals the relational " +
      "replay and refuses a malformed/empty changelog") {
    withStore { tmp =>
      import spark.implicits._
      val base = li.groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"))
      Layout.writeClustered(base, s"$tmp/d1", "l_orderkey", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      val upd = base.filter(col("l_orderkey").between(50, 150))
        .select(col("l_orderkey"), (col("qty_i") + 7).as("qty_i"),
          lit("U").as("op"), lit(1L).as("seq"))
      val del = base.filter(col("l_orderkey").between(200, 250))
        .select(col("l_orderkey"), col("qty_i"), lit("D").as("op"),
          lit(1L).as("seq"))
      val changes = upd.unionByName(del)
      val (rw, total) = SnapshotStore.mergeCommit(spark, tmp, 2L, 1L,
        "l_orderkey", changes, s"$tmp/m2")
      assert(rw >= 1 && rw < total, s"file-bounded: $rw/$total")
      val got = SnapshotStore.readAt(spark, tmp, 2L)
        .orderBy("l_orderkey").as[(Long, Long)].collect().toSeq
      val want = graft.substrate.Cdc
        .applyChangeLog(base, changes, Seq("l_orderkey"))
        .orderBy("l_orderkey").as[(Long, Long)].collect().toSeq
      assert(got == want,
        "the durable merge must equal the in-session applyChangeLog")
      assert(SnapshotStore.countAt(spark, tmp, 2L) == want.size)
      intercept[IllegalArgumentException] {
        SnapshotStore.mergeCommit(spark, tmp, 3L, 2L, "l_orderkey",
          changes.filter(lit(false)), s"$tmp/m3")
      }
    }
  }

  test("a zero-row wave is a no-op append and batch tags survive a " +
      "rewrite commit") {
    withStore { tmp =>
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 0),
        s"$tmp/d0", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 0L,
        SnapshotStore.manifestForStats(spark, 0L, Seq(s"$tmp/d0"),
          Seq("l_orderkey")))
      Layout.writeClustered(li.filter(col("l_orderkey") % 2 === 1),
        s"$tmp/w1", "l_orderkey", numFiles = 1)
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w1"),
        Seq("l_orderkey"), batchTag = Some("t1")) == 1L)
      // an existing-but-empty wave dir (a zero-row micro-batch) must
      // NOT mint a content-identical version (code-review r14 #2)
      new java.io.File(s"$tmp/w2").mkdirs()
      assert(SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/w2"),
        Seq("l_orderkey"), batchTag = Some("t2")) == 1L)
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(0L, 1L))
      // a REWRITE commit mints fresh tag-less rows — the tag check
      // must look past it (scanning retained versions newest-first)
      SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "l_orderkey",
        li.filter(col("l_orderkey") % 31 === 0).select("l_orderkey"),
        s"$tmp/del2")
      SnapshotStore.materializeCommit(spark, tmp, 3L, 2L, "l_orderkey",
        s"$tmp/d3")
      assert(SnapshotStore.batchTagCommitted(spark, tmp, "t1"),
        "a batch tag must survive a rewrite commit — a head-only check " +
          "would re-commit (and Overwrite-clobber) every batch after " +
          "maintenance ran")
    }
  }

  test("a MoR delete keyed on a post-evolution column stays readable: " +
      "pending deletes force schema merging on every read path") {
    withStore { tmp =>
      val orders = spark.read.parquet(s"$sf/orders.parquet")
      Layout.writeClustered(
        orders.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice"),
        s"$tmp/d1", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      // evolution: the delta carries a NEW key column `nid`
      val odd = orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderkey").as("nid"))
      Layout.writeClustered(odd, s"$tmp/d2", "o_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      val keys = odd.filter(col("nid") % 5 === 0).select("nid")
      val nDel = keys.distinct().count()
      assert(nDel > 0)
      SnapshotStore.deleteCommitMor(spark, tmp, 3L, 2L, "nid", keys,
        s"$tmp/del3")
      // the DEFAULT (unmerged) read must not crash on the evolved key
      // — pending deletes force schema merging (code-review r14 #2: an
      // unmerged scan sampling a pre-evolution footer lacked `nid` and
      // the anti-join failed nondeterministically)
      val v3 = SnapshotStore.readAt(spark, tmp, 3L)
      val expect = orders.count() - odd.filter(col("nid") % 5 === 0)
        .count()
      assert(v3.count() == expect,
        "pre-evolution rows (null key) survive; matching rows delete")
    }
  }

  test("a space-bearing base survives the snapshot store's whole " +
      "lifecycle: stats+bloom commit, pruned reads, retire, purge") {
    // VERDICT r13 what's-wrong #1: java.net.URI normalization crashed
    // on a legal space-bearing filename MID-MAINTENANCE; PathNorm now
    // reconciles the raw (makeQualified) and URL-encoded
    // (input_file_name) spellings of the same file
    withStore { root =>
      val tmp = s"$root/snap store"
      val d = li.withColumn("ukey", xxhash64(col("l_orderkey")))
      Layout.writeClustered(d, s"$tmp/d1", "l_orderkey", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$tmp/d1"),
          statsCols = Seq("l_orderkey"), bloomCols = Seq("ukey"),
          bloomBits = 1 << 16))
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.LongType
      val key = XxHash64Function.hash(100L, LongType, 42L)
      val (surv, total) =
        SnapshotStore.filesWherePoint(spark, tmp, 1L, "ukey", key)
      assert(surv.nonEmpty && surv.size < total,
        "the bloom must still prune under a space-bearing base — a " +
          "spelling mismatch would commit null blooms")
      assert(SnapshotStore.readAtPoint(spark, tmp, 1L, "ukey", key)
        .count() == li.filter(col("l_orderkey") === 100).count())
      // compact into v2, retire v1, purge: the space-bearing paths walk
      // the tombstone sweep and the pinned-set anti-join
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 1L),
        s"$tmp/d2", "l_orderkey", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L, Seq(s"$tmp/d2"), Nil))
      val reclaimed = SnapshotStore.vacuumExecute(spark, tmp, Seq(2L))
      assert(reclaimed.size == 3,
        s"v1's exclusive files must be reclaimed, got $reclaimed")
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == li.count())
    }
  }
}
