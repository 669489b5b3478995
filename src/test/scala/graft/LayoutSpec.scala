package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.substrate.Layout

/** Proof of the co-located-join layout claim: same-bucketed tables join
  * with NO shuffle exchange in the physical plan.
  */
class LayoutSpec extends SparkSpec {

  test("same-key bucketed tables join without a shuffle exchange") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      val orders = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_totalprice")
      val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      Layout.writeBucketed(orders, "b_orders", "o_orderkey", 8)
      Layout.writeBucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", 8)

      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
        .groupBy("o_orderkey").agg(sum("l_quantity"))
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found ${shuffles.size} exchanges")
      // and it computes the same result as the unbucketed join
      val expected = orders
        .join(lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .count()
      assert(joined.count() > 0 &&
        spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey").count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("stored token-bucketed inverted index prunes the scan to the query terms' buckets") {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      // the storage discipline InvertedIndex's scaladoc prescribes: the
      // segmented index persisted bucketed-by-token, so a term lookup
      // with literal terms reads ONLY the matching buckets — sub-scan
      // access at the FILE level, before any join
      val docs = graft.checks.CheckDsl.table(spark, sf, "documents")
      val idx = graft.substrate.InvertedIndex
        .build(docs, "doc_id", "text", dfThreshold = 100, segmentWidth = 200)
      graft.substrate.Layout.writeBucketed(idx, "b_inv_idx", "token", 8)
      // a bare filter needs no output distribution, so the
      // DisableUnnecessaryBucketedScan rule would turn the bucketed read
      // off (it does not model the PRUNING benefit — an index-serving
      // session pins this off for its lookup reads)
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val q = spark.table("b_inv_idx")
        .filter(col("token").isin("the", "data"))
      q.collect() // finalize AQE before inspecting the scan
      val scans = q.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, "no file scan for the bucketed index")
      val s = scans.head.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(s)
        .getOrElse(fail(s"no bucket pruning in scan:\n$s"))
      assert(sel.group(1).toInt < sel.group(2).toInt &&
        sel.group(2).toInt == 8,
        s"term literals did not prune buckets: ${sel.matched}")
      // and the pruned read still answers the lookup correctly
      val viaStored = graft.substrate.InvertedIndex
        .lookupAll(q, Seq("the", "data").toDF("token"))
        .as[Long].collect().toSet
      val direct = graft.substrate.InvertedIndex
        .lookupAll(idx, Seq("the", "data").toDF("token"))
        .as[Long].collect().toSet
      assert(viaStored == direct && viaStored.nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS b_inv_idx")
    }
  }

  test("hive-partitioned layout prunes non-matching partitions at plan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      val docs = graft.checks.CheckDsl.table(spark, sf, "documents")
        .select("doc_id", "source", "text")
      graft.sources.Io.writeParquet(docs, dir, partitionBy = Seq("source"))
      val one = docs.select("source").distinct().limit(1)
        .collect().head.getString(0)
      val q = graft.sources.Io.readParquet(spark, dir)
        .filter(col("source") === one).select("doc_id")
      val plan = q.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the source predicate must land in PartitionFilters (pruned at
      // planning), NOT as a post-scan data filter over all partitions
      val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
        .getOrElse(fail(s"no PartitionFilters in:\n$plan"))
      assert(pf.contains("source"), s"partition filter not pushed: $pf")
      assert(q.count() == docs.filter(col("source") === one).count())
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("stored cell-partitioned IVF code table prunes the probe scan to nProbe cells") {
    // the IvfIndex scaladoc's 100 TB claim made concrete: the assigned
    // collection persisted hive-partitioned BY cell, so a probe's
    // cell-IN predicate prunes at PLANNING time and the scan touches
    // only the nProbe cell directories — the vector-index twin of the
    // token-bucketed inverted-index proof above
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    try {
      val e = graft.checks.CheckDsl.table(spark, sf, "embeddings")
        .select(col("vec_id"),
          graft.substrate.VectorOps.toDoubleArr(col("embedding")).as("v"))
      val indexed = graft.substrate.IvfIndex.assignAuto(e, 23)
      indexed.write.mode("overwrite").partitionBy("cell").parquet(dir)
      val stored = spark.read.parquet(dir)
      val nCells = indexed.select("cell").distinct().count()
      assert(nCells > 4, s"fixture too small: $nCells cells")
      // one query's probe set: its 4 nearest centroids (any 4 cells
      // exercise the pruning property; these are the realistic ones)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val probeCells = e.filter(col("vec_id") % 23 === 0)
        .select(col("vec_id").as("cent_id"), col("v").as("cv"))
        .crossJoin(broadcast(q))
        .select(col("cent_id"),
          graft.substrate.VectorOps.sqDist(col("cv"), col("qv")).as("d2"))
        .orderBy(col("d2").asc, col("cent_id").asc).limit(4)
        .select("cent_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSeq
      val scan = stored.filter(col("cell").isin(probeCells: _*))
      val plan = scan.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
        .getOrElse(fail(s"no PartitionFilters in:\n$plan"))
      assert(pf.contains("cell"), s"probe filter not pushed: $pf")
      // MEASURED pruning: the executed probe scan reads only the probed
      // cells' files (inputFiles reports the relation pre-pruning, so
      // read the scan node's own numFiles metric after execution)
      scan.collect()
      def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long =
        df.queryExecution.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numFiles").value
        }.getOrElse(fail("no file scan node"))
      val readFiles = scanNumFiles(scan)
      val allFiles = stored.inputFiles.length.toLong
      assert(readFiles < allFiles && readFiles > 0,
        s"no file pruning: $readFiles of $allFiles")
      // and the pruned scan returns exactly the in-memory candidates
      val fromStored = scan.select("vec_id").orderBy("vec_id")
        .collect().map(_.getLong(0)).toSeq
      val fromMemory = indexed
        .filter(col("cell").isin(probeCells: _*))
        .select("vec_id").orderBy("vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(fromStored == fromMemory)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("range-clustered layout skips row groups on a selective key scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_clust").toString
    try {
      // Small row groups so one file holds MANY groups — skipping must
      // happen inside files, not just across them. The key is set
      // UNPREFIXED: SessionState.newHadoopConf copies SQLConf entries
      // verbatim into the writer's Hadoop conf, so a
      // "spark.hadoop."-prefixed runtime key never reaches parquet
      // (ADVICE r8 — the old prefixed set was a no-op and the test was
      // passing on page-level column-index pruning alone); the footer
      // assertion below proves the groups are real.
      spark.conf.set("parquet.block.size", (16 * 1024).toString)
      val n = 200000L
      val df = spark.range(n).select(col("id").as("k"),
        (col("id") % 97).as("v"))
      def rowsScanned(path: String): Long = {
        val scan = spark.read.parquet(path)
          .filter(col("k") >= 1000 && col("k") < 2000)
        assert(scan.collect().length == 1000)
        // rows OUTPUT BY THE SCAN node = rows surviving parquet
        // row-group pruning, before Spark's data filter
        scan.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value
        }.sum
      }
      Layout.writeClustered(df.toDF(), dir, "k", numFiles = 4)
      // the written files must actually contain MULTIPLE row groups —
      // otherwise the skip measured below is across-file/page-level only
      // and the row-group claim is untested
      val part = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(part.getAbsolutePath),
          spark.sessionState.newHadoopConf()))
      val nGroups = try reader.getFooter.getBlocks.size finally reader.close()
      assert(nGroups > 1,
        s"parquet.block.size not honored: ${part.getName} has $nGroups row group(s)")
      val clustered = rowsScanned(dir)
      // control: same data, same row-group size, key order destroyed —
      // min/max stats cover the full range and nothing can be skipped
      val dirShuf = s"$dir-shuffled"
      df.orderBy(hash(col("k"))).coalesce(4)
        .write.mode("overwrite").parquet(dirShuf)
      val unclustered =
        try rowsScanned(dirShuf)
        finally {
          import scala.reflect.io.Directory
          new Directory(new java.io.File(dirShuf)).deleteRecursively()
        }
      // the sorted layout's stats must prune the overwhelming majority of
      // row groups; the shuffled control must be forced to read ~all rows
      assert(clustered > 0 && clustered * 5 <= unclustered,
        s"clustered scan read $clustered vs unclustered $unclustered of $n")
      assert(unclustered > n / 2,
        s"control layout unexpectedly skipped rows ($unclustered of $n)")
    } finally {
      spark.conf.unset("parquet.block.size")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("z-ordered layout prunes a two-sided rectangle scan ~selectivity-product; single-key sort prunes one factor") {
    val dirZ = java.nio.file.Files.createTempDirectory("graft_z").toString
    val dirX = java.nio.file.Files.createTempDirectory("graft_x").toString
    try {
      spark.conf.set("parquet.block.size", (16 * 1024).toString)
      // uniform 256×256 grid, ~3 points per cell
      val n = 200000L
      val df = spark.range(n).select(
        (col("id") % 256).as("x"), ((col("id") / 256) % 256).as("y"),
        col("id").as("payload"))
      def rowsScanned(path: String): Long = {
        val scan = spark.read.parquet(path)
          .filter(col("x") >= 64 && col("x") < 80 &&
            col("y") >= 64 && col("y") < 80)
        // correct answer first: 16×16 cells × ~n/65536 points per cell
        assert(scan.count() == n / 65536 * 256)
        scan.collect()
        scan.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value
        }.sum
      }
      Layout.writeZClustered(df, dirZ, "x", "y", bits = 8, numFiles = 4)
      Layout.writeClustered(df, dirX, "x", numFiles = 4)
      val zScan = rowsScanned(dirZ)
      val xScan = rowsScanned(dirX)
      // x-sorted: row groups are tight in x (prunes to ~16/256) but cover
      // ALL of y — the second predicate prunes nothing. z-order: row
      // groups cover small rectangles, so BOTH factors apply. Demand a
      // ≥4× gap (ideal is ~16×) and that the x-sort did its one factor.
      assert(zScan > 0 && zScan * 4 <= xScan,
        s"z-order scanned $zScan vs single-key $xScan of $n")
      assert(xScan * 4 <= n,
        s"single-key control did not even prune its own dimension: $xScan")
    } finally {
      spark.conf.unset("parquet.block.size")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirZ)).deleteRecursively()
      new Directory(new java.io.File(dirX)).deleteRecursively()
    }
  }

  test("3-D z-order: box scan prunes ~the three-factor product; d=2 path unchanged") {
    val dirZ = java.nio.file.Files.createTempDirectory("graft_z3").toString
    val dirX = java.nio.file.Files.createTempDirectory("graft_x3").toString
    try {
      // the interleave's documented bit layout, pinned on known values:
      // d=2, x=5 (101), y=3 (011) → bits land x→{0,2,4}, y→{1,3,5} →
      // 0b011011 = 27; d=3, (1,1,1) at 1 bit → 0b111 = 7
      val zKnown = spark.range(1).select(
        Layout.zValueN(Seq(lit(5L), lit(3L)), 3).as("z2"),
        Layout.zValueN(Seq(lit(1L), lit(1L), lit(1L)), 1).as("z3"))
        .collect().head
      assert(zKnown.getLong(0) == 27L && zKnown.getLong(1) == 7L)

      spark.conf.set("parquet.block.size", (16 * 1024).toString)
      // uniform 64x64x64 grid, ~1 point per cell
      val n = 262144L
      val df = spark.range(n).select(
        (col("id") % 64).as("x"), ((col("id") / 64) % 64).as("y"),
        ((col("id") / 4096) % 64).as("z"), col("id").as("payload"))
      def rowsScanned(path: String): Long = {
        val scan = spark.read.parquet(path)
          .filter(col("x") >= 16 && col("x") < 32 &&
            col("y") >= 16 && col("y") < 32 &&
            col("z") >= 16 && col("z") < 32)
        assert(scan.count() == n / 64) // (1/4)^3 of the grid
        scan.collect()
        scan.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.metrics("numOutputRows").value
        }.sum
      }
      Layout.writeZClusteredN(df, dirZ, Seq("x", "y", "z"), bits = 6,
        numFiles = 4)
      Layout.writeClustered(df, dirX, "x", numFiles = 4)
      val zScan = rowsScanned(dirZ)
      val xScan = rowsScanned(dirX)
      // x-sorted prunes its one factor (~1/4); the 3-D curve's row
      // groups cover small boxes so all THREE predicates prune — demand
      // a >=4x gap (ideal ~16x) and that the control did its one factor
      assert(zScan > 0 && zScan * 4 <= xScan,
        s"3-D z-order scanned $zScan vs single-key $xScan of $n")
      assert(xScan * 2 <= n,
        s"single-key control did not prune its own dimension: $xScan")
    } finally {
      spark.conf.unset("parquet.block.size")
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dirZ)).deleteRecursively()
      new Directory(new java.io.File(dirX)).deleteRecursively()
    }
  }

  test("compactionPlan: order-preserving bins, never splits a file, oversized files close their bin") {
    import spark.implicits._
    val listing = Seq(
      // part a: 5 small files, target 100 → pre-sums 0,40,80,120,160
      ("a", "f1", 40L), ("a", "f2", 40L), ("a", "f3", 40L),
      ("a", "f4", 40L), ("a", "f5", 40L),
      // part b: an oversized file between small ones
      ("b", "g1", 30L), ("b", "g2", 250L), ("b", "g3", 30L))
      .toDF("part", "file", "bytes")
    val planDf = Layout.compactionPlan(listing, lit(100L))
      .orderBy("part", "bin")
    // the plan carries its explicit member list (ADVICE r10), consistent
    // with the first/last/n_files summary columns
    planDf.collect().foreach { r =>
      val fs = r.getSeq[String](r.fieldIndex("files"))
      assert(fs.size == r.getAs[Long]("n_files") &&
        fs.head == r.getAs[String]("first_file") &&
        fs.last == r.getAs[String]("last_file"), s"member list mismatch: $r")
    }
    val plan = planDf
      .select("part", "bin", "n_files", "total_bytes", "first_file",
        "last_file")
      .as[(String, Long, Long, Long, String, String)].collect()
    val a = plan.filter(_._1 == "a")
    // bins 0 (pre 0,40,80), 1 (pre 120,160): contiguous, ordered
    assert(a.map(r => (r._2, r._3, r._5, r._6)).toSeq ==
      Seq((0L, 3L, "f1", "f3"), (1L, 2L, "f4", "f5")), s"${a.toSeq}")
    val b = plan.filter(_._1 == "b")
    // pre-sums 0, 30, 280 → bins 0 (g1,g2), 2 (g3): the oversized file
    // closes its bin (next pre-sum jumps past a whole bin) and is never
    // split; bin ids need not be dense, order still holds
    assert(b.map(r => (r._2, r._3, r._5, r._6)).toSeq ==
      Seq((0L, 2L, "g1", "g2"), (2L, 1L, "g3", "g3")), s"${b.toSeq}")
    // conservation: every byte lands in exactly one bin
    assert(plan.map(_._4).sum == 40L * 5 + 30 + 250 + 30)
  }

  test("compact refuses a multi-partition plan (per-part bin ids would collide)") {
    import spark.implicits._
    // two parts, each with bin 0 — executing this against ONE inPath
    // would overwrite bin=00000 twice (code-review r10); the contract is
    // one compact() per partition directory
    val plan = Seq(("a", 0L, 2L, 100L, "f1", "f2"),
        ("b", 0L, 2L, 100L, "g1", "g2"))
      .toDF("part", "bin", "n_files", "total_bytes", "first_file", "last_file")
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, "/nonexistent", "/nonexistent-out", plan, "k")
    }
    assert(e.getMessage.contains("per-partition"))
  }

  test("compact refuses a plan built over a different directory") {
    import spark.implicits._
    // a plan carries the directory it planned over; executing it against
    // another directory whose files share leaf names would silently
    // compact the wrong data under the wrong bin geometry (code-review
    // r11 — the single-part twin of compactAll's leaf-distinctness rule)
    val plan = Seq(("/planned/dir", 0L, Seq("part-0.parquet")))
      .toDF("part", "bin", "files")
    val e = intercept[IllegalArgumentException] {
      Layout.compact(spark, "/other/dir", "/out", plan, "k")
    }
    assert(e.getMessage.contains("built over"))
  }

  test("compact EXECUTES the plan: one file per bin, read-equivalent, clustering preserved") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cex").toString
    try {
      val li = graft.checks.CheckDsl.table(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      Layout.writeClustered(li, s"$tmp/in", "l_orderkey", numFiles = 12)
      val listing = Layout.listFiles(spark, s"$tmp/in")
      val nPre = listing.count()
      assert(nPre == 12, s"expected 12 input files, got $nPre")
      val stats = listing.agg(sum("bytes").as("tb"), count(lit(1)).as("nf"))
      val planned = Layout.compactionPlan(
        listing.crossJoin(broadcast(stats))
          .withColumn("target", expr("4 * (tb div nf)")).drop("tb", "nf"),
        col("target"))
      val nBins = planned.count()
      assert(nBins > 0 && nBins < nPre, s"degenerate plan: $nBins bins")
      Layout.compact(spark, s"$tmp/in", s"$tmp/out", planned, "l_orderkey")
      // one physical file per bin — the merge actually happened
      val outFiles = new java.io.File(s"$tmp/out").listFiles()
        .filter(_.getName.startsWith("bin=")).toSeq
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet")))
      assert(outFiles.size.toLong == nBins &&
        outFiles.forall(_._2 == 1), s"files per bin: $outFiles")
      // READ-EQUIVALENCE: the rewritten data is exactly the original
      val post = spark.read.parquet(s"$tmp/out").drop("bin")
      assert(post.count() == li.count())
      assert(post.exceptAll(li).count() == 0 && li.exceptAll(post).count() == 0)
      // CLUSTERING PRESERVED, physically: per-bin key ranges are pairwise
      // disjoint (bins pack CONTIGUOUS runs of key-ordered files and the
      // in-bin sort restores row order, so the clustered layout survives)
      val ranges = spark.read.parquet(s"$tmp/out")
        .groupBy("bin").agg(min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
        .orderBy("bin").collect()
        .map(r => (r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) =>
          assert(hi1 <= lo2, s"bin ranges overlap: $hi1 > $lo2 in ${ranges.toSeq}")
        case _ => ()
      }
      // and the pruning the clustered layout bought SURVIVES compaction:
      // a selective key scan over the compacted files reads a small
      // fraction of rows (row-group/file stats still tight)
      val keys = li.agg(min("l_orderkey"), max("l_orderkey")).collect().head
      val (kLo, kHi) = (keys.getLong(0), keys.getLong(1))
      val cut = kLo + (kHi - kLo) / 20 // ~5% of the key range
      val scan = spark.read.parquet(s"$tmp/out")
        .filter(col("l_orderkey") >= kLo && col("l_orderkey") <= cut)
      scan.collect()
      val scanned = scan.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numOutputRows").value
      }.sum
      val total = li.count()
      assert(scanned * 2 <= total,
        s"compaction destroyed pruning: scanned $scanned of $total")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("compact rewrites the plan's OWN file set: a file added after planning is not folded in") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cpin").toString
    try {
      val li = graft.checks.CheckDsl.table(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      Layout.writeClustered(li, s"$tmp/in", "l_orderkey", numFiles = 8)
      val listing = Layout.listFiles(spark, s"$tmp/in")
      val stats = listing.agg(sum("bytes").as("tb"), count(lit(1)).as("nf"))
      val planned = Layout.compactionPlan(
        listing.crossJoin(broadcast(stats))
          .withColumn("target", expr("4 * (tb div nf)")).drop("tb", "nf"),
        col("target")).cache()
      planned.count()
      // an interloper lands in the directory BETWEEN planning and
      // execution — ADVICE r10: the old execution-time re-list with a
      // lexicographic [first, last] range would silently fold a
      // zzz-sorting file into the last bin's rewrite
      li.limit(100).coalesce(1).write.parquet(s"$tmp/late")
      val lateFile = new java.io.File(s"$tmp/late").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(lateFile.toPath,
        java.nio.file.Paths.get(s"$tmp/in/zzz-late.parquet"))
      Layout.compact(spark, s"$tmp/in", s"$tmp/out", planned, "l_orderkey")
      val post = spark.read.parquet(s"$tmp/out").drop("bin")
      assert(post.count() == li.count(),
        "late-arriving file leaked into the compacted output")
      assert(post.exceptAll(li).count() == 0 && li.exceptAll(post).count() == 0)
      planned.unpersist()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("compactAll drives a multi-partition plan: per-partition bins, read-equivalent, one pool") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_call").toString
    try {
      val li = graft.checks.CheckDsl.table(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity", "l_returnflag")
      Seq(0, 1).foreach { p =>
        Layout.writeClustered(li.filter(col("l_orderkey") % 2 === p),
          s"$tmp/in/p=$p", "l_orderkey", numFiles = 6)
      }
      val listing = Layout.listFiles(spark, s"$tmp/in/p=0")
        .unionByName(Layout.listFiles(spark, s"$tmp/in/p=1"))
      val stats = listing.agg(sum("bytes").as("tb"), count(lit(1)).as("nf"))
      val planned = Layout.compactionPlan(
        listing.crossJoin(broadcast(stats))
          .withColumn("target", expr("4 * (tb div nf)")).drop("tb", "nf"),
        col("target")).cache()
      // plan parts are qualified URIs (r13) — key the expectation by leaf
      val binsPerPart = planned.groupBy("part").count().collect()
        .map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
      assert(binsPerPart.size == 2, s"plan should span 2 parts: $binsPerPart")
      Layout.compactAll(spark, s"$tmp/out", planned, "l_orderkey")
      // bins land under their partition leaf — per-part bin-0s cannot
      // collide — and each bin is one merged file
      Seq(0, 1).foreach { p =>
        val bins = new java.io.File(s"$tmp/out/p=$p").listFiles()
          .filter(_.getName.startsWith("bin=")).toSeq
        assert(bins.size.toLong == binsPerPart(s"p=$p"),
          s"p=$p bins: ${bins.map(_.getName)}")
        assert(bins.forall(
          _.listFiles().count(_.getName.endsWith(".parquet")) == 1))
      }
      // read-equivalence across the whole 2-partition rewrite
      val post = spark.read.parquet(s"$tmp/out").drop("p", "bin")
      assert(post.count() == li.count())
      assert(post.exceptAll(li).count() == 0 && li.exceptAll(post).count() == 0)
      planned.unpersist()
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("durable manifest commits: crashed commit invisible, duplicate commit fails loudly, reads resolve from disk") {
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapdur")
      .toString
    try {
      val df = spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df, s"$tmp/d1", "k", numFiles = 2)
      val m1 = SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil)
      SnapshotStore.commit(spark, tmp, 1L, m1)
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L))
      // reads resolve from the PERSISTED manifest — drop every session
      // reference first
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L)
      assert(SnapshotStore.manifest(spark, tmp).count() == 2L)
      // a crashed commit = manifest dir without the job committer's
      // _SUCCESS marker: invisible to versions/manifest/readAt
      val crashed = new java.io.File(s"$tmp/_manifest/v=2")
      crashed.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/_manifest/v=2/part-junk.parquet"),
        Array[Byte](1, 2, 3))
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L),
        "a commit without _SUCCESS must stay invisible")
      intercept[IllegalArgumentException] {
        SnapshotStore.readAt(spark, tmp, 2L)
      }
      // repair = re-commit the same (uncommitted) version
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L, Seq(s"$tmp/d1"), Nil))
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L, 2L))
      // versions are immutable: re-committing a COMMITTED version fails
      intercept[IllegalArgumentException] {
        SnapshotStore.commit(spark, tmp, 1L, m1)
      }
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L,
        "the failed duplicate commit must not have disturbed v1")
      // a version-literal mismatch (rows tagged v1, committed as v3)
      // must fail at commit time, not land an EMPTY manifest under a
      // green _SUCCESS that vacuumExecute reads as 'pins no files'
      intercept[IllegalArgumentException] {
        SnapshotStore.commit(spark, tmp, 3L, m1)
      }
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L, 2L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("two racing committers of one snapshot version: exactly one claims it, the loser fails loudly, reads never tear") {
    // VERDICT r12 next #1: commit() stages under _manifest/.stage-* and
    // claims with one rename — two racers both pass the exists-check
    // (the version is absent when both start), exactly one wins.
    import graft.substrate.{CommitConflictException, SnapshotStore}
    val tmp = java.nio.file.Files.createTempDirectory("graft_snaprace")
      .toString
    try {
      val df = spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df, s"$tmp/d1", "k", numFiles = 2)
      val m1 = SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil)
        .localCheckpoint(true)
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val gate = new CountDownLatch(1)
      def racer(): java.util.concurrent.Future[Option[Throwable]] = {
        val task: java.util.concurrent.Callable[Option[Throwable]] =
          () => {
            gate.await(10, TimeUnit.SECONDS)
            try { SnapshotStore.commit(spark, tmp, 1L, m1); None }
            catch { case t: Throwable => Some(t) }
          }
        pool.submit(task)
      }
      val (fa, fb) = (racer(), racer())
      gate.countDown()
      val losers = Seq(fa.get(120, TimeUnit.SECONDS),
        fb.get(120, TimeUnit.SECONDS)).flatten
      pool.shutdown()
      assert(losers.size == 1,
        s"exactly one racer must lose, got ${losers.size}: $losers")
      assert(losers.head.isInstanceOf[CommitConflictException],
        s"the loser must get the NAMED conflict, got ${losers.head}")
      // the store is intact and fully readable; no stage garbage
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(1L))
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L)
      assert(!new java.io.File(s"$tmp/_manifest").listFiles()
        .exists(_.getName.startsWith(".stage-")),
        "both stage directories must be cleaned up")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("a snapshot store committed and reloaded through an explicitly-qualified file: base resolves") {
    // VERDICT r12 what's-wrong #1: manifest rows carry fully-qualified
    // URIs, so the store works when addressed by scheme (the object-store
    // shape) and by raw path alike.
    import graft.substrate.SnapshotStore
    import spark.implicits._
    val rawTmp = java.nio.file.Files.createTempDirectory("graft_snapq")
      .toString
    val tmp = s"file:$rawTmp"
    try {
      val df = spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      assert(SnapshotStore.manifest(spark, tmp).select("file")
        .as[String].collect().forall(_.startsWith("file:")),
        "manifest rows must be fully-qualified URIs")
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L)
      assert(SnapshotStore.readAt(spark, rawTmp, 1L).count() == 100L,
        "the raw-path spelling addresses the same store")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(rawTmp)).deleteRecursively()
    }
  }

  test("vacuumExecute on the persisted store: dropped versions decommit, shared files survive, kept reads intact") {
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapvac")
      .toString
    try {
      val df = spark.range(500)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      // v1 = head, v2 = v1's files + a delta (append), v3 = compaction
      Layout.writeClustered(df.filter(col("k") < 300), s"$tmp/d1", "k",
        numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(df.filter(col("k") >= 300), s"$tmp/d2", "k",
        numFiles = 1)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
        s"$tmp/d3", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"), Nil))
      // keeping v2 and v3: v1's files are ALL shared with v2 → only the
      // manifest commit vanishes, no data file may be deleted
      assert(SnapshotStore.vacuumExecute(spark, tmp, Seq(2L, 3L)).isEmpty)
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(2L, 3L))
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == 500L)
      intercept[IllegalArgumentException] {
        SnapshotStore.readAt(spark, tmp, 1L)
      }
      // keeping only v3: d1+d2's files are now unreferenced and go
      val deleted = SnapshotStore.vacuumExecute(spark, tmp, Seq(3L))
      assert(deleted.size == 3, s"expected d1's 2 + d2's 1, got $deleted")
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(3L))
      assert(SnapshotStore.readAt(spark, tmp, 3L).count() == 500L,
        "the kept compacted version must read intact after the purge")
      // refuses to vacuum to nothing / to an uncommitted keep set
      intercept[IllegalArgumentException] {
        SnapshotStore.vacuumExecute(spark, tmp, Seq.empty)
      }
      intercept[IllegalArgumentException] {
        SnapshotStore.vacuumExecute(spark, tmp, Seq(9L))
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("forget vs time travel: a delete commit hides rows going forward; vacuumExecute makes the forget physical") {
    // the honest interaction right-to-be-forgotten has with immutable
    // versions (the dedup_index_publish lifecycle): a DELETE commit
    // removes the rows from v3 onward, but older manifests still pin
    // files CONTAINING them — time travel keeps serving history until
    // retention drops those versions, and only then is the forget
    // physical (what real table formats document: deletion completes at
    // vacuum)
    import spark.implicits._
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_forget")
      .toString
    try {
      val df = spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df, s"$tmp/d1", "k", numFiles = 4)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      // delete commit: k < 10 forgotten — rewrite only the files whose
      // rows intersect (the clustering bounds it to one file)
      val v1 = SnapshotStore.readAt(spark, tmp, 1L)
        .withColumn("_f", input_file_name())
      // manifest rows are qualified URIs (r13); input_file_name emits its
      // own URI form — normalize both sides through URI.getPath
      val affectedPaths = v1.filter(col("k") < 10).select("_f").distinct()
        .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      assert(affectedPaths.size == 1,
        s"clustered delete must prune: $affectedPaths")
      val m1Files = SnapshotStore.manifest(spark, tmp)
        .select("file").distinct().as[String].collect().toSeq
      val (affected, untouched) = m1Files.partition(f =>
        affectedPaths(new java.net.URI(f).getPath))
      Layout.writeClustered(
        spark.read.parquet(affected: _*).filter(col("k") >= 10),
        s"$tmp/d2", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 2L,
        untouched.toDF("file")
          .select(lit(2L).as("version"), col("file"))
          .unionByName(SnapshotStore.manifestForStats(spark, 2L,
            Seq(s"$tmp/d2"), Nil).select("version", "file")))
      // forward reads forget; time travel still serves history
      assert(SnapshotStore.readAt(spark, tmp, 2L)
        .filter(col("k") < 10).isEmpty)
      assert(SnapshotStore.readAt(spark, tmp, 1L).count() == 100L,
        "pre-delete versions keep serving until retention drops them")
      // retention completes the forget PHYSICALLY
      SnapshotStore.vacuumExecute(spark, tmp, keep = Seq(2L))
      val survivors = SnapshotStore.manifest(spark, tmp)
        .select("file").distinct().as[String].collect()
      assert(spark.read.parquet(survivors.toIndexedSeq: _*)
        .filter(col("k") < 10).isEmpty,
        "after vacuum no remaining file may contain a forgotten row")
      // ...and the file that held them is gone from disk
      assert(affectedPaths.forall(f => !new java.io.File(f).exists()),
        "the forgotten rows' home file must be physically deleted")
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == 90L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("snapshot store: time travel survives compaction; vacuum names exactly the dropped-only files") {
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapspec")
      .toString
    try {
      val df = spark.range(1000)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      val head = df.filter(col("k") < 600)
      Layout.writeClustered(head, s"$tmp/d1", "k", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(df.filter(col("k") >= 600), s"$tmp/d2", "k",
        numFiles = 2)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      // v3 = compaction commit: v2's rows rewritten into one file
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
        s"$tmp/d3", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"), Nil))
      // v1 answers from its original files, untouched by later commits
      val v1 = SnapshotStore.readAt(spark, tmp, 1L)
      assert(v1.exceptAll(head).isEmpty && head.exceptAll(v1).isEmpty)
      // the rewrite is read-equivalent: v3 == v2 row-for-row
      val v2 = SnapshotStore.readAt(spark, tmp, 2L)
      val v3 = SnapshotStore.readAt(spark, tmp, 3L)
      assert(v3.exceptAll(v2).isEmpty && v2.exceptAll(v3).isEmpty)
      // file-level diff: append commit → exactly the delta's files;
      // compaction commit → the whole rewritten set; same version →
      // nothing changed and readChanged refuses rather than scanning
      // nothing
      val app = SnapshotStore.readChanged(spark, tmp, 1L, 2L).inputFiles
      assert(app.length == 2 && app.forall(_.contains("/d2/")))
      val rew = SnapshotStore.readChanged(spark, tmp, 2L, 3L).inputFiles
      assert(rew.length == 1 && rew.forall(_.contains("/d3/")))
      intercept[IllegalArgumentException] {
        SnapshotStore.readChanged(spark, tmp, 2L, 2L)
      }
      // shared-file safety: dropping only v2 deletes nothing of d1
      // (v1 still references it) — only d2's files are reclaimed
      val afterDropV2 = SnapshotStore.vacuumExecute(spark, tmp, Seq(1L, 3L))
      assert(afterDropV2.size == 2 && afterDropV2.forall(_.contains("/d2/")))
      // retention end-to-end: drop v1 too, its exclusive files go, and
      // the retained version still reads complete
      val dropped = SnapshotStore.vacuumExecute(spark, tmp, Seq(3L))
      assert(dropped.size == 3 && dropped.forall(_.contains("/d1/")))
      dropped.foreach(f => // rows are qualified URIs — File needs the path
        assert(!new java.io.File(new java.net.URI(f).getPath).exists(), f))
      assert(SnapshotStore.readAt(spark, tmp, 3L).count() == 1000L)
      // unknown version fails loudly, never an empty table
      intercept[IllegalArgumentException] {
        SnapshotStore.readAt(spark, tmp, 9L)
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("commitNext: two racing committers both land, at distinct versions — the loser retries instead of aborting") {
    // VERDICT r12 next #1's second clause on the snapshot store: the
    // append-ingest client shape. Both writers observe the same latest
    // (barrier-forced), both try version 1, exactly one claims it and
    // the loser's retry claims 2 with rows re-tagged for the new
    // candidate (rowsFor(version) is re-invoked per attempt).
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapnext")
      .toString
    try {
      val df = spark.range(100)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df, s"$tmp/d1", "k", numFiles = 2)
      SnapshotStore.commit(spark, tmp, 0L,
        SnapshotStore.manifestForStats(spark, 0L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(df.select(col("k") + 100 as "k", col("v")),
        s"$tmp/d2", "k", numFiles = 1)
      import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
      val gate = new CyclicBarrier(2)
      val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = Executors.newFixedThreadPool(2)
      def committer(dirs: Seq[String]) =
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = SnapshotStore.commitNext(spark, tmp) { v =>
            attempts.incrementAndGet()
            if (v == 1L) gate.await(60, TimeUnit.SECONDS)
            SnapshotStore.manifestForStats(spark, v, dirs, Nil)
          }
        })
      val (fa, fb) = (committer(Seq(s"$tmp/d1", s"$tmp/d2")),
        committer(Seq(s"$tmp/d1")))
      val claimed = Set(fa.get(120, TimeUnit.SECONDS),
        fb.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(claimed == Set(1L, 2L),
        s"winner at 1, loser retried at 2 — got $claimed")
      assert(attempts.get == 3,
        s"two firsts + exactly one retry, got ${attempts.get}")
      assert(SnapshotStore.committedVersions(spark, tmp) ==
        Seq(0L, 1L, 2L))
      // every landed version reads intact — rows were re-tagged per
      // attempt, so no version carries a mismatched tag
      Seq(0L, 1L, 2L).foreach(v =>
        assert(SnapshotStore.readAt(spark, tmp, v).count() >= 100L))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("snapshot two-phase drop: retire hides a version from new readers, in-flight reads finish, purge reclaims unshared bytes") {
    // the VectorArtifact retire/purge grace contract, now symmetric on
    // the snapshot store (r13): phase 1 removes only the commit marker —
    // the manifest rows survive so phase 2 can compute what the retired
    // version pinned; a file shared with a kept version survives purge.
    import spark.implicits._
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapretire")
      .toString
    try {
      val df = spark.range(500)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(df.filter(col("k") < 300), s"$tmp/d1", "k",
        numFiles = 2)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(df.filter(col("k") >= 300), s"$tmp/d2", "k",
        numFiles = 1)
      // v2 shares d1's files with v1 and adds d2's
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L,
          Seq(s"$tmp/d1", s"$tmp/d2"), Nil))
      // an in-flight reader resolves v1's file list BEFORE the retire
      val inFlight = SnapshotStore.readAt(spark, tmp, 1L)
      // the HEAD id is never re-mintable: retention refuses to drop the
      // latest version (code-review r13 — a freed head id could be
      // claimed by a DIFFERENT commit, and commit()'s orphan repair
      // would destroy the retired manifest dir purge still needs)
      intercept[IllegalArgumentException] {
        SnapshotStore.retire(spark, tmp, keep = Seq(1L))
      }
      assert(SnapshotStore.retire(spark, tmp, keep = Seq(2L)) == Seq(1L))
      // new readers can no longer pin v1...
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(2L))
      intercept[IllegalArgumentException] {
        SnapshotStore.readAt(spark, tmp, 1L)
      }
      // ...but the in-flight reader finishes unharmed (grace: its files
      // are still on disk until purge)
      assert(inFlight.count() == 300L)
      // purge: v1's files are ALL shared with the kept v2 → nothing to
      // delete, but the retired manifest directory is reclaimed
      assert(SnapshotStore.purgeRetired(spark, tmp).isEmpty)
      assert(!new java.io.File(s"$tmp/_manifest/v=1").exists(),
        "the retired manifest directory must be reclaimed")
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == 500L)
      // now retire v2 after a compaction commit that shares nothing
      Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
        s"$tmp/d3", "k", numFiles = 1)
      SnapshotStore.commit(spark, tmp, 3L,
        SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"), Nil))
      SnapshotStore.retire(spark, tmp, keep = Seq(3L))
      val purged = SnapshotStore.purgeRetired(spark, tmp)
      assert(purged.size == 3,
        s"d1's 2 + d2's 1 exclusive files must go, got $purged")
      purged.foreach(f => assert(
        !new java.io.File(new java.net.URI(f).getPath).exists(), f))
      assert(SnapshotStore.readAt(spark, tmp, 3L).count() == 500L,
        "the kept version serves intact after the purge")
      // a fresh stage dir survives the sweep inside the grace window
      new java.io.File(s"$tmp/_manifest/.stage-v=9-x").mkdirs()
      SnapshotStore.purgeRetired(spark, tmp)
      assert(new java.io.File(s"$tmp/_manifest/.stage-v=9-x").exists(),
        "an in-flight commit's stage must survive the maintenance pass")
      assert(SnapshotStore.purgeRetired(spark, tmp,
        stageGraceMs = -1L).isEmpty)
      assert(!new java.io.File(s"$tmp/_manifest/.stage-v=9-x").exists(),
        "past the grace window, crashed stage garbage is swept")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("retired version ids stay dead: a replayed commit at or below " +
      "the head fails loudly and the tombstone survives for purge") {
    // code-review r13 round 2: retire() used to delete only the marker,
    // so commit()'s orphan repair on a replayed intent at the retired id
    // destroyed the tombstoned manifest purge still needed — leaking the
    // version's exclusive files forever while re-minting the id under
    // different content. Retire now tombstone-renames and commits are
    // monotonic: both halves pinned here.
    import graft.substrate.SnapshotStore
    val tmp = java.nio.file.Files.createTempDirectory("graft_snapmono")
      .toString
    try {
      val df = spark.range(200)
        .select(col("id").as("k"), (col("id") % 5).as("v"))
      Layout.writeClustered(df.filter(col("k") < 100), s"$tmp/d1", "k",
        numFiles = 1)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"), Nil))
      Layout.writeClustered(df.filter(col("k") >= 100), s"$tmp/d2", "k",
        numFiles = 1)
      SnapshotStore.commit(spark, tmp, 2L,
        SnapshotStore.manifestForStats(spark, 2L, Seq(s"$tmp/d2"), Nil))
      assert(SnapshotStore.retire(spark, tmp, keep = Seq(2L)) == Seq(1L))
      // a replayed commit intent at the dropped id must NOT be treated
      // as orphan repair — the id is dead
      val e = intercept[IllegalArgumentException] {
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d2"), Nil))
      }
      assert(e.getMessage.contains("monotonic"))
      assert(SnapshotStore.committedVersions(spark, tmp) == Seq(2L))
      // the tombstone still carries what v1 pinned: purge reclaims its
      // exclusive file (d1's), and the kept version is untouched
      val purged = SnapshotStore.purgeRetired(spark, tmp)
      assert(purged.size == 1 && purged.head.contains("/d1/"),
        s"v1's exclusive file must be reclaimed, got $purged")
      assert(SnapshotStore.readAt(spark, tmp, 2L).count() == 100L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
