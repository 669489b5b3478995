package graft.substrate

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout control (reference `factors/requirements.yaml:42-44`
  * clustering keys; SURVEY.md §2.B "bucketing for co-located joins").
  *
  * Bucketed tables pre-shuffle data by the join key at WRITE time: two
  * tables bucketed the same way join with ZERO exchange — at 100 TB this
  * converts every recurring fact-fact join from a full network shuffle
  * into a local zip of bucket files. The layout IS what check #9
  * (access_optimization) scores the presence of.
  */
object Layout {

  /** Write `df` as a bucketed+sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Range-CLUSTERED parquet write — the "clustering keys" layout check
    * #9 literally scores (`requirements.yaml:42-44`: "large tables with
    * clustering keys"): range-partition by the key, sort within
    * partitions, so every file (and every row group inside it) covers a
    * narrow key interval and carries tight parquet min/max statistics. A
    * key-range scan then skips whole row groups at read time — LayoutSpec
    * measures the scan's output rows collapsing under a selective filter.
    * At 100 TB this is the difference between reading one file and
    * reading the table; `numFiles` sizes the write parallelism (one range
    * per file).
    */
  def writeClustered(df: DataFrame, path: String, key: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Bit-interleaved Morton (z-order) value of two non-negative ints,
    * `bits` bits each: bit i of `x` lands at position 2i, bit i of `y`
    * at 2i+1, so consecutive z-values trace the space-filling z-curve and
    * any z-RANGE covers a bounded rectangle in (x, y). Pure integer
    * shift/mask arithmetic — codegen'd map-side, and reproduced verbatim
    * by the `zorder_cluster_stats` oracle ([[zValueSql]]).
    *
    * Inputs must already be bounded to `bits` bits (callers map raw keys
    * through % (1 << bits) or a rank/ntile first — the standard z-order
    * dictionary step); values outside would silently collide, so bound
    * the DOMAIN, not the z.
    */
  def zValue(x: Column, y: Column, bits: Int): Column =
    zValueN(Seq(x, y), bits)

  /** [[zValue]] generalized to d dimensions: bit i of
    * dimension d lands at position i·n + d, so consecutive z-values
    * trace the d-dimensional z-curve and any z-range covers a bounded
    * HYPERRECTANGLE. d=2 reduces exactly to the original interleave
    * (x→2i, y→2i+1). Total bits n·`bits` must stay < 63 (a LongType
    * column); same bounded-domain contract as [[zValue]].
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty && cols.length * bits < 63,
      s"z-value needs 1..62 total bits, got ${cols.length}x$bits")
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, d) =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * cols.length + d)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** [[zValue]] as SQL over column expressions `x` and `y` — the same
    * shift/mask terms OR-folded, engine-exact integer arithmetic.
    */
  def zValueSql(x: String, y: String, bits: Int): String =
    zValueNSql(Seq(x, y), bits)

  /** [[zValueN]] as SQL — the d-dimensional shift/mask terms OR-folded,
    * engine-exact integer arithmetic (the oracle-mirror twin).
    */
  def zValueNSql(cols: Seq[String], bits: Int): String =
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, d) =>
        s"((($c >> $i) & 1) << ${i * cols.length + d})"
      }
    }.mkString("(", " | ", ")")

  /** Z-ORDER clustered parquet write — [[writeClustered]] generalized to
    * TWO predicate dimensions: range-partition and sort by the interleaved
    * z-value, then drop it, so every file/row group covers a small
    * RECTANGLE in (xCol, yCol) and carries tight min/max stats on BOTH
    * columns. A single-key sort gives perfect pruning on the sort key and
    * none on the second dimension; the z-curve trades a constant factor on
    * each for row-group skipping on either (or both) — the standard
    * lakehouse layout for two-dimensional scan predicates (OPTIMIZE
    * ZORDER BY). LayoutSpec measures a two-sided rectangle scan pruning
    * ~the selectivity PRODUCT under z vs one factor under a single-key
    * sort. Both columns must already be bounded to `bits` bits
    * ([[zValue]]'s domain contract — a modulo here would silently break
    * rectangle locality for out-of-range keys instead of failing them).
    */
  def writeZClustered(df: DataFrame, path: String, xCol: String,
      yCol: String, bits: Int, numFiles: Int): Unit =
    writeZClusteredN(df, path, Seq(xCol, yCol), bits, numFiles)

  /** [[writeZClustered]] for d predicate dimensions: range-partition and
    * sort by the d-way interleaved z-value so every file/row group
    * covers a small HYPERRECTANGLE and carries tight min/max stats on
    * ALL d columns (LayoutSpec measures the d=3 box scan pruning ~the
    * three-factor selectivity product vs one factor under a single-key
    * sort). The constant-factor cost per dimension grows (each extra
    * dimension halves the per-dim resolution at fixed total bits), which
    * is why production OPTIMIZE ZORDER guidance caps d at ~3-4.
    */
  def writeZClusteredN(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int, numFiles: Int): Unit =
    df.withColumn("_z", zValueN(zCols.map(col), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Small-file compaction plan (the lakehouse OPTIMIZE/bin-pack
    * primitive): group each partition's files, in key order, into
    * target-sized compaction bins — `bin = floor(preceding_bytes /
    * target)`, the streaming first-fit that preserves file order (so a
    * clustered layout stays clustered through compaction) and never
    * splits a file. An oversized file may JOIN the bin already open when
    * it arrives (its preceding sum decides), but it always CLOSES that
    * bin — the floor-div jumps past it, so subsequent bin ids may skip
    * (an oversized file does not necessarily occupy a bin alone).
    *
    * Input `files` is a LISTING — (part, file, bytes), metadata scale
    * (O(#files), ~10⁶ rows at 100 TB, not O(rows)) — and the window
    * partitions by `part`, the same scoping real table formats compact
    * under (cross-partition bins would merge partition boundaries away).
    * `target` is a Column so callers can derive it from the listing
    * itself declaratively. The running sums are exact in doubles up to
    * 2^53 bytes (≈ 9 PB) per partition. Output: one row per planned
    * compaction task — (part, bin, n_files, total_bytes, first_file,
    * last_file, files), where `files` is the EXPLICIT member list the
    * executor rewrites (selecting members at execution time by
    * re-listing the directory and filtering a lexicographic
    * [first_file, last_file] range would silently fold in any file added
    * between planning and execution — the plan itself must carry the
    * file set, exactly as table-format OPTIMIZE tasks name their input
    * files in the manifest).
    */
  def compactionPlan(files: DataFrame, target: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("part").orderBy("file")
      // explicit ROWS frame: the default RANGE frame includes
      // all order-key PEERS in the running sum, which diverges from the
      // streaming first-fit semantics (and the oracle's ROWS frame) the
      // moment a (part, file) key repeats
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    files
      .withColumn("_pre", sum(col("bytes")).over(w) - col("bytes"))
      .withColumn("bin",
        floor(col("_pre").cast("double") / target.cast("double")).cast("long"))
      .groupBy("part", "bin")
      .agg(count(lit(1)).as("n_files"), sum("bytes").as("total_bytes"),
        min("file").as("first_file"), max("file").as("last_file"),
        sort_array(collect_list(col("file"))).as("files"))
  }

  /** List a parquet directory as a [[compactionPlan]] input: one row per
    * data file — (part = the directory, file = leaf name, bytes). Driver-
    * side Hadoop FS metadata listing, O(#files) like every table format's
    * manifest read — never touches row data.
    */
  def listFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // part is the FULLY QUALIFIED directory URI, not the caller's raw
    // string: a path built from this listing (part/file) must resolve
    // against the filesystem it was listed on when read from another
    // session or default FS — on an object store a scheme-stripped path
    // loses the bucket
    val qpart = fs.makeQualified(p).toString
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => (qpart, s.getPath.getName, s.getLen))
      .toDF("part", "file", "bytes")
  }

  /** EXECUTE a [[compactionPlan]] (the OPTIMIZE loop's second half):
    * rewrite each planned bin's files into
    * ONE merged file under `outPath`, preserving the clustered order.
    *
    * Execution shape — the Delta/Iceberg OPTIMIZE geometry, not a
    * shuffle: the plan is collected to the driver (METADATA scale —
    * O(#bins), the same bounded listing [[compactionPlan]] consumes; a
    * 100 TB table is ~10⁶ files → ~10⁴ bins of task descriptions, what
    * every lakehouse OPTIMIZE driver holds), and each bin becomes an
    * independent read-its-own-files → sort → write-one-file task.
    * Per-bin jobs submit CONCURRENTLY (bounded pool) so executors stay
    * busy across bins; within a bin, `coalesce(1)` narrows without a
    * shuffle and `sortWithinPartitions(orderCol)` restores the clustered
    * order (Spark schedules splits size-first, so concatenation order is
    * not file order — the sort re-establishes it; its cost is the
    * target-file working set, exactly what a compactor must rewrite
    * anyway). No data crosses the network that a rewrite would not
    * inherently move. Read-equivalence + clustering preservation are
    * proven by the `compaction_execute` oracle (hash over the rewritten
    * data ≡ the original table) and LayoutSpec's post-compaction pruning
    * re-measurement.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, inPath: String,
      outPath: String, plan: DataFrame, orderCol: String,
      maxConcurrent: Int = 4): Unit = {
    // ONE partition per call — the scope of `inPath` itself. compactionPlan
    // emits per-part bin ids that each start at 0, so a multi-part plan
    // would collide on bin=N output paths; the multi-partition compactor
    // is [[compactAll]], which scopes each bin's output under its
    // partition leaf. Fail loudly rather than silently overwrite.
    val parts = plan.select("part").distinct().collect().map(_.getString(0))
    require(parts.length <= 1,
      s"compact() is per-partition (one inPath): plan spans ${parts.length} parts — use compactAll (or call once per partition directory)")
    // the plan records the directory it was built over; executing it
    // against a DIFFERENT directory whose files share leaf names would
    // silently compact the wrong data under the wrong bin geometry (the
    // single-part twin of compactAll's leaf-distinctness contract)
    // the plan's part column is a qualified URI (listFiles) — qualify the
    // caller's inPath the same way before comparing
    val qIn = {
      val p = new org.apache.hadoop.fs.Path(inPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    }
    require(parts.isEmpty ||
        parts.head.stripSuffix("/") == qIn.stripSuffix("/"),
      s"compact: plan was built over '${parts.head}' but inPath is '$inPath'")
    // members come from the plan's OWN `files` column: a re-list plus a
    // lexicographic [first, last] range would fold in files added after
    // planning
    val tasks = plan.select(col("bin"), col("files")).collect().map { r =>
      (r.getSeq[String](1).map(f => s"$inPath/$f"),
        f"$outPath/bin=${r.getLong(0)}%05d")
    }
    runBinTasks(spark, tasks.toIndexedSeq, orderCol, maxConcurrent)
  }

  /** Multi-partition compaction driver (the orchestration wrapper a real
    * OPTIMIZE run needs over the per-partition [[compact]] contract):
    * execute a plan that spans many
    * partition directories, writing each partition's rewritten bins
    * under `outBase/<partition-leaf>/bin=N` so per-part bin ids (each
    * starting at 0) can never collide across partitions. All (part, bin)
    * tasks flatten into ONE bounded pool — the cross-partition
    * concurrency budget: a 10³-partition table streams its ~10⁴ rewrite
    * tasks through `maxConcurrent` in-flight jobs instead of either
    * serializing partitions (idle executors at every partition tail) or
    * submitting everything at once (driver/job-scheduler overload).
    * Partition leaf names must be distinct (they are, for any one hive
    * layer — `k=v` leaves are unique by construction); enforced loudly.
    */
  def compactAll(spark: org.apache.spark.sql.SparkSession, outBase: String,
      plan: DataFrame, orderCol: String, maxConcurrent: Int = 4): Unit = {
    val rows = plan.select(col("part"), col("bin"), col("files")).collect()
    def leaf(p: String) = p.stripSuffix("/").split('/').last
    val parts = rows.map(_.getString(0)).distinct
    require(parts.map(leaf).distinct.length == parts.length,
      s"compactAll: partition leaf names must be distinct under one output base, got ${parts.mkString(", ")}")
    val tasks = rows.map { r =>
      val part = r.getString(0)
      (r.getSeq[String](2).map(f => s"$part/$f"),
        f"$outBase/${leaf(part)}/bin=${r.getLong(1)}%05d")
    }
    runBinTasks(spark, tasks.toIndexedSeq, orderCol, maxConcurrent)
  }

  /** Shared bin-rewrite executor of [[compact]]/[[compactAll]]: each task
    * reads its explicit member files, narrows to one output file without
    * a shuffle, restores the clustered order, and writes.
    */
  private def runBinTasks(spark: org.apache.spark.sql.SparkSession,
      tasks: Seq[(Seq[String], String)], orderCol: String,
      maxConcurrent: Int): Unit = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(math.max(1, maxConcurrent))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futs = tasks.map { case (members, outDir) =>
      Future {
        MetaIo.readParquet(spark, members, mergeSchema = false)
          .coalesce(1)
          .sortWithinPartitions(orderCol)
          .write.mode(SaveMode.Overwrite)
          .parquet(outDir)
      }
    }
    try futs.foreach(f => Await.result(f, Duration.Inf))
    finally pool.shutdown()
  }
}
