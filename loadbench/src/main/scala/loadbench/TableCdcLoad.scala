package loadbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.substrate.{Layout, LoadbenchMetaIo, MaterializedView, SnapshotStore}

/** `table_cdc`: the write-heavy use of the snapshot store's commit
  * protocol. Set-up commits the lineitem keyed aggregate, clustered on
  * the key. One cycle appends a batch, merges a U/D/I changelog as
  * merge-on-read, point-reads keys, scans a key range and folds the
  * change feed since the last cycle into a SUM/COUNT view. A window is
  * `Cycles` cycles plus maintenance (materialize, retire, purge), so reads
  * see 1..Cycles pending merge sidecars and then reset. Its traced run
  * also measures the vector store's layers (see [[VectorServeLoad]]).
  */
final class TableCdcLoad extends Workload {
  /** Lineitem scale factor of the keyed table (about 15k keys at 0.01). */
  val Scale = 0.01
  val Cycles = 2
  val AppendRows = 200
  val Updates = 40
  val Deletes = 20
  val Inserts = 40
  val ScanWidth = 300L
  val Groups = 64L

  private var dir = ""
  private def base = s"$dir/store"
  private var head = 1L
  private var feedFrom = 1L
  private var pending = 0
  private var nextKey = 0L
  private var model = new TableModel(Groups)
  private var view: Seq[(Long, Long, Long)] = Nil
  private var payload = 0L
  private val filesPerRead = ArrayBuffer[Double]()
  private var opRng: java.util.SplittableRandom = _

  private val rowSchema = StructType(Seq(StructField("l_orderkey", LongType),
    StructField("qty_i", LongType), StructField("price_i", LongType)))
  private val changeSchema = StructType(rowSchema.fields ++ Seq(
    StructField("op", StringType), StructField("seq", LongType)))
  private val imageSchema = StructType(Seq("l_orderkey", "seq", "b_g", "b_v", "a_g", "a_v")
    .map(StructField(_, LongType)))
  private val viewSchema = StructType(Seq("g", "n", "s").map(StructField(_, LongType)))

  def setup(ctx: Ctx, d: String): Unit = {
    Gen.write(ctx.spark.sparkContext.hadoopConfiguration, d, ctx.seed, Scale, Set("lineitem"))
    val keyed = ctx.spark.read.parquet(s"$d/lineitem.parquet").groupBy("l_orderkey").agg(
      sum(floor(col("l_quantity"))).cast("long").as("qty_i"),
      sum(floor(col("l_extendedprice"))).cast("long").as("price_i"))
    Layout.writeClustered(keyed, s"$d/d0", "l_orderkey", numFiles = 4)
    SnapshotStore.commit(ctx.spark, s"$d/store", 1L,
      SnapshotStore.manifestForStats(ctx.spark, 1L, Seq(s"$d/d0"), Seq("l_orderkey")))
    dir = d
  }

  override def adopt(ctx: Ctx): Unit = {
    model = new TableModel(Groups)
    model.load(ctx.spark.read.parquet(s"$dir/d0").collect()
      .map(r => KeyedRow(r.getLong(0), r.getLong(1), r.getLong(2))))
    view = model.view.toSeq.map { case (g, (n, s)) => (g, n, s) }
    nextKey = model.maxKey + 1
    opRng = ctx.rng(7)
  }

  private def boxed(o: Option[Long]): Any = o.map(Long.box).orNull

  private def rowsDf(ctx: Ctx, rows: Seq[KeyedRow]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r.key, r.qty, r.price)): _*), rowSchema)

  private def freshRow(k: Long): KeyedRow =
    KeyedRow(k, 1 + opRng.nextLong(300), 1000 + opRng.nextLong(2000000))

  private def distinctExisting(n: Int, avoid: Set[Long]): Seq[Long] = {
    val keys = model.keys
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < n) {
      val k = keys(opRng.nextInt(keys.length))
      if (!avoid(k)) out += k
    }
    out.toSeq
  }

  private def cycle(ctx: Ctx): Unit = ctx.rec.cycle {
    val spark = ctx.spark
    val rec = ctx.rec
    // append: a batch in hand until it is readable at the head
    val batch = (0 until AppendRows).map(i => freshRow(nextKey + i))
    nextKey += AppendRows
    val batchDf = rowsDf(ctx, batch)
    val bdir = s"$dir/b${head + 1}"
    rec.op("append", pending) {
      rec.span("layout.batch_write") { Layout.writeClustered(batchDf, bdir, "l_orderkey", 1) }
      rec.span("snapshot.append_commit") {
        SnapshotStore.appendCommit(spark, base, Seq(bdir), Seq("l_orderkey"))
      }
    } { v =>
      require(v == head + 1, s"append committed v=$v, expected ${head + 1}")
      head = v
      model.append(batch)
      if (rec.spansOn) {
        val conf = spark.sparkContext.hadoopConfiguration
        payload += Files.parquetBytes(bdir)
        val f = java.nio.file.Files.list(java.nio.file.Paths.get(bdir))
        val file = try f.filter(_.toString.endsWith(".parquet")).findFirst().get.toString
          finally f.close()
        rec.probe("metaio.footer_stats") { LoadbenchMetaIo.footerStats(conf, file, Seq("l_orderkey")) }
        rec.probe("metaio.read_rows") { LoadbenchMetaIo.readRows(conf, s"$base/_manifest/v=$head") }
      }
    }

    // merge-on-read changelog: updates and deletes of live keys, inserts of new ones
    val upd = distinctExisting(Updates, Set.empty)
    val del = distinctExisting(Deletes, upd.toSet)
    val ins = (0 until Inserts).map(i => nextKey + i)
    nextKey += Inserts
    val changes = upd.map(k => freshRow(k)).map(r => Change(r.key, r.qty, r.price, "U")) ++
      del.map(k => { val (q, p) = model.point(k).get; Change(k, q, p, "D") }) ++
      ins.map(k => freshRow(k)).map(r => Change(r.key, r.qty, r.price, "I"))
    val changesDf = spark.createDataFrame(java.util.Arrays.asList(
      changes.map(c => Row(c.key, c.qty, c.price, c.op, 1L)): _*), changeSchema)
    val v = head + 1
    rec.op("merge", pending) {
      rec.span("snapshot.merge_mor") {
        SnapshotStore.mergeCommitMor(spark, base, v, head, "l_orderkey", changesDf,
          s"$dir/del$v", s"$dir/img$v")
      }
    } { case (nKeys, nImages) =>
      require(nKeys == changes.size && nImages == Updates + Inserts,
        s"merge reported ($nKeys keys, $nImages images)")
      head = v
      pending += 1
      model.merge(changes)
      if (rec.spansOn) payload += Files.parquetBytes(s"$dir/img$v")
    }

    // point reads: a just-updated key and a just-deleted key
    val keys = Seq(upd(opRng.nextInt(upd.size)), del(opRng.nextInt(del.size)))
    keys.foreach { k =>
      rec.op("read", pending, fatal = false) {
        val df = rec.span("snapshot.read_resolve") {
          SnapshotStore.readAtPoint(spark, base, head, "l_orderkey", k)
        }
        (df, rec.span("snapshot.read_exec") { df.collect() })
      } { case (df, rows) =>
        val got = rows.map(r => (r.getAs[Long]("qty_i"), r.getAs[Long]("price_i"))).toSeq
        require(got == model.point(k).toSeq, s"point read of $k returned $got, expected ${model.point(k)}")
        if (rec.spansOn) filesPerRead += df.inputFiles.length
      }
    }

    // range aggregate
    val lo = opRng.nextLong(math.max(1L, nextKey - ScanWidth))
    rec.op("scan", pending, fatal = false) {
      val df = rec.span("snapshot.scan_resolve") {
        SnapshotStore.readAtWhere(spark, base, head, "l_orderkey", lo, lo + ScanWidth)
      }
      rec.span("snapshot.scan_exec") {
        df.agg(count(lit(1)), sum("qty_i"), sum("price_i")).collect().head
      }
    } { r =>
      val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
      require(got == model.range(lo, lo + ScanWidth),
        s"scan [$lo, ${lo + ScanWidth}] returned $got, expected ${model.range(lo, lo + ScanWidth)}")
    }

    // change feed since the last fold, folded into the SUM/COUNT view
    val viewDf = spark.createDataFrame(java.util.Arrays.asList(
      view.map { case (g, n, s) => Row(g, n, s) }: _*), viewSchema)
    rec.op("cdf", pending) {
      val feed = rec.span("snapshot.changes") {
        SnapshotStore.readChangesBetween(spark, base, feedFrom, head, "l_orderkey")
          .select("l_orderkey", "qty_i", "price_i", "_change_type", "_commit_version")
          .collect().map(r => CdfRow(r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3), r.getLong(4))).toSeq
      }
      val imgs = TableModel.images(feed, Groups)
      val imgDf = spark.createDataFrame(java.util.Arrays.asList(imgs.map(i =>
        Row(i.key, i.seq, boxed(i.bG), boxed(i.bV), boxed(i.aG), boxed(i.aV))): _*), imageSchema)
      val folded = rec.span("mv.refresh") {
        MaterializedView.refreshSumCount(viewDf, imgDf, Seq("l_orderkey")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      }
      (feed, folded)
    } { case (feed, folded) =>
      val want = model.takeDelta()
      val got = TableModel.foldFeed(feed)
      require(got == want, s"change feed ${feedFrom}..$head folds to ${got.size} changed keys, " +
        s"expected ${want.size}; first difference at " +
        (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k)).getOrElse("?"))
      val gotView = folded.map { case (g, n, s) => g -> (n, s) }.toMap
      require(gotView == model.view, "the refreshed view differs from the model's")
      view = folded
      feedFrom = head
    }
  }

  private def maintain(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val v = head + 1
    rec.op("materialize", pending) {
      rec.span("snapshot.materialize") {
        SnapshotStore.materializeCommit(spark, base, v, head, "l_orderkey", s"$dir/m$v", numFiles = 4)
      }
    } { _ =>
      head = v
      pending = 0
      val n = SnapshotStore.countAt(spark, base, head)
      require(n == model.size, s"countAt after materialize is $n, expected ${model.size}")
      require(model.takeDelta().isEmpty, "materialize must not change rows")
      feedFrom = head
    }
    rec.op("retire_purge", pending) {
      rec.span("snapshot.retire_purge") {
        SnapshotStore.retire(spark, base, Seq(head))
        SnapshotStore.purgeRetired(spark, base)
      }
    } { _ =>
      val vs = SnapshotStore.committedVersions(spark, base)
      require(vs == Seq(head), s"after retire the store holds versions $vs")
    }
  }

  def window(ctx: Ctx): Unit = {
    (0 until Cycles).foreach(_ => cycle(ctx))
    maintain(ctx)
  }

  /** One cycle and the maintenance that ends a window. */
  override def warmup(ctx: Ctx): Unit = {
    cycle(ctx)
    maintain(ctx)
  }

  override def companion: Option[Workload] = Some(new VectorServeLoad)

  override def probes(ctx: Ctx, traced: Phase): Unit =
    (0 until 3).foreach { _ =>
      ctx.rec.probe("snapshot.manifest") {
        SnapshotStore.manifest(ctx.spark, base).filter(col("version") === head).collect()
      }
    }

  override def storeDir: Option[String] = Some(dir)
  override def payloadBytes: Long = payload

  /** A window ends materialized, so the head's read has no sidecar files. */
  override def liveBytes(ctx: Ctx): Long =
    Files.uriBytes(SnapshotStore.readAt(ctx.spark, base, head).inputFiles.toSeq)

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val reads = traced.samples.filter(_.kind == "read")
    Map(
      "snapshot.append_commit_ms" -> traced.spanMedian("snapshot.append_commit"),
      "snapshot.merge_mor_ms" -> traced.spanMedian("snapshot.merge_mor"),
      "snapshot.manifest_ms" -> ctx.rec.probeMedian("snapshot.manifest"),
      "snapshot.read_resolve_ms" -> traced.spanMedian("snapshot.read_resolve"),
      "snapshot.read_exec_ms" -> traced.spanMedian("snapshot.read_exec"),
      "snapshot.scan_resolve_ms" -> traced.spanMedian("snapshot.scan_resolve"),
      "snapshot.scan_exec_ms" -> traced.spanMedian("snapshot.scan_exec"),
      "snapshot.files_per_read" -> (if (filesPerRead.isEmpty) 0.0
        else filesPerRead.sum / filesPerRead.size),
      "snapshot.read_ms_per_sidecar" -> (if (reads.isEmpty) 0.0
        else Stats.slope(reads.map(_.tag.toDouble).toSeq, reads.map(_.wallMs).toSeq)),
      "snapshot.changes_ms" -> traced.spanMedian("snapshot.changes"),
      "snapshot.materialize_ms" -> traced.spanMedian("snapshot.materialize"),
      "snapshot.retire_purge_ms" -> traced.spanMedian("snapshot.retire_purge"),
      "layout.batch_write_ms" -> traced.spanMedian("layout.batch_write"),
      "mv.refresh_ms" -> traced.spanMedian("mv.refresh"),
      "metaio.read_rows_ms" -> ctx.rec.probeMedian("metaio.read_rows"),
      "metaio.footer_stats_ms" -> ctx.rec.probeMedian("metaio.footer_stats"))
  }

  override def detail(ctx: Ctx): Map[String, String] = Map(
    "table" -> s"lineitem keyed aggregate, ${model.size} live keys at end, head v=$head",
    "window" -> s"$Cycles cycles + materialize/retire/purge")
}
