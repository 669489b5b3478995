package loadbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.substrate.{IvfPq, PqIndex, VectorArtifact}

/** `vector_serve`: the read-mostly use of the vector artifact store plus
  * the ANN kernels. Set-up builds a seeded clustered corpus, trains the
  * PQ codebook and publishes the cell-clustered index. The server holds a
  * loaded index and answers query batches with a probe and a stored-code
  * ADC top-10. Each cycle ends with an append publish and a hot swap; a
  * forget (merge-on-read delete) lands mid-window, so the second half of
  * every window serves with one pending sidecar; the window ends with a
  * compaction, a swap and retention.
  */
final class VectorServeLoad extends Workload {
  val Dim = 64
  val Corpus = 4000
  val Clusters = 32
  val CentroidMod = 40
  val Cycles = 2
  val Batches = 2
  val BatchSize = 8
  val NProbe = 4
  val K = 10
  val AppendN = 48
  val ForgetN = 24

  private var dir = ""
  private def base = s"$dir/index"
  private var centers: Array[Array[Double]] = _
  private var cents: DataFrame = _
  private var cb: Array[Array[Array[Double]]] = _
  private var served: VectorArtifact.Loaded = _
  private var head = 0L
  private var pending = 0
  private var nextId = 0L
  private var nextQid = 1000000000L
  private val live = mutable.LinkedHashMap[Long, Array[Double]]()
  private val cellOf = mutable.Map[Long, Long]()
  private val forgotten = mutable.Set[Long]()
  private var liveArrays: (Array[Long], Array[Array[Double]]) = _
  private val recalls = ArrayBuffer[Double]()
  private val scannedPerResult = ArrayBuffer[Double]()
  private val filesPerVersion = ArrayBuffer[Double]()
  private var payload = 0L
  private var rng: java.util.SplittableRandom = _

  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("v", ArrayType(DoubleType, containsNull = false))))
  private val querySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qv", ArrayType(DoubleType, containsNull = false))))

  private def vector(r: java.util.SplittableRandom, c: Int, noise: Double): Array[Double] =
    Array.tabulate(Dim)(j => centers(c)(j) + noise * r.nextGaussian())

  private def vecDf(ctx: Ctx, rows: Seq[(Long, Array[Double])]): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(
      rows.map { case (id, v) => Row(id, v.toSeq) }: _*), vecSchema)

  private def idsDf(ctx: Ctx, ids: Seq[Long]): DataFrame = {
    import ctx.spark.implicits._
    ids.toDF("vec_id")
  }

  private def assigned(e: DataFrame): DataFrame =
    PqIndex.encode(e, "vec_id", "v", cb, Dim).join(
      IvfPq.probeCellsFrom(cents, e, "vec_id", "v", nProbe = 1)
        .select(col("qid").as("vec_id"), col("cell")), Seq("vec_id"))

  def setup(ctx: Ctx, d: String): Unit = {
    val r = ctx.rng(11)
    centers = Array.fill(Clusters, Dim)(0.3 * r.nextGaussian())
    val corpus = (0 until Corpus).map(i => (i.toLong, vector(r, r.nextInt(Clusters), 0.08)))
    val e = vecDf(ctx, corpus)
    val c = IvfPq.servingCentroids(e, CentroidMod)
    cents = ctx.spark.createDataFrame(java.util.Arrays.asList(c.collect(): _*), c.schema)
    cb = PqIndex.codebookArrays(PqIndex.codebooks(e, "vec_id", "v", dim = Dim))
    VectorArtifact.saveClustered(ctx.spark, s"$d/index", 0L, Dim, cents, cb, assigned(e))
    dir = d
    live.clear()
    corpus.foreach { case (id, v) => live(id) = v }
  }

  override def adopt(ctx: Ctx): Unit = {
    cellOf.clear()
    VectorArtifact.load(ctx.spark, base, 0L).codes.select("vec_id", "cell").collect()
      .foreach(r => cellOf(r.getLong(0)) = r.getLong(1))
    served = VectorArtifact.loadLatest(ctx.spark, base)
    nextId = Corpus.toLong
    rng = ctx.rng(13)
    refreshLive()
  }

  private def refreshLive(): Unit = {
    val ids = live.keys.toArray
    liveArrays = (ids, ids.map(live))
  }

  private def randomLive(n: Int): Seq[Long] = {
    val ids = liveArrays._1
    val out = mutable.LinkedHashSet[Long]()
    while (out.size < n) out += ids(rng.nextInt(ids.length))
    out.toSeq
  }

  private def queryBatch(ctx: Ctx): Unit = {
    val qs = randomLive(BatchSize).map { id =>
      val q = live(id).map(x => x + 0.02 * rng.nextGaussian())
      nextQid += 1
      (nextQid, q)
    }
    val qDf = ctx.spark.createDataFrame(java.util.Arrays.asList(
      qs.map { case (id, v) => Row(id, v.toSeq) }: _*), querySchema)
    val idx = served
    ctx.rec.op("query", pending, fatal = false) {
      val probes = ctx.rec.span("ann.probe") {
        IvfPq.probeCellsFrom(idx.centroids, qDf, "qid", "qv", NProbe).localCheckpoint(true)
      }
      (probes, ctx.rec.span("ann.adc") { IvfPq.adcStored(idx.codes, probes, idx.cb, Dim, K).collect() })
    } { case (probes, res) =>
      val byQ = res.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
      val ids = res.map(_.getLong(2))
      require(!ids.exists(forgotten), s"a forgotten id was served: ${ids.filter(forgotten).head}")
      require(ids.forall(live.contains), "a result id is not in the live set")
      qs.foreach { case (qid, q) =>
        val found = byQ.getOrElse(qid, Nil)
        require(found.size == K, s"query $qid returned ${found.size} results, expected $K")
        recalls += Recall.recall(found, Recall.exactTopK(q, liveArrays._1, liveArrays._2, K))
      }
      if (ctx.rec.spansOn) {
        val perCell = live.keys.groupBy(cellOf).view.mapValues(_.size).toMap
        val scanned = probes.select("cell").collect().map(r => perCell.getOrElse(r.getLong(0), 0)).sum
        scannedPerResult += scanned.toDouble / (qs.size * K)
      }
    }
  }

  private def publish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batch = (0 until AppendN).map(i => (nextId + i, vector(rng, rng.nextInt(Clusters), 0.08)))
    nextId += AppendN
    val newCodes = assigned(vecDf(ctx, batch))
    val v = head + 1
    ctx.rec.op("append", pending) {
      ctx.rec.span("vector.append_publish") {
        VectorArtifact.appendPublish(spark, base, v, head, Dim, cents, cb, newCodes)
      }
      ctx.rec.span("vector.load") { VectorArtifact.loadLatest(spark, base) }
    } { a =>
      require(a.version == v, s"loadLatest after append serves v=${a.version}, expected $v")
      val ids = batch.map(_._1)
      val seen = a.codes.select("vec_id").join(broadcast(idsDf(ctx, ids)), "vec_id").count()
      require(seen == AppendN, s"$seen of $AppendN appended ids are servable after the swap")
      newCodes.select("vec_id", "cell").collect().foreach(r => cellOf(r.getLong(0)) = r.getLong(1))
      batch.foreach { case (id, vec) => live(id) = vec }
      refreshLive()
      if (ctx.rec.spansOn) {
        val now = VectorArtifact.readManifest(spark, base, v).map(_._1)
        val before = VectorArtifact.readManifest(spark, base, head).map(_._1).toSet
        payload += Files.uriBytes(now.filterNot(before))
        filesPerVersion += now.size
      }
      head = v
      served = a
    }
  }

  private def forget(ctx: Ctx): Unit = {
    val ids = randomLive(ForgetN)
    val v = head + 1
    ctx.rec.op("forget", pending) {
      val n = ctx.rec.span("vector.delete_mor") {
        VectorArtifact.deletePublishMor(ctx.spark, base, v, head, idsDf(ctx, ids))
      }
      (n, ctx.rec.span("vector.load") { VectorArtifact.loadLatest(ctx.spark, base) })
    } { case (n, a) =>
      require(n == ForgetN && a.version == v, s"forget of $ForgetN ids reported $n, serves v=${a.version}")
      val left = a.codes.select("vec_id").join(broadcast(idsDf(ctx, ids)), "vec_id").count()
      require(left == 0, s"$left forgotten ids are still servable after the swap")
      ids.foreach { id => live.remove(id); forgotten += id }
      refreshLive()
      head = v
      pending += 1
      served = a
    }
  }

  private def maintain(ctx: Ctx): Unit = {
    val v = head + 1
    ctx.rec.op("compact", pending) {
      ctx.rec.span("vector.compact") { VectorArtifact.compactPublish(ctx.spark, base, v, head) }
      ctx.rec.span("vector.load") { VectorArtifact.loadLatest(ctx.spark, base) }
    } { a =>
      require(a.version == v, s"loadLatest after compaction serves v=${a.version}, expected $v")
      val n = a.codes.count()
      require(n == live.size, s"the compacted index holds $n codes, expected ${live.size}")
      head = v
      pending = 0
      served = a
    }
    ctx.rec.op("retire_purge", pending) {
      ctx.rec.span("vector.retire_purge") {
        VectorArtifact.retire(ctx.spark, base, keepLatest = 1)
        VectorArtifact.purgeRetired(ctx.spark, base)
      }
    } { _ =>
      val vs = VectorArtifact.versions(ctx.spark, base)
      require(vs == Seq(head), s"after retention the index holds versions $vs")
    }
  }

  def window(ctx: Ctx): Unit = {
    (0 until Cycles).foreach { c =>
      ctx.rec.cycle {
        (0 until Batches).foreach(_ => queryBatch(ctx))
        publish(ctx)
      }
      if (c == Cycles / 2 - 1) forget(ctx)
    }
    maintain(ctx)
  }

  override def storeDir: Option[String] = Some(base)
  override def payloadBytes: Long = payload

  override def liveBytes(ctx: Ctx): Long =
    Files.uriBytes(VectorArtifact.readManifest(ctx.spark, base, head).map(_._1))

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val queries = traced.samples.filter(_.kind == "query")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "vector.load_ms" -> traced.spanMedian("vector.load"),
      "vector.append_publish_ms" -> traced.spanMedian("vector.append_publish"),
      "vector.files_per_version" -> mean(filesPerVersion.toSeq),
      "vector.query_ms_per_sidecar" -> (if (queries.isEmpty) 0.0
        else Stats.slope(queries.map(_.tag.toDouble).toSeq, queries.map(_.wallMs).toSeq)),
      "vector.delete_mor_ms" -> traced.spanMedian("vector.delete_mor"),
      "vector.compact_ms" -> traced.spanMedian("vector.compact"),
      "vector.retire_purge_ms" -> traced.spanMedian("vector.retire_purge"),
      "ann.probe_ms" -> traced.spanMedian("ann.probe"),
      "ann.adc_ms" -> traced.spanMedian("ann.adc"),
      "ann.codes_scanned_per_result" -> mean(scannedPerResult.toSeq),
      "ann.recall_at_10" -> mean(recalls.toSeq))
  }

  override def detail(ctx: Ctx): Map[String, String] = Map(
    "corpus" -> s"$Corpus x $Dim-d, ${Corpus / CentroidMod} cells, ${live.size} live at end",
    "recall_at_10" -> (if (recalls.isEmpty) "n/a" else (recalls.sum / recalls.size).toString),
    "window" -> s"$Cycles cycles of $Batches query batches + append/swap, forget mid-window, compact/retire/purge")
}
