package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support: image/audio/video payloads ride as opaque
  * `binary` columns with typed metadata (reference `factors/2-consumable.md:17`
  * "Native formats (Parquet, JSON, vectors) without conversion overhead" —
  * binary-in-parquet is the native carrier; `requirements.yaml:62-64`).
  *
  * The DECODE step is a clearly-marked deterministic FAKE (this container
  * has no image/audio codecs): `FakeCodec` derives dimensions and "pixels"
  * from the bytes alone, reproducibly. Everything around it — the column
  * schema, the typed Dataset boundary, the per-partition batch shape, the
  * feature/frame-sample operators — is real Spark plumbing and is what a
  * production codec would drop into.
  *
  * Scale design: decode runs inside `mapPartitions`, so one task owns one
  * parquet row-group's worth of payloads — the same batch shape a
  * vectorized (Arrow) UDF would see; no per-row JNI/codec setup, no
  * driver involvement, trivially parallel across 1000 executors.
  */
object Multimodal {

  /** A media payload row: `bytes` is the opaque payload; `meta` carries
    * producer-side metadata (codec, source, capture time, ...).
    */
  final case class MediaRow(
      media_id: Long, mime: String, bytes: Array[Byte],
      meta: Map[String, String])

  final case class DecodedImage(
      media_id: Long, width: Int, height: Int, channels: Int,
      pixels: Array[Byte])

  final case class MediaFeatures(
      media_id: Long, mime: String, n_bytes: Long, features: Array[Float])

  final case class VideoFrame(
      media_id: Long, frame_no: Int, frame_bytes: Array[Byte])

  /** Deterministic stand-in for a real codec (STUB — no codecs in this
    * environment). A real implementation replaces exactly these three
    * functions; all schemas/operators stay unchanged.
    */
  object FakeCodec {
    /** "Decode": dimensions derived from payload length, pixel buffer is
      * the payload cycled to width*height*channels bytes.
      */
    def decode(id: Long, bytes: Array[Byte]): DecodedImage = {
      val w = 1 + (bytes.length % 64)
      val h = 1 + ((bytes.length / 64) % 64)
      val c = 3
      val n = w * h * c
      // empty payload -> black 1x1x3 (indexing bytes(0) would throw)
      val px =
        if (bytes.isEmpty) new Array[Byte](n)
        else Array.tabulate(n)(i => bytes(i % bytes.length))
      DecodedImage(id, w, h, c, px)
    }

    /** "Resize": re-derive the pixel buffer at the target dims. */
    def resize(img: DecodedImage, w: Int, h: Int): DecodedImage = {
      val n = w * h * img.channels
      DecodedImage(img.media_id, w, h, img.channels,
        Array.tabulate(n)(i => img.pixels(i % math.max(img.pixels.length, 1))))
    }

    /** Frame sampling for "video": every strideth 256-byte block. */
    def frames(id: Long, bytes: Array[Byte], stride: Int): Seq[VideoFrame] =
      bytes.grouped(256).zipWithIndex.collect {
        case (blk, i) if i % stride == 0 => VideoFrame(id, i, blk)
      }.toSeq
  }

  /** Synthesize a deterministic media table from the documents corpus
    * (payload = utf8 text bytes; modality round-robins by id). This is the
    * fixture generator for the multimodal pipeline, not a data-science
    * claim.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame = {
    graft.checks.CheckDsl.table(spark, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(
        array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3 + 1).cast("int")).as("mime"),
      col("text").cast("binary").as("bytes"),
      map(lit("source"), col("source"), lit("lang"), col("lang")).as("meta"))
  }

  /** Batch decode: one codec context per PARTITION (the expensive init a
    * real codec amortizes), then per-row decode — the mapPartitions batch
    * shape.
    */
  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    media.filter(_.mime.startsWith("image/")).mapPartitions { rows =>
      // real impl: val ctx = Codec.acquire() — once per partition
      rows.map(r => FakeCodec.decode(r.media_id, r.bytes))
    }
  }

  /** Feature extraction: 16-bin byte histogram normalized to [0,1] — the
    * deterministic stand-in for an embedding model, same output shape
    * (`Array[Float]` column, ready for the vector tier).
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val hist = new Array[Float](16)
        r.bytes.foreach(b => hist((b & 0xFF) / 16) += 1f)
        val n = math.max(r.bytes.length, 1).toFloat
        MediaFeatures(r.media_id, r.mime, r.bytes.length.toLong,
          hist.map(_ / n))
      }
    }
  }

  /** Frame sampling over video payloads. */
  def sampleFrames(media: Dataset[MediaRow], stride: Int = 2): Dataset[VideoFrame] = {
    import media.sparkSession.implicits._
    media.filter(_.mime.startsWith("video/"))
      .flatMap(r => FakeCodec.frames(r.media_id, r.bytes, stride))
  }

  /** The end-to-end multimodal pipeline as a driver-checkable query:
    * synthesize → extract features → per-modality stats. Deterministic,
    * Spark-only (mapPartitions) → rows-only correctness check.
    */
  def mediaFeatureStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = mediaTable(spark, dir).as[MediaRow]
    extractFeatures(media).toDF()
      .groupBy("mime").agg(
        count(lit(1)).as("n_media"),
        sum("n_bytes").as("total_bytes"),
        avg(element_at(col("features"), 1)).as("avg_bin0"))
      .orderBy("mime")
  }
}
