package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.substrate.{IvfPq, MetaIo, PathNorm, PqIndex, VectorArtifact}

/** Characterization of every publish of the vector store on small stores
  * with a closed-form codebook: for each committed version it pins the
  * meta row, the manifest (each row's file as its home version and
  * directory with the part file masked, its cell and its kind; rows in
  * manifest order, sorted only within a run of one home version and kind,
  * since a directory listing has no order), the codebook and centroid
  * tables, and the rows `load` serves — plus the value each publish call
  * returns. Any change to how a publish assembles its version shows up
  * here as a diff.
  */
class VectorPublishSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 16

  private def withStore(f: String => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("vecpin").toString
    try f(tmp)
    finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  /** 150 vectors of 16 dims, ids `from` until `from + 150`. */
  private def vectors(from: Long): DataFrame =
    spark.range(from, from + 150).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)),
        j => sin(col("id") * (j + lit(1)) * lit(0.37))).as("v"))

  /** A codebook in closed form (8 sub-spaces × 16 code words of 2 dims),
    * so no training aggregate's summation order can move a pinned value.
    */
  private val cb: Array[Array[Array[Double]]] =
    Array.tabulate(8, 16)((s, c) =>
      Array(math.sin(s * 1.3 + c * 0.41), math.cos(s * 0.7 + c * 0.53)))

  private def hash(xs: Seq[Any]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(xs.map(_.toString))

  /** One committed version: meta, manifest, skinny tables, loaded rows. */
  private def describe(tmp: String, v: Long): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (ms, meta) = MetaIo.readRows(conf, s"$tmp/v=$v/meta")
    val metaLine = ms.fieldNames.zip(meta.head.toSeq).map { case (n, x) =>
      s"$n=${Option(x).getOrElse("-")}" }.mkString(" ")
    def home(f: String): String = PathNorm(f).stripPrefix(tmp + "/")
      .replaceAll("/part-[^/]+$", "")
    val rows = VectorArtifact.readManifestFull(spark, tmp, v).map {
      case (f, c, k) =>
        (home(f).takeWhile(_ != '/') + k.getOrElse(""),
          s"${home(f)}|${c.getOrElse("-")}|${k.getOrElse("-")}")
    }
    // runs of one home version and kind keep their order; a run sorts
    val runs = rows.foldLeft(List.empty[(String, List[String])]) {
      case ((k, ls) :: rest, (key, line)) if k == key =>
        (k, line :: ls) :: rest
      case (acc, (key, line)) => (key, List(line)) :: acc
    }.reverse.flatMap(_._2.sorted)
    val loaded = VectorArtifact.load(spark, tmp, v)
    val codes = loaded.codes.orderBy("vec_id").collect()
      .map(_.toSeq.mkString(":")).toSeq
    val cbRows = MetaIo.readRows(conf, s"$tmp/v=$v/codebook")._2
      .map(_.toSeq.mkString(":")).sorted
    val cents = loaded.centroids.orderBy("cell").collect()
      .map(_.toSeq.mkString(":")).toSeq
    (Seq(s"meta $metaLine") ++ runs.map("row " + _) ++ Seq(
      s"codebook ${cbRows.size} #${hash(cbRows)}",
      s"centroids ${cents.size} #${hash(cents)}",
      s"loaded ${loaded.codes.columns.mkString(",")} ${codes.size} " +
        s"#${hash(codes)}"))
      .mkString("\n")
  }

  private def check(tmp: String, expected: Map[Long, String]): Unit = {
    val vs = VectorArtifact.versions(spark, tmp)
    assert(vs == expected.keys.toSeq.sorted)
    vs.foreach { v =>
      val got = describe(tmp, v)
      assert(got == expected(v), s"v=$v of $tmp:\n$got")
    }
  }

  test("unclustered save: one manifest row per code file, cell and kind " +
      "null, the meta row as passed") {
    withStore { tmp =>
      val e = vectors(0L)
      val cents = IvfPq.servingCentroids(e, centroidMod = 7)
      VectorArtifact.save(spark, tmp, 3L, Dim, cents, cb,
        PqIndex.encode(e, "vec_id", "v", cb, dim = Dim).coalesce(2),
        sourceVersion = Some(9L))
      check(tmp, Unclustered)
    }
  }

  test("clustered store: saveClustered, publishIncremental, appendPublish, " +
      "deletePublishMor, deletePublish, a scoped and a materializing " +
      "compactPublish commit these versions") {
    withStore { tmp =>
      val e = vectors(0L).localCheckpoint(true)
      val cents = IvfPq.servingCentroids(e, centroidMod = 7)
        .localCheckpoint(true)
      def assign(df: DataFrame): DataFrame =
        IvfPq.probeCellsFrom(cents, df, "vec_id", "v", nProbe = 1)
          .select(col("qid").as("vec_id"), col("cell"))
      def encode(df: DataFrame): DataFrame =
        PqIndex.encode(df, "vec_id", "v", cb, dim = Dim)
          .join(assign(df), Seq("vec_id")).localCheckpoint(true)
      val codes = encode(e)
      VectorArtifact.saveClustered(spark, tmp, 0L, Dim, cents, cb, codes,
        corpus = Some(("corpus/a", 4L)))
      // every third cell changes membership: its rows with vec_id ≡ 0
      // (mod 4) leave the index
      val changed = codes.select("cell").distinct().as[Long].collect()
        .filter(_ % 3 == 0).toSeq.sorted
      VectorArtifact.publishIncremental(spark, tmp, 1L, 0L, Dim, cents, cb,
        codes.filter(col("cell").isin(changed: _*) &&
          col("vec_id") % 4 =!= 0), changed)
      VectorArtifact.appendPublish(spark, tmp, 2L, 1L, Dim, cents, cb,
        encode(vectors(1000L).filter(col("vec_id") < 1040)))
      val n3 = VectorArtifact.deletePublishMor(spark, tmp, 3L, 2L,
        (0L until 1040L).filter(_ % 10 == 3).toDF("vec_id"))
      VectorArtifact.deletePublish(spark, tmp, 4L, 3L,
        (0L until 150L).filter(_ % 10 == 7).toDF("vec_id"))
      val multi = VectorArtifact.maintenanceDecision(spark, tmp, 4L)
      VectorArtifact.compactPublish(spark, tmp, 5L, 4L,
        onlyCells = Some(multi.take(2)))
      VectorArtifact.compactPublish(spark, tmp, 6L, 5L)
      assert(s"$n3 ${multi.mkString(",")}" == ClusteredReturns)
      check(tmp, Clustered)
    }
  }

  private val Unclustered: Map[Long, String] = Map(
    3L -> """
      |meta version=3 dim=16 m=8 k=16 source_version=9 corpus_base=- corpus_version=-
      |row v=3/codes|-|-
      |row v=3/codes|-|-
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes 150 #1974017902""".stripMargin.stripPrefix("\n"))

  private val ClusteredReturns = "104 119,126,133,140"
  private val Clustered: Map[Long, String] = Map(
    0L -> """
      |meta version=0 dim=16 m=8 k=16 source_version=- corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=0|0|-
      |row v=0/codes/pcell=105|105|-
      |row v=0/codes/pcell=112|112|-
      |row v=0/codes/pcell=119|119|-
      |row v=0/codes/pcell=126|126|-
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=147|147|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=21|21|-
      |row v=0/codes/pcell=28|28|-
      |row v=0/codes/pcell=35|35|-
      |row v=0/codes/pcell=42|42|-
      |row v=0/codes/pcell=49|49|-
      |row v=0/codes/pcell=56|56|-
      |row v=0/codes/pcell=63|63|-
      |row v=0/codes/pcell=70|70|-
      |row v=0/codes/pcell=77|77|-
      |row v=0/codes/pcell=7|7|-
      |row v=0/codes/pcell=84|84|-
      |row v=0/codes/pcell=91|91|-
      |row v=0/codes/pcell=98|98|-
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 150 #631549392""".stripMargin.stripPrefix("\n"),
    1L -> """
      |meta version=1 dim=16 m=8 k=16 source_version=0 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=112|112|-
      |row v=0/codes/pcell=119|119|-
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=0/codes/pcell=35|35|-
      |row v=0/codes/pcell=49|49|-
      |row v=0/codes/pcell=56|56|-
      |row v=0/codes/pcell=70|70|-
      |row v=0/codes/pcell=77|77|-
      |row v=0/codes/pcell=7|7|-
      |row v=0/codes/pcell=91|91|-
      |row v=0/codes/pcell=98|98|-
      |row v=1/codes/pcell=0|0|-
      |row v=1/codes/pcell=105|105|-
      |row v=1/codes/pcell=126|126|-
      |row v=1/codes/pcell=147|147|-
      |row v=1/codes/pcell=21|21|-
      |row v=1/codes/pcell=42|42|-
      |row v=1/codes/pcell=63|63|-
      |row v=1/codes/pcell=84|84|-
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 135 #1784976255""".stripMargin.stripPrefix("\n"),
    2L -> """
      |meta version=2 dim=16 m=8 k=16 source_version=1 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=112|112|-
      |row v=0/codes/pcell=119|119|-
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=0/codes/pcell=35|35|-
      |row v=0/codes/pcell=49|49|-
      |row v=0/codes/pcell=56|56|-
      |row v=0/codes/pcell=70|70|-
      |row v=0/codes/pcell=77|77|-
      |row v=0/codes/pcell=7|7|-
      |row v=0/codes/pcell=91|91|-
      |row v=0/codes/pcell=98|98|-
      |row v=1/codes/pcell=0|0|-
      |row v=1/codes/pcell=105|105|-
      |row v=1/codes/pcell=126|126|-
      |row v=1/codes/pcell=147|147|-
      |row v=1/codes/pcell=21|21|-
      |row v=1/codes/pcell=42|42|-
      |row v=1/codes/pcell=63|63|-
      |row v=1/codes/pcell=84|84|-
      |row v=2/codes/pcell=105|105|-
      |row v=2/codes/pcell=112|112|-
      |row v=2/codes/pcell=119|119|-
      |row v=2/codes/pcell=126|126|-
      |row v=2/codes/pcell=133|133|-
      |row v=2/codes/pcell=140|140|-
      |row v=2/codes/pcell=147|147|-
      |row v=2/codes/pcell=35|35|-
      |row v=2/codes/pcell=42|42|-
      |row v=2/codes/pcell=49|49|-
      |row v=2/codes/pcell=56|56|-
      |row v=2/codes/pcell=63|63|-
      |row v=2/codes/pcell=70|70|-
      |row v=2/codes/pcell=77|77|-
      |row v=2/codes/pcell=84|84|-
      |row v=2/codes/pcell=91|91|-
      |row v=2/codes/pcell=98|98|-
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 175 #2089609781""".stripMargin.stripPrefix("\n"),
    3L -> """
      |meta version=3 dim=16 m=8 k=16 source_version=2 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=112|112|-
      |row v=0/codes/pcell=119|119|-
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=0/codes/pcell=35|35|-
      |row v=0/codes/pcell=49|49|-
      |row v=0/codes/pcell=56|56|-
      |row v=0/codes/pcell=70|70|-
      |row v=0/codes/pcell=77|77|-
      |row v=0/codes/pcell=7|7|-
      |row v=0/codes/pcell=91|91|-
      |row v=0/codes/pcell=98|98|-
      |row v=1/codes/pcell=0|0|-
      |row v=1/codes/pcell=105|105|-
      |row v=1/codes/pcell=126|126|-
      |row v=1/codes/pcell=147|147|-
      |row v=1/codes/pcell=21|21|-
      |row v=1/codes/pcell=42|42|-
      |row v=1/codes/pcell=63|63|-
      |row v=1/codes/pcell=84|84|-
      |row v=2/codes/pcell=105|105|-
      |row v=2/codes/pcell=112|112|-
      |row v=2/codes/pcell=119|119|-
      |row v=2/codes/pcell=126|126|-
      |row v=2/codes/pcell=133|133|-
      |row v=2/codes/pcell=140|140|-
      |row v=2/codes/pcell=147|147|-
      |row v=2/codes/pcell=35|35|-
      |row v=2/codes/pcell=42|42|-
      |row v=2/codes/pcell=49|49|-
      |row v=2/codes/pcell=56|56|-
      |row v=2/codes/pcell=63|63|-
      |row v=2/codes/pcell=70|70|-
      |row v=2/codes/pcell=77|77|-
      |row v=2/codes/pcell=84|84|-
      |row v=2/codes/pcell=91|91|-
      |row v=2/codes/pcell=98|98|-
      |row v=3/deletes|-|delete
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 156 #-1376536880""".stripMargin.stripPrefix("\n"),
    4L -> """
      |meta version=4 dim=16 m=8 k=16 source_version=3 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=119|119|-
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=1/codes/pcell=126|126|-
      |row v=1/codes/pcell=21|21|-
      |row v=2/codes/pcell=119|119|-
      |row v=2/codes/pcell=126|126|-
      |row v=2/codes/pcell=133|133|-
      |row v=2/codes/pcell=140|140|-
      |row v=4/codes/pcell=0|0|-
      |row v=4/codes/pcell=105|105|-
      |row v=4/codes/pcell=112|112|-
      |row v=4/codes/pcell=147|147|-
      |row v=4/codes/pcell=35|35|-
      |row v=4/codes/pcell=42|42|-
      |row v=4/codes/pcell=49|49|-
      |row v=4/codes/pcell=56|56|-
      |row v=4/codes/pcell=63|63|-
      |row v=4/codes/pcell=70|70|-
      |row v=4/codes/pcell=77|77|-
      |row v=4/codes/pcell=7|7|-
      |row v=4/codes/pcell=84|84|-
      |row v=4/codes/pcell=91|91|-
      |row v=4/codes/pcell=98|98|-
      |row v=3/deletes|-|delete
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 141 #-217674732""".stripMargin.stripPrefix("\n"),
    5L -> """
      |meta version=5 dim=16 m=8 k=16 source_version=4 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=133|133|-
      |row v=0/codes/pcell=140|140|-
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=1/codes/pcell=21|21|-
      |row v=2/codes/pcell=133|133|-
      |row v=2/codes/pcell=140|140|-
      |row v=4/codes/pcell=0|0|-
      |row v=4/codes/pcell=105|105|-
      |row v=4/codes/pcell=112|112|-
      |row v=4/codes/pcell=147|147|-
      |row v=4/codes/pcell=35|35|-
      |row v=4/codes/pcell=42|42|-
      |row v=4/codes/pcell=49|49|-
      |row v=4/codes/pcell=56|56|-
      |row v=4/codes/pcell=63|63|-
      |row v=4/codes/pcell=70|70|-
      |row v=4/codes/pcell=77|77|-
      |row v=4/codes/pcell=7|7|-
      |row v=4/codes/pcell=84|84|-
      |row v=4/codes/pcell=91|91|-
      |row v=4/codes/pcell=98|98|-
      |row v=5/codes/pcell=119|119|-
      |row v=5/codes/pcell=126|126|-
      |row v=3/deletes|-|delete
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 141 #-217674732""".stripMargin.stripPrefix("\n"),
    6L -> """
      |meta version=6 dim=16 m=8 k=16 source_version=5 corpus_base=corpus/a corpus_version=4
      |row v=0/codes/pcell=14|14|-
      |row v=0/codes/pcell=28|28|-
      |row v=1/codes/pcell=21|21|-
      |row v=4/codes/pcell=0|0|-
      |row v=4/codes/pcell=105|105|-
      |row v=4/codes/pcell=112|112|-
      |row v=4/codes/pcell=147|147|-
      |row v=4/codes/pcell=35|35|-
      |row v=4/codes/pcell=42|42|-
      |row v=4/codes/pcell=49|49|-
      |row v=4/codes/pcell=56|56|-
      |row v=4/codes/pcell=63|63|-
      |row v=4/codes/pcell=70|70|-
      |row v=4/codes/pcell=77|77|-
      |row v=4/codes/pcell=7|7|-
      |row v=4/codes/pcell=84|84|-
      |row v=4/codes/pcell=91|91|-
      |row v=4/codes/pcell=98|98|-
      |row v=5/codes/pcell=119|119|-
      |row v=5/codes/pcell=126|126|-
      |row v=6/codes/pcell=133|133|-
      |row v=6/codes/pcell=140|140|-
      |codebook 128 #1800895789
      |centroids 22 #-593096664
      |loaded vec_id,codes,cell 141 #-217674732""".stripMargin.stripPrefix("\n"))
}
