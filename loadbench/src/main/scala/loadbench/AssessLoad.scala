package loadbench

import org.apache.spark.sql.Row

import graft.assess.Assessor
import graft.checks.{CheckDsl, Checks}
import graft.model.{Registry, Workload => ReqWorkload}

/** `assess`: one cycle is a Serving scorecard (the Assessor runs its
  * checks on its own pool) plus the capability levels of that scorecard,
  * over a seeded data product written once at set-up. No store I/O: this
  * is the planning and driver path.
  */
final class AssessLoad extends Workload {
  /** Product size as a TPC-H scale factor. The scorecard is planning-bound
    * (sf0.1 and sf0.01 products score in about the same time), while set-up
    * grows with size; sf0.01 keeps a run's set-up repetitions short.
    */
  val Scale = 0.01
  private var dir = ""
  private var first: Option[Map[String, Double]] = None
  private var last: Map[String, Double] = Map.empty

  def setup(ctx: Ctx, d: String): Unit = {
    Gen.write(ctx.spark.sparkContext.hadoopConfiguration, d, ctx.seed, Scale)
    dir = d
  }

  private def values(rows: Array[Row]): Map[String, Double] =
    rows.map(r => r.getAs[String]("requirement") -> r.getAs[Double]("value")).toMap

  /** Requirements whose values differ beyond floating-point summation noise. */
  private def differing(a: Map[String, Double], b: Map[String, Double]): Set[String] =
    (a.keySet ++ b.keySet).filter(k => (a.get(k), b.get(k)) match {
      case (Some(x), Some(y)) => math.abs(x - y) > 1e-9
      case _ => true
    })

  private val servingKeys = Registry.forWorkload(ReqWorkload.Serving).map(_.key).toSet
  private lazy val servingChecks = Checks.all.filter(c => c.isScore && servingKeys(c.name))

  def window(ctx: Ctx): Unit = ctx.rec.cycle {
    ctx.rec.op("scorecard", fatal = false) {
      val (sc, rows) = ctx.rec.span("assess.scorecard") {
        val df = Assessor.scorecard(ctx.spark, dir, ReqWorkload.Serving)
        (df, df.collect())
      }
      val levels = ctx.rec.span("assess.levels") { Assessor.capabilityLevels(sc).collect() }
      (rows, levels)
    } { case (rows, levels) =>
      val v = values(rows)
      require(rows.length == servingChecks.size,
        s"scorecard has ${rows.length} rows, expected ${servingChecks.size}")
      require(v.values.forall(x => x >= 0 && x <= 1), "a scorecard value is outside [0,1]")
      first.foreach(f => require(differing(f, v).isEmpty,
        "scorecard differs from the run's first: " + differing(f, v).mkString(",")))
      if (first.isEmpty) first = Some(v)
      last = v
      require(levels.map(_.getAs[Int]("factor")).toSet == Set(1, 2, 3, 4, 5),
        "capability levels must cover the five factors")
    }
  }

  private var serialMs = Map.empty[String, Double]

  override def probes(ctx: Ctx, traced: Phase): Unit = {
    for (_ <- 0 until 3; t <- Seq("lineitem", "orders", "events", "documents", "embeddings"))
      ctx.rec.probe("checks.table_resolve") { CheckDsl.table(ctx.spark, dir, t) }
    // every Serving check alone, serially: per-factor time, the critical
    // path floor, and the cross-check that pooled and serial runs agree
    ctx.rec.op("serial_checks", fatal = false) {
      servingChecks.map { c =>
        val t0 = System.nanoTime()
        val r = c.run(ctx.spark, dir).collect().head
        (c.name, r.getAs[Double]("value"), (System.nanoTime() - t0) / 1e6)
      }
    } { res =>
      serialMs = res.map(r => r._1 -> r._3).toMap
      val serial = res.map(r => r._1 -> r._2).toMap
      require(differing(serial, last).isEmpty,
        "serial per-check values differ from the scorecard: " + differing(serial, last).mkString(","))
    }
  }

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val byFactor = serialMs.groupBy { case (k, _) => Registry.byKey(k).factor.id }
      .map { case (f, m) => f -> m.values.sum }
    val scorecard = traced.of("scorecard")
    Map("checks.table_resolve_ms" -> ctx.rec.probeMedian("checks.table_resolve"),
      "checks.slowest_ms" -> (if (serialMs.isEmpty) 0.0 else serialMs.values.max),
      "assess.overlap" -> (if (scorecard.isEmpty || serialMs.isEmpty) 0.0
        else serialMs.values.sum / Stats.median(scorecard))) ++
      (1 to 5).map(f => s"checks.factor${f}_ms" -> byFactor.getOrElse(f, 0.0))
  }

  override def detail(ctx: Ctx): Map[String, String] = {
    val k = Gen.knobs(ctx.seed)
    Map("product" -> f"sf$Scale shape, row keep ${k.keep}%.4f, null rate ${k.nullRate}%.4f",
      "checks" -> servingChecks.size.toString)
  }
}
