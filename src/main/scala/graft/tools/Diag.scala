package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.checks.Checks

/** One registry entry, diagnosed on a session with the bench's confs:
  *
  *   `Diag <time|profile|plan> <entry> [sfDir] [runs=3]`
  *
  *  - `time`: the walls of `runs` runs after one untimed warm-up (JIT,
  *    codegen and per-JVM fixture builds land there), the session cache
  *    cleared before each run, and their median as the bench takes it;
  *  - `profile`: `time`, plus the Spark jobs the last run started, sorted
  *    by wall and rolled up by description. Only the entry's own jobs
  *    count: they are tagged by a thread-local property, which Spark
  *    carries into the broadcast and subquery futures it spawns, so jobs
  *    of other threads in the JVM never do;
  *  - `plan`: the entry's formatted physical plan (scan pruning, pushed
  *    filters, join strategies, codegen coverage).
  *
  * `sfDir` defaults to SPARK_GRAFT_SF_DIR; SPARK_GRAFT_CPUS (default 4)
  * and SPARK_GRAFT_LIST_THRESHOLD are read as the bench reads them.
  * `main` prints the report, then one JSON line.
  */
object Diag {
  private val Modes = Seq("time", "profile", "plan")
  private val TagKey = "graft.diag.tag"

  final case class Job(id: Int, desc: String, ms: Long)

  /** `walls` and `rows` are empty/-1 for `plan`, `jobs` is empty but for
    * `profile`, and `plan` is empty but for `plan`.
    */
  final case class Report(mode: String, entry: String, rows: Long,
      walls: Seq[Double], jobs: Seq[Job], plan: String) {
    def median: Double = walls.sorted.apply(walls.size / 2)

    def text: String = if (mode == "plan") plan else {
      val runs = walls.zipWithIndex.map { case (w, i) =>
        f"[diag] run${i + 1} $w%.3f s rows=$rows" }
      val jobLines = if (mode != "profile") Nil else {
        val byDesc = jobs.groupBy(_.desc).toSeq
          .map { case (d, js) => (d, js.map(_.ms).sum, js.size) }
        Seq(f"[diag] ${jobs.size} jobs, job-time sum ${jobs.map(_.ms).sum / 1e3}%.3f s " +
          f"(last run ${walls.last}%.3f s; the rest is driver and planning time)") ++
          jobs.sortBy(-_.ms).take(40).map(j =>
            f"[diag]  ${j.ms / 1e3}%7.3f s  job=${j.id}%4d  ${j.desc.take(110)}") ++
          byDesc.sortBy(-_._2).take(25).map { case (d, ms, n) =>
            f"[diag]  SUM ${ms / 1e3}%7.3f s  n=$n%3d  ${d.take(100)}" }
      }
      (runs ++ Seq(f"[diag] median ${median}%.3f s") ++ jobLines).mkString("\n")
    }

    def json: String = {
      val common = s""""tool":"diag","mode":"$mode","entry":"$entry""""
      mode match {
        case "plan" => s"{$common,\"plan_lines\":${plan.linesIterator.size}}"
        case _ =>
          val prof = if (mode == "profile")
            f""","jobs":${jobs.size},"job_s":${jobs.map(_.ms).sum / 1e3}%.3f""" else ""
          f"""{$common,"rows":$rows,"walls_s":[${walls.map(w => f"$w%.3f").mkString(",")}],""" +
            f""""median_s":$median%.3f$prof}"""
      }
    }
  }

  /** The diagnosis of `entry` over the tables in `sfDir`, on `spark`. */
  def run(spark: SparkSession, mode: String, entry: String, sfDir: String,
      runs: Int): Report = {
    require(Modes.contains(mode), s"mode must be one of ${Modes.mkString("|")}: '$mode'")
    require(runs > 0, s"runs must be positive: $runs")
    val check = Checks.byName.getOrElse(entry,
      throw new IllegalArgumentException(s"no registry entry '$entry'"))
    if (mode == "plan") Report(mode, entry, -1L, Nil, Nil, check.run(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted")))
    else {
      def once(): (Long, Double) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = check.run(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      once()
      val timed = Seq.fill(runs - 1)(once())
      val ((rows, wall), jobs) =
        if (mode == "profile") jobsOf(spark)(once()) else (once(), Nil)
      Report(mode, entry, rows, timed.map(_._2) :+ wall, jobs, "")
    }
  }

  /** `body`'s result and the jobs it started on this thread, by id. */
  private def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(TagKey) == tag) {
          val desc = Option(js.properties.getProperty("spark.job.description"))
            .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
          starts.put(js.jobId, (desc, js.time))
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (starts.containsKey(je.jobId)) ends.put(je.jobId, je.time)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (out, starts.asScala.toSeq.sortBy(_._1).map { case (id, (desc, t0)) =>
        Job(id, desc, ends.asScala.get(id).fold(0L)(_ - t0))
      })
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.removeSparkListener(listener)
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = s"usage: Diag <${Modes.mkString("|")}> <entry> [sfDir] [runs=3]"
    require(args.length >= 2 && args.length <= 4, usage)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(throw new IllegalArgumentException(
        s"$usage — give sfDir or set SPARK_GRAFT_SF_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_LIST_THRESHOLD", "512"))
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val report = run(spark, args(0), args(1), sfDir, args.lift(3).fold(3)(_.toInt))
      println(report.text)
      println(report.json)
    } finally spark.stop()
  }
}
