package loadbench

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload at one seed in this JVM.
  *
  * {{{
  * Main --workload <assess|table_cdc|vector_serve> --seed <n> --seconds <s>
  *      --trace <0|1> --work <scratch dir>
  * }}}
  *
  * Prints a detail record (conditions, every op kind's median with its
  * sample count, failures) and then, as the last line, the result record
  * with the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`, measured on a second, traced window after an untraced one).
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "cycle_p50_ms" -> "ms", "cycle_cpu_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.plan_ms_per_op" -> "ms", "spark.jobs_per_op" -> "count",
    "spark.driver_gap_ms_per_op" -> "ms", "spark.task_ms_per_op" -> "ms",
    "spark.cpu_util" -> "ratio",
    "checks.table_resolve_ms" -> "ms", "checks.factor1_ms" -> "ms",
    "checks.factor2_ms" -> "ms", "checks.factor3_ms" -> "ms",
    "checks.factor4_ms" -> "ms", "checks.factor5_ms" -> "ms",
    "checks.slowest_ms" -> "ms", "assess.overlap" -> "ratio",
    "snapshot.append_commit_ms" -> "ms", "snapshot.merge_mor_ms" -> "ms",
    "snapshot.manifest_ms" -> "ms", "snapshot.read_resolve_ms" -> "ms",
    "snapshot.read_exec_ms" -> "ms", "snapshot.scan_resolve_ms" -> "ms",
    "snapshot.scan_exec_ms" -> "ms", "snapshot.files_per_read" -> "count",
    "snapshot.read_ms_per_sidecar" -> "ms", "snapshot.changes_ms" -> "ms",
    "snapshot.materialize_ms" -> "ms", "snapshot.retire_purge_ms" -> "ms",
    "layout.batch_write_ms" -> "ms", "mv.refresh_ms" -> "ms",
    "metaio.read_rows_ms" -> "ms", "metaio.footer_stats_ms" -> "ms",
    "fs.lists_per_op" -> "count", "fs.opens_per_op" -> "count",
    "fs.creates_per_op" -> "count", "fs.renames_per_op" -> "count",
    "fs.deletes_per_op" -> "count", "fs.status_per_op" -> "count",
    "fs.write_amp" -> "ratio", "fs.space_amp" -> "ratio",
    "vector.load_ms" -> "ms", "vector.append_publish_ms" -> "ms",
    "vector.files_per_version" -> "count", "vector.query_ms_per_sidecar" -> "ms",
    "vector.delete_mor_ms" -> "ms", "vector.compact_ms" -> "ms",
    "vector.retire_purge_ms" -> "ms", "ann.probe_ms" -> "ms", "ann.adc_ms" -> "ms",
    "ann.codes_scanned_per_result" -> "count", "ann.recall_at_10" -> "ratio",
    "jvm.gc_ms_per_op" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.overhead" -> "ratio", "trace.unattributed_ms_per_op" -> "ms")

  val Workloads: Map[String, () => Workload] = Map(
    "assess" -> (() => new AssessLoad),
    "table_cdc" -> (() => new TableCdcLoad),
    "vector_serve" -> (() => new VectorServeLoad))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
    require(Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
    require(a.seconds >= 0, "--seconds must not be negative")
    a
  }

  private def load1: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def session(work: String, cpus: Int, events: Option[SparkEvents]): SparkSession = {
    // the session confs of the engine's own bench driver
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("loadbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (events.isDefined) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    events.foreach { ev =>
      spark.sparkContext.addSparkListener(ev)
      spark.listenerManager.register(ev)
    }
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = load1
    Files.deleteTree(a.work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    val events = if (a.trace) Some(new SparkEvents) else None
    val spark = session(a.work, cpus, events)
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val rec = new Recorder(events)
    val ctx = new Ctx(spark, a.work, a.seed, rec)
    val wl = Workloads(a.workload)()
    val setupS = scala.collection.mutable.ArrayBuffer[Double]()
    var untraced: Option[Phase] = None
    var traced: Option[Phase] = None
    var error: Option[String] = None
    var companion = Map.empty[String, Double]
    // set-up time is the median of three set-ups; a traced run reports
    // no set-up time, so it sets up once
    val setups = if (a.trace) 1 else 3
    try {
      (0 until setups).foreach { i =>
        val t0 = System.nanoTime()
        wl.setup(ctx, s"${a.work}/setup$i")
        setupS += (System.nanoTime() - t0) / 1e9
        if (i > 0) Files.deleteTree(s"${a.work}/setup${i - 1}")
      }
      wl.adopt(ctx)
      wl.warmup(ctx)
      untraced = Some(rec.measure(a.seconds, traced = false)(() => wl.window(ctx)))
      if (a.trace) {
        traced = Some(rec.measure(a.seconds, traced = true)(() => wl.window(ctx)))
        wl.probes(ctx, traced.get)
        wl.companion.foreach { c =>
          c.setup(ctx, s"${a.work}/companion")
          c.adopt(ctx)
          c.warmup(ctx)
          val p = rec.measure(0, traced = true)(() => c.window(ctx))
          c.probes(ctx, p)
          companion = c.layers(ctx, p)
        }
      }
    } catch {
      case e: Aborted => error = Some(s"aborted after a failed ${e.kind}")
      case NonFatal(e) =>
        error = Some(Recorder.describe(e))
        rec.failed += 1
        rec.attempted += 1
        rec.failures += s"run: ${Recorder.describe(e)}"
    }
    events.foreach(_ => org.apache.spark.LoadbenchBus.drain(spark.sparkContext))
    val setupSec = if (setupS.isEmpty) 0.0 else sessionS + Stats.median(setupS.toSeq)

    val e2e: Map[String, (Double, Long)] = untraced.map { p =>
      Map("setup_s" -> (setupSec, setupS.size.toLong),
        "ops_per_s" -> (p.opsPerS, p.samples.size.toLong),
        "cycle_p50_ms" -> ((if (p.cycles.isEmpty) 0.0 else Stats.median(p.cycles.map(_._1).toSeq)),
          p.cycles.size.toLong),
        "cycle_cpu_ms" -> ((if (p.cycles.isEmpty) 0.0 else Stats.median(p.cycles.map(_._2).toSeq)),
          p.cycles.size.toLong))
    }.getOrElse(Map("setup_s" -> (setupSec, setupS.size.toLong)))

    val layer: Map[String, Double] = traced.map { t =>
      val common = Layers.common(t, untraced.get, events.get, cpus)
      val fsAmp = Map(
        "fs.write_amp" -> (if (wl.payloadBytes > 0)
          t.samples.map(s => if (s.fs.length > 6) s.fs(6) else 0L).sum.toDouble / wl.payloadBytes
          else 0.0),
        "fs.space_amp" -> wl.storeDir.map { d =>
          val live = wl.liveBytes(ctx)
          if (live > 0) Files.sizeOf(d).toDouble / live else 0.0
        }.getOrElse(0.0))
      common ++ fsAmp ++ companion ++ wl.layers(ctx, t)
    }.getOrElse(Map.empty)

    val detail = Json.obj(
      "workload" -> Json.str(a.workload), "seed" -> Json.num(a.seed.toDouble),
      "seconds" -> Json.num(a.seconds), "trace" -> Json.bool(a.trace),
      "conditions" -> Json.obj(
        "nproc" -> Json.num(cpus), "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
        "store_root" -> Json.str(new java.io.File(a.work).getAbsolutePath),
        "store_fs" -> Json.str(try java.nio.file.Files.getFileStore(
          java.nio.file.Paths.get(a.work)).`type`() catch { case NonFatal(_) => "unknown" }),
        "load1_start" -> Json.num(loadStart), "load1_end" -> Json.num(load1),
        "spark" -> Json.str(spark.version), "java" -> Json.str(System.getProperty("java.version"))),
      "setup" -> Json.obj("session_s" -> Json.num(sessionS),
        "reps_s" -> Json.arr(setupS.toSeq.map(Json.num))),
      "end_to_end" -> Json.obj(e2e.toSeq.sortBy(_._1).map { case (k, (v, n)) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(EndToEnd.toMap.apply(k)),
          "n" -> Json.num(n.toDouble)) }: _*),
      "op_kinds" -> Json.obj(untraced.toSeq.flatMap(p => p.kinds.map { k =>
        val xs = p.of(k)
        k -> Json.obj("p50_ms" -> Json.num(Stats.median(xs)), "n" -> Json.num(xs.size),
          "supported_percentile" -> Stats.highestSupported(xs.size).map(Json.num).getOrElse(Json.Null))
      }): _*),
      "windows" -> Json.num(untraced.map(_.windows.toDouble).getOrElse(0.0)),
      "window_jit_ms" -> Json.num(untraced.map(_.jitMs.toDouble).getOrElse(0.0)),
      "cycles_wall_cpu_ms" -> Json.arr(untraced.toSeq.flatMap(_.cycles.map { case (w, c) =>
        Json.arr(Seq(Json.num(w), Json.num(c))) })),
      "workload_detail" -> Json.obj(wl.detail(ctx).toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "failures" -> Json.arr(rec.failures.toSeq.map(Json.str)),
      "error" -> error.map(Json.str).getOrElse(Json.Null))
    println(Json.render(Json.obj("detail" -> detail)))

    val wanted = if (a.trace) PerLayer else EndToEnd
    val values: Map[String, Double] =
      if (a.trace) layer else e2e.map { case (k, (v, _)) => k -> v }
    val metrics = Json.obj(wanted.map { case (k, unit) =>
      k -> Json.obj("value" -> Json.num(values.getOrElse(k, 0.0)), "unit" -> Json.str(unit))
    }: _*)
    val correct = rec.failed == 0 && error.isEmpty && untraced.isDefined
    println(Json.render(Json.obj("correct" -> Json.bool(correct),
      "attempted" -> Json.num(math.max(1L, rec.attempted).toDouble),
      "failed" -> Json.num(rec.failed.toDouble), "metrics" -> metrics)))
    spark.stop()
    Files.deleteTree(a.work)
  }
}

/** Layer metrics every workload has: Spark engine, filesystem, JVM, tracing. */
object Layers {
  def common(t: Phase, untraced: Phase, ev: SparkEvents, cpus: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val n = math.max(1, t.samples.size).toDouble
    val ops = t.samples.toSeq
    def inOp(ms: Long) = ops.exists(o => ms >= o.startMs && ms <= o.endMs)
    val jobs = ev.jobIntervals.filter { case (s, _) => inOp(s) }
    val tasks = ev.tasks.asScala.toSeq.filter { case (launch, _, _) => inOp(launch) }
    val plans = ev.plans.asScala.toSeq.filter { case (s, _) => inOp(s) }
    val wallMs = ops.map(_.wallMs).sum
    val gapMs = ops.map(o => (o.endMs - o.startMs) -
      Intervals.coveredMs(jobs, o.startMs, o.endMs)).sum.toDouble
    val taskMs = tasks.map(_._2).sum.toDouble
    val fs = CountingLocalFs.Names.zipWithIndex.map { case (name, i) =>
      s"fs.${name}_per_op" -> ops.map(o => if (o.fs.length > i) o.fs(i) else 0L).sum / n
    }
    Map(
      "spark.plan_ms_per_op" -> plans.map(_._2).sum / n,
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.driver_gap_ms_per_op" -> gapMs / n,
      "spark.task_ms_per_op" -> taskMs / n,
      "spark.cpu_util" -> (if (wallMs > 0) taskMs / (wallMs * cpus) else 0.0),
      "jvm.gc_ms_per_op" -> t.gcMs / n,
      "jvm.heap_peak_mb" -> t.heapPeakMb,
      "trace.overhead" -> (if (t.opsPerS > 0) untraced.opsPerS / t.opsPerS else 0.0),
      "trace.unattributed_ms_per_op" -> ops.map(o => o.wallMs - o.spanMs).sum / n) ++ fs
  }
}

/** Just enough JSON to print the run's records. */
object Json {
  sealed trait V
  final case class S(s: String) extends V
  final case class N(d: Double) extends V
  final case class B(b: Boolean) extends V
  final case class A(xs: Seq[V]) extends V
  final case class O(kv: Seq[(String, V)]) extends V
  case object Null extends V

  def str(s: String): V = S(s)
  def num(d: Double): V = N(d)
  def bool(b: Boolean): V = B(b)
  def arr(xs: Seq[V]): V = A(xs)
  def obj(kv: (String, V)*): V = O(kv)

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: V): String = v match {
    case S(s) => quote(s)
    case N(d) if d.isNaN || d.isInfinite => "null"
    case N(d) if d == math.rint(d) && math.abs(d) < 1e15 => d.toLong.toString
    case N(d) => d.toString
    case B(b) => b.toString
    case A(xs) => xs.map(render).mkString("[", ", ", "]")
    case O(kv) => kv.map { case (k, x) => s"${quote(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case Null => "null"
  }
}
