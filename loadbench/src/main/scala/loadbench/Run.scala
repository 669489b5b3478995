package loadbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into the engine: its wall, the process CPU time it
  * used (every Spark and JVM thread), its wall-clock interval, the
  * share covered by traced layer spans, a workload tag (pending sidecars
  * for the store workloads) and the filesystem counter deltas.
  */
final case class OpSample(kind: String, wallMs: Double, cpuMs: Double, startMs: Long,
    endMs: Long, spanMs: Double, tag: Int, fs: Array[Long])

/** Everything measured in one timed stretch of whole windows. */
final class Phase(val traced: Boolean) {
  val samples = ArrayBuffer[OpSample]()
  /** (wall ms, cpu ms) per cycle. */
  val cycles = ArrayBuffer[(Double, Double)]()
  val spans = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  var windows = 0
  var gcMs = 0L
  var jitMs = 0L
  var heapPeakMb = 0.0

  def kinds: Seq[String] = samples.map(_.kind).distinct.toSeq
  def of(kind: String): Seq[Double] = samples.filter(_.kind == kind).map(_.wallMs).toSeq
  def opMs: Double = samples.map(_.wallMs).sum
  def opsPerS: Double = if (opMs > 0) samples.size / (opMs / 1000) else 0.0
  def spanMedian(name: String): Double = spans.get(name).map(s => Stats.median(s.toSeq)).getOrElse(0.0)
}

/** A run stopped by a failed op the workload cannot continue past. */
final class Aborted(val kind: String, cause: Throwable)
    extends RuntimeException(s"$kind failed", cause)

/** Times ops from outside, checks their results, and counts failures.
  * Ops outside [[measure]] are warm-up: they run and are checked, but
  * are not sampled.
  */
final class Recorder(val events: Option[SparkEvents]) {
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** Traced-only direct calls into a layer, made outside ops. */
  val probes = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  private var phase: Option[Phase] = None
  private var spanAcc = 0.0
  private var cycleAcc = 0.0
  private var cycleCpu = 0.0

  def spansOn: Boolean = phase.exists(_.traced)

  /** Run `call` as one op of `kind`, then `check` its result untimed. A
    * throw from either is a failed op; a `fatal` failure aborts the run.
    */
  def op[T](kind: String, tag: Int = 0, fatal: Boolean = true)(call: => T)(
      check: T => Unit): Option[T] = {
    attempted += 1
    val fs0 = if (spansOn) CountingLocalFs.snapshot else null
    spanAcc = 0.0
    val startMs = System.currentTimeMillis()
    val c0 = Recorder.cpuNs
    val t0 = System.nanoTime()
    val r = try Right(call) catch { case NonFatal(e) => Left(e) }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val cpuMs = (Recorder.cpuNs - c0) / 1e6
    val endMs = System.currentTimeMillis()
    val fs = if (fs0 == null) Array.emptyLongArray
      else CountingLocalFs.snapshot.zip(fs0).map { case (a, b) => a - b }
    r.flatMap(v => try { check(v); Right(v) } catch { case NonFatal(e) => Left(e) }) match {
      case Right(v) =>
        phase.foreach { p =>
          p.samples += OpSample(kind, wallMs, cpuMs, startMs, endMs, spanAcc, tag, fs)
          cycleAcc += wallMs
          cycleCpu += cpuMs
        }
        Some(v)
      case Left(e) =>
        failed += 1
        failures += s"$kind: ${Recorder.describe(e)}"
        if (fatal) throw new Aborted(kind, e)
        None
    }
  }

  /** Time one layer call inside an op, when spans are on. */
  def span[T](name: String)(body: => T): T =
    if (!spansOn) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        spanAcc += ms
        phase.foreach(_.spans.getOrElseUpdate(name, ArrayBuffer()) += ms)
      }
    }

  /** Time one direct layer call outside any op (traced runs only). */
  def probe[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally probes.getOrElseUpdate(name, ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
  }

  def probeMedian(name: String): Double =
    probes.get(name).map(s => Stats.median(s.toSeq)).getOrElse(0.0)

  /** One closed-loop cycle: its sample is the sum of its ops' walls and CPU times. */
  def cycle(body: => Unit): Unit = {
    cycleAcc = 0.0
    cycleCpu = 0.0
    body
    phase.foreach(_.cycles += ((cycleAcc, cycleCpu)))
  }

  /** Run whole windows until `seconds` have passed; return what they measured. */
  def measure(seconds: Double, traced: Boolean)(window: () => Unit): Phase = {
    val p = new Phase(traced)
    events.foreach(_.enabled = traced)
    CountingLocalFs.enabled = traced
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    Jvm.resetHeapPeak()
    phase = Some(p)
    val t0 = System.nanoTime()
    try {
      do { window(); p.windows += 1 } while ((System.nanoTime() - t0) / 1e9 < seconds)
    } finally {
      p.gcMs = Jvm.gcMs - gc0
      p.jitMs = Jvm.jitMs - jit0
      p.heapPeakMb = Jvm.heapPeakMb
      phase = None
      events.foreach(_.enabled = false)
      CountingLocalFs.enabled = false
    }
    p
  }
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process: driver, executor task and JVM threads. */
  def cpuNs: Long = os.getProcessCpuTime

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)
    s"${root.getClass.getSimpleName}: $msg"
  }
}

/** What a workload gets: the session, its scratch root, the seed and the recorder. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val rec: Recorder) {
  def rng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + salt)
}
