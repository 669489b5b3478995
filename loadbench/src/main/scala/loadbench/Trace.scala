package loadbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem with call counters, registered as `fs.file.impl`
  * in traced runs. Counts only ever grow; readers take differences.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    if (enabled) lists.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (enabled) opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val raw = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    if (!enabled) raw
    else {
      creates.incrementAndGet()
      new FSDataOutputStream(new java.io.FilterOutputStream(raw) {
        override def write(b: Int): Unit = { bytesWritten.incrementAndGet(); raw.write(b) }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          bytesWritten.addAndGet(len.toLong); raw.write(b, off, len)
        }
      }, null)
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    if (enabled) renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (enabled) deletes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def getFileStatus(f: Path): FileStatus = {
    if (enabled) status.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingLocalFs {
  @volatile var enabled = false
  val lists, opens, creates, renames, deletes, status, bytesWritten = new AtomicLong
  val Names: Seq[String] = Seq("lists", "opens", "creates", "renames", "deletes", "status")

  /** (lists, opens, creates, renames, deletes, status, bytes written). */
  def snapshot: Array[Long] = Array(lists.get, opens.get, creates.get,
    renames.get, deletes.get, status.get, bytesWritten.get)
}

/** Spark engine events with wall-clock times, for attribution to ops. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  @volatile var enabled = false
  /** (job id, start ms) and (job id, end ms). */
  val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  /** (launch ms, executor run ms, executor cpu ns). */
  val tasks = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  /** (analysis start ms, analysis + optimization + planning ms). */
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) jobStarts.add((e.jobId, e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (enabled) jobEnds.add((e.jobId, e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (enabled && e.taskMetrics != null)
      tasks.add((e.taskInfo.launchTime, e.taskMetrics.executorRunTime,
        e.taskMetrics.executorCpuTime))

  private def record(qe: QueryExecution): Unit = if (enabled) {
    val ps = qe.tracker.phases.values
    if (ps.nonEmpty)
      plans.add((ps.map(_.startTimeMs).min, ps.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Job intervals (start ms, end ms) of jobs that both started and ended. */
  def jobIntervals: Seq[(Long, Long)] = {
    val ends = jobEnds.asScala.toMap
    jobStarts.asScala.toSeq.flatMap { case (id, s) => ends.get(id).map(e => (s, e)) }
  }
}

/** JVM collector and compiler time and heap high-water mark. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Accumulated JIT compilation time. */
  def jitMs: Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Intervals {

  /** Length of the union of `spans` clipped to [lo, hi]. */
  def coveredMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
