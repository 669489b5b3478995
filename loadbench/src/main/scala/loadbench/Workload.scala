package loadbench

/** A closed-loop workload with one client thread. */
trait Workload {

  /** One set-up into the fresh directory `dir`: generate the seeded inputs
    * and make the first commit or publish. The last set-up is the one
    * the run uses.
    */
  def setup(ctx: Ctx, dir: String): Unit

  /** Untimed preparation after the last set-up (driver-side models). */
  def adopt(ctx: Ctx): Unit = ()

  /** One whole window of cycles; timing only ever covers whole windows. */
  def window(ctx: Ctx): Unit

  /** Untimed ops after set-up, before measuring; they end at a window
    * boundary so every timed window starts from the same state.
    */
  def warmup(ctx: Ctx): Unit = window(ctx)

  /** A workload whose layer metrics a traced run of this one also
    * measures, with one set-up, a warm-up and one traced window.
    */
  def companion: Option[Workload] = None

  /** Traced runs only: direct layer calls and extra result checks made
    * after the traced window.
    */
  def probes(ctx: Ctx, traced: Phase): Unit = ()

  /** This workload's layer metrics from its traced window. */
  def layers(ctx: Ctx, traced: Phase): Map[String, Double]

  /** Bytes the head version's live data files take, and the directory that
    * holds everything the workload wrote (for space amplification).
    */
  def liveBytes(ctx: Ctx): Long = 0L
  def storeDir: Option[String] = None

  /** Bytes of data payload the timed ops added (for write amplification). */
  def payloadBytes: Long = 0L

  /** Workload-specific lines for the run's detail record. */
  def detail(ctx: Ctx): Map[String, String] = Map.empty
}

object Files {
  def sizeOf(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Sum of data file sizes (checksum side files excluded) under `path`. */
  def parquetBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def uriBytes(uris: Seq[String]): Long =
    uris.map(u => new org.apache.hadoop.fs.Path(u).toUri.getPath).map { f =>
      val p = java.nio.file.Paths.get(f)
      if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
    }.sum

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }
  }
}
