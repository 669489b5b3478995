package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Thrown when a racing committer loses the claim on a version: the
  * loser retries at the next version or aborts; it never interleaves
  * writes under the directory the winner claimed. Extends
  * IllegalArgumentException so callers that treated a dead candidate
  * version as an argument error keep that contract, while retry clients
  * match on this type alone, never on a message substring.
  *
  * Handler discipline: a BROAD `catch IllegalArgumentException` around a
  * store operation that can conflict would silently swallow a genuine
  * commit conflict instead of retrying or surfacing it. Refusal-check
  * sites (asserting that an operation refuses) must catch the MOST
  * SPECIFIC expectation and re-throw CommitConflictException.
  */
final class CommitConflictException(msg: String)
  extends IllegalArgumentException(msg)

/** One shared path normalization for every file-identity comparison on
  * both durable stores: manifest rows are fully-qualified
  * `makeQualified` strings (raw space, literal '%'), `input_file_name`
  * emits Spark's `SparkPath` spelling (URL-ENCODED: space → %20, '%' →
  * %25), and the comparisons that decide DELETION or a rewrite split
  * must recognize all of them as the same file. A well-formed URI
  * spelling decodes through `java.net.URI`; a raw spelling (space, lone
  * '%') makes that parser throw, and falls back to hadoop `Path`, which
  * passes the path through verbatim. Residual caveat: a filename that IS
  * a valid percent-escape of another name (a literal "a%20b" directory)
  * decodes on the URI side and collides with the spelling of "a b" —
  * consumers stay conservative under such an adversarial miss (bloom
  * build: null bloom = kept; purge: only already-retired remains are
  * candidates for deletion).
  */
object PathNorm {
  def apply(f: String): String =
    try new java.net.URI(f).getPath
    catch { case _: java.net.URISyntaxException =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath
    }
}

/** The commit protocol of both durable stores ([[SnapshotStore]] and
  * [[VectorArtifact]]): immutable versions claimed atomically
  * (`factors/requirements.yaml:136-138`). A store is a directory `root`
  * holding one `v=N` directory per version; version N is COMMITTED iff
  * `v=N/<marker>` exists. The stores differ only in where `root` sits
  * under their base and which file inside a version is the marker; every
  * policy (monotonic ids, re-publish of a leaf, how a version retires,
  * what a version pins) stays with the store and reaches this class as a
  * closure or a flag, so the mechanism here never depends on which store
  * calls it.
  *
  * Directory names under `root`: `v=N` (a version, committed or an
  * orphan), `.stage-v=N-<uuid>` (a payload being written, invisible to
  * every reader) and `.retired-v=N-<uuid>` (a tombstoned version whose
  * pins [[purge]] still needs to read).
  *
  * Atomicity: the claim is one `rename` of the fully-written stage onto
  * `v=N`. That rename is atomic on HDFS-like filesystems; across
  * processes on the local filesystem it is not (hadoop's local rename
  * falls back to a copy), so only the in-JVM stripe lock serializes a
  * same-version race there.
  */
private[substrate] final class CommitLog(root: String => String,
    marker: String) {
  import CommitLog._

  def dir(base: String, version: Long): String = s"${root(base)}/v=$version"

  /** The tombstone a version's directory is renamed to when its store
    * retires it by rename: outside the `v=N` namespace, so neither
    * orphan repair nor a listing can mistake it for a version.
    */
  def tombstone(base: String, version: Long): Path =
    new Path(
      s"${root(base)}/.retired-v=$version-${java.util.UUID.randomUUID()}")

  def isCommitted(conf: Configuration, base: String,
      version: Long): Boolean = {
    val m = new Path(dir(base, version), marker)
    m.getFileSystem(conf).exists(m)
  }

  /** Committed versions, ascending: a metadata-scale listing of `root`.
    * Stage and tombstone directories, stray non-numeric `v=` names and
    * marker-less orphans are invisible rather than a crash.
    */
  def versions(conf: Configuration, base: String): Seq[Long] = {
    val r = new Path(root(base))
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) Seq.empty
    else fs.listStatus(r).toSeq.filter(_.isDirectory).flatMap(s =>
      versionOf(s.getPath)
        .filter(_ => fs.exists(new Path(s.getPath, marker)))).sorted
  }

  /** Version ids are monotonic: a commit at or below the committed head
    * would re-mint an id retention deliberately dropped, and a consumer
    * pinned to the old `v=N` would silently resolve different content.
    * Throws the typed conflict, since for a retry client a candidate at
    * or below the head is a lost race like any other.
    */
  def requireAboveHead(conf: Configuration, base: String, version: Long,
      retry: String): Unit =
    if (!versions(conf, base).lastOption.forall(_ < version))
      throw new CommitConflictException(
        s"commits are monotonic: v=$version is at or below the committed " +
          s"head under $base — version ids are never re-minted; $retry")

  /** Run `body` holding the stripe of (base, version): the claim, and any
    * store step that must not interleave with a claim of the same id.
    */
  def locked[T](base: String, version: Long)(body: => T): T =
    stripe(base, version).synchronized(body)

  /** STAGE then CLAIM `version`. `write` lays the complete payload under
    * a fresh stage directory; it receives the stage path and a function
    * that rewrites a qualified file path under the stage to the path it
    * will hold after the claim (manifest rows must name final paths).
    * Then, under the stripe: `revalidate` re-runs the store's conflict
    * checks (a racer may have committed while this payload staged); an
    * existing target is cleared — an orphan (no marker) is deleted, a
    * committed one is a conflict unless `replace`, in which case its
    * marker's directory goes first so readers never see a committed
    * version while the rest of it is deleted; and one rename claims the
    * version. The stage is deleted on every exit path, so a writer that
    * fails mid-stage leaves nothing behind.
    */
  def claim(conf: Configuration, base: String, version: Long,
      replace: Boolean)(revalidate: => Unit)(
      write: (String, String => String) => Unit): Unit = {
    val target = new Path(dir(base, version))
    val fs = target.getFileSystem(conf)
    val stage = new Path(
      s"${root(base)}/.stage-v=$version-${java.util.UUID.randomUUID()}")
    val qStage = fs.makeQualified(stage).toString
    val qFinal = fs.makeQualified(target).toString
    try {
      write(stage.toString,
        f => if (f.startsWith(qStage)) qFinal + f.stripPrefix(qStage) else f)
      locked(base, version) {
        revalidate
        if (fs.exists(target)) {
          // the marker is checked again right before the delete: a
          // cross-process racer's rename (which always carries the marker,
          // stages being fully written first) may have landed since
          // `revalidate`
          val m = new Path(target, marker)
          if (fs.exists(m)) {
            if (!replace)
              throw new CommitConflictException(
                s"v=$version under $base was committed by a concurrent " +
                  "committer during the claim — retry at the next version")
            fs.delete(m.getParent, true)
          }
          fs.delete(target, true)
        }
        if (!fs.rename(stage, target))
          throw new CommitConflictException(
            s"claiming v=$version under $base failed: a concurrent " +
              "committer won the rename race")
      }
    } finally {
      if (fs.exists(stage)) fs.delete(stage, true)
    }
  }

  /** Run a commit of `version` that references the freshly written
    * `dirs`; if it throws and the version did NOT commit, delete `dirs`
    * (best-effort) before rethrowing, so a retry with fresh dirs leaves
    * no orphaned data. The guard matters: a claim can throw from its
    * stage cleanup AFTER the rename succeeded, and the committed
    * manifest then references those dirs.
    */
  def reclaimUnlessCommitted(conf: Configuration, base: String,
      version: Long, dirs: Seq[String])(commit: => Unit): Unit =
    try commit
    catch { case t: Throwable =>
      if (!isCommitted(conf, base, version))
        dirs.foreach { d =>
          val p = new Path(d)
          try p.getFileSystem(conf).delete(p, true)
          catch { case _: java.io.IOException => () }
        }
      throw t
    }

  /** Claim the NEXT version with bounded conflict retries: each attempt
    * re-reads the committed head and calls `attempt(head, head + 1)`
    * (`next` is 0 on an empty store). Only a [[CommitConflictException]]
    * retries; any other failure propagates at once, because a broken
    * intent must not be retried into a different version. Returns the
    * version claimed; rethrows the last conflict when contention outlasts
    * `maxAttempts`.
    */
  def retryAtNext(conf: Configuration, base: String, maxAttempts: Int)(
      attempt: (Option[Long], Long) => Unit): Long = {
    require(maxAttempts >= 1, "a commit retry needs at least one attempt")
    var last: CommitConflictException = null
    var i = 0
    while (i < maxAttempts) {
      val head = versions(conf, base).lastOption
      val next = head.fold(0L)(_ + 1)
      try { attempt(head, next); return next }
      catch { case e: CommitConflictException => last = e; i += 1 }
    }
    throw last
  }

  /** Reclaim every retired or orphaned version's storage. In order:
    *
    *  1. stage directories older than `stageGraceMs` are deleted (a crashed
    *     writer's garbage; an in-flight writer's stage is younger and
    *     must survive a concurrent maintenance pass);
    *  2. each remains directory is CLAIMED by `claimRemains`, which
    *     returns the files it may have pinned and removes its metadata.
    *     A tombstone is claimed outright; a `v=N` directory is claimed
    *     under its stripe and only while its marker is still absent,
    *     checked per directory at claim time: a commit of that id that
    *     lands between the listing and here must win, not be swept;
    *  3. the pins of every committed version (`pinsOf`) are read AFTER
    *     the claims, so a version committed concurrently keeps its files
    *     whichever side of the listing its rename landed on;
    *  4. each claimed file no pin names is deleted. Both sides compare
    *     through [[PathNorm]]: a missed match would delete a pinned file.
    *
    * Returns each claimed directory with the files it reported, and the
    * deleted files (sorted).
    */
  def purge(conf: Configuration, base: String, stageGraceMs: Long)(
      claimRemains: Path => Seq[String])(pinsOf: Long => Seq[String])
      : (Seq[(Path, Seq[String])], Seq[String]) = {
    val r = new Path(root(base))
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) return (Nil, Nil)
    val now = System.currentTimeMillis()
    val (stages, others) = fs.listStatus(r).toSeq.filter(_.isDirectory)
      .partition(_.getPath.getName.startsWith(".stage-"))
    stages.filter(s => now - s.getModificationTime > stageGraceMs)
      .foreach(s => fs.delete(s.getPath, true))
    val remains = others.map(_.getPath)
      .filter(p => versionOf(p).nonEmpty ||
        p.getName.startsWith(".retired-"))
      .sortBy(p => versionOf(p).getOrElse(Long.MaxValue))
    val claimed = remains.flatMap { d =>
      versionOf(d) match {
        case Some(v) => locked(base, v) {
          if (fs.exists(new Path(d, marker))) None
          else Some(d -> claimRemains(d))
        }
        case None => Some(d -> claimRemains(d))
      }
    }
    if (claimed.isEmpty) return (Nil, Nil)
    val pinned = versions(conf, base).flatMap(pinsOf).map(PathNorm(_)).toSet
    val deletable = claimed.flatMap(_._2).distinct
      .filterNot(f => pinned(PathNorm(f))).sorted
    deletable.foreach(f => fs.delete(new Path(f), false))
    (claimed, deletable)
  }
}

private[substrate] object CommitLog {

  /** In-JVM claim serialization: 64 hash stripes keyed by the NORMALIZED
    * base and the version. A stripe per (base, version) would grow one
    * monitor per commit for the JVM lifetime; 64 bound the memory at the
    * cost of occasionally serializing two unrelated commits. The key goes
    * through [[PathNorm]] so that every spelling of one base ("/data/t",
    * "file:/data/t") takes the same stripe — otherwise the serialization
    * silently lapses between differently-spelled callers.
    */
  private val stripes = Array.fill(64)(new Object)

  def stripe(base: String, version: Long): Object =
    stripes(math.floorMod(s"${PathNorm(base)}#v=$version".hashCode, 64))

  private val VersionDir = "v=(\\d+)".r

  def versionOf(p: Path): Option[Long] = p.getName match {
    case VersionDir(n) => Some(n.toLong)
    case _ => None
  }
}
