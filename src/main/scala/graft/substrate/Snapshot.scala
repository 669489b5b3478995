package graft.substrate

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest-pinned snapshot reads over an immutable-file store — the
  * data-level mechanism behind Factor 4's version coverage (reference
  * `factors/requirements.yaml:136-138`, immutable version ids): a TABLE
  * is a set of immutable data files plus a MANIFEST of (version, file)
  * rows naming the files each version comprises. A commit writes a new
  * version's manifest and never mutates data files, so a training run
  * pinned to version N reproduces its exact input while ingest and
  * maintenance move the table forward. Time travel is a manifest filter,
  * never a data copy; the manifest is itself a durable, atomically
  * committed artifact ([[commit]]), and every derived commit is one
  * manifest edit ([[edit]]).
  *
  * Scale shape: the manifest is O(#files) metadata per version. A read
  * resolves one version's file list driver-side and hands Spark the
  * explicit paths — no directory listing or partition discovery.
  */
object SnapshotStore {

  /** Versions live under `<base>/_manifest/v=N`, committed by a
    * `_SUCCESS` marker inside the version directory.
    */
  private val log = new CommitLog(base => s"$base/_manifest", "_SUCCESS")

  private def mdir(base: String, v: Long) = log.dir(base, v)

  /** COMMIT `version`'s manifest rows under `<base>/_manifest/v=N/`:
    * staged, then claimed by one rename ([[CommitLog.claim]]) — of racing
    * committers exactly one claims the version and the loser gets a
    * [[CommitConflictException]]; a crash mid-stage leaves only invisible
    * stage garbage; re-committing a committed or retired id fails loudly.
    */
  def commit(spark: SparkSession, base: String, version: Long,
      manifest: DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // both pre-stage guards throw the TYPED conflict: for a retry client
    // either one means "this candidate is dead against committed
    // history — refresh and retry"
    if (log.isCommitted(conf, base, version))
      throw new CommitConflictException(
        s"snapshot version $version is already committed under $base — " +
          "versions are immutable; commit the next version instead")
    log.requireAboveHead(conf, base, version,
      "commit the next version instead")
    // (version, file) is the manifest's REQUIRED core; any further
    // columns — row counts, bounds, blooms, sidecar kinds — ride along
    // verbatim, the way a table format's manifest carries per-file stats
    // next to the path it pins
    val extras = manifest.columns.toSeq
      .filterNot(Set("version", "file")).map(col)
    val rows = manifest.filter(col("version") === version)
      .select(col("version").cast("long") +: col("file") +: extras: _*)
    val localRows = rows.collect()
    // a version-literal mismatch between the rows and the commit call
    // would otherwise land an EMPTY manifest under a green _SUCCESS, and
    // vacuumExecute would read "this version pins no files" and delete
    // the store
    require(localRows.nonEmpty,
      s"no manifest rows carry version $version — the rows passed to " +
        "commit() must be tagged with the version being committed")
    claimRows(spark, base, version, rows.schema, localRows.toSeq)
  }

  /** Stage `rows` as `version`'s manifest and claim the version. Under
    * the claim lock the monotonic guard runs again: a racer that
    * committed this id (or this id and a successor whose retention then
    * retired it) while the payload staged leaves the candidate at or
    * below the head.
    */
  private def claimRows(spark: SparkSession, base: String, version: Long,
      schema: StructType, rows: Seq[Row]): Unit = {
    // a pathological DATA-scale frame must fail loudly instead of
    // ballooning the driver; 4M rows is far past any real file count
    require(rows.length <= (1 << 22),
      s"commit() was handed ${rows.length} manifest rows for " +
        s"v=$version under $base — manifests are O(#files) metadata; " +
        "a row count this size means a data frame was passed by mistake")
    val conf = spark.sparkContext.hadoopConfiguration
    log.claim(conf, base, version, replace = false)(
      log.requireAboveHead(conf, base, version,
        "retry at the next version")) { (stage, _) =>
      // driver-side parquet I/O: the rows are local metadata. A schema
      // outside the metadata type universe (none today) keeps Spark's
      if (MetaIo.writableSchema(schema))
        MetaIo.writeRows(conf, stage, schema, rows)
      else localDf(spark, schema, rows).coalesce(1).write.parquet(stage)
    }
  }

  /** Driver-built metadata rows as a LocalRelation: collecting or
    * joining it never schedules a scan job.
    */
  private def localDf(spark: SparkSession, schema: StructType,
      rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Claim the NEXT free version with bounded conflict retries
    * ([[CommitLog.retryAtNext]]): each attempt asks `rowsFor` for rows
    * tagged with the candidate version and tries [[commit]]; a lost race
    * retries at N+1. A broken manifest fails as a plain
    * IllegalArgumentException at once — it must not be retried into a
    * different version. Returns the version claimed.
    */
  def commitNext(spark: SparkSession, base: String,
      maxAttempts: Int = 5)(rowsFor: Long => DataFrame): Long =
    log.retryAtNext(spark.sparkContext.hadoopConfiguration, base,
      maxAttempts)((_, next) => commit(spark, base, next, rowsFor(next)))

  /** APPEND the parquet files now under `newDirs` as the next version:
    * the head's rows carried verbatim plus one row per new file, with
    * footer stats when `statsCols` is non-empty so a streamed table keeps
    * its file skipping and metadata counts. Each attempt of
    * [[CommitLog.retryAtNext]] edits from the head it read, so a lost race
    * re-derives at the next version. Returns the version claimed, or the
    * head when nothing is appended; the store needs a committed base.
    *
    * Idempotent under re-delivery, checked in every attempt after the
    * head is read, so a racer's commit of the same batch is seen:
    *  1. `batchTag`: fresh rows carry a `batch_tag`, and a tag any
    *     retained version carries returns the head. Only this survives a
    *     re-execution that rewrote the wave dir under fresh part names —
    *     and since that rewrite would clobber files the head pins, a
    *     tagged sink asks [[batchTagCommitted]] BEFORE rewriting the dir.
    *  2. the file set: when the head already pins every file under
    *     `newDirs` — or there is none, a zero-row micro-batch — the head
    *     returns. Files compare as raw qualified URIs: [[PathNorm]]'s
    *     lossy spelling could equate files on different filesystems.
    * A cross-PROCESS racer can still double-commit a tag (the claim is
    * not atomic across processes); such a sink needs a transaction table.
    *
    * Fresh rows carry `added_v` = the claimed version, so a pending
    * MERGE sidecar never hides a later append; a GOVERNANCE sidecar does.
    */
  def appendCommit(spark: SparkSession, base: String,
      newDirs: Seq[String], statsCols: Seq[String] = Nil,
      maxAttempts: Int = 5, batchTag: Option[String] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    var unchanged: Option[Long] = None
    val claimed = log.retryAtNext(conf, base, maxAttempts) { (head, v) =>
      require(head.nonEmpty,
        s"appendCommit needs a committed base version under $base")
      val e = edit(spark, base, v, head.get, "an append", listedHead = true)
      // the head answers most tag checks; older versions are walked only
      // when it does not carry the tag
      def olderTagged(t: String) = committedVersions(spark, base)
        .filter(_ < head.get).reverse
        .exists(u => tagged(MetaIo.groups(conf, mdir(base, u)), t))
      if (batchTag.exists(t => tagged(e.groups, t) || olderTagged(t)))
        unchanged = head
      else if (parquetPaths(conf, newDirs).forall(e.files)) unchanged = head
      else e.addFiles(newDirs, statsCols, inherit = false, addedV = true,
        batchTag = batchTag).commit(reclaimAdded = false)
    }
    unchanged.getOrElse(claimed)
  }

  /** The qualified `*.parquet` files directly under each of `dirs`. */
  private def parquetPaths(conf: Configuration,
      dirs: Seq[String]): Seq[String] =
    dirs.flatMap(MetaIo.parquetFiles(conf, _)).map(_.getPath.toString)

  /** True when ANY retained version's manifest carries a row stamped
    * with `tag` ([[appendCommit]]'s batchTag) — the check-before-write
    * half of an idempotent sink: a foreachBatch re-execution asks this
    * FIRST and skips both the wave rewrite and the commit. Newest-first
    * with early exit (appends carry tags forward, so the head usually
    * answers); the full walk exists because a REWRITE commit mints rows
    * without tags. Tags retired with their versions are forgotten.
    */
  def batchTagCommitted(spark: SparkSession, base: String,
      tag: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    committedVersions(spark, base).reverse
      .exists(v => tagged(MetaIo.groups(conf, mdir(base, v)), tag))
  }

  /** True when one of a manifest's rows carries `batch_tag` = `tag`. */
  private def tagged(gs: Seq[Group], tag: String): Boolean =
    gs.exists(g => MetaIo.optString(g, "batch_tag").contains(tag))

  /** Versions with a completed commit marker, ascending — a
    * metadata-scale directory listing ([[CommitLog.versions]]).
    */
  def committedVersions(spark: SparkSession, base: String): Seq[Long] =
    log.versions(spark.sparkContext.hadoopConfiguration, base)

  /** The durable manifest TABLE: every committed version's rows, read
    * back from the store for inspection and for building the rows of a
    * later [[commit]]. Reads, diffs and retention never take it: each
    * resolves its version from the committed manifest itself. Versions
    * that committed plain rows and versions with stats columns read as
    * ONE table (stats null on the plain rows), served as a LocalRelation
    * so manifest algebra over it never schedules a scan job.
    */
  def manifest(spark: SparkSession, base: String): DataFrame = {
    val vs = committedVersions(spark, base)
    require(vs.nonEmpty, s"no committed snapshot versions under $base")
    val (schema, rows) = MetaIo.readRowsMerged(
      spark.sparkContext.hadoopConfiguration, vs.map(v => mdir(base, v)))
    localDf(spark, schema, rows)
  }

  /** One committed version's manifest rows as parquet Groups —
    * driver-side, no Spark job (the MetaIo discipline: manifests are
    * commit metadata). Fails loudly on an uncommitted version.
    */
  private def versionGroups(spark: SparkSession, base: String,
      version: Long): Seq[Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    require(log.isCommitted(conf, base, version),
      s"snapshot version $version has no completed commit under $base")
    MetaIo.groups(conf, mdir(base, version))
  }

  /** The sidecar kinds a manifest row can pin: `delete` (equality,
    * governance — [[deleteCommitMor]], whole-table scope),
    * `merge_delete` (equality, scoped — [[mergeCommitMor]]), and
    * `pos_delete` (exact (file, row_index) pairs — [[deleteCommitPos]],
    * which is why [[countAt]] keeps serving under it).
    */
  private val SidecarKinds = Set("delete", "merge_delete", "pos_delete")

  /** True when this manifest row pins a DELETE SIDECAR — an equality
    * one ([[deleteCommitMor]] / [[mergeCommitMor]]) or a positional one
    * ([[deleteCommitPos]]) — not a data file: every data-file consumer
    * (scan planning, counts, rewrites) must skip these rows, and every
    * read must APPLY them ([[readCore]]). Rows without a `kind` column
    * are data rows.
    */
  private def isDeleteRow(g: Group): Boolean =
    MetaIo.optString(g, "kind").exists(SidecarKinds)

  /** The distinct data files of a version's manifest groups. */
  private def dataFilesOf(gs: Seq[Group]): Seq[String] =
    gs.filterNot(isDeleteRow).flatMap(MetaIo.optString(_, "file")).distinct

  /** One pending equality-delete sidecar: the key column(s) it hides
    * (a composite key is committed as one comma-joined `delete_key`),
    * its sidecar files, and its SCOPE — None = the whole logical table
    * (governance forget: the subject must never reappear, so rows
    * appended later are hidden too), Some(v) = only data files whose
    * `added_v` is absent or < v ([[mergeCommitMor]]: the merge's own
    * images, later merges' images and later appends are exempt — the
    * Iceberg sequence-number discipline, carried per file).
    */
  private final case class PendingDelete(keys: Seq[String],
      scopeV: Option[Long], files: Seq[String])

  /** The pending equality deletes of a version's manifest groups —
    * derived from the groups a read already holds, so a read parses its
    * version dir once.
    */
  private def deletesOfGroups(gs: Seq[Group]): Seq[PendingDelete] =
    gs.filter(g => MetaIo.optString(g, "kind")
        .exists(k => k == "delete" || k == "merge_delete"))
      .flatMap(g => for {
        f <- MetaIo.optString(g, "file")
        k <- MetaIo.optString(g, "delete_key")
      } yield ((k, MetaIo.optLong(g, "delete_v")), f))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted)
      .toSeq.sortBy(_._1)
      .map { case ((k, sv), fs) =>
        PendingDelete(k.split(",").toSeq, sv, fs) }

  /** The pending POSITIONAL sidecar files of a version's manifest
    * groups ([[deleteCommitPos]]) — each sidecar parquet holds exact
    * (_graft_file, _graft_pos) rows; all pending positional sidecars
    * apply as ONE key set (positions are disjoint across commits by
    * construction: each build scans the LOGICAL table, so an already-
    * hidden row can never be matched twice).
    */
  private def posDeletesOfGroups(gs: Seq[Group]): Seq[String] =
    gs.filter(g => MetaIo.optString(g, "kind").contains("pos_delete"))
      .flatMap(g => MetaIo.optString(g, "file")).distinct.sorted

  /** The helper columns a positional sidecar's rows name. */
  private val PosCols = Seq("_graft_file", "_graft_pos")

  /** The per-file `added_v` stamps of a version's DATA rows (normalized
    * spelling) — the sequence numbers that scope a merge sidecar,
    * stamped by [[mergeCommitMor]] on its images and [[appendCommit]] on
    * every appended file. Absent means "predates every pending merge
    * sidecar" (conservative for a forget). Duplicate rows for one file
    * keep the SMALLEST stamp (the subject wins under disagreement).
    */
  private def addedVOfGroups(gs: Seq[Group]): Map[String, Long] =
    gs.filterNot(isDeleteRow)
      .flatMap(g => for {
        f <- MetaIo.optString(g, "file")
        v <- MetaIo.optLong(g, "added_v")
      } yield (PathNorm(f), v))
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap

  /** The key sets of one read, each sidecar's read once however many
    * era scans, steps or candidate frames apply it.
    */
  private final class SidecarKeys(spark: SparkSession) {
    private val read = scala.collection.mutable.Map
      .empty[(Seq[String], Seq[String]), PendingKeys]
    def apply(files: Seq[String], cols: Seq[String]): PendingKeys =
      read.getOrElseUpdate((files, cols),
        PendingKeys.sidecarKeys(spark, files, cols))
  }

  /** The shared READ CORE under pending sidecars: scan `files` (the
    * version's data files, possibly pruned) and apply every pending
    * sidecar at its scope. Each sidecar's keys are resolved once per read
    * ([[PendingKeys.sidecarKeys]]): a small sidecar's keys are read on the
    * driver and applied as one `InSet` filter, so no join, broadcast or
    * extra job runs —
    *  - single key: `k IS NULL OR NOT k IN set`;
    *  - composite key: any key column null, `OR NOT struct(keys) IN set`;
    *  - positional: `NOT struct(_graft_file, _graft_pos) IN set` —
    * and a larger one applies as a broadcast anti-join (sidecars are
    * O(batch) by construction, so neither form shuffles the scan). A row
    * whose key is NULL (in ANY column of a composite key) survives: a key
    * set cannot name it. The scan splits into ERAS grouped by the
    * SET of sidecars that apply (O(pending sidecars) scans however long
    * the append chain): a merge sidecar skips files added at or after its
    * commit, so its own images and later appends serve while superseded
    * images hide. An era whose files predate a sidecar's key column skips
    * that filter — its rows cannot carry the key.
    */
  private def readCore(spark: SparkSession, keys: SidecarKeys,
      deletes: Seq[PendingDelete], addedV: Map[String, Long],
      files: Seq[String], mergeSchema: Boolean, posFiles: Seq[String] = Nil,
      keepPos: Boolean = false): DataFrame = {
    val merge = mergeFor(mergeSchema, deletes.nonEmpty)
    if (deletes.isEmpty && posFiles.isEmpty && !keepPos)
      return MetaIo.readParquet(spark, files, merge)
    // positional sidecars name exact (file, row_index) pairs, matched on
    // helper columns every era scan carries (kept when keepPos —
    // deleteCommitPos reads positions from them)
    def withPos(df: DataFrame): DataFrame =
      if (posFiles.isEmpty && !keepPos) df
      else {
        // loud, not silent: a data column named like the positional
        // helpers would be clobbered by the stamp and dropped after the
        // filter — corrupted reads under a green plan
        require(!df.columns.contains("_graft_file") &&
            !df.columns.contains("_graft_pos"),
          "the positional-delete read path reserves the _graft_file " +
            "and _graft_pos column names — rename the data columns to " +
            "use positional sidecars on this table")
        df.withColumn("_graft_file", col("_metadata.file_path"))
          .withColumn("_graft_pos", col("_metadata.row_index"))
      }
    val eras: Seq[(Seq[PendingDelete], Seq[String])] =
      files.groupBy { f =>
        val av = addedV.get(PathNorm(f))
        deletes.filter(d => d.scopeV.forall(sv => av.forall(_ < sv)))
      }.toSeq.sortBy(_._2.min)
    val scan = eras.map { case (applicable, fs) =>
      applicable.foldLeft(withPos(
        MetaIo.readParquet(spark, fs, merge))) {
        (df, d) =>
          if (!d.keys.forall(df.columns.contains)) df
          else keys(d.files, d.keys).hide(df, d.keys)
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    val applied =
      if (posFiles.isEmpty) scan
      else keys(posFiles, PosCols).hide(scan, PosCols)
    if (keepPos || posFiles.isEmpty) applied
    else applied.drop(PosCols: _*)
  }

  /** [[readCore]] straight off a version's manifest groups: each pending
    * sidecar's keys resolved once and applied as a key-set filter (a
    * broadcast anti-join past [[PendingKeys.sidecarKeySetMaxRows]]), a
    * null key surviving.
    */
  private def readWithDeletes(spark: SparkSession, gs: Seq[Group],
      files: Seq[String], mergeSchema: Boolean): DataFrame =
    readCore(spark, new SidecarKeys(spark), deletesOfGroups(gs),
      addedVOfGroups(gs), files, mergeSchema, posDeletesOfGroups(gs))

  /** The scan's mergeSchema. Invariant: a read under pending deletes
    * sees every column any of its files carries — a sidecar may key on a
    * POST-EVOLUTION column that the one footer an unmerged scan samples
    * lacks. Delete-free reads keep the caller's choice.
    */
  private def mergeFor(mergeSchema: Boolean, hasDeletes: Boolean): Boolean =
    mergeSchema || hasDeletes

  /** [[readAt]] resolving through the PERSISTED manifest. The file list
    * resolves DRIVER-SIDE without a Spark job (MetaIo — a table
    * format's scan planning reads manifests with plain file I/O); only
    * the data scan itself is cluster work.
    */
  def readAt(spark: SparkSession, base: String, version: Long): DataFrame =
    readAt(spark, base, version, mergeSchema = false)

  /** [[readAt]] with parquet schema MERGING — the read side of ADDITIVE
    * schema evolution (reference `factors/requirements.yaml:112-114`):
    * an append whose files carry NEW columns still reads as one table,
    * the new columns null on every pre-evolution file, with no rewrite.
    * Invariant: without the merge (and with no pending deletes, which
    * force it — [[mergeFor]]), the read's schema is the footer of the
    * version's first file by path, so a column only later files carry is
    * not served. Off by default: the merge reads every file's footer
    * while planning (driver-side, no job either way), and a non-evolving
    * store has nothing to merge. Pending sidecars apply at their scope —
    * every read path serves the LOGICAL table, never the raw files.
    */
  def readAt(spark: SparkSession, base: String, version: Long,
      mergeSchema: Boolean): DataFrame = {
    val gs = versionGroups(spark, base, version)
    val files = dataFilesOf(gs)
    require(files.nonEmpty, s"snapshot version $version unknown or empty")
    readWithDeletes(spark, gs, files, mergeSchema)
  }

  /** Manifest rows pinning `version` to the *.parquet files currently
    * under `paths` (full qualified path per row, so the manifest stays
    * valid when read from elsewhere), with PER-FILE STATISTICS — row
    * count plus min/max bounds for each column in `statsCols` (none
    * when empty), read from the parquet
    * FOOTERS driver-side on a bounded pool (the writer already computed
    * them: one footer read per file, never a cluster job — how Iceberg
    * fills its manifest bounds). Columns: (version, file, row_count,
    * min_<col>/max_<col> LONG bounds for integral columns,
    * smin_<col>/smax_<col> STRING bounds in unsigned UTF-8 order,
    * truncated conservatively past 64 chars — MetaIo.truncateMax). A
    * bound is null when a file cannot prove it (column absent,
    * unsupported type, an all-saturated over-long max, a row group with
    * no non-null values): null means UNKNOWN, and planning keeps unknown
    * files, so stats only ever prune files they positively exonerate.
    * List once: commit the returned rows immediately; files added to a
    * directory later belong to later versions. Selecting `version, file`
    * gives a plain commit's rows.
    */
  def manifestForStats(spark: SparkSession, version: Long,
      paths: Seq[String], statsCols: Seq[String]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (schema, rows) =
      statsRows(conf, version, parquetPaths(conf, paths).sorted, statsCols)
    localDf(spark, schema, rows)
  }

  /** [[manifestForStats]]' rows for the explicit `files`, in order. */
  private def statsRows(conf: Configuration, version: Long,
      files: Seq[String], statsCols: Seq[String]): (StructType, Seq[Row]) = {
    val stats =
      MetaIo.inParallel(files)(MetaIo.footerStats(conf, _, statsCols))
    // string-bound columns surface only when some file proved one — a
    // pure-integral commit keeps the integral-only schema exactly
    val strCols = statsCols.filter(c => stats.exists(_._3.contains(c)))
    def bounds[T](m: Map[String, (T, T)])(c: String): Seq[Any] =
      m.get(c).fold(Seq[Any](null, null)) { case (lo, hi) => Seq(lo, hi) }
    def fields(prefix: String, t: DataType)(c: String) = Seq(
      StructField(s"${prefix}min_$c", t), StructField(s"${prefix}max_$c", t))
    val schema = StructType(
      Seq(StructField("version", LongType, nullable = false),
        StructField("file", StringType, nullable = false),
        StructField("row_count", LongType, nullable = false)) ++
      statsCols.flatMap(fields("", LongType)) ++
      strCols.flatMap(fields("s", StringType)))
    (schema, files.zip(stats).map { case (f, (n, lb, sb)) =>
      Row.fromSeq(Seq(version, f, n) ++ statsCols.flatMap(bounds(lb)) ++
        strCols.flatMap(bounds(sb)))
    })
  }

  /** [[manifestForStats]] extended with per-file BLOOM FILTERS on
    * `bloomCols` — the point-lookup complement of the bounds: a key
    * UNCORRELATED with the layout (every file's min/max spans the whole
    * domain) prunes nothing from bounds. One scan of the new files folds
    * probe bits into one packed row per file (O(#files) rows collected).
    *
    * Hash domains (the one path where a type mismatch loses ROWS): the
    * probe hashes a LONG or a UTF8 string, so the build CASTS integral
    * columns TO LONG first — an INT's native xxhash64 differs, and every
    * probe would silently exonerate files that hold the key; any other
    * type fails at build time. Encoding: Kirsch-Mitzenmacher double
    * hashing over `xxhash64` (seed 42) — h1 = h >>> 32,
    * h2 = (h & 0xffffffff) | 1, position i = (h1 + i·h2) mod bits — in
    * `bloom_<col>` (little-endian words) and `bloomk_<col>` (k). An
    * absent bloom means UNKNOWN: the file survives every point prune.
    */
  def manifestForStatsBloom(spark: SparkSession, version: Long,
      paths: Seq[String], statsCols: Seq[String], bloomCols: Seq[String],
      bloomBits: Int = 1 << 18, bloomK: Int = 5): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (schema, rows) = bloomRows(spark,
      statsRows(conf, version, parquetPaths(conf, paths).sorted, statsCols),
      bloomCols, bloomBits, bloomK)
    localDf(spark, schema, rows)
  }

  /** `stats` rows ([[statsRows]]) extended with [[manifestForStatsBloom]]'s
    * bloom columns, built by one scan of exactly the files they list.
    */
  private def bloomRows(spark: SparkSession, stats: (StructType, Seq[Row]),
      bloomCols: Seq[String], bloomBits: Int, bloomK: Int)
      : (StructType, Seq[Row]) = {
    require(bloomBits > 0 && (bloomBits & 63) == 0,
      "bloomBits must be a positive multiple of 64")
    require(bloomK > 0, "bloomK must be positive — zero hashes would " +
      "silently commit null blooms after paying the full build scan")
    val (baseSchema, baseRows) = stats
    val fileAt = baseSchema.fieldIndex("file")
    // input_file_name and the manifest spell paths differently; both
    // compare through PathNorm (a residual mismatch commits a null bloom,
    // kept by every prune, never a wrong one)
    def norm(f: String): String = PathNorm(f)
    // ONE cached pass feeds every bloom column's fold; unpersisted in
    // finally so a failed fold cannot leak the cached batch
    val data = MetaIo.readParquet(spark,
        baseRows.map(_.getString(fileAt)), mergeSchema = false)
      .withColumn("_f", input_file_name()).persist()
    val blooms: Map[String, Map[String, Array[Long]]] = try {
      bloomCols.map { c =>
        val keyed = data.schema(c).dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            col(c).cast("long")
          case StringType => col(c)
          case other => throw new IllegalArgumentException(
            s"bloom column $c has type $other — blooms serve integral " +
              "keys (hashed in the LONG domain) and string keys only; " +
              "an unsupported domain must fail at BUILD time, not prune " +
              "wrongly at probe time")
        }
        val h = xxhash64(keyed)
        val h1 = shiftrightunsigned(h, 32)
        val h2 = h.bitwiseAND(lit(0xFFFFFFFFL)).bitwiseOR(lit(1L))
        val pos = explode(array((0 until bloomK).map(i =>
          pmod(h1 + lit(i.toLong) * h2, lit(bloomBits.toLong))): _*))
        // per (file, word) OR-fold of the k probe bits — one scan,
        // map-side combinable; then one sparse packed row per FILE
        val packed = data.select(col("_f"), pos.as("pos"))
          .select(col("_f"), expr("pos DIV 64").as("word"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
              .as("bit"))
          .groupBy("_f", "word").agg(bit_or(col("bit")).as("bits"))
          .groupBy("_f")
          .agg(collect_list(struct(col("word"), col("bits"))).as("wb"))
          .collect()
        c -> packed.map { r =>
          val arr = new Array[Long](bloomBits / 64)
          r.getSeq[Row](1).foreach(w => arr(w.getLong(0).toInt) = w.getLong(1))
          norm(r.getString(0)) -> arr
        }.toMap
      }.toMap
    } finally data.unpersist()
    // two files colliding after normalization ('a%20b' next to 'a b')
    // would share one bloom, and a lookup could wrongly EXONERATE the file
    // holding the key: colliding files commit NULL blooms instead
    val collided: Set[String] = baseRows.map(r => norm(r.getString(fileAt)))
      .groupBy(x => x).collect { case (k, vs) if vs.size > 1 => k }.toSet
    val withBloom = baseRows.map { r =>
      val f = norm(r.getString(fileAt))
      Row.fromSeq(r.toSeq ++ bloomCols.flatMap { c =>
        blooms(c).get(f) match {
          case Some(arr) if !collided(f) =>
            val bb = java.nio.ByteBuffer
              .allocate(arr.length * 8)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            arr.foreach(bb.putLong)
            Seq(bb.array(), bloomK.toLong)
          // 0-row file, or a normalization collision whose bloom could
          // be the other file's: unknown, kept by every prune
          case _ => Seq(null, null)
        }
      })
    }
    (StructType(baseSchema.fields.toSeq ++ bloomCols.flatMap(c => Seq(
      StructField(s"bloom_$c", BinaryType, nullable = true),
      StructField(s"bloomk_$c", LongType, nullable = true)))), withBloom)
  }

  /** The files of a version's manifest groups `gs` that MAY hold a
    * match: deduplicated by path — a file carried twice (a stats row
    * next to a legacy plain row) neither double-scans nor inflates the
    * total — and kept when ANY of its rows cannot exonerate it
    * (conservative under disagreeing rows). Returns (surviving files,
    * total files) so callers can pin a prune as a plan property.
    */
  private def planFiles(gs: Seq[Group], version: Long)(
      mayHold: Group => Boolean): (Seq[String], Int) = {
    val byFile = gs.filterNot(isDeleteRow)
      .flatMap(g => MetaIo.optString(g, "file").map(_ -> g))
      .groupBy(_._1).toSeq.sortBy(_._1)
    require(byFile.nonEmpty, s"snapshot version $version unknown or empty")
    (byFile.collect { case (f, rs) if rs.exists(r => mayHold(r._2)) => f },
      byFile.size)
  }

  /** The rows of `version` that `residual` keeps, scanning only the files
    * `plan` could not exonerate, with pending sidecars applied; one parse
    * of the version dir feeds both. When every file is exonerated the
    * result is empty without reading any data row, planned as the
    * version's whole read folded empty so it keeps the SAME schema a
    * surviving scan has (one arbitrary file's schema could miss an
    * evolved column under mergeSchema).
    */
  private def readPlanned(spark: SparkSession, base: String, version: Long,
      mergeSchema: Boolean, residual: => Column)(
      plan: Seq[Group] => (Seq[String], Int)): DataFrame = {
    val gs = versionGroups(spark, base, version)
    val (survivors, _) = plan(gs)
    if (survivors.isEmpty)
      readWithDeletes(spark, gs, dataFilesOf(gs), mergeSchema)
        .filter(lit(false))
    else readWithDeletes(spark, gs, survivors, mergeSchema).filter(residual)
  }

  /** The engine's own xxhash64 (seed 42) of a LONG and of a UTF8 key —
    * the two hash domains a bloom is built in.
    */
  private def hashLong(v: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(v, LongType, 42L)
  private def hashStr(v: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(v),
        StringType, 42L)

  /** POINT-LOOKUP planning through the committed blooms: the files of
    * `version` that MAY hold `c` = `value` — a file is exonerated when
    * any of the k probe bits is clear; a file without a bloom (plain or
    * stats-only commit, or a 0-row file) is kept. False positives only
    * ever ADD files (never lose rows); sizing is the committer's knob.
    */
  def filesWherePoint(spark: SparkSession, base: String, version: Long,
      c: String, value: Long): (Seq[String], Int) =
    filesWherePointHash(versionGroups(spark, base, version), version, c,
      hashLong(value))

  /** [[filesWherePoint]] for a STRING key — the `source`/`lang`/URL/id
    * point lookup on the documents table: probes with the engine's own
    * hash of the UTF8 value, matching the build side's string branch.
    */
  def filesWherePointStr(spark: SparkSession, base: String, version: Long,
      c: String, value: String): (Seq[String], Int) =
    filesWherePointHash(versionGroups(spark, base, version), version, c,
      hashStr(value))

  private def filesWherePointHash(gs: Seq[Group], version: Long, c: String,
      h: Long): (Seq[String], Int) = {
    val (h1, h2) = (h >>> 32, (h & 0xFFFFFFFFL) | 1L)
    planFiles(gs, version) { g =>
      (MetaIo.optBinary(g, s"bloom_$c"), MetaIo.optLong(g, s"bloomk_$c"))
      match {
        case (Some(bloom), Some(k)) =>
          val bits = bloom.length.toLong * 8
          val bb = java.nio.ByteBuffer.wrap(bloom)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          (0L until k).forall { i =>
            val pos = Math.floorMod(h1 + i * h2, bits)
            (bb.getLong((pos / 64).toInt * 8) & (1L << (pos % 64))) != 0
          }
        case _ => true // no bloom: unknown, keep
      }
    }
  }

  /** The rows of `version` with `c` = `value`, scanning only
    * [[filesWherePoint]]'s survivors (the exact-match residual still
    * applies — blooms are probabilistic one-sided).
    */
  def readAtPoint(spark: SparkSession, base: String, version: Long,
      c: String, value: Long,
      mergeSchema: Boolean = false): DataFrame =
    readPlanned(spark, base, version, mergeSchema, col(c) === lit(value))(
      filesWherePointHash(_, version, c, hashLong(value)))

  /** [[readAtPoint]] for a STRING key — [[filesWherePointStr]]'s
    * survivors with the exact-match residual.
    */
  def readAtPointStr(spark: SparkSession, base: String, version: Long,
      c: String, value: String,
      mergeSchema: Boolean = false): DataFrame =
    readPlanned(spark, base, version, mergeSchema, col(c) === lit(value))(
      filesWherePointHash(_, version, c, hashStr(value)))

  /** SCAN PLANNING with file skipping: the files of `version` that MAY
    * hold rows with `c` in [lo, hi], decided driver-side from the
    * committed min/max bounds (a selective predicate on a clustered
    * column opens O(matching range) files). A file with unknown bounds
    * survives planning and is filtered by the scan.
    */
  def filesWhere(spark: SparkSession, base: String, version: Long,
      c: String, lo: Long, hi: Long): (Seq[String], Int) =
    filesWhereAll(spark, base, version, Seq((c, lo, hi)))

  /** [[filesWhere]] for a CONJUNCTION of range predicates — the
    * planning a z-ordered layout earns (every file covers a small
    * hyperrectangle, so a rectangle scan prunes ~the selectivity
    * PRODUCT). A file survives only if EVERY predicate's interval
    * intersects its bounds; an unknown bound keeps it for that predicate.
    */
  def filesWhereAll(spark: SparkSession, base: String, version: Long,
      preds: Seq[(String, Long, Long)]): (Seq[String], Int) =
    filesWhereAllGroups(versionGroups(spark, base, version), version,
      preds)

  private def filesWhereAllGroups(gs: Seq[Group], version: Long,
      preds: Seq[(String, Long, Long)]): (Seq[String], Int) = {
    require(preds.nonEmpty, "filesWhereAll needs at least one predicate")
    planFiles(gs, version)(g => preds.forall { case (c, lo, hi) =>
      (MetaIo.optLong(g, s"min_$c"), MetaIo.optLong(g, s"max_$c")) match {
        case (Some(mn), Some(mx)) => !(mx < lo || mn > hi)
        case _ => true // unknown bound: keep
      }
    })
  }

  /** The rows of `version` with `c` in [lo, hi], scanning ONLY the
    * files [[filesWhere]] could not exonerate — the residual predicate
    * still applies (pruning is file-granular; parquet row-group stats
    * skip within the survivors).
    */
  def readAtWhere(spark: SparkSession, base: String, version: Long,
      c: String, lo: Long, hi: Long,
      mergeSchema: Boolean = false): DataFrame =
    readAtWhereAll(spark, base, version, Seq((c, lo, hi)), mergeSchema)

  /** [[readAtWhere]] for a predicate CONJUNCTION — scans only
    * [[filesWhereAll]]'s survivors with every residual range applied.
    */
  def readAtWhereAll(spark: SparkSession, base: String, version: Long,
      preds: Seq[(String, Long, Long)],
      mergeSchema: Boolean = false): DataFrame =
    readPlanned(spark, base, version, mergeSchema, preds.map {
      case (c, lo, hi) => col(c).between(lit(lo), lit(hi)) }.reduce(_ && _))(
      filesWhereAllGroups(_, version, preds))

  /** [[filesWhere]] over committed STRING bounds (smin_/smax_ manifest
    * columns): the files of `version` that MAY hold rows with `c` in
    * [lo, hi] under unsigned UTF-8 byte order (Spark's own string
    * comparison order, and the order the parquet writer computed the
    * footer stats in). Conservative by construction: files without
    * string bounds (plain commit, over-long values, non-string column)
    * survive and are filtered by the scan.
    */
  def filesWhereStr(spark: SparkSession, base: String, version: Long,
      c: String, lo: String, hi: String): (Seq[String], Int) =
    filesWhereStrGroups(versionGroups(spark, base, version), version,
      c, lo, hi)

  private def filesWhereStrGroups(gs: Seq[Group], version: Long, c: String,
      lo: String, hi: String): (Seq[String], Int) =
    planFiles(gs, version)(g =>
      (MetaIo.optString(g, s"smin_$c"), MetaIo.optString(g, s"smax_$c"))
      match {
        case (Some(mn), Some(mx)) =>
          !(MetaIo.utf8Lt(mx, lo) || MetaIo.utf8Lt(hi, mn))
        case _ => true // unknown bounds: keep
      })

  /** The rows of `version` with `c` in [lo, hi] (string order),
    * scanning only [[filesWhereStr]]'s survivors with the residual
    * range applied — the `source`/`lang` predicate on a
    * string-clustered documents table opening O(matching range) files.
    */
  def readAtWhereStr(spark: SparkSession, base: String, version: Long,
      c: String, lo: String, hi: String,
      mergeSchema: Boolean = false): DataFrame =
    readPlanned(spark, base, version, mergeSchema,
      col(c).between(lit(lo), lit(hi)))(
      filesWhereStrGroups(_, version, c, lo, hi))

  /** ONE MANIFEST EDIT of `from` into `version` — the single path every
    * derived commit ([[appendCommit]], the copy-on-write rewrites, the
    * merge-on-read sidecars, [[materializeCommit]]) takes, in the shape
    * of Iceberg's `RewriteFiles` / `RowDelta`: an operation only says
    * which files leave ([[Edit.removeFiles]] / [[Edit.removeAll]]) and
    * which arrive ([[Edit.addFiles]] / [[Edit.addSidecar]]). The protocol
    * every variant therefore keeps:
    *
    *  1. DERIVE FROM THE HEAD, checked here before any payload is
    *     written. A rewrite derived from an older version would carry
    *     that ancestor's manifest and silently DROP every delta committed
    *     since — a lost update under a green commit (Iceberg and Delta
    *     validate the same way). An overtaken ancestor throws the typed
    *     [[CommitConflictException]], so a retry client re-derives from
    *     the new head with fresh payload dirs; an uncommitted one is an
    *     argument error; a `version` at or below the head is the typed
    *     conflict too. Retention never retires the head, so it cannot
    *     reclaim the files a derivation is reading.
    *  2. READ THE ANCESTOR ONCE: one driver-side read of its manifest dir
    *     feeds planning ([[Edit.groups]]), its logical read with pending
    *     sidecars applied ([[Edit.read]]) and the rows the edit carries.
    *  3. THE NEW MANIFEST is the ancestor's rows minus the removed files —
    *     re-stamped with `version`, every other cell verbatim — then each
    *     addition in call order, under one merged schema
    *     ([[MetaIo.unionRows]]), committed as `version`, `file`, then the
    *     other columns in first-seen order.
    *  4. NO EMPTY VERSION: when no data row is carried and the added
    *     files' committed row counts sum to 0, the commit refuses. The
    *     rule reads row counts, not the listing: Spark writes a
    *     footer-only file even when no row survives a rewrite.
    *  5. STAGE AND CLAIM through [[claimRows]]. When the commit fails and
    *     the version did not commit, the payload dirs the edit added are
    *     deleted, so a retry with fresh dirs leaves no orphaned data.
    */
  private def edit(spark: SparkSession, base: String, version: Long,
      from: Long, what: String, listedHead: Boolean = false): Edit = {
    // with `listedHead`, `from` is the head the caller just listed
    val committed =
      if (listedHead) Seq(from) else committedVersions(spark, base)
    require(committed.contains(from),
      s"v=$from is not a committed version under $base")
    if (committed.last != from)
      throw new CommitConflictException(
        s"$what derives from v=$from but the committed head under $base " +
          s"is v=${committed.last} — the intent is stale (a concurrent " +
          "writer advanced the table); re-derive from the current head")
    log.requireAbove(committed.lastOption, base, version,
      s"retry $what at the next version with fresh payload dirs")
    new Edit(spark, base, version, from, what)
  }

  /** An [[edit]] in progress; nothing is written until [[commit]]. */
  private final class Edit(spark: SparkSession, base: String,
      version: Long, from: Long, what: String) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val ancestor = MetaIo.readDir(conf, mdir(base, from))

    private lazy val ancestorRows = MetaIo.rowsOf(ancestor, mdir(base, from))

    private lazy val keys = new SidecarKeys(spark)

    /** The ancestor's manifest rows. */
    val groups: Seq[Group] = ancestor.flatMap(_._2)

    /** The ancestor's data files (sidecar rows excluded). */
    val dataFiles: Seq[String] = dataFilesOf(groups)

    /** Every file the ancestor pins, sidecars included. */
    def files: Set[String] =
      groups.flatMap(MetaIo.optString(_, "file")).toSet

    def pending: Boolean = deletesOfGroups(groups).nonEmpty ||
      posDeletesOfGroups(groups).nonEmpty

    /** A copy-rewrite scans raw files: pending merge-on-read deletes
      * would be resurrected in its output, so it refuses until they are
      * materialized.
      */
    def requireNoPending(): Unit =
      require(!pending,
        s"snapshot version $from has pending merge-on-read deletes — " +
          s"$what would resurrect deleted rows; materialize them first " +
          "(materializeCommit)")

    /** The ancestor's logical rows in `files` ([[readCore]]). */
    def read(files: Seq[String], mergeSchema: Boolean,
        keepPos: Boolean): DataFrame =
      readCore(spark, keys, deletesOfGroups(groups), addedVOfGroups(groups),
        files, mergeSchema, posDeletesOfGroups(groups), keepPos)

    /** The ancestor's whole logical table — what `readAt` serves. */
    def read(mergeSchema: Boolean): DataFrame = {
      require(dataFiles.nonEmpty, s"snapshot version $from unknown or empty")
      read(dataFiles, mergeSchema, keepPos = false)
    }

    private val removed = scala.collection.mutable.Set.empty[String]
    private var removeEverything = false
    private val additions =
      scala.collection.mutable.ArrayBuffer.empty[(Seq[String], () => Part)]

    /** Drop every manifest row naming one of `fs` (exact spelling). */
    def removeFiles(fs: Seq[String]): Edit = { removed ++= fs; this }

    /** Drop every ancestor row, sidecars included. */
    def removeAll(): Edit = { removeEverything = true; this }

    /** The parquet files under `dirs` as data files, with footer stats on
      * `statsCols` — plus, when `inherit`, every stats and bloom column
      * the ancestor records ([[geometry]]) — `added_v` = this version
      * when `addedV`, and `batch_tag` when set. With no stats at all the
      * rows are plain (version, file), in listing order.
      */
    def addFiles(dirs: Seq[String], statsCols: Seq[String],
        inherit: Boolean = true, addedV: Boolean = false,
        batchTag: Option[String] = None): Edit = {
      additions += dirs -> (() => {
        val (stats, blooms) =
          if (inherit) geometry(statsCols) else (statsCols, None)
        val listed = parquetPaths(conf, dirs)
        val (schema, rows) =
          if (stats.isEmpty && blooms.isEmpty)
            (Core, listed.map(f => Row(version, f)))
          else {
            val s = statsRows(conf, version, listed.sorted, stats)
            blooms.fold(s) { case (cs, bits, k) =>
              bloomRows(spark, s, cs, bits, k) }
          }
        val stamps = (if (addedV) Seq(StructField("added_v", LongType) ->
          version) else Nil) ++
          batchTag.map(t => StructField("batch_tag", StringType) -> t)
        (StructType(schema.fields.toSeq ++ stamps.map(_._1)),
          rows.map(r => Row.fromSeq(r.toSeq ++ stamps.map(_._2))))
      })
      this
    }

    /** The parquet files under `dir` as one delete sidecar of `kind`
      * hiding `deleteKey` (comma-joined columns), scoped to files added
      * before `deleteV` when set.
      */
    def addSidecar(kind: String, dir: String, deleteKey: String,
        deleteV: Option[Long]): Edit = {
      additions += Seq(dir) -> (() => {
        val files = parquetPaths(conf, Seq(dir)).sorted
        require(files.nonEmpty,
          s"the $kind sidecar write under $dir produced no files")
        (StructType(Core.fields.toSeq ++ Seq(
            StructField("kind", StringType),
            StructField("delete_key", StringType)) ++
            deleteV.map(_ => StructField("delete_v", LongType))),
          files.map(f => Row.fromSeq(Seq(version, f, kind, deleteKey) ++
            deleteV)))
      })
      this
    }

    /** The stats/bloom geometry a rewrite re-records from the ancestor:
      * every column it has min_/max_ bounds for, plus `extra` — a store
      * bounded on (x, y) keeps its y-skipping on files a rewrite on x
      * produced — and every column it has blooms for, at the largest
      * ancestor geometry when columns disagree (a bloom column null on
      * every row was never built, and is not rebuilt).
      */
    private def geometry(extra: Seq[String])
        : (Seq[String], Option[(Seq[String], Int, Int)]) = {
      val names = ancestorRows._1.fieldNames
      def paired(a: String, b: String): Seq[String] = names.toSeq.collect {
        case n if n.startsWith(a) && names.contains(b + n.stripPrefix(a)) =>
          n.stripPrefix(a)
      }
      val blooms = paired("bloom_", "bloomk_").flatMap(c =>
        groups.iterator.flatMap(g => for {
          bits <- MetaIo.optBinary(g, s"bloom_$c")
          k <- MetaIo.optLong(g, s"bloomk_$c")
        } yield (c, bits.length * 8, k.toInt)).nextOption())
      ((paired("min_", "max_") ++ extra).distinct,
        if (blooms.isEmpty) None
        else Some((blooms.map(_._1), blooms.map(_._2).max,
          blooms.map(_._3).max)))
    }

    /** Build, check and claim the new manifest ([[edit]] steps 3-5).
      * `reclaimAdded = false` keeps the added dirs on failure — an
      * append's batch dirs belong to its caller and outlive a retry.
      */
    def commit(reclaimAdded: Boolean = true): Unit =
      log.reclaimUnlessCommitted(conf, base, version,
          if (reclaimAdded) additions.flatMap(_._1).toSeq.distinct
          else Nil) {
        // removeAll drops the ancestor's columns with its rows: a full
        // rewrite's manifest holds only what it adds
        val carried: Seq[Part] = if (removeEverything) Nil else {
          val (schema, rows) = ancestorRows
          val vi = schema.fieldIndex("version")
          val fi = schema.fieldIndex("file")
          Seq((StructType(schema.fields.updated(vi,
              StructField("version", LongType))),
            rows.filterNot(r => removed(r.getString(fi)))
              .map(r => Row.fromSeq(r.toSeq.updated(vi, version)))))
        }
        val added = additions.toSeq.map(_._2())
        def at(p: Part, c: String) =
          Some(p._1.fieldNames.indexOf(c)).filter(_ >= 0)
        def data(p: Part): Seq[Row] = at(p, "kind").fold(p._2)(k =>
          p._2.filter(r => r.isNullAt(k) || !SidecarKinds(r.getString(k))))
        val addedRows = added.map(p => at(p, "row_count").fold(0L)(i =>
          data(p).filterNot(_.isNullAt(i)).map(_.getLong(i)).sum)).sum
        require(carried.exists(data(_).nonEmpty) || addedRows > 0,
          s"$what of v=$from empties the table under $base — an empty " +
            "version cannot be committed; retire the table instead")
        val (schema, rows) = MetaIo.unionRows(
          (Core, Nil) +: (carried ++ added), mdir(base, version))
        claimRows(spark, base, version, schema, rows)
      }
  }

  private type Part = (StructType, Seq[Row])

  /** The manifest's required core columns, first in every manifest. */
  private val Core = StructType(Seq(StructField("version", LongType),
    StructField("file", StringType)))

  /** GOVERNANCE DELETE as a stats-bounded copy-on-write commit — the
    * right-to-be-forgotten contract (reference `5-compliant.md:9`,
    * `requirements.yaml:197-199`): `version` = `fromVersion` minus every
    * row with `c` in [lo, hi]. Only files whose committed bounds
    * INTERSECT the range are rewritten ([[filesWhere]]: O(matching range)
    * files on a clustered table), re-clustered on `c` into `rewriteDir`;
    * every other row is carried verbatim, and with no intersecting file
    * the commit is metadata-only. `fromVersion` still serves the deleted
    * rows until retention retires it. NULL keys are never deleted.
    * Returns (files rewritten, files total in `fromVersion`).
    */
  def deleteCommit(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, lo: Long, hi: Long,
      rewriteDir: String, numFiles: Int = 1): (Int, Int) = {
    val e = edit(spark, base, version, fromVersion, "a CoW delete")
    e.requireNoPending()
    val (hit, total) =
      filesWhereAllGroups(e.groups, fromVersion, Seq((c, lo, hi)))
    if (hit.nonEmpty) {
      // mergeSchema on the rewrite scan: hit files can mix pre- and
      // post-evolution schemas, and a one-footer schema would drop the
      // evolved column from the surviving rows
      val survivors = MetaIo.readParquet(spark, hit, mergeSchema = true)
        // coalesce(true): a NULL key is outside any range — keep it
        .filter(coalesce(!col(c).between(lit(lo), lit(hi)), lit(true)))
      Layout.writeClustered(survivors, rewriteDir, c, numFiles)
      e.removeFiles(hit).addFiles(Seq(rewriteDir), Seq(c))
    }
    e.commit()
    (hit.size, total)
  }

  /** MERGE-ON-READ governance delete — the scattered-batch complement
    * of [[deleteCommit]]: a forget batch spread across N files would make
    * copy-on-write rewrite ~N files, so real formats commit an O(batch)
    * DELETE SIDECAR instead (Delta deletion vectors, Iceberg equality
    * deletes). The batch's distinct non-null keys are written under
    * `deleteDir` as a `kind='delete'` sidecar; ZERO data files are
    * rewritten. Every read applies it ([[readCore]]); [[countAt]] and
    * copy-rewrites refuse until [[materializeCommit]] makes it physical;
    * chained deletes compose. The sidecar is UNSCOPED — it also hides
    * rows appended later (the forget contract). Returns the batch's
    * distinct key count.
    */
  def deleteCommitMor(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, keys: DataFrame,
      deleteDir: String): Long =
    deleteCommitMor(spark, base, version, fromVersion, Seq(c), keys,
      deleteDir)

  /** [[deleteCommitMor]] on a COMPOSITE key: the sidecar holds the
    * batch's distinct key TUPLES (a tuple with NULL in any column is
    * dropped — a key set cannot name it and the read-side key-set filter
    * keeps null-keyed rows), and `delete_key` the comma-joined column list.
    */
  def deleteCommitMor(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, keyCols: Seq[String], keys: DataFrame,
      deleteDir: String): Long = {
    require(keyCols.nonEmpty, "deleteCommitMor needs at least one key")
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"deleteCommitMor needs a `$c` column on the key batch"))
    val e = edit(spark, base, version, fromVersion, "a MoR delete")
    val k = keys.select(keyCols.map(col): _*)
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .distinct()
    val n = k.count()
    require(n > 0, "deleteCommitMor with no keys — nothing to forget; " +
      "re-point readers instead of committing an identical version")
    // file count ∝ the batch: a changelog-scale sidecar must not funnel
    // through one write task; every reader lists the dir plural
    k.repartition(sidecarFileCount(n)).write.parquet(deleteDir)
    e.addSidecar("delete", deleteDir, keyCols.mkString(","), None).commit()
    n
  }

  /** Sidecar files per key count — one per ~4M keys (≈32 MB of longs),
    * floor 1. The target is a var ONLY as a test seam (specs force
    * multi-file sidecars from small batches); production never writes it.
    */
  private[graft] def sidecarFileCount(nKeys: Long): Int =
    math.max(1L, (nKeys + sidecarTargetKeysPerFile - 1) /
      sidecarTargetKeysPerFile).toInt
  private[graft] var sidecarTargetKeysPerFile: Long = 4L * 1024 * 1024

  /** A version's committed per-file [min, max] bounds on `c`,
    * normalized-path keyed — the driver-side metadata [[filesCovering]]
    * and [[pruneByKeyCoverage]] consume (O(#files) rows).
    */
  private def boundsOfGroups(gs: Seq[Group], c: String)
      : Map[String, Seq[(Option[Long], Option[Long])]] =
    gs.filterNot(isDeleteRow).flatMap { g =>
      MetaIo.optString(g, "file").map(f => (PathNorm(f),
        (MetaIo.optLong(g, s"min_$c"), MetaIo.optLong(g, s"max_$c"))))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** The `candidates` whose committed [min, max] bounds ([[boundsOfGroups]])
    * contain one of the ascending `keys` — one binary search per bounds
    * row, exact for a key batch already on the driver. A file with no
    * bounds row, or with an unknown bound, is kept.
    */
  private def filesCovering(
      bounds: Map[String, Seq[(Option[Long], Option[Long])]],
      candidates: Seq[String], keys: Array[Long]): Seq[String] =
    candidates.filter { f =>
      val rs = bounds.getOrElse(PathNorm(f), Nil)
      rs.isEmpty || rs.exists {
        case (Some(lo), Some(hi)) =>
          val i = java.util.Arrays.binarySearch(keys, lo)
          val at = if (i >= 0) i else -i - 1
          at < keys.length && keys(at) <= hi
        case _ => true // unknown bounds: keep
      }
    }

  /** DISTRIBUTED coverage prune of a key batch too large for the driver
    * (a caller's batch in [[deleteCommitPos]], a [[KeyFrame]] sidecar in
    * [[readChangesBetween]]) — the batch never leaves the executors. Two
    * aggregates: the leading key's global [min, max], then
    * the OCCUPIED BINS of a fixed grid over that span — at most nBins
    * longs (min 1024, cap 2^20, sized to the candidate count) reach the
    * driver. A candidate survives when an occupied bin overlaps its
    * committed [min, max]: bin granularity only ever KEEPS more files,
    * and the exact join downstream decides rows. Integral DIV binning,
    * not `/` (a DOUBLE divide loses precision past 2^53 and could
    * exonerate the file holding a key). A non-integral key keeps every
    * candidate, a batch with no non-null key prunes everything, and a
    * file with no or unknown bounds survives.
    */
  private def pruneByKeyCoverage(spark: SparkSession, keys: DataFrame,
      lead: String,
      bounds: Map[String, Seq[(Option[Long], Option[Long])]],
      candidates: Seq[String]): Seq[String] =
    keys.schema(lead).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        val mm = keys.agg(min(col(lead).cast("long")),
          max(col(lead).cast("long"))).head
        if (mm.isNullAt(0)) return Seq.empty // no non-null keys
        val (gmin, gmax) = (mm.getLong(0), mm.getLong(1))
        val span = gmax - gmin
        if (span < 0) return candidates // Long-overflow span: keep all
        val nBins = math.min(1 << 20,
          math.max(1024, 4 * candidates.size))
        val width = span / nBins + 1
        val occupied = keys
          .select((col(lead).cast("long") - lit(gmin)).as("o"))
          .filter(col("o").isNotNull)
          .select(expr(s"o div ${width}L").as("bin"))
          .distinct().collect().map(_.getLong(0)).sorted
        candidates.filter { f =>
          val rs = bounds.getOrElse(PathNorm(f), Seq.empty)
          rs.isEmpty || rs.exists {
            case (Some(lo), Some(hi)) =>
              val clo = math.max(lo, gmin)
              val chi = math.min(hi, gmax)
              chi >= clo && {
                val bLo = (clo - gmin) / width
                val bHi = (chi - gmin) / width
                val i = java.util.Arrays.binarySearch(occupied, bLo)
                val at = if (i >= 0) i else -i - 1
                at < occupied.length && occupied(at) <= bHi
              }
            case _ => true // unknown bounds: keep
          }
        }
      case _ => candidates // non-integral key: no bounds domain
    }

  /** POSITIONAL delete (the Iceberg positional-delete design): forget by
    * key like [[deleteCommitMor]], but RESOLVE the matched rows to exact
    * (file, row_index) pairs — one scan of the key-covered files, with
    * the parquet source's own `_metadata` positions — committed as a
    * `kind='pos_delete'` sidecar. Each sidecar row names EXACTLY ONE data
    * row and every build scans the LOGICAL table, so [[countAt]] stays
    * alive. Trade-off: positions name EXISTING rows only, so later
    * re-inserts of the key are NOT hidden — a forget that must survive
    * re-ingestion wants [[deleteCommitMor]]. Zero rewrites. Returns the
    * matched-row count; refuses a batch matching nothing. Anchor:
    * `requirements.yaml:197-199`, `5-compliant.md:9`.
    */
  def deleteCommitPos(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, keys: DataFrame,
      deleteDir: String): Long = {
    require(keys.columns.contains(c),
      s"deleteCommitPos needs a `$c` column on the key batch")
    val e = edit(spark, base, version, fromVersion, "a positional delete")
    // checkpointed: the distinct batch feeds THREE jobs (the prune's
    // min/max, its occupied-bins distinct, the matched semi-join), so an
    // expensive upstream key plan must not recompute per job
    val k = keys.select(col(c)).filter(col(c).isNotNull).distinct()
      .localCheckpoint(true)
    require(e.dataFiles.nonEmpty,
      s"snapshot version $fromVersion unknown or empty")
    val hit = pruneByKeyCoverage(spark, k, c, boundsOfGroups(e.groups, c),
      e.dataFiles)
    // the LOGICAL slice of the covered files, positions kept: pending
    // sidecars applied, so positions stay disjoint across commits and
    // countAt's subtraction exact
    val matched =
      if (hit.isEmpty) None
      else {
        val scan = e.read(hit, mergeSchema = true, keepPos = true)
        if (!scan.columns.contains(c)) None
        // checkpointed so the covered-file scan runs ONCE (the count
        // below and the sidecar write would otherwise both pay it)
        else Some(scan.join(broadcast(k), Seq(c), "semi")
          .select("_graft_file", "_graft_pos").localCheckpoint(true))
      }
    val nPos = matched.fold(0L)(_.count())
    require(nPos > 0,
      "deleteCommitPos matched no rows — an empty positional sidecar " +
        "would commit a content-identical version; if the intent is a " +
        "governance forget that must also hide FUTURE re-inserts, use " +
        "deleteCommitMor")
    matched.get.repartition(sidecarFileCount(nPos)).write
      .parquet(deleteDir)
    e.addSidecar("pos_delete", deleteDir, c, None).commit()
    nPos
  }

  /** MATERIALIZE pending merge-on-read deletes: rewrite `fromVersion`'s
    * LOGICAL table into `rewriteDir` clustered on `c` and commit it, alone,
    * as `version` — after which [[countAt]] and copy-rewrites serve again
    * and retention can reclaim the sidecars and pre-delete files. A full
    * rewrite by design: merge-on-read defers exactly this cost to the
    * maintenance window that would compact anyway.
    */
  def materializeCommit(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, rewriteDir: String,
      numFiles: Int = 1): Unit = {
    val e = edit(spark, base, version, fromVersion, "a materialize rewrite")
    require(e.pending,
      s"v=$fromVersion has no pending merge-on-read deletes to " +
        "materialize — use a compaction commit for plain OPTIMIZE")
    Layout.writeClustered(e.read(mergeSchema = true), rewriteDir, c,
      numFiles)
    e.removeAll().addFiles(Seq(rewriteDir), Seq(c)).commit()
  }

  /** Durable MERGE (upsert) commit — the CDC write path behind check
    * #29 (`requirements.yaml:123-125`): base v=`fromVersion` + a
    * Debezium-style changelog (`op` ∈ I/U/D, `seq` ordering — the
    * [[Cdc.applyChangeLog]] contract; base keys UNIQUE on `c`) →
    * v=`version`, rewriting ONLY the files whose committed bounds
    * intersect the changelog's keys (the batch's sorted keys, one binary
    * search per file; unknown bounds rewrite). Every other file's row is
    * carried verbatim; inserts outside every file's bounds land in the
    * rewrite. Returns (files rewritten, files total).
    */
  def mergeCommit(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, changes: DataFrame,
      rewriteDir: String, numFiles: Int = 1, seqCol: String = "seq",
      opCol: String = "op"): (Int, Int) = {
    val e = edit(spark, base, version, fromVersion, "a MERGE rewrite")
    e.requireNoPending()
    // planning runs in the LONG bounds domain: a silent cast("long") of
    // a string key would null every key and report a misleading "empty
    // changelog", so fail on the TYPE
    changes.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"mergeCommit plans rewritten files by LONG bounds on $c — got " +
          s"$other; string-keyed merges are not bounds-plannable")
    }
    val keys = changes.select(col(c).cast("long"))
      .filter(col(c).isNotNull).distinct()
      .collect().map(_.getLong(0)).sorted
    require(keys.nonEmpty, "mergeCommit needs a non-empty changelog")
    require(e.dataFiles.nonEmpty,
      s"snapshot version $fromVersion unknown or empty")
    // unknown bounds rewrite conservatively
    val hitFiles =
      filesCovering(boundsOfGroups(e.groups, c), e.dataFiles.sorted, keys)
    // the merge's base = the HIT files only (an exonerated file provably
    // holds no changelog key, so no update or delete can touch it); an
    // all-miss plan still needs the schema
    val baseScan =
      if (hitFiles.isEmpty) e.read(mergeSchema = true).filter(lit(false))
      else MetaIo.readParquet(spark, hitFiles, mergeSchema = true)
    Layout.writeClustered(
      Cdc.applyChangeLog(baseScan, changes, Seq(c), seqCol, opCol),
      rewriteDir, c, numFiles)
    e.removeFiles(hitFiles).addFiles(Seq(rewriteDir), Seq(c)).commit()
    (hitFiles.size, e.dataFiles.size)
  }

  /** MERGE-ON-READ MERGE (upsert) — the rewrite-storm complement of
    * [[mergeCommit]]: instead of rewriting every bound-intersecting file
    * per batch, commit O(batch) — an EQUALITY-DELETE SIDECAR of the
    * changelog's distinct non-null keys (`deleteDir`,
    * `kind='merge_delete'`) plus its surviving post-images (per-key
    * latest change with op ≠ D, clustered under `imageDir`).
    *
    * Scoping (the Iceberg sequence-number discipline): the sidecar
    * carries `delete_v` and the images `added_v` = this version, and a
    * merge sidecar hides only files added BEFORE it — so its own images
    * serve, chained merges compose, and later appends serve at once.
    * Read ≡ [[Cdc.applyChangeLog]] on the ancestor (base keys unique);
    * [[materializeCommit]] converges to the copy-on-write result. String
    * keys work: there is no bounds planning. Returns (distinct changelog
    * keys, surviving image rows). Anchor: `requirements.yaml:123-125`.
    */
  def mergeCommitMor(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, c: String, changes: DataFrame,
      deleteDir: String, imageDir: String, numFiles: Int = 1,
      seqCol: String = "seq", opCol: String = "op"): (Long, Long) =
    mergeCommitMor(spark, base, version, fromVersion, Seq(c), changes,
      deleteDir, imageDir, numFiles, seqCol, opCol)

  /** [[mergeCommitMor]] on a COMPOSITE key, matching
    * [[Cdc.applyChangeLog]]'s signature: the sidecar holds distinct key
    * TUPLES, `delete_key` the comma-joined column list, and images
    * cluster on the LEADING key.
    */
  def mergeCommitMor(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, keyCols: Seq[String], changes: DataFrame,
      deleteDir: String, imageDir: String, numFiles: Int,
      seqCol: String, opCol: String): (Long, Long) = {
    require(keyCols.nonEmpty, "mergeCommitMor needs at least one key")
    keyCols.foreach(c => require(changes.columns.contains(c),
      s"mergeCommitMor needs a `$c` column on the changelog"))
    val e = edit(spark, base, version, fromVersion, "a MoR MERGE")
    val k = changes.select(keyCols.map(col): _*)
      .filter(keyCols.map(c => col(c).isNotNull).reduce(_ && _))
      .distinct()
    val nKeys = k.count()
    require(nKeys > 0, "mergeCommitMor needs a non-empty changelog")
    // file count ∝ the changelog: a CDC-window-sized sidecar must not
    // write through one task
    k.repartition(sidecarFileCount(nKeys)).write.parquet(deleteDir)
    e.addSidecar("merge_delete", deleteDir, keyCols.mkString(","),
      Some(version))
    // the surviving post-images: applyChangeLog over the EMPTY base
    // (the ancestor's logical schema, zero rows scanned)
    val images = Cdc.applyChangeLog(e.read(mergeSchema = true)
      .filter(lit(false)), changes, keyCols, seqCol, opCol)
    val nImages = images.count()
    if (nImages > 0) { // an all-delete changelog commits the sidecar only
      Layout.writeClustered(images, imageDir, keyCols.head, numFiles)
      e.addFiles(Seq(imageDir), keyCols, addedV = true)
    }
    e.commit()
    (nKeys, nImages)
  }

  /** COUNT(*) of `version` answered from the manifest's row counts —
    * zero data files opened (the metadata-only aggregate every table
    * format serves from its manifests). Fails loudly when any file lacks
    * a committed row_count (a plain `(version, file)` commit): a partial
    * sum would silently undercount.
    */
  def countAt(spark: SparkSession, base: String, version: Long): Long = {
    val gs = versionGroups(spark, base, version)
    // an EQUALITY sidecar's matched-row count is unknowable from
    // metadata (its keys may match zero or many rows), so the count
    // refuses, as Iceberg does. A POSITIONAL sidecar row names exactly
    // one data row and positions are disjoint across commits, so the
    // count is sum(row_count) minus the sidecars' own footer row counts
    require(!gs.exists(g => MetaIo.optString(g, "kind")
        .exists(k => k == "delete" || k == "merge_delete")),
      s"snapshot version $version has pending merge-on-read deletes — " +
        "a metadata count cannot subtract equality deletes; " +
        "materialize them (materializeCommit) or count via readAt")
    val posFiles = posDeletesOfGroups(gs)
    val rows = gs.filterNot(isDeleteRow).flatMap { g =>
      MetaIo.optString(g, "file").map(f =>
        (f, MetaIo.optLong(g, "row_count")))
    }.distinct
    require(rows.nonEmpty, s"snapshot version $version unknown or empty")
    require(rows.forall(_._2.isDefined),
      s"snapshot version $version has files without committed row " +
        "counts (a plain version, file commit) — count via readAt instead")
    val conf = spark.sparkContext.hadoopConfiguration
    val hidden = posFiles.map(f => MetaIo.rowCount(conf, f)).sum
    rows.map(_._2.get).sum - hidden
  }

  /** EXECUTE retention on the PERSISTED store: the two-phase drop run
    * back to back ([[retire]] decommits every version outside `keep`
    * atomically, then [[purgeRetired]] deletes the data files no kept
    * manifest references). A file shared between a dropped and a kept
    * version survives by construction. Returns the deleted data-file
    * paths.
    */
  def vacuumExecute(spark: SparkSession, base: String,
      keep: Seq[Long]): Seq[String] = {
    retire(spark, base, keep)
    purgeRetired(spark, base)
  }

  /** Phase 1 of the TWO-PHASE drop (the VectorArtifact retire/purge
    * grace contract): DECOMMIT every committed version outside `keep` by
    * RENAMING its manifest directory to a `.retired-v=N-<uuid>`
    * tombstone. The version disappears from every listing and read at
    * once, but its manifest and data files stay on disk, so an IN-FLIGHT
    * reader that already resolved its file list scans to completion;
    * [[purgeRetired]] reclaims the bytes after a grace window.
    *
    * Tombstone, not marker deletion: a marker-less `v=N` is
    * indistinguishable from a crashed commit, whose orphan repair would
    * destroy the manifest purge still needs (leaking the version's files
    * forever). The rename moves the remains out of the version namespace;
    * the monotonic guard keeps every dropped id dead.
    */
  def retire(spark: SparkSession, base: String,
      keep: Seq[Long]): Seq[Long] = {
    val vs = committedVersions(spark, base)
    require(keep.nonEmpty, "retention must keep at least one version")
    require(keep.forall(vs.contains),
      s"keep versions ${keep.filterNot(vs.contains)} are not committed")
    // the HEAD id must never become re-mintable: dropping the latest
    // version would let commitNext hand its id to a different commit (an
    // immutable-version violation for any consumer pinned to it)
    require(keep.contains(vs.max),
      s"retention must keep the latest version (v=${vs.max}): dropping " +
        "the head would free its id for a DIFFERENT commit to claim")
    val drop = vs.filterNot(keep.contains)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach { v =>
      // under the committer's stripe: a same-JVM commit claiming this id
      // must never interleave with the tombstone rename — the claim's
      // in-lock re-checks rely on retire being serialized against them
      log.locked(base, v) {
        require(fs.rename(new org.apache.hadoop.fs.Path(mdir(base, v)),
            log.tombstone(base, v)),
          s"retiring snapshot version $v under $base failed: could not " +
            "tombstone its manifest directory")
      }
    }
    drop
  }

  /** Phase 2: reclaim every RETIRED (or crash-orphaned) version's
    * storage ([[CommitLog.purge]]): one reference from a COMMITTED version
    * keeps a file alive, so a file shared by a retired and a kept version
    * survives. Stage garbage is swept behind an mtime grace window (an
    * in-flight commit's stage must survive a concurrent maintenance
    * pass). Returns the deleted data-file paths.
    */
  def purgeRetired(spark: SparkSession, base: String,
      stageGraceMs: Long = 3600000L): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def filesOf(dir: String): Seq[String] =
      MetaIo.groups(conf, dir).flatMap(g => MetaIo.optString(g, "file"))
    log.purge(conf, base, stageGraceMs) { d =>
      // a tombstone or orphan manifest names the files it pinned; the
      // directory itself goes with the claim
      val files = filesOf(d.toString)
      d.getFileSystem(conf).delete(d, true)
      files
    }(v => filesOf(mdir(base, v)))._2
  }

  /** [[vacuumExecute]] guarded by CROSS-STORE provenance: refuse to
    * drop a corpus version a COMMITTED index in `guardIndexes` still
    * cites as its training corpus (`VectorArtifact.citedCorpora`) —
    * dropping it would sever Factor 4's source→decision chain
    * (`factors/requirements.yaml:128-130`). Retire or rebuild the citing
    * index versions first, or keep the cited corpus version.
    */
  def vacuumExecute(spark: SparkSession, base: String, keep: Seq[Long],
      guardIndexes: Seq[String]): Seq[String] = {
    val drop = committedVersions(spark, base).filterNot(keep.contains)
    // citation matching canonicalizes BOTH spellings through the
    // filesystem: an index stamped with "file:/data/corpus" must still
    // guard a vacuum addressed as "/data/corpus" — an exact-string match
    // would silently bypass the guard
    def canon(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(hp).toString
    }
    val cBase = canon(base)
    val cited = guardIndexes
      .flatMap(ib => VectorArtifact.citedCorpora(spark, ib)
        .filter(c => canon(c._1) == cBase).map(c => (ib, c._2)))
    val conflicts = drop.flatMap(v =>
      cited.collect { case (ib, cv) if cv == v => s"v=$v (cited by $ib)" })
    require(conflicts.isEmpty,
      s"vacuumExecute would drop corpus version(s) a committed index " +
        s"still cites as training provenance: ${conflicts.mkString("; ")}" +
        " — retire the citing index versions first or keep the corpus " +
        "version")
    vacuumExecute(spark, base, keep)
  }

  /** The FILE-LEVEL incremental read between two committed versions:
    * a scan of exactly the data files `toV` pins and `fromV` does not —
    * after an APPEND the appended files, after a rewrite the whole
    * rewritten set (row-level consumers want [[readChangesBetween]]).
    * Both file lists resolve driver-side from the committed manifests,
    * so building the frame runs no Spark job. Refuses when `toV` has a
    * pending sidecar — it hides rows across the whole table, which a
    * file-level delta cannot apply — and when nothing changed: an empty
    * path list cannot produce a schema'd scan.
    */
  def readChanged(spark: SparkSession, base: String, fromV: Long,
      toV: Long): DataFrame = {
    val to = versionGroups(spark, base, toV)
    require(!to.exists(isDeleteRow),
      s"version $toV has pending merge-on-read deletes — the " +
        "file-level delta cannot apply them; materialize first " +
        "(materializeCommit), consume through readAt, or use the " +
        "row-level readChangesBetween")
    val before = dataFilesOf(versionGroups(spark, base, fromV)).toSet
    val files = dataFilesOf(to).filterNot(before)
    require(files.nonEmpty,
      s"no files changed between versions $fromV and $toV")
    MetaIo.readParquet(spark, files, mergeSchema = false)
  }

  /** ROW-LEVEL CHANGE DATA FEED (the Delta-CDF / Iceberg-changelog
    * shape): every row-level change between `fromV` and `toV`, emitted as
    * the version's data columns plus `_change_type` ∈ {insert, delete,
    * update_preimage, update_postimage} and `_commit_version` — what an
    * incremental consumer wants, and what [[readChanged]]'s file-level
    * delta cannot serve under sidecars or rewrites. `keyCol` must be
    * unique per version (the [[Cdc.applyChangeLog]] contract).
    *
    * Composition, step by step (v-1 → v), all from manifest metadata:
    * the OLD candidates are v-1's logical rows in files v REMOVED, plus —
    * when v committed a new sidecar — v-1's logical rows in CARRIED files
    * the sidecar hides. Every sidecar's keys are resolved once per call
    * ([[PendingKeys.sidecarKeys]]) and applied under [[readCore]]'s null
    * discipline: a new equality sidecar keeps the carried files whose
    * bounds contain one of its keys (a driver-held set: one binary search
    * per file; a larger one: [[pruneByKeyCoverage]]), so a clustered store
    * scans O(matching range) files, and their rows whose key is IN its
    * set; a new positional sidecar's rows name its files and the (file,
    * position) pairs to keep. The NEW candidates are
    * v's logical rows in files v ADDED. A keyed full-outer diff classifies:
    * only new → insert; only old → delete; a non-key change → pre- and
    * postimage; identical → nothing (so a compaction emits no event).
    *
    * I/O per step ∝ removed + added files + the sidecar-matched carried
    * slice. Refuses a step that DROPS a sidecar while carrying data
    * files: no commit path produces one, and re-inserting the rows it
    * re-exposes would corrupt the feed.
    */
  def readChangesBetween(spark: SparkSession, base: String,
      fromV: Long, toV: Long, keyCol: String): DataFrame =
    readChangesBetween(spark, base, fromV, toV, Seq(keyCol))

  /** [[readChangesBetween]] on a COMPOSITE key: the diff joins on the
    * full tuple; carried-file pruning uses the LEADING key. Past
    * [[CdfStrideSteps]] steps the per-step frames are local-checkpointed
    * in groups, so a long window builds O(steps / stride) plan leaves.
    */
  def readChangesBetween(spark: SparkSession, base: String,
      fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "readChangesBetween needs at least one key")
    require(toV > fromV,
      s"readChangesBetween needs fromV < toV, got $fromV..$toV")
    val committed = committedVersions(spark, base)
    require(committed.contains(fromV) && committed.contains(toV),
      s"versions $fromV and $toV must both be committed under $base")
    val steps = committed.filter(v => v > fromV && v <= toV)
    // one resolution per sidecar for the whole window: a pending
    // sidecar applies to every step until materialized
    val keys = new SidecarKeys(spark)
    val frames = steps.flatMap { v =>
      val prevV = committed.takeWhile(_ < v).last
      val gsP = versionGroups(spark, base, prevV)
      val gsV = versionGroups(spark, base, v)
      val (dataP, dataV) = (dataFilesOf(gsP), dataFilesOf(gsV))
      val (normP, normV) = (dataP.map(PathNorm(_)).toSet,
        dataV.map(PathNorm(_)).toSet)
      val removed = dataP.filterNot(f => normV(PathNorm(f)))
      val added = dataV.filterNot(f => normP(PathNorm(f)))
      val carried = dataV.filter(f => normP(PathNorm(f)))
      val (delsP, delsV) = (deletesOfGroups(gsP), deletesOfGroups(gsV))
      val (posP, posV) = (posDeletesOfGroups(gsP),
        posDeletesOfGroups(gsV))
      val prevSidecarFiles = delsP.flatMap(_.files)
        .map(PathNorm(_)).toSet
      val newSidecars = delsV.map(d => d.copy(files =
          d.files.filterNot(f => prevSidecarFiles(PathNorm(f)))))
        .filter(_.files.nonEmpty)
      val posPNorm = posP.map(PathNorm(_)).toSet
      val newPos = posV.filterNot(f => posPNorm(PathNorm(f)))
      // a sidecar that disappears while data files are carried would
      // re-expose rows this composition cannot see
      val curSidecarFiles = delsV.flatMap(_.files)
        .map(PathNorm(_)).toSet
      require(carried.isEmpty || delsP.forall(_.files.forall(f =>
          curSidecarFiles(PathNorm(f)))),
        s"step $prevV->$v drops an equality sidecar while carrying " +
          "data files — row-level changes cannot be composed; " +
          "materialize instead of hand-editing manifests")
      val curPosNorm = posV.map(PathNorm(_)).toSet
      require(carried.isEmpty || posP.forall(f =>
          curPosNorm(PathNorm(f))),
        s"step $prevV->$v drops a positional sidecar while carrying " +
          "data files — row-level changes cannot be composed; " +
          "materialize instead of hand-editing manifests")
      require(newSidecars.size <= 1,
        s"step $prevV->$v commits ${newSidecars.size} new sidecars — " +
          "each commit adds at most one (deleteCommitMor/mergeCommitMor)")
      if (removed.isEmpty && added.isEmpty && newSidecars.isEmpty &&
          newPos.isEmpty) None
      else {
        val addedVP = addedVOfGroups(gsP)
        val oldFromRemoved =
          if (removed.isEmpty) None
          else Some(readCore(spark, keys, delsP, addedVP, removed,
            mergeSchema = true, posP))
        // carried rows a NEW sidecar hides: the carried files whose
        // bounds contain one of its keys (an integral leading key; any
        // other keeps every carried file), their logical v-1 rows
        // filtered to the sidecar's key set
        val oldFromCarried = newSidecars.headOption.flatMap { d =>
          val bounds = boundsOfGroups(gsP, d.keys.head)
          val ks = keys(d.files, d.keys)
          val hit = ks match {
            case s: KeySet =>
              s.sortedLeading.fold(carried)(filesCovering(bounds, carried, _))
            case KeyFrame(k) =>
              pruneByKeyCoverage(spark, k, d.keys.head, bounds, carried)
          }
          if (hit.isEmpty) None
          else {
            val scan = readCore(spark, keys, delsP, addedVP, hit,
              mergeSchema = true, posP)
            // carried files that entirely predate the sidecar's key
            // column(s) cannot hold matching rows (the null discipline)
            if (!d.keys.forall(scan.columns.contains)) None
            else Some(ks.keep(scan, d.keys))
          }
        }
        // carried rows a NEW positional sidecar hides: its rows name the
        // exact files (no coverage prune needed) — those carried files'
        // v-1 logical rows with positions kept, filtered to its pairs
        val oldFromPos =
          if (newPos.isEmpty) None
          else {
            val ks = keys(newPos, PosCols)
            val named = (ks match {
              case s: KeySet => s.rows.map(_.getString(0))
              case KeyFrame(k) => k.select(PosCols.head).distinct().collect()
                .map(_.getString(0)).toSeq
            }).map(PathNorm(_)).toSet
            val hitFiles = carried.filter(f => named(PathNorm(f)))
            if (hitFiles.isEmpty) None
            else {
              val scan = readCore(spark, keys, delsP, addedVP, hitFiles,
                mergeSchema = true, posP, keepPos = true)
              Some(ks.keep(scan, PosCols).drop(PosCols: _*))
            }
          }
        val oldCand = (oldFromRemoved.toSeq ++ oldFromCarried.toSeq ++
            oldFromPos.toSeq)
          .reduceOption(_.unionByName(_, allowMissingColumns = true))
        val newCand =
          if (added.isEmpty) None
          else Some(readCore(spark, keys, delsV, addedVOfGroups(gsV), added,
            mergeSchema = true, posV))
        if (oldCand.isEmpty && newCand.isEmpty) None
        else {
        // keyed full-outer diff of the candidates
        val cols = (oldCand.map(_.columns.toSeq).getOrElse(Nil) ++
          newCand.map(_.columns.toSeq).getOrElse(Nil)).distinct
        keyCols.foreach(kc => require(cols.contains(kc),
          s"key column $kc is absent from the step $prevV->$v data"))
        val nonKey = cols.filterNot(keyCols.contains)
        // null-cast types resolve from whichever candidate carries the
        // column, so a single-step schema divergence emits typed nulls
        val typeOf: Map[String, DataType] =
          (oldCand.toSeq ++ newCand.toSeq).flatMap(_.schema.fields)
            .map(f => f.name -> f.dataType).toMap
        def aligned(dfo: Option[DataFrame], tag: String): DataFrame = {
          val src = dfo.orElse(oldCand).orElse(newCand).get
          val df = dfo.getOrElse(src.filter(lit(false)))
          df.select(keyCols.map(col) :+ struct(nonKey.map(cn =>
            (if (df.columns.contains(cn)) col(cn)
             else lit(null).cast(typeOf(cn))).as(cn)): _*)
            .as(tag): _*)
        }
        val j = aligned(oldCand, "_o")
          .join(aligned(newCand, "_n"), keyCols, "full_outer")
        // ONE pass over the diff join: each joined row explodes into
        // 0/1/2 typed events, so the full-outer join executes once per
        // step (a union of insert/delete/pre/post branches would execute
        // it four times); rows whose images are null-safe-equal vanish
        def ev(side: String, tag: String) =
          struct(col(side).as("img"), lit(tag).as("t"))
        val events = j
          .filter(!(col("_o") <=> col("_n")))
          .select(keyCols.map(col) :+ explode(
            when(col("_o").isNull, array(ev("_n", "insert")))
              .when(col("_n").isNull, array(ev("_o", "delete")))
              .otherwise(array(ev("_o", "update_preimage"),
                ev("_n", "update_postimage")))).as("_ev"): _*)
        Some(events.select(keyCols.map(col) ++
            nonKey.map(cn => col(s"_ev.img.$cn").as(cn)) :+
            col("_ev.t").as("_change_type"): _*)
          .withColumn("_commit_version", lit(v)))
        }
      }
    }
    // striding: a long window would otherwise union a many-join frame
    // per step (O(steps) analyzer work and plan depth); short windows
    // keep the fully-lazy plan
    val strided =
      if (frames.size <= CdfStrideSteps) frames
      else frames.grouped(CdfStrideSteps).map(g =>
        g.reduce(_.unionByName(_, allowMissingColumns = true))
          .localCheckpoint(true)).toSeq
    strided.reduceOption((a, b) =>
        a.unionByName(b, allowMissingColumns = true))
      .getOrElse(readAt(spark, base, toV)
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .filter(lit(false)))
  }

  /** Commit steps per CDF stride — past this many steps in one
    * [[readChangesBetween]] window the per-step frames materialize in
    * groups instead of composing one unbounded lazy union.
    */
  val CdfStrideSteps: Int = 16
}
