package graft.substrate

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The vector serving index as a PERSISTED, version-stamped set of
  * lakehouse tables — the durable form of what the in-JVM entries memoize
  * (DerivationCache) and the serve-swap stream holds in an
  * AtomicReference. Reference anchor: "consumable" serving artifacts that
  * outlive the job that built them (`factors/2-consumable.md:9`) and
  * version-pinned data (`factors/4-correlated.md`'s version coverage)
  * applied to the INDEX itself.
  *
  * Layout under `<base>/v=<version>/`:
  *   - `centroids/` (cell BIGINT, cv ARRAY<DOUBLE>) — the coarse
  *     quantizer [[IvfPq.servingCentroids]] hands to probeCellsFrom.
  *   - `codebook/`  (sub, cid, cv) — the PQ codebooks, m·k skinny rows.
  *   - `codes/`     (vec_id, codes[, cell]) — the code FILES this
  *     version newly wrote: the whole corpus for [[save]]/
  *     [[saveClustered]], only the changed cells' rows for
  *     [[publishIncremental]], only the appended batch for
  *     [[appendPublish]]. [[saveClustered]] and the incremental forms
  *     hive-partition by a `pcell` copy of `cell` so a cell's rows are
  *     addressable FILES (`cell` stays a data column — explicit-path
  *     manifest reads don't see hive dirs).
  *   - `deletes/`   the vec_id keys of a merge-on-read forget
  *     ([[deletePublishMor]]).
  *   - `manifest/`  (file, cell, kind) rows pinning this version's
  *     COMPLETE file set — rows may point into EARLIER versions' dirs
  *     (file sharing: the Iceberg/Delta manifest discipline, the
  *     SnapshotStore manifest's geometry applied to the index artifact).
  *     [[load]] resolves codes only through the manifest; every publish
  *     writes one, driver-side.
  *   - `meta/`      one row (version, dim, m, k, source_version,
  *     corpus_base, corpus_version) — source_version is the publish's
  *     OWN-ANCESTRY provenance (the version whose files a derived
  *     publish shares); corpus_base/corpus_version pin the CORPUS
  *     snapshot (a SnapshotStore base + version) whose data trained
  *     the codebook — the cross-store edge SnapshotStore's guarded
  *     vacuum walks (Factor 4's source→decision traceability,
  *     `factors/requirements.yaml:128-130`).
  *
  * Why tables and not a binary blob: every piece is already relational,
  * so the artifact inherits the lakehouse's machinery for free —
  * snapshot/manifest pinning (substrate.Snapshot), compaction
  * (substrate.Layout), schema evolution, and predicate pushdown into the
  * code table. Parquet round-trips IEEE-754 doubles bit-exactly, so a
  * reloaded index serves IDENTICAL rankings to the one just built — the
  * `ann_stored_index` registry entry hashes that claim cross-engine, and
  * VectorArtifactSpec pins save→load equality piecewise.
  *
  * 100 TB shape: `codes` is the only corpus-sized table — [[saveClustered]]
  * writes it hive-partitioned by cell so a probe's candidate scan prunes
  * to the probed cells' files; centroids/codebook/meta/manifest are
  * metadata-scale and written driver-side. Publishing version N+1 is a
  * directory write + repointing readers ([[loadLatest]]) — the durable
  * twin of `retrieval_serve_swap_stream`'s in-memory hot swap; old
  * versions stay readable for pinned consumers (time travel at the index
  * level). Every derived publish writes only the files it changes and
  * manifest-shares the rest, so after `index_refresh_selective` (19.9% of
  * rows re-encoded at the fixture) the durable I/O tracks the drifted
  * fraction, not the corpus.
  */
object VectorArtifact {

  /** A reloaded serving index: the codebook re-hydrated to the driver
    * array [[PqIndex.encode]]/topK expect (bounded: m·k centroid rows —
    * the same collect discipline as PqIndex.codebookArrays), the
    * centroid/code tables as lazy parquet scans. `corpusBase`/
    * `corpusVersion` name the CORPUS snapshot (a [[SnapshotStore]]
    * base + version) whose data trained this index's codebook — the
    * cross-store provenance link Factor 4's source→decision
    * traceability asks for (`factors/requirements.yaml:128-130`).
    */
  final case class Loaded(version: Long, dim: Int,
      centroids: DataFrame, cb: Array[Array[Array[Double]]],
      codes: DataFrame, sourceVersion: Option[Long] = None,
      corpusBase: Option[String] = None,
      corpusVersion: Option[Long] = None)

  /** One manifest row: (file, cell, kind) — kind None for a code file,
    * Some("delete") for a merge-on-read delete sidecar.
    */
  private type ManifestRow = (String, Option[Long], Option[String])

  private val VecId = Seq("vec_id")

  /** Versions live under `<base>/v=N`, committed by `meta/_SUCCESS`
    * (the meta row is written last inside the stage).
    */
  private val log = new CommitLog(base => base, "meta/_SUCCESS")

  /** The stage-then-claim protocol every publish commits through
    * ([[CommitLog.claim]], optimistic concurrency): `write` lays the
    * COMPLETE version (skinny tables, codes, manifest, meta) under an
    * invisible stage directory, then one rename claims `v=N`. Two racing
    * publishers of the same version stage independently and exactly one
    * rename wins; the loser gets a [[CommitConflictException]] and its
    * stage is cleaned up. A publish that crashes mid-stage leaves the
    * PREVIOUS commit serving untouched.
    *
    * Re-publish vs race is the CALLER's intent, never arrival timing
    * (`allowRepublish`): only [[save]]/[[saveClustered]] may
    * deliberately swap a committed version (leaf rewrite / orphan
    * repair), and only one that was ALREADY committed when this publish
    * began. A DERIVED publish claims a NEW version — finding its target
    * committed, whenever that happens, means a racer won and the intent
    * is STALE; it fails with the named conflict and is re-derived at N+1
    * ([[retryPublish]]). Judging by the state at stage entry alone would
    * let a racer that arrives after the winner's claim pass as a
    * deliberate re-publish and silently clobber the winner's commit.
    * `write` also receives the function that rewrites a staged file's
    * qualified URI to the path it will hold after the claim — manifest
    * rows must carry FINAL paths.
    */
  private def stagedPublish(spark: SparkSession, base: String,
      version: Long, allowRepublish: Boolean)(
      write: (String, String => String) => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val committedAtStart = log.isCommitted(conf, base, version)
    if (!allowRepublish && committedAtStart)
      throw new CommitConflictException(
        s"v=$version under $base is already committed — a derived " +
          "publish claims a NEW version; this intent is stale (a " +
          "concurrent publisher won) — re-derive it at the next version")
    log.claim(conf, base, version, replace = allowRepublish) {
      if (!committedAtStart && log.isCommitted(conf, base, version))
        throw new CommitConflictException(
          s"v=$version under $base was committed by a concurrent " +
            "publisher while this publish was staging — exactly one " +
            "committer claims a version; retry at the next version")
      requireUnreferenced(spark, base, version)
    }(write)
  }

  /** A FULL publish of `version`: no ancestor, and a committed leaf
    * version may be replaced. `sourceVersion`/`corpus` are stamped into
    * meta as given.
    */
  private def fullPublish(spark: SparkSession, base: String, version: Long,
      sourceVersion: Option[Long], corpus: Option[(String, Long)])
      : Publish = {
    requireUnreferenced(spark, base, version) // fail fast, pre-stage
    new Publish(spark, base, version, None, Nil, sourceVersion, corpus)
  }

  /** A DERIVED publish of `version` from the committed `from`. The
    * ancestry gates run once, before anything is written:
    *  - `version > from`: manifests may only pin files of EARLIER
    *    versions, the ordering [[requireUnreferenced]]'s
    *    descendants-only sweep relies on;
    *  - `from` is the committed HEAD: a rewrite derived from an older
    *    version carries that ancestor's manifest and silently DROPS every
    *    delta published since — a lost update under a green commit — so
    *    an overtaken ancestor throws the typed conflict and
    *    [[retryPublish]] re-derives from the new head;
    *  - `from` holds a non-empty, cell-clustered manifest: an EMPTY one
    *    would pass a bare forall vacuously, and a typo'd or
    *    never-committed ancestor would silently publish a version holding
    *    ONLY the changed cells.
    * The ancestor's manifest is read once, driver-side; its meta row and
    * skinny tables only when the publish asks for them.
    */
  private def derive(spark: SparkSession, base: String, version: Long,
      from: Long, what: String = "a derived publish"): Publish = {
    require(version > from,
      s"derived publish must move the version FORWARD: v=$version from " +
        s"v=$from — file sharing points strictly backward")
    val vs = versions(spark, base)
    if (vs.contains(from) && vs.last != from)
      throw new CommitConflictException(
        s"$what derives from v=$from but the committed head " +
          s"under $base is v=${vs.last} — the intent is stale (a " +
          "concurrent publisher advanced the store); re-derive from " +
          "the current head")
    val rows = readManifestFull(spark, base, from)
    val data = dataRows(rows)
    require(data.nonEmpty,
      s"v=$from has no manifest under $base (not committed) — " +
        "a derived publish needs saveClustered ancestry")
    require(data.forall(_._2.isDefined),
      s"v=$from is not cell-clustered (manifest has cell-less " +
        "files) — a derived publish needs saveClustered ancestry")
    requireUnreferenced(spark, base, version, vs) // fail fast, pre-stage
    new Publish(spark, base, version, Some(from), rows, None, None)
  }

  /** A version's code files read as its LOGICAL index: every pending
    * merge-on-read sidecar's keys hide their rows, the keys read once
    * ([[PendingKeys.sidecarKeys]]: a driver-held key set, or a broadcast
    * anti-join past its bound) however many scans apply them. A store
    * without sidecars scans plain.
    */
  private class Codes(spark: SparkSession, rows: Seq[ManifestRow]) {
    val data: Seq[(String, Option[Long])] = dataRows(rows)
    val sidecars: Seq[String] =
      rows.collect { case (f, _, k) if k.contains("delete") => f }
    lazy val keys: PendingKeys =
      PendingKeys.sidecarKeys(spark, sidecars, VecId)

    def raw(files: Seq[String]): DataFrame =
      MetaIo.readParquet(spark, files, mergeSchema = false)

    def read(files: Seq[String]): DataFrame =
      if (sidecars.isEmpty) raw(files) else keys.hide(raw(files), VecId)

    def filesOf(cells: Seq[Long]): Seq[String] = {
      val s = cells.toSet
      data.collect { case (f, Some(c)) if s(c) => f }
    }
  }

  /** A publish in progress ([[fullPublish]]/[[derive]]); nothing is
    * written until [[commit]]. The new manifest is the ancestor's code
    * files outside the cells named by [[shareExcept]], then the files
    * [[addCells]] writes, then the ancestor's pending sidecars — carried
    * VERBATIM, since dropping one resurrects forgotten rows, unless
    * [[dropSidecars]] — then the sidecar [[addSidecar]] writes.
    */
  private final class Publish(spark: SparkSession, base: String,
      version: Long, from: Option[Long], rows: Seq[ManifestRow],
      sourceVersion: Option[Long], corpus: Option[(String, Long)])
      extends Codes(spark, rows) {
    private lazy val dir = s"$base/v=${from.get}"
    private lazy val meta = metaRow(spark, base, from.get)

    /** The ancestor's dim, codebook and centroids — a frozen quantizer
      * is not per-row state, so a forget or compaction re-writes them.
      */
    lazy val dim: Int = metaNum(meta, "dim").toInt
    lazy val cb: Array[Array[Array[Double]]] = readCodebook(spark, dir, meta)
    lazy val centroids: DataFrame = MetaIo.readTable(spark, s"$dir/centroids")

    private var except: Option[Set[Long]] = None
    private var codes: Option[(DataFrame, Boolean)] = None
    private var forget: Option[(DataFrame, Long)] = None
    private var carry = true

    /** Share every ancestor code file except those of `cells`. */
    def shareExcept(cells: Seq[Long]): Publish = {
      except = Some(cells.toSet); this }

    /** Write `df` as this version's code files: one file per cell when
      * `clustered` ([[writeCellFiles]]), plain files otherwise. With
      * [[shareExcept]], the cells written must be among its cells.
      */
    def addCells(df: DataFrame, clustered: Boolean = true): Publish = {
      codes = Some((df, clustered)); this }

    /** Write `ids` (a vec_id column, `n` distinct keys) as one delete
      * sidecar of this version.
      */
    def addSidecar(ids: DataFrame, n: Long): Publish = {
      forget = Some((ids, n)); this }

    def dropSidecars(): Publish = { carry = false; this }

    /** [[commit]] re-writing the ancestor's frozen quantizer. */
    def commit(): Unit = commit(dim, centroids, cb)

    def commit(dim: Int, centroids: DataFrame,
        cb: Array[Array[Array[Double]]]): Unit =
      stagedPublish(spark, base, version, allowRepublish = from.isEmpty) {
        (stage, finalize) =>
          writeSkinny(spark, stage, centroids, cb)
          val fresh = codes.toSeq.flatMap { case (df, clustered) =>
            val out = s"$stage/codes"
            if (clustered) {
              writeCellFiles(df, out)
              listCellFiles(spark, out)
            } else {
              df.write.mode(SaveMode.Overwrite).parquet(out)
              listParquetFiles(spark, out).map(_ -> None)
            }
          }.map { case (f, c) => (finalize(f), c) }
          except.foreach { cells =>
            val stray = fresh.flatMap(_._2).toSet -- cells
            require(stray.isEmpty, s"changedCodes wrote cells $stray " +
              "outside changedCells — the shared files would double-count " +
              "them")
          }
          val written = forget.toSeq.flatMap { case (ids, n) =>
            // one file per ~4M keys: a changelog-scale sidecar must not
            // funnel through one write task; readers list the dir plural
            ids.repartition(SnapshotStore.sidecarFileCount(n))
              .write.parquet(s"$stage/deletes")
            val fs = listParquetFiles(spark, s"$stage/deletes").map(finalize)
            require(fs.nonEmpty, "the delete sidecar write produced no files")
            fs
          }
          val kept = except.fold(data)(cells =>
            data.filter(_._2.exists(c => !cells(c))))
          writeManifest(spark, stage,
            (kept ++ fresh).map { case (f, c) => (f, c, None) } ++
              ((if (carry) sidecars else Nil) ++ written)
                .map(f => (f, None, Some("delete"))))
          // a derived publish's codebook is frozen: it inherits the
          // ancestor's training corpus
          writeMeta(spark, stage, version, dim, cb, from.orElse(sourceVersion),
            if (from.isEmpty) corpus else corpusOfMeta(meta))
      }
  }

  /** @param corpus the SnapshotStore (base, version) whose corpus
    *        snapshot trained this publish's codebook — stamped into meta
    *        as `corpus_base`/`corpus_version` (cross-store provenance;
    *        None = untracked corpus). Derived publishes
    *        ([[publishIncremental]]/[[appendPublish]]/[[deletePublish]]/
    *        [[compactPublish]]) INHERIT it from their ancestor — their
    *        codebook is frozen, so the training corpus is unchanged.
    */
  def save(spark: SparkSession, base: String, version: Long, dim: Int,
      centroids: DataFrame, cb: Array[Array[Array[Double]]],
      codes: DataFrame, sourceVersion: Option[Long] = None,
      corpus: Option[(String, Long)] = None): Unit =
    // unclustered layout: the manifest pins this version's own files,
    // cell unknown (null) — load round-trips through it all the same
    fullPublish(spark, base, version, sourceVersion, corpus)
      .addCells(codes, clustered = false).commit(dim, centroids, cb)

  /** [[save]] with the 100 TB codes layout: `codes` must carry a `cell`
    * column; rows are repartitioned BY cell and hive-partitioned on a
    * `pcell` copy, so each cell's rows are addressable files that a
    * probe prunes to and — the point — that a later
    * [[publishIncremental]] can SHARE untouched. `cell` stays a data
    * column (manifest reads are explicit-path and would lose a hive-only
    * column).
    */
  def saveClustered(spark: SparkSession, base: String, version: Long,
      dim: Int, centroids: DataFrame, cb: Array[Array[Array[Double]]],
      codes: DataFrame, sourceVersion: Option[Long] = None,
      corpus: Option[(String, Long)] = None): Unit =
    fullPublish(spark, base, version, sourceVersion, corpus)
      .addCells(codes).commit(dim, centroids, cb)

  /** The INCREMENTAL durable publish: after a selective refresh
    * re-encoded only the flagged cells, version N+1 writes ONLY those
    * cells' files and manifest-shares every other cell's files from
    * version `fromVersion` — bytes written ∝ drifted fraction, not corpus
    * size. Data files stay immutable (`factors/requirements.yaml:136-138`);
    * the new manifest is the only record that "moves", and the meta-last
    * commit keeps the publish reader-atomic. Pending sidecars carry
    * forward.
    *
    * Correctness contract (the `ann_stored_index_incremental` oracle
    * hashes it): the loaded v=N+1 code set equals a from-scratch full
    * encode iff `changedCells` covers every cell whose MEMBERSHIP or
    * member vectors changed — for an update batch that is the union of
    * the updated rows' old and new cells (rows in untouched cells are
    * bit-identical to v=N's files). `changedCodes` must hold exactly the
    * changed cells' CURRENT rows (all members, re-encoded), with a
    * `cell` column.
    *
    * @param changedCells the changed cell ids, driver-side: the split is
    *        a set lookup per ancestor file, and the ancestor's clustered
    *        manifest — at least one row per cell — is already on the
    *        driver, so the cell set is never the larger side.
    */
  def publishIncremental(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, dim: Int, centroids: DataFrame,
      cb: Array[Array[Array[Double]]], changedCodes: DataFrame,
      changedCells: Seq[Long]): Unit = {
    require(changedCells.nonEmpty,
      "publishIncremental with no changed cells — re-point readers at " +
        s"v=$fromVersion instead of publishing an identical version")
    derive(spark, base, version, fromVersion).shareExcept(changedCells)
      .addCells(changedCodes).commit(dim, centroids, cb)
  }

  /** The optimistic-concurrency RETRY LOOP around a derived publish —
    * the client half of the stage-then-claim protocol: the loser of a
    * claim race retries at N+1 rather than aborting.
    * [[stagedPublish]] fails a losing racer loudly with
    * [[CommitConflictException]]; a deployed writer — the streaming
    * ingester racing the maintenance compactor, the exact two-writer
    * shape a real deployment runs — then RE-DERIVES its intent against
    * the winner's commit and claims the next version (the Iceberg/Delta
    * commit-retry discipline). `attempt` receives the CURRENT latest
    * committed version and the version to claim (latest+1) and must
    * recompute everything it publishes from that ancestor: an append
    * re-shares the new latest's manifest, a compact re-plans its
    * multi-file cells — so a retried intent COMPOSES with the winner's
    * instead of clobbering it (appendPublish/compactPublish/
    * deletePublish already take (version, fromVersion), which is why
    * the callback is shaped that way). Returns the version claimed;
    * rethrows the last conflict when contention outlasts `maxAttempts`.
    * Any non-conflict failure propagates immediately — a broken intent
    * must not be retried into a different version.
    */
  def retryPublish(spark: SparkSession, base: String,
      maxAttempts: Int = 5)(attempt: (Long, Long) => Unit): Long =
    log.retryAtNext(spark.sparkContext.hadoopConfiguration, base,
        maxAttempts) { (head, next) =>
      require(head.nonEmpty,
        s"no committed version under $base to derive a publish from")
      attempt(head.get, next)
    }

  /** The maintenance POLICY behind [[compactPublish]] — which cells a
    * maintenance window should rewrite: every cell whose committed file
    * count exceeds `maxFilesPerCell` (after K streaming appends a hot
    * cell holds up to K files and every probed serve opens all of them —
    * the small-file proliferation OPTIMIZE exists to undo). Pure
    * manifest algebra, metadata-scale (O(#files) driver rows — the same
    * listing every publish already does); the decide→act pairing
    * mirrors `index_refresh_decision`/`_execute` and Factor 5's
    * retention: policy produces the bounded batch, [[compactPublish]]'s
    * `onlyCells` acts on it. Anchor: `factors/2-consumable.md:9`
    * (serving latency is a file-count property at scale).
    */
  def maintenanceDecision(spark: SparkSession, base: String,
      version: Long, maxFilesPerCell: Int = 1): Seq[Long] = {
    require(maxFilesPerCell >= 1,
      "a cell cannot hold fewer than one file")
    readManifest(spark, base, version).flatMap(_._2)
      .groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > maxFilesPerCell).keys.toSeq.sorted
  }

  /** APPEND publish — the durable write-side of streaming ingest
    * (`vector_ingest_stream`'s frozen-codebook per-batch codes folded
    * into the artifact store): version N+1 = version N's entire file set
    * (manifest-shared, zero data I/O) PLUS the new batch's files. The
    * centroids/codebook are re-written from the passed (frozen) values —
    * metadata-scale; the corpus-sized table is never touched.
    * `newCodes` must carry `cell` (assigned against the frozen
    * centroids) and only NEW vec_ids — an append cannot supersede a row
    * (that is [[publishIncremental]]'s update contract). A pending
    * sidecar hides its keys across the whole logical index, appended
    * rows included, until a materializing compact re-admits the
    * namespace — the table store's governance contract.
    */
  def appendPublish(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, dim: Int, centroids: DataFrame,
      cb: Array[Array[Array[Double]]], newCodes: DataFrame): Unit =
    derive(spark, base, version, fromVersion).addCells(newCodes)
      .commit(dim, centroids, cb)

  /** MERGE-ON-READ right-to-be-forgotten on the vector artifact (the
    * `snapshot_delete_dv` geometry on the index store): [[deletePublish]]
    * stays the CELL-LOCAL form (rewrite the affected cells), but a
    * governance batch SCATTERED across most cells makes it rewrite nearly
    * the whole code table — this form commits an O(batch) KEY SIDECAR
    * instead: the batch's distinct vec_ids under `<stage>/deletes`,
    * pinned by `kind='delete'` manifest rows, with every ancestor file
    * manifest-shared VERBATIM — zero code files rewritten, publish I/O ∝
    * the batch. Every read path ([[load]], [[codesForCells]] — the
    * full-ADC and probed serves) hides the sidecar's keys; derived
    * publishes carry pending sidecars forward; [[compactPublish]]
    * MATERIALIZES them (rewriting the affected cells minus the forgotten
    * ids) at the maintenance window that compacts anyway, and
    * retire/purge then make the forget physical. The codebook/centroids
    * stay FROZEN (the FAISS remove_ids discipline). Honest contract, as
    * everywhere: earlier versions still serve the rows until retention
    * drops them, and a pending sidecar hides its keys across the WHOLE
    * logical index — re-adding a forgotten id needs a materializing
    * compact first. Returns the batch's distinct key count. Anchor:
    * `factors/5-compliant.md:9`, `factors/requirements.yaml:197-199`.
    */
  def deletePublishMor(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, deleteIds: DataFrame): Long = {
    require(deleteIds.columns.contains("vec_id"),
      "deletePublishMor needs a `vec_id` column on deleteIds")
    val p = derive(spark, base, version, fromVersion)
    val del = deleteIds.select("vec_id").filter(col("vec_id").isNotNull)
      .distinct()
    val n = del.count()
    require(n > 0, "deletePublishMor with no keys — nothing to forget; " +
      "re-point readers instead of publishing an identical version")
    p.addSidecar(del, n).commit()
    n
  }

  /** DURABLE right-to-be-forgotten on the vector artifact — the dedup
    * store's forget-vs-time-travel contract applied to the vector
    * family: publish v=N+1 where the rewritten cells are the deleted
    * rows' OWN cells, each rewritten minus the forgotten vec_ids; every
    * untouched cell's files are manifest-shared verbatim. The act is
    * bounded by the batch: one broadcast semi-join finds the affected
    * cells (O(deleted) driver rows — a governance batch, like the
    * compaction plan's bin list), the rewrite reads ONLY those cells'
    * files through the manifest (at 100 TB a clustered delete batch
    * touches O(affected cells) files, never the corpus), and one
    * broadcast anti-join drops the forgotten rows. The codebook/centroids
    * stay FROZEN — a trained quantizer is not per-row state (the FAISS
    * remove_ids discipline; retraining is `index_refresh_decision`'s
    * drift call). Honest contract, same as the dedup store: earlier
    * versions' manifests still pin files CONTAINING the forgotten rows —
    * history serves until retention drops it, and
    * [[retire]]/[[purgeRetired]]/[[vacuum]] make the forget PHYSICAL
    * (spec-pinned). Anchor: `factors/5-compliant.md:9`,
    * `factors/requirements.yaml:197-199`.
    */
  def deletePublish(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, deleteIds: DataFrame): Unit = {
    require(deleteIds.columns.contains("vec_id"),
      "deletePublish needs a `vec_id` column on deleteIds")
    val p = derive(spark, base, version, fromVersion, "a durable delete")
    val del = KeyFrame(deleteIds.select("vec_id").distinct())
    val affected = cellsOf(del.keep(p.read(p.data.map(_._1)), VecId))
    require(affected.nonEmpty,
      s"no rows of v=$fromVersion match the delete batch — nothing to " +
        "forget; re-point readers instead of publishing an identical " +
        "version")
    p.shareExcept(affected)
      .addCells(del.hide(p.read(p.filesOf(affected)), VecId))
      .commit()
  }

  /** The OPTIMIZE commit on the artifact store — the maintenance pass
    * streaming ingest makes necessary: after K [[appendPublish]] batches
    * a hot cell's rows sit in up to K files and every probed serve opens
    * all of them — the classic streaming-lakehouse small-file
    * proliferation. This rewrites each multi-file cell's accumulated
    * files into ONE file (the [[writeCellFiles]] clustered layout
    * guarantees one file per cell per publish) and publishes v=N+1
    * manifest-sharing every other cell's files verbatim — Layout.compact's
    * bin geometry expressed through [[publishIncremental]]'s manifest
    * algebra. Row content is untouched: loadLatest serves
    * hash-identically while [[codesForCells]] opens fewer files (the
    * oracled entry pins both). `onlyCells` scopes the pass (the
    * WHERE-predicate form a real OPTIMIZE run takes — compact the hot
    * range now, the rest next maintenance window); None compacts every
    * multi-file cell. Anchor: `factors/2-consumable.md:9` (serving
    * latency is a file-count property at scale).
    */
  def compactPublish(spark: SparkSession, base: String, version: Long,
      fromVersion: Long, onlyCells: Option[Seq[Long]] = None): Unit = {
    val p = derive(spark, base, version, fromVersion)
    val multi = p.data.flatMap(_._2).groupBy(identity)
      .collect { case (c, fs) if fs.size > 1 => c }.toSeq
    // pending MoR sidecars MATERIALIZE here — the maintenance window
    // that compacts anyway, the snapshot_delete_dv discipline: the cells
    // holding any deleted id join the rewrite set, located by a RAW read
    // of the code files (the logical read hides exactly the rows that
    // locate the cells); the rewrite reads logically, so the fresh files
    // hold survivors only. Sidecar rows are DROPPED from the new manifest
    // only when the rewrite covered every affected cell — a scoped
    // OPTIMIZE (onlyCells excluding an affected cell) carries them
    // forward, correct and idempotent.
    val affected =
      if (p.sidecars.isEmpty) Nil
      else cellsOf(p.keys.keep(p.raw(p.data.map(_._1)), VecId))
    val candidates = (multi ++ affected).distinct.sorted
    val targets = onlyCells.fold(candidates) { sel =>
      val s = sel.toSet; candidates.filter(s)
    }
    require(targets.nonEmpty,
      s"nothing to compact under v=$fromVersion: every " +
        s"${onlyCells.fold("")(_ => "selected ")}cell already holds one " +
        "file and no sidecar is pending — skip the maintenance commit")
    p.shareExcept(targets).addCells(p.read(p.filesOf(targets)))
    if (affected.toSet.subsetOf(targets.toSet)) p.dropSidecars()
    p.commit()
  }

  /** The distinct cells of `codes` — bounded by the batch that picked
    * the rows.
    */
  private def cellsOf(codes: DataFrame): Seq[Long] =
    codes.select("cell").distinct().collect().map(_.getLong(0)).toSeq

  /** Both skinny tables, written driver-side through [[MetaIo.writeRows]]:
    * they are metadata-scale — the codebook IS a driver array (m·k skinny
    * rows) and centroids are O(#cells) — so a Spark write job (planning +
    * task + committer) per table would be pure overhead. Column
    * names/types (incl. array-element nullability) match Spark's writer,
    * so a Spark read of either sees the same table. Centroids are the
    * caller's frame: a column outside the metadata type universe keeps
    * the Spark single-file write (and [[load]] reads it back with a Spark
    * scan, MetaIo.readTable).
    */
  private def writeSkinny(spark: SparkSession, dir: String,
      centroids: DataFrame, cb: Array[Array[Array[Double]]]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    MetaIo.writeRows(conf, s"$dir/codebook",
      StructType(Seq(StructField("sub", LongType),
        StructField("cid", IntegerType),
        StructField("cv", ArrayType(DoubleType, containsNull = false)))),
      for { s <- cb.indices; c <- cb(s).indices }
        yield Row(s.toLong, c, cb(s)(c).toSeq))
    if (MetaIo.writableSchema(centroids.schema))
      MetaIo.writeRows(conf, s"$dir/centroids", centroids.schema,
        centroids.collect().toIndexedSeq)
    else centroids.coalesce(1).write.parquet(s"$dir/centroids")
  }

  /** The codebook table under version dir `dir` as the driver array,
    * shaped by its meta row's m and k.
    */
  private def readCodebook(spark: SparkSession, dir: String,
      meta: org.apache.parquet.example.data.Group)
      : Array[Array[Array[Double]]] = {
    val (s, rows) =
      MetaIo.readRows(spark.sparkContext.hadoopConfiguration, s"$dir/codebook")
    val (si, ci, vi) =
      (s.fieldIndex("sub"), s.fieldIndex("cid"), s.fieldIndex("cv"))
    val out = Array.ofDim[Array[Double]](metaNum(meta, "m").toInt,
      metaNum(meta, "k").toInt)
    rows.foreach { r =>
      out(r.getLong(si).toInt)(r.getInt(ci)) = r.getSeq[Double](vi).toArray
    }
    out
  }

  /** Write `codes` (vec_id, codes, cell, ...) to `out` repartitioned by
    * cell and hive-partitioned on a `pcell` copy — one file per cell,
    * each cell's rows colocated (the clustered layout every probe and
    * every incremental publish depends on).
    */
  private def writeCellFiles(codes: DataFrame, out: String): Unit = {
    require(codes.columns.contains("cell"),
      "clustered publish needs a `cell` column on codes")
    codes.withColumn("pcell", col("cell"))
      .repartition(col("cell"))
      .write.partitionBy("pcell")
      .mode(SaveMode.Overwrite).parquet(out)
  }

  /** The meta row, written driver-side and last: meta/_SUCCESS is the
    * commit record [[versions]] checks (MetaIo.writeRows creates it), and
    * since the whole version directory arrives by one [[stagedPublish]]
    * rename, a reader can never see a version whose meta exists while its
    * data tables are still being written.
    */
  private def writeMeta(spark: SparkSession, dir: String, version: Long,
      dim: Int, cb: Array[Array[Array[Double]]],
      sourceVersion: Option[Long],
      corpus: Option[(String, Long)]): Unit =
    MetaIo.writeRows(spark.sparkContext.hadoopConfiguration,
      s"$dir/meta",
      StructType(Seq(StructField("version", LongType),
        StructField("dim", IntegerType), StructField("m", IntegerType),
        StructField("k", IntegerType),
        StructField("source_version", LongType),
        StructField("corpus_base", StringType),
        StructField("corpus_version", LongType))),
      Seq(Row(version, dim, cb.length,
        cb.head.length, sourceVersion.map(Long.box).orNull,
        corpus.map(_._1).orNull,
        corpus.map(c => Long.box(c._2)).orNull)))

  /** The corpus-provenance stamp of a committed version (None when the
    * version was published with an untracked corpus) — what derived
    * publishes inherit and what [[citedCorpora]]/SnapshotStore's guarded
    * vacuum consume.
    */
  private[substrate] def corpusOf(spark: SparkSession, base: String,
      version: Long): Option[(String, Long)] =
    corpusOfMeta(metaRow(spark, base, version))

  private def corpusOfMeta(g: org.apache.parquet.example.data.Group)
      : Option[(String, Long)] =
    for (cb <- MetaIo.optString(g, "corpus_base");
         cv <- MetaIo.optLong(g, "corpus_version")) yield (cb, cv)

  /** The committed meta row, read DRIVER-SIDE without a Spark job
    * (MetaIo): every derived publish consults it (provenance
    * inheritance) and every load dereferences it, and as cluster jobs
    * these metadata lookups would queue commit planning behind running
    * queries.
    */
  private def metaRow(spark: SparkSession, base: String,
      version: Long): org.apache.parquet.example.data.Group = {
    val gs = MetaIo.groups(spark.sparkContext.hadoopConfiguration,
      s"$base/v=$version/meta")
    require(gs.nonEmpty, s"v=$version under $base has no meta row")
    gs.head
  }

  private def metaNum(meta: org.apache.parquet.example.data.Group,
      name: String): Long = MetaIo.optLong(meta, name).getOrElse(
    throw new IllegalStateException(s"meta row missing $name"))

  /** Every (corpus_base, corpus_version) a COMMITTED version of the
    * index under `base` cites as its training corpus — the reverse edge
    * SnapshotStore's guarded vacuumExecute walks before dropping a
    * corpus version a committed index still depends on (Factor 4's
    * source→decision traceability ACROSS the two stores).
    * Metadata-scale: one meta row per committed version.
    */
  def citedCorpora(spark: SparkSession,
      base: String): Seq[(String, Long)] =
    versions(spark, base).flatMap(v => corpusOf(spark, base, v)).distinct

  /** The manifest's columns. Stores that never commit a sidecar keep an
    * all-null kind column.
    */
  private val ManifestSchema = StructType(Seq(
    StructField("file", StringType), StructField("cell", LongType),
    StructField("kind", StringType)))

  /** The manifest, written driver-side ([[MetaIo.writeRows]], no Spark
    * job): its rows are already local O(#files) metadata.
    */
  private def writeManifest(spark: SparkSession, dir: String,
      rows: Seq[ManifestRow]): Unit =
    MetaIo.writeRows(spark.sparkContext.hadoopConfiguration,
      s"$dir/manifest", ManifestSchema,
      rows.map { case (f, c, k) => Row(f, c.map(Long.box).orNull, k.orNull) })

  /** A committed version's DATA manifest rows, driver-side
    * (metadata-scale: O(#files)). Empty when `v=N` has no manifest (never
    * published). Delete sidecar rows are excluded — use
    * [[readManifestFull]] where sidecars matter (pins, carries, the read
    * paths).
    */
  def readManifest(spark: SparkSession, base: String,
      version: Long): Seq[(String, Option[Long])] =
    dataRows(readManifestFull(spark, base, version))

  /** The data rows of a full manifest: (file, cell), sidecars excluded. */
  private def dataRows(full: Seq[ManifestRow]): Seq[(String, Option[Long])] =
    full.collect { case (f, c, k) if !k.contains("delete") => (f, c) }

  /** Every manifest row incl. its kind: (file, cell, kind), read
    * driver-side with plain file I/O (MetaIo) — no Spark job.
    */
  def readManifestFull(spark: SparkSession, base: String,
      version: Long): Seq[(String, Option[Long], Option[String])] =
    MetaIo.groups(spark.sparkContext.hadoopConfiguration,
        s"$base/v=$version/manifest")
      .map(g => (MetaIo.optString(g, "file").getOrElse(
        throw new IllegalStateException("manifest row without a file")),
        MetaIo.optLong(g, "cell"), MetaIo.optString(g, "kind")))

  /** Recursive *.parquet listing under `path` — the same driver-side
    * metadata walk as Layout.listFiles, descending into hive `pcell=`
    * dirs. Paths are FULLY QUALIFIED URIs (scheme + authority — what
    * fs.listStatus already returns): a persisted manifest row must
    * resolve against the filesystem it was written on, not whatever the
    * reading session's default FS happens to be — on an object store
    * (`s3a://bucket/...`) a scheme-stripped row loses the bucket.
    * Comparisons against `input_file_name()`-derived sets normalize BOTH
    * sides through `URI.getPath` at the comparison site, never in the
    * stored row.
    */
  private def listParquetFiles(spark: SparkSession,
      path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(d).toSeq.flatMap { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet"))
            Seq(fs.makeQualified(s.getPath).toString)
          else Seq.empty
        }
      walk(p)
    }
  }

  /** (file, cell) rows for a hive-partitioned codes dir: the cell comes
    * from the `pcell=` path segment each file sits under.
    */
  private def listCellFiles(spark: SparkSession,
      path: String): Seq[(String, Option[Long])] =
    listParquetFiles(spark, path).map { f =>
      val cell = f.split('/').reverse.collectFirst {
        case seg if seg.startsWith("pcell=") =>
          seg.stripPrefix("pcell=").toLong
      }
      (f, cell)
    }

  /** Guard every (re)publish of `version`: a LATER committed version's
    * manifest may pin files under `v=<version>/codes` (the sharing
    * contract), and a rewrite would silently destroy them — loadLatest's
    * scans would then throw FileNotFoundException mid-query with the
    * child still listed as committed. The SnapshotStore.commit
    * immutability discipline applied to the artifact store: repairing an
    * orphan or rewriting a LEAF version is fine; rewriting a shared
    * ancestor fails loudly (vacuum/retire the descendants first, or
    * publish a NEW version).
    */
  private def requireUnreferenced(spark: SparkSession, base: String,
      version: Long, listed: Seq[Long] = Nil): Unit = {
    val needle = s"/v=$version/"
    // only DESCENDANTS can pin this version's files: every derived
    // publish enforces version > fromVersion ([[derive]]) and a manifest
    // can only name files that exist at publish time, so sharing points
    // strictly backward — the sweep is O(descendants·F), not O(V·F)
    val vs = if (listed.nonEmpty) listed else versions(spark, base)
    val pinnedBy = vs.filter(_ > version).filter(v =>
      readManifestFull(spark, base, v).exists(_._1.contains(needle)))
    require(pinnedBy.isEmpty,
      s"cannot rewrite v=$version: committed version(s) " +
        s"${pinnedBy.mkString(",")} manifest-share its files — " +
        "vacuum them first or publish a new version")
  }

  /** Published (= COMMITTED) versions under `base`, ascending — a
    * metadata-scale directory listing, never a data read. Only v=N
    * directories whose `meta/_SUCCESS` commit marker exists count
    * (save() writes meta last); half-written publishes and stray
    * non-numeric `v=` names are invisible rather than a crash.
    */
  def versions(spark: SparkSession, base: String): Seq[Long] =
    log.versions(spark.sparkContext.hadoopConfiguration, base)

  /** Version `version` as served: the codebook and centroids read
    * driver-side (no scan job per load, and the centroid broadcast builds
    * from driver rows), the codes through the version's MANIFEST only
    * (files may live under earlier versions' dirs — the sharing
    * contract), with pending sidecars' keys hidden: every load serves
    * the LOGICAL index, never the raw files.
    */
  def load(spark: SparkSession, base: String, version: Long): Loaded = {
    val dir = s"$base/v=$version"
    val meta = metaRow(spark, base, version) // driver-side, no Spark job
    val cb = readCodebook(spark, dir, meta)
    val centroids = MetaIo.readTable(spark, s"$dir/centroids")
    val c = new Codes(spark, readManifestFull(spark, base, version))
    require(c.data.nonEmpty,
      s"v=$version under $base has no manifest rows pinning code files " +
        "— a version is read only through its manifest")
    Loaded(metaNum(meta, "version"), metaNum(meta, "dim").toInt,
      centroids, cb, c.read(c.data.map(_._1)),
      MetaIo.optLong(meta, "source_version"),
      MetaIo.optString(meta, "corpus_base"),
      MetaIo.optLong(meta, "corpus_version"))
  }

  /** Manifest-level FILE PRUNING for the probed path — the Iceberg
    * scan-planning shape: a manifest-resolved codes read is an
    * explicit-path scan, so Spark's hive partition discovery cannot
    * prune `pcell=` directories for it; pruning belongs where a table
    * format does it — in the MANIFEST. Resolve only the probed cells'
    * files (driver-side metadata filter over O(#files) rows) and scan
    * exactly those: at 100 TB an nProbe-cell query touches nProbe
    * files' worth of bytes regardless of corpus size. A probed ADC read
    * never ranks a forgotten vector: pending sidecars apply here too.
    * Fails loudly when no probed cell has a file — an empty scan cannot
    * carry a schema; the caller short-circuits on empty probe sets.
    */
  def codesForCells(spark: SparkSession, base: String, version: Long,
      cells: Seq[Long]): DataFrame = {
    val c = new Codes(spark, readManifestFull(spark, base, version))
    require(c.data.nonEmpty, s"v=$version has no manifest — cell pruning " +
      "needs saveClustered/publishIncremental ancestry")
    require(c.data.forall(_._2.isDefined),
      s"v=$version manifest carries cell-less files — not cell-clustered")
    val files = c.filesOf(cells)
    require(files.nonEmpty,
      s"none of cells $cells have files in v=$version")
    c.read(files)
  }

  /** The serving tier's default dereference: the highest published
    * version — writing v=N+1 then serving loadLatest IS the durable hot
    * swap (in-flight readers keep the version they loaded).
    */
  def loadLatest(spark: SparkSession, base: String): Loaded = {
    val vs = versions(spark, base)
    require(vs.nonEmpty, s"no index versions published under $base")
    load(spark, base, vs.last)
  }

  /** Phase 1 of the TWO-PHASE drop — the grace contract real table
    * formats give pinned readers: RETIRE every
    * version except the newest `keepLatest` by deleting only its meta
    * commit record. The version disappears from [[versions]]/
    * [[loadLatest]] immediately — no NEW reader can dereference it —
    * but its data files and manifest stay on disk, so an IN-FLIGHT
    * reader holding a [[Loaded]] keeps serving to completion instead of
    * failing mid-query. Phase 2 ([[purgeRetired]]) reclaims the bytes
    * after the deployment's grace window. A one-shot [[vacuum]] remains
    * the no-grace form.
    */
  def retire(spark: SparkSession, base: String,
      keepLatest: Int): Seq[Long] = {
    require(keepLatest >= 1, "retire must keep at least one version")
    val vs = versions(spark, base)
    val drop = vs.dropRight(keepLatest)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach(v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$base/v=$v/meta"), true))
    drop
  }

  /** Phase 2: reclaim every RETIRED (or crash-orphaned) version's
    * storage — v= directories without a meta commit record — keeping
    * any code file a still-committed version's manifest pins (the
    * [[vacuum]] anti-join). Call after the grace window; in-flight
    * readers of a purged version fail loudly from here on, the
    * documented end of the contract.
    */
  def purgeRetired(spark: SparkSession, base: String,
      stageGraceMs: Long = 3600000L): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(conf)
    // the claim deletes the skinny tables and reports the version's
    // shareable remains — code files AND delete sidecars, either of which
    // a descendant's manifest may pin — as they stood at claim time; a
    // later re-publish of the id writes fresh uuid-named part files the
    // reported list cannot touch
    val (claimed, deleted) = log.purge(conf, base, stageGraceMs) { d =>
      val remains = listParquetFiles(spark, s"$d/codes") ++
        listParquetFiles(spark, s"$d/deletes")
      Seq("manifest", "codebook", "centroids").foreach(t =>
        fs.delete(new org.apache.hadoop.fs.Path(d, t), true))
      remains
    }(v => readManifestFull(spark, base, v).map(_._1))
    val gone = deleted.toSet
    claimed.flatMap { case (d, remains) =>
      CommitLog.versionOf(d).map { v =>
        // a version none of whose files is still pinned goes entirely —
        // unless a committer re-claimed the id since
        if (remains.forall(gone)) log.locked(base, v) {
          if (!log.isCommitted(conf, base, v)) fs.delete(d, true)
        }
        v
      }
    }
  }

  /** Retention on the index artifact itself: drop every published
    * version except the newest `keepLatest`, returning what was removed.
    * Refuses to remove everything — a serving tier must always have a
    * version to dereference. A dropped version's code files SURVIVE
    * while any retained version's manifest pins them (file sharing
    * demands it: an incremental v=N+1 keeps reading the v=N files it
    * shares after v=N itself is vacuumed). Pinned consumers of a dropped
    * version fail loudly at load (missing meta), the same contract as a
    * vacuumed snapshot. Anchor: "defined and ENFORCED data retention and
    * deletion schedules" (`factors/requirements.yaml:197-199`) applied
    * to the artifact store.
    *
    * The no-grace form IS the two-phase drop run back to back —
    * [[retire]] decommits atomically, then [[purgeRetired]] reclaims
    * every decommitted or orphaned version's unshared files — so there
    * is one retention body, and the immediate and grace-windowed forms
    * can never disagree on which files a retained version still pins.
    */
  def vacuum(spark: SparkSession, base: String,
      keepLatest: Int): Seq[Long] = {
    val drop = retire(spark, base, keepLatest)
    purgeRetired(spark, base)
    drop
  }
}
