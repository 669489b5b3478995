package graft.substrate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded MinHash LSH near-duplicate detection in pure DataFrame algebra
  * (shingle → minhash signature → band → bucket-join → exact-verify), the
  * V-SMART-Join-lineage scale path (PAPERS.md): candidate generation is
  * sub-quadratic — only docs agreeing on an entire band of minhashes meet,
  * and the exact Jaccard verification runs on candidates only.
  *
  * Deterministic: permutation p's hash is xxhash64(shingle, p) with Spark's
  * fixed xxhash64 seed; no fitted model, no randomness.
  *
  * Cost shape at 100 TB: one shuffle to group shingles per doc (signature
  * agg), one shuffle per band-bucket join keyed on (band, bucket) — skew
  * capped because a bucket only collects docs with identical band
  * signatures — and a candidate-sized verify join. Never all-pairs.
  *
  * With bandRows=2, numPerms=12 (6 bands): P(candidate | J=0.5) = 0.82,
  * P(candidate | J=0.2) = 0.21 — the standard S-curve for a 0.5 threshold.
  */
object MinHashLsh {

  /** @param shingles (doc_id, shingle) rows, distinct per doc.
    * @return (a, b, jaccard) near-dup pairs with exact Jaccard ≥ threshold.
    *
    * Caching contract: the operator is EAGER — it materializes the (small,
    * candidate-bounded) pair set via localCheckpoint and releases its
    * intermediate caches before returning, so library callers don't
    * accumulate cached shingle/signature blocks (they'd otherwise only be
    * freed by an explicit clearCache()).
    */
  /** Permutation hash: default xxhash64 (codegen'd, the fast scale path);
    * swap in `portableHash` when the signature must be reproducible in
    * engines without xxhash64 (the DuckDB oracle).
    */
  val defaultHash: (Column, Int) => Column = (c, p) => xxhash64(c, lit(p))

  /** md5-based permutation hash — string min, byte-identical cross-engine
    * (`md5(shingle || ':' || perm)`), ~2-3x slower than xxhash64.
    */
  val portableHash: (Column, Int) => Column =
    (c, p) => md5(concat(c, lit(":" + p)).cast("binary"))

  val defaultBandKey: Seq[Column] => Column = cols => hash(cols: _*)

  /** Cross-engine band key: md5 of the '|'-joined band signature. */
  val portableBandKey: Seq[Column] => Column =
    cols => md5(concat_ws("|", cols: _*).cast("binary"))

  def nearDupPairs(shingles: DataFrame, numPerms: Int = 12, bandRows: Int = 2,
      threshold: Double = 0.5,
      hashFn: (Column, Int) => Column = defaultHash,
      bandKeyFn: Seq[Column] => Column = defaultBandKey): DataFrame = {
    require(numPerms % bandRows == 0, "bands must tile the signature")
    // The shingle set feeds four consumers (signatures+sizes, two sides of
    // the verify join). Shingling is an expensive interpreted HOF pass over
    // the corpus — persist so it's computed ONCE per action, not 4x
    // (measured 5x end-to-end on the sweep bench). Persist only if the
    // caller hasn't already (so we never unpersist a cache we don't own).
    val weOwnCache = shingles.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val sh = if (weOwnCache) shingles.persist() else shingles

    // one aggregation pass: the minhashes + the set size together
    val sigs = signatures(sh, numPerms, hashFn).persist()
    val banded = bandedKeys(sigs, numPerms, bandRows, bandKeyFn)

    val candidates = banded.select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()

    // exact Jaccard, candidates only
    val inter = candidates
      .join(sh.select(col("doc_id").as("a"), col("shingle")), Seq("a"))
      .join(sh.select(col("doc_id").as("b2"), col("shingle").as("sh2")),
        col("b") === col("b2") && col("shingle") === col("sh2"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val pairs = candidates.join(inter, Seq("a", "b"), "left")
      .join(sigs.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sigs.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true) // eager: compute pairs, then free the caches
    if (weOwnCache) sh.unpersist(false)
    sigs.unpersist(false)
    pairs
  }

  /** (doc_id, m0..m{numPerms-1}, n) signature table — at 100 TB this IS
    * the stored index artifact: computed once per corpus, appended to per
    * ingest batch, never rebuilt.
    */
  def signatures(shingles: DataFrame, numPerms: Int,
      hashFn: (Column, Int) => Column = defaultHash): DataFrame = {
    val sigCols = (0 until numPerms)
      .map(p => min(hashFn(col("shingle"), p)).as(s"m$p")) :+
      count(lit(1)).as("n")
    shingles.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** (doc_id, band, bkey) bucket rows from a signature table. */
  def bandedKeys(sigs: DataFrame, numPerms: Int, bandRows: Int,
      bandKeyFn: Seq[Column] => Column = defaultBandKey): DataFrame = {
    require(numPerms % bandRows == 0, "bands must tile the signature")
    (0 until numPerms / bandRows).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows).map(i => col(s"m$i"))
      sigs.select(col("doc_id"), lit(b).as("band"), bandKeyFn(cols).as("bkey"))
    }.reduce(_ unionAll _)
  }

  /** INCREMENTAL near-dup: match a DELTA batch against an existing corpus
    * without comparing the corpus to itself — the nightly-ingest shape at
    * 100 TB, where the corpus side's signatures/bands are a precomputed
    * stored index and only the delta is hashed fresh. Candidates come from
    * the (band, bkey) equi-join of delta bands against corpus bands;
    * verification computes exact Jaccard on candidate pairs only.
    *
    * @param deltaShingles  (doc_id, shingle) for the new batch
    * @param corpusShingles (doc_id, shingle) for the indexed corpus
    * @param includeSameId whether a doc_id present in BOTH sets may match
    *        itself. Default false: a same-id re-ingest of UNCHANGED
    *        content would otherwise report every re-ingested doc as its
    *        own near-dup. But this is a caller CHOICE, not intra-set
    *        self-pair discipline: pass true when the delta
    *        carries re-ingests of possibly-CHANGED content under stable
    *        ids — there the same-id pair (with its Jaccard < 1) IS the
    *        content-drift signal.
    * @return (a = delta doc, b = corpus doc, jaccard ≥ threshold).
    */
  def nearDupPairsAgainst(deltaShingles: DataFrame, corpusShingles: DataFrame,
      numPerms: Int = 12, bandRows: Int = 2, threshold: Double = 0.5,
      hashFn: (Column, Int) => Column = defaultHash,
      bandKeyFn: Seq[Column] => Column = defaultBandKey,
      includeSameId: Boolean = false): DataFrame = {
    val cOwn = corpusShingles.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val csh = if (cOwn) corpusShingles.persist() else corpusShingles
    val csigs = signatures(csh, numPerms, hashFn).persist()
    val pairs = nearDupPairsAgainstIndex(deltaShingles, csigs, csh,
      numPerms, bandRows, threshold, hashFn, bandKeyFn, includeSameId)
    csigs.unpersist(false)
    if (cOwn) csh.unpersist(false)
    pairs
  }

  /** Right-to-be-forgotten on the STORED dedup index — the third serving
    * artifact family to get a delete path (after the inverted index's
    * postings and the PQ code table): drop the deleted docs' signature
    * rows and shingle rows with one broadcast anti-join each (the
    * vector_index_delete geometry — O(deleted) state touched, never a
    * rebuild). Without this, a doc removed for consent/retention keeps
    * matching future ingests against its RETAINED signatures — exactly
    * the "deleted but still influencing AI processing" hazard the
    * reference names for derived representations
    * (`factors/5-compliant.md:9`, `factors/requirements.yaml:197-199`).
    * Band rows need no separate treatment here: [[bandedKeys]] derives
    * them from the signature table per batch, so dropping the signature
    * row forgets every band; a deployment that MATERIALIZES band rows
    * applies the same anti-join to that table.
    *
    * @param deleted one `doc_id` column naming the forget batch (bounded
    *        — a governance batch, broadcast to both anti-joins).
    * @return (signatures, shingles) with the deleted docs forgotten.
    */
  def deleteDocs(sigs: DataFrame, shingles: DataFrame,
      deleted: DataFrame): (DataFrame, DataFrame) = {
    val ids = deleted.select("doc_id")
    (sigs.join(broadcast(ids), Seq("doc_id"), "left_anti"),
      shingles.join(broadcast(ids), Seq("doc_id"), "left_anti"))
  }

  /** Delta-vs-STORED-INDEX near-dup: [[nearDupPairsAgainst]] with the
    * corpus side's signatures supplied as a PRECOMPUTED artifact (the
    * appended signature table a streaming ingester maintains — see
    * [[signatures]]' scaladoc: at 100 TB that table IS the index, computed
    * once and appended to per batch, never rebuilt). Only the delta is
    * hashed fresh; the corpus SHINGLE store is touched solely by the
    * candidate-bounded exact-Jaccard verify join (at scale, a point
    * lookup into the stored shingle table pruned by the candidate set),
    * so per-batch cost is O(delta + candidates), independent of corpus
    * size outside the one (band, bkey) equi-join against the index.
    *
    * @param corpusSigs (doc_id, m0..m{numPerms-1}, n) stored signature
    *        rows, hashed with the SAME hashFn as the delta.
    */
  def nearDupPairsAgainstIndex(deltaShingles: DataFrame,
      corpusSigs: DataFrame, corpusShingles: DataFrame,
      numPerms: Int = 12, bandRows: Int = 2, threshold: Double = 0.5,
      hashFn: (Column, Int) => Column = defaultHash,
      bandKeyFn: Seq[Column] => Column = defaultBandKey,
      includeSameId: Boolean = false): DataFrame = {
    val dOwn = deltaShingles.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE
    val dsh = if (dOwn) deltaShingles.persist() else deltaShingles
    val dsigs = signatures(dsh, numPerms, hashFn).persist()
    val candidates = bandedKeys(dsigs, numPerms, bandRows, bandKeyFn)
      .select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(bandedKeys(corpusSigs, numPerms, bandRows, bandKeyFn)
        .select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
      .filter(if (includeSameId) lit(true) else col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = candidates
      .join(dsh.select(col("doc_id").as("a"), col("shingle")), Seq("a"))
      .join(corpusShingles.select(col("doc_id").as("b2"),
          col("shingle").as("sh2")),
        col("b") === col("b2") && col("shingle") === col("sh2"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val pairs = candidates.join(inter, Seq("a", "b"), "left")
      .join(dsigs.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(corpusSigs.select(col("doc_id").as("b"), col("n").as("nb")),
        Seq("b"))
      .select(col("a"), col("b"),
        (coalesce(col("inter"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("inter"), lit(0L)))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    dsigs.unpersist(false)
    if (dOwn) dsh.unpersist(false)
    pairs
  }
}
