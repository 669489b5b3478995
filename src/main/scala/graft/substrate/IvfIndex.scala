package graft.substrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.substrate.VectorOps._

/** IVF-flat approximate nearest neighbour — the second scale path for
  * similarity search (alongside LSH): partition the collection into
  * Voronoi cells around sampled centroids, search only the `nProbe`
  * closest cells per query.
  *
  * Centroids are a deterministic id-sample of the collection itself
  * (IVF quality comes from cell balance, not centroid optimality; a
  * seeded sample avoids k-means iterations and keeps the whole pipeline
  * reproducible and declarative).
  *
  * Scale shape: assignment is |N|×|C| dot-products with the native
  * codegen'd expression and the centroid set broadcast (no shuffle of the
  * collection); the probe join hits only nProbe/|C| of the data per query.
  * The cell-assigned table is the "index artifact" — at 100 TB it would be
  * written back partitioned BY cell so a probe prunes to nProbe partitions.
  */
object IvfIndex {

  private[substrate] def centroids(e: DataFrame, centroidMod: Int): DataFrame =
    e.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))

  /** Flat argmin of `targets` against an explicit centroid table — the
    * shared tail of [[assign]] and [[assignRouted]]'s fallback residue.
    */
  private def assignTo(targets: DataFrame, cents: DataFrame): DataFrame =
    targets.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cent_id"),
        sqDist(col("v"), col("cv")).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("cell"))

  /** Assign every vector (vec_id, v) to its nearest centroid cell.
    * Argmin via `min_by` over a (d2, cent_id) struct, NOT a window rank:
    * the broadcast cross join leaves each vector's |C| candidate rows in
    * one partition, so partial aggregation collapses them map-side and the
    * exchange moves N rows — a rank window would shuffle all N×|C| rows.
    *
    * SCALE WARNING: |C| = n/centroidMod grows with the corpus, so this is
    * O(n²/centroidMod) distance evaluations — the explicitly-named WITNESS
    * shape (`dedup_semantic_flat`). Production paths route through
    * [[assignAuto]] (derived two-level codebook, O(n·√|C|)) or
    * [[assignRouted]] (occupancy-targeted LSH routing, O(n) — per-vector
    * work flat in the corpus size).
    */
  def assign(e: DataFrame, centroidMod: Int): DataFrame =
    assignTo(e, centroids(e, centroidMod))

  /** Coarse-codebook budget derived from the corpus (the
    * autoBandBits/autoBucketLengths precedent applied to the last
    * fixed-knob index default): [[assignHier]]'s per-vector probe work is
    * |C|/coarseFactor + nProbeCoarse·coarseFactor comparisons; √|C| is
    * within a constant factor (≤ √nProbeCoarse ≈ 2 at the default) of the
    * true minimizer √(|C|/nProbeCoarse) and keeps the budget a function of
    * the corpus ALONE, so tuning the probe knob cannot silently re-derive
    * a different codebook. Either way the work is O(√|C|) per vector —
    * the point is deriving it from ONE centroid count instead of leaving a
    * fixed constant (r5's coarseFactor = 8) that divides the constant, not
    * the exponent. The SAME arithmetic — round-half-up on an IEEE sqrt,
    * both engine-exact — is mirrored by the oracle CTEs
    * ([[autoCoarseFactorSql]]), so a corpus growth re-derives the
    * identical budget in both engines.
    */
  def autoCoarseFactor(nCentroids: Long): Int =
    math.max(2L, math.round(math.sqrt(nCentroids.toDouble))).toInt

  /** [[autoCoarseFactor]] as SQL over a centroid count column `nc` —
    * GREATEST(2, round(sqrt(nc))): DuckDB's round (half away from zero)
    * equals Scala's math.round (floor(x+0.5)) for the positive values a
    * count produces, and IEEE sqrt is correctly rounded in any engine.
    */
  val autoCoarseFactorSql: String =
    "GREATEST(2, CAST(round(sqrt(CAST(nc AS DOUBLE))) AS BIGINT))"

  /** [[assignHier]] with the coarse budget DERIVED from the corpus — the
    * default two-level path: one centroid count, coarseFactor = √|C|
    * ([[autoCoarseFactor]]), then the standard coarse→fine route. Total
    * assignment work is O(n·√|C|) distance evaluations instead of flat's
    * O(n·|C|); the broadcast codebooks are |C| and √|C| rows. For
    * per-vector work FLAT in n, see [[assignRouted]].
    */
  def assignAuto(e: DataFrame, centroidMod: Int,
      nProbeCoarse: Int = 4): DataFrame = {
    // centroid COUNT is the only eager action on this path; memoized per
    // corpus plan so repeated builds (bench serial runs, checks sharing a
    // corpus) don't re-schedule the job under the FAIR pool, where eager
    // knob derivations queue behind the whole suite
    val nCents = DerivationCache.memo(e, s"ivf-ncents-$centroidMod") {
      e.filter(col("vec_id") % centroidMod === 0).count()
    }
    assignHier(e, centroidMod, autoCoarseFactor(nCents), nProbeCoarse)
  }

  /** Coarse→fine two-level assignment — the 100 TB path for [[assign]].
    *
    * Flat assignment is |N|×|C| distance evaluations; with cell occupancy
    * held constant (|C| = n/centroidMod) that term is O(n²/centroidMod) —
    * a quadratic hiding inside the otherwise-linear cluster-scoped dedup.
    * Routing through a coarse codebook (every coarseFactor-th fine
    * centroid, |C|/coarseFactor cells) first cuts the per-vector work to
    * |C|/coarseFactor + nProbeCoarse·coarseFactor comparisons — minimized
    * at coarseFactor ≈ sqrt(|C|), the classic IVF-on-centroids shape.
    *
    * Probe discipline: each vector routes to its nProbeCoarse nearest
    * coarse cells, then exact-assigns among the fine centroids routed to
    * those cells. Coarse centroids are a SUBSET of fine centroids (the
    * coarse mod is a multiple of the fine mod), so every probed cell
    * holds at least its own centroid and assignment is total. A vector
    * whose true nearest fine centroid routed to an unprobed coarse cell
    * gets its best PROBED fine centroid instead — the documented
    * approximation (SemanticDedupSpec measures the agreement rate, and
    * nProbeCoarse ≥ |coarse| makes the result identical to [[assign]]).
    *
    * Shuffle shape: both codebooks broadcast; the top-w coarse probe is a
    * collect_list + array_sort per vector (the cross-join rows stay in
    * the producing partition, so partial aggregation collapses them
    * map-side and the exchange moves N rows — same discipline as
    * [[assign]]'s min_by).
    */
  def assignHier(e: DataFrame, centroidMod: Int, coarseFactor: Int,
      nProbeCoarse: Int): DataFrame =
    assignHierTo(e, e, centroidMod, coarseFactor, nProbeCoarse)

  /** [[assignHier]] with the codebook derived from a SEPARATE source —
    * the frozen-codebook form: fine/coarse centroids are sampled from
    * `centSrc`, and only `targets` are routed and assigned. Shared tail
    * of [[assignHier]] (centSrc = targets) and [[assignDeltaAuto]]
    * (centSrc = the already-indexed base).
    */
  private def assignHierTo(targets: DataFrame, centSrc: DataFrame,
      centroidMod: Int, coarseFactor: Int, nProbeCoarse: Int): DataFrame = {
    val e = targets
    val fine = centroids(centSrc, centroidMod)
    val coarse = centSrc
      .filter(col("vec_id") % (centroidMod * coarseFactor) === 0)
      .select(col("vec_id").as("co_id"), col("v").as("cov"))
    val routed = fine.crossJoin(broadcast(coarse))
      .select(col("cent_id"), col("cv"), col("co_id"),
        sqDist(col("cv"), col("cov")).as("d2"))
      .groupBy("cent_id")
      .agg(min_by(col("co_id"), struct(col("d2"), col("co_id"))).as("co_id"),
        first(col("cv")).as("cv"))
    val probes = e.crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("v"),
        struct(sqDist(col("v"), col("cov")).as("d2"), col("co_id")).as("sc"))
      .groupBy("vec_id")
      .agg(slice(array_sort(collect_list(col("sc"))), 1, nProbeCoarse).as("top"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), explode(col("top.co_id")).as("co_id"))
    probes.join(broadcast(routed), Seq("co_id"))
      .select(col("vec_id"), col("v"), col("cent_id"),
        sqDist(col("v"), col("cv")).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("cell"))
  }

  /** Incremental ingest under a FROZEN codebook — the vector-index twin
    * of MinHash's delta-vs-index dedup and the inverted index's
    * mergeDelta: new vectors are assigned against the centroids of the
    * ALREADY-INDEXED base (both levels of the two-level route derive
    * from `base`, never from the delta), so ingest work is
    * O(|delta|·√|C|) and the stored assignment is append-only —
    * `stored ∪ assignDeltaAuto(delta, base)` ≡ a full frozen-codebook
    * assignment of base ∪ delta (the `ann_ivf_incremental` oracle pins
    * exactly this equivalence cross-engine). The production contract:
    * codebooks refresh on an explicit re-cluster (which re-lays-out the
    * cell-partitioned table), NOT per ingest — re-deriving centroids
    * from base ∪ delta on every batch would silently move cell
    * boundaries under the stored codes.
    */
  def assignDeltaAuto(delta: DataFrame, base: DataFrame, centroidMod: Int,
      nProbeCoarse: Int = 4): DataFrame = {
    val nCents = DerivationCache.memo(base, s"ivf-ncents-$centroidMod") {
      base.filter(col("vec_id") % centroidMod === 0).count()
    }
    assignHierTo(delta, base, centroidMod, autoCoarseFactor(nCents),
      nProbeCoarse)
  }

  /** Routing defaults for [[assignRouted]], named so oracle CTEs
    * interpolate the same values the Spark path runs.
    */
  val RoutedTables = 4
  val RoutedOccupancy = 64
  val RoutedProbe = 1

  /** LSH-ROUTED assignment — the 100 TB path where even the two-level
    * route's O(√|C|) per-vector probe work matters: route each vector to
    * candidate centroids through the occupancy-targeted BRP buckets
    * (substrate.BrpLsh, auto per-table widths), so per-vector work is
    * bounded by bucket occupancy — a corpus-derived CONSTANT — not by the
    * codebook size. Expected candidates per vector ≈
    * nTables · (2·probe+1) · occupancy / centroidMod, independent of n:
    * per-vector assignment work is FLAT as the corpus grows (measured
    * across three decades in SCALE.md §IVF), where flat assignment grows
    * ~n and the two-level route ~√n. Registered as `dedup_semantic_routed`
    * (oracled — the DuckDB mirror re-derives the buckets, the candidate
    * join, and the miss-set fallback via an anti-join); the planted
    * co-routing and fallback totality are pinned in IvfSpec.
    *
    * Mechanics: ONE projection pass buckets the corpus (nTables codegen'd
    * dots per row, map-side); centroid buckets are a FILTER of the corpus
    * buckets (centroids are corpus members, so their dots are the same
    * doubles — no re-hash drift), fanned out ±probe on the small side;
    * candidates come from the (tbl, bucket) equi-join; exact argmin runs
    * over candidates only (min_by, map-side partials — [[assignTo]]'s
    * discipline). Vectors whose buckets caught NO centroid (rare by
    * occupancy targeting, deterministic) fall back to a flat argmin over
    * the full codebook — bounded by the miss rate, and the miss SET is
    * reproduced exactly by the oracle's anti-join.
    *
    * Approximation contract: like [[assignHier]], a vector may assign to
    * its best ROUTED centroid rather than the true argmin (deterministic,
    * not fuzzy — both engines agree on every decision). Near-identical
    * vectors see near-identical dots, so duplicates co-route (pinned in
    * IvfSpec); the remaining cell-boundary recall loss is SemDeDup's
    * documented approximation.
    */
  def assignRouted(e: DataFrame, centroidMod: Int, dim: Int = 64,
      nTables: Int = RoutedTables, occupancy: Int = RoutedOccupancy,
      probe: Int = RoutedProbe): DataFrame = {
    val cents = centroids(e, centroidMod)
    val corpusDots = BrpLsh.projections(e, "vec_id", "v", dim, nTables)
    val lengths = BrpLsh.autoBucketLengths(corpusDots, nTables, occupancy)
    val vb = BrpLsh.bucketKeysFromDots(corpusDots, "vec_id", lengths)
    val cb = vb.join(cents.select(col("cent_id")),
        vb("vec_id") === col("cent_id"))
      .select(col("cent_id"), col("tbl"),
        explode(sequence(col("bucket") - probe, col("bucket") + probe))
          .as("bucket"))
    val cand = vb.join(cb, Seq("tbl", "bucket"))
      .select(col("vec_id"), col("cent_id")).distinct()
    val best = cand
      .join(e, Seq("vec_id"))
      .join(cents, Seq("cent_id"))
      .select(col("vec_id"), col("v"), col("cent_id"),
        sqDist(col("v"), col("cv")).as("d2"))
      .groupBy("vec_id")
      .agg(min_by(col("cent_id"), struct(col("d2"), col("cent_id"))).as("cell"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("cell"))
    val missed = e.join(cand.select("vec_id").distinct(), Seq("vec_id"),
      "left_anti")
    best.unionAll(assignTo(missed, cents))
  }

  /** Approximate top-k: probe the nProbe nearest cells per query, exact
    * distance inside the probed cells only. Assignment runs through the
    * derived two-level codebook ([[assignAuto]]), never
    * the flat witness.
    */
  def topK(e: DataFrame, queries: DataFrame, centroidMod: Int, k: Int,
      nProbe: Int): DataFrame =
    scanProbed(assignAuto(e, centroidMod), centroids(e, centroidMod),
      queries, k, nProbe)

  /** [[topK]] under a metadata predicate — filtered vector search, the
    * production ANN shape where results must satisfy a non-vector
    * constraint (language, license, date range). The index is built on
    * the FULL corpus (the stored artifact is predicate-agnostic — one
    * index serves every filter); `allowed` (a vec_id keep-list, i.e. the
    * predicate's semi-join side) lands on the CELL SCAN, after probe
    * pruning and before ranking, as a semi join Spark broadcasts when
    * the predicate is selective. At 100 TB the keep-list is a pushed-down
    * predicate on metadata columns stored inline in the cell-partitioned
    * code table — zero extra joins; the semi join here is the portable
    * form of the same plan position.
    *
    * Recall caveat (inherent to single-stage filtered ANN, not a defect):
    * under highly selective filters the probed cells may hold fewer than
    * k allowed candidates — production boosts nProbe as selectivity
    * drops. Deterministic here: same probe set as [[topK]], so a query's
    * result is exactly topK's output restricted to `allowed`, re-ranked.
    */
  def topKFiltered(e: DataFrame, queries: DataFrame, allowed: DataFrame,
      centroidMod: Int, k: Int, nProbe: Int): DataFrame =
    scanProbed(
      assignAuto(e, centroidMod)
        .join(allowed.select("vec_id"), Seq("vec_id"), "left_semi"),
      centroids(e, centroidMod), queries, k, nProbe)

  /** Shared probe + cell-scan tail of [[topK]] / [[topKFiltered]]:
    * nProbe nearest centroids per query (broadcast centroid table), then
    * exact distance inside the probed cells only.
    */
  private def scanProbed(indexed: DataFrame, cents: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy("qid").orderBy(col("qd2").asc, col("cent_id"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("qv"), col("cent_id"),
        sqDist(col("qv"), col("cv")).as("qd2"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cent_id").as("cell"))
    val wk = Window.partitionBy("qid").orderBy(col("d2").asc, col("cid"))
    probes.join(indexed, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        sqDist(col("qv"), col("v")).as("d2"))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid")
  }
}
