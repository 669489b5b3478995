package graft.substrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.substrate.VectorOps._

/** Deterministic multi-probe bucketed-random-projection LSH (euclidean
  * metric) — the third similarity-search path (alongside CosineSignLsh's
  * sign buckets and IvfIndex's Voronoi cells), and the in-house
  * replacement for MLlib's `BucketedRandomProjectionLSH` behind check #19
  * (reference `factors/requirements.yaml:82-84`): no fitted-model
  * artifact to version on the serving path, no engine-private RNG —
  * table t's projection is the same centered integer-hash plane family as
  * CosineSignLsh (offset by [[TableOffset]] so the two families are
  * independent), so every engine reproduces the buckets bit-for-bit and
  * the recall check gets a real DuckDB oracle (Datar et al.'s p-stable
  * scheme with a deterministic direction family).
  *
  * h_t(v) = floor(dot(v, w_t) / bucketLength). A query probes its own
  * bucket ± `probe` per table (standard multi-probe LSH): recall of a
  * single-projection table comes from widening the probe WINDOW, not the
  * buckets, so the candidate step stays a (table, bucket) equi-join —
  * the query side fans out 2·probe+1 rows, the corpus side shuffles once
  * on the bucket key. bucketLength is the recall/cost knob: distance
  * resolution is ~bucketLength per table, probe window covers
  * (2·probe+1)·bucketLength.
  *
  * Scale shape at 100 TB: bucket keys are one codegen'd map-side pass
  * (nTables dot products per row, no shuffle) plus, on the default AUTO
  * path, one O(n) spread agg; the index artifact is the (id, table,
  * bucket) table, appendable per ingest batch like MinHashLsh.signatures
  * (at a PINNED width — auto widths re-derive on rebuild, not append);
  * candidates shuffle on (table, bucket) only. Since r5 the default
  * width is DERIVED from the corpus ([[autoBucketLengths]]: per-table
  * spread × occupancy / n), so bucket count grows with n and the
  * candidate rate FALLS as the corpus grows — a fixed width held it
  * constant (quadratic in the limit; SCALE.md's BRP candidate-rate
  * rows). The occupancy default is generous because check #19's corpus is
  * isotropic background (its top-10 sits barely closer than random) where
  * recall is bought only with candidate volume; corpora with real
  * neighbor structure can run much tighter (see [[DefaultOccupancy]]).
  */
object BrpLsh {

  /** Plane-family offset vs CosineSignLsh (which uses p ∈ [0, nPlanes)):
    * table t projects along weight(t + TableOffset, ·) — disjoint for any
    * realistic plane count, so sign-LSH and BRP buckets are independent.
    */
  val TableOffset = 1000

  /** Index defaults, named so the check #19 oracle CTEs interpolate the
    * SAME values the Spark path runs — tuning a knob here cannot silently
    * desync the two engines.
    */
  val DefaultTables = 6
  val DefaultProbe = 1

  /** Target MEAN bucket occupancy of the AUTO bucketLength policy (the
    * default — the sign-LSH autoBandBits
    * precedent applied to the last fixed-width index default): per table,
    *
    *   L_t = (max_t − min_t) · occupancy / n
    *
    * over the corpus's projection dots, i.e. ~n/occupancy buckets per
    * table, so occupied-bucket count GROWS with n and the candidate rate
    * falls ~1/n instead of sitting constant the way a fixed value-space
    * width leaves it (SCALE.md r4: 45.3% → 44.6% at 1×→10× under
    * L=2e5). The spread (max−min) is collected per table in one map-side
    * agg pass — O(n) like the bucketing itself; at extreme scale the agg
    * is samplable, but then the oracle must sample identically, so the
    * default stays exact. 128 is generous on purpose: check #19's corpus
    * is isotropic background (its exact top-10 sits barely nearer than
    * random — see the class doc), where recall is bought only with
    * candidate volume — measured euclidean recall@10 vs occupancy on it:
    * 0.24 @ 16, 0.50 @ 32, 0.77 @ 64, 0.955 @ 128 (n=2000, sf0.1), so
    * 128 clears the 0.8 SLA with margin while the rate still falls ~1/n.
    * Corpora with real neighbor structure can drop to occupancy ~8-16
    * and keep recall. The probe window (±probe buckets, 2·probe+1 ×
    * occupancy candidates per table) is the second recall knob and stays
    * orthogonal.
    */
  val DefaultOccupancy = 128

  /** Auto-policy sentinel for `bucketLength` (same convention as
    * CosineSignLsh's bandBits = 0): any value ≤ 0 derives per-table
    * widths from the corpus via [[autoBucketLengths]].
    */
  val AutoBucketLength = 0.0

  def weight(t: Int, d: Int, dim: Int): Double =
    CosineSignLsh.weight(t + TableOffset, d, dim)

  def tables(nTables: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nTables).map(t => (0 until dim).map(d => weight(t, d, dim)))

  /** (id, tbl, dot) projection rows — the shared prefix of bucketing and
    * the auto-width derivation. All nTables dots compute in ONE projection
    * over ONE scan and unpivot via explode (a unionAll of per-table
    * projections would re-scan the source once per table).
    */
  def projections(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      nTables: Int): DataFrame = {
    val ws = tables(nTables, dim)
    val kvs = (0 until nTables).map(t => struct(
      lit(t).as("tbl"),
      VectorOps.dot(col(vecCol), typedLit(ws(t))).as("dot")))
    vecs.select(col(idCol), explode(array(kvs: _*)).as("kv"))
      .select(col(idCol), col("kv.tbl").as("tbl"), col("kv.dot").as("dot"))
  }

  /** Per-table auto bucket widths from the corpus projections:
    * L_t = (max_t − min_t) · occupancy / n (1.0 when the spread is
    * degenerate — everything lands in one bucket either way). One
    * aggregation action collecting nTables rows — a bounded driver
    * collect. The SAME arithmetic, in the same operation order, is
    * mirrored by check #19's oracle CTEs (VectorTier.brpRecallCtes), so
    * the widths — and therefore the buckets — are engine-identical.
    */
  def autoBucketLengths(corpusDots: DataFrame, nTables: Int,
      occupancy: Int = DefaultOccupancy): Seq[Double] =
    // memoized per dots-plan: the spread agg is the only eager action on
    // the auto path, and it re-runs for every serial bench repeat and
    // every check sharing the corpus
    DerivationCache.memo(corpusDots, s"brp-lengths-$nTables-$occupancy") {
      autoBucketLengthsUncached(corpusDots, nTables, occupancy)
    }

  private def autoBucketLengthsUncached(corpusDots: DataFrame, nTables: Int,
      occupancy: Int): Seq[Double] = {
    val rows = corpusDots.groupBy("tbl")
      .agg(max("dot").as("mx"), min("dot").as("mn"), count(lit(1)).as("n"))
      .collect()
    require(rows.length == nTables,
      s"expected $nTables projection tables, saw ${rows.length}")
    val arr = new Array[Double](nTables)
    rows.foreach { r =>
      val (mx, mn, n) = (r.getAs[Double]("mx"), r.getAs[Double]("mn"),
        r.getAs[Long]("n"))
      arr(r.getAs[Int]("tbl")) = if (mx == mn) 1.0 else (mx - mn) * occupancy / n
    }
    arr.toSeq
  }

  /** (id, tbl, bucket) index rows from precomputed projections, one width
    * per table: bucket = floor(dot / L_tbl).
    */
  def bucketKeysFromDots(dots: DataFrame, idCol: String,
      lengths: Seq[Double]): DataFrame =
    dots.select(col(idCol), col("tbl"),
      floor(col("dot") / element_at(typedLit(lengths), col("tbl") + 1))
        .cast("long").as("bucket"))

  /** (id, tbl, bucket) index rows — the stored BRP index artifact — at a
    * single FIXED bucket width (knob studies, tests; the production
    * default path in [[topK]] derives per-table widths instead).
    */
  def bucketKeys(vecs: DataFrame, idCol: String, vecCol: String, dim: Int,
      nTables: Int, bucketLength: Double): DataFrame =
    bucketKeysFromDots(projections(vecs, idCol, vecCol, dim, nTables),
      idCol, Seq.fill(nTables)(bucketLength))

  /** Approximate euclidean top-k per query via the multi-probe bucket
    * join: candidates share a bucket within ± probe in ANY table; exact
    * squared distance reranks candidates only.
    *
    * @param e       (vec_id, v) collection
    * @param queries (qid, qv) query set
    * @param bucketLength ≤ 0 (default) → per-table auto widths targeting
    *        `occupancy` mean rows per bucket ([[autoBucketLengths]]);
    *        explicit > 0 pins a fixed width for every table.
    * @return (qid, rank, cid), rank 1..k by exact distance.
    */
  def topK(e: DataFrame, queries: DataFrame, dim: Int, k: Int,
      nTables: Int = DefaultTables,
      bucketLength: Double = AutoBucketLength,
      probe: Int = DefaultProbe,
      occupancy: Int = DefaultOccupancy): DataFrame = {
    val corpusDots = projections(e, "vec_id", "v", dim, nTables)
    // auto path: ONE extra O(n) aggregation job over the corpus dots (a
    // map-side agg collecting nTables rows); the bucketing scan below
    // recomputes the dots — projections are stateless codegen'd map work,
    // cheaper to redo than to hold a corpus-sized cache across the
    // caller's (lazy) final action
    val lengths =
      if (bucketLength > 0) Seq.fill(nTables)(bucketLength)
      else autoBucketLengths(corpusDots, nTables, occupancy)
    val corpusBuckets = bucketKeysFromDots(corpusDots, "vec_id", lengths)
    val qBuckets = bucketKeysFromDots(
      projections(queries.select(col("qid").as("vec_id"), col("qv").as("v")),
        "vec_id", "v", dim, nTables), "vec_id", lengths)
      .select(col("vec_id").as("qid"), col("tbl"),
        explode(sequence(col("bucket") - probe, col("bucket") + probe))
          .as("bucket"))
    val cand = qBuckets
      .join(corpusBuckets.select(col("vec_id").as("cid"), col("tbl"),
        col("bucket")), Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val wk = Window.partitionBy("qid").orderBy(col("d2").asc, col("cid"))
    cand
      .join(queries.select(col("qid"), col("qv")), Seq("qid"))
      .join(e.select(col("vec_id").as("cid"), col("v")), Seq("cid"))
      .select(col("qid"), col("cid"), sqDist(col("qv"), col("v")).as("d2"))
      .withColumn("rank", row_number().over(wk).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid")
  }
}
