package graft.substrate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two corpus snapshots — the
  * check an AI-data pipeline runs BEFORE retraining: "is the corpus I'm
  * about to train on still distributed like the one the model was
  * validated on?" (reference `factors/3-current.md`'s freshness/change
  * factor is about VALUES being current; drift is the complementary
  * population-level question, and the standard production monitor).
  *
  * Both monitors are one linear scan per snapshot folding into a tiny
  * keyed state (vocab-sized / dim-sized) via map-side partial
  * aggregation — at 100 TB the shuffle moves O(vocab·partitions)
  * partial counts, never rows, and the final PSI/shift arithmetic runs
  * on the aggregate table alone. Deterministic end-to-end (counts are
  * integers; the smoothing and log arithmetic is mirrored in the
  * oracle SQL).
  *
  * PSI invariant: with a = n_cur + 1, b = n_ref + 1 per key and A = Σa,
  * B = Σb over the union vocabulary, p_cur = a/A and p_ref = b/B, so
  *   Σ contrib = Σ (a/A − b/B)·(ln(a/b) + ln(B/A))
  *             = Σ a·ln(a/b) / A − Σ b·ln(a/b) / B,
  * because Σ (a/A − b/B) = 0 cancels the ln(B/A) term. [[psiOfCounts]]
  * computes the right-hand side as one aggregate over a counts table;
  * the per-key monitors return the left-hand side's terms.
  */
object Drift {

  /** Engine-defined drift bars (the reference's `meta.yaml` thresholds
    * are absent — SURVEY §0 discipline; documented in THRESHOLDS.md).
    * PSI 0.25 is the standard industry banding (< 0.1 stable, 0.1-0.25
    * moderate, > 0.25 significant shift → act); the mean-shift bar is
    * absolute in the embedding coordinate space (testdata embeddings are
    * unit-interval-ish per dim, so 0.1 is ~10% of the coordinate range —
    * far above the O(1/√n) sampling noise of any corpus this engine
    * would monitor, and far below any real encoder/population change).
    * Consumed by the `distribution_currency` check and the
    * `index_refresh_decision` policy.
    */
  val PsiBar = 0.25
  val MeanShiftBar = 0.1

  /** Per-category Population Stability Index contributions between a
    * reference and a current snapshot of a categorical observation
    * stream (one row per observation, category in `keyCol`).
    * PSI = Σ_k (p_cur,k − p_ref,k) · ln(p_cur,k / p_ref,k) — the sum of
    * the `contrib` column; per-category rows are returned so the top
    * movers are inspectable (an aggregate-only PSI hides WHICH category
    * moved). Probabilities are Laplace-smoothed over the UNION
    * vocabulary (p = (n+1)/(total+|V|)) so a category present in only
    * one snapshot contributes a finite term instead of ±∞ — the
    * convention that keeps new-vocabulary drift measurable.
    * Output: (key, n_ref, n_cur, p_ref, p_cur, contrib).
    */
  def categoricalPsi(ref: DataFrame, cur: DataFrame,
      keyCol: String): DataFrame =
    categoricalPsiFromCounts(
      ref.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n_ref")),
      cur.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n_cur")))

  /** [[categoricalPsi]] from pre-aggregated COUNT tables — the mergeable
    * form a production monitor actually maintains: per-category counts
    * are associative state (a streaming fold or a per-partition rollup
    * merges by SUM), so the monitor never rescans observations — it
    * folds deltas into O(vocab) state and re-derives the PSI arithmetic
    * from the counts alone (`corpus_drift_stream` pins stream-folded ≡
    * batch counts cross-engine). `rc` is (key, n_ref), `cc` (key,
    * n_cur).
    */
  def categoricalPsiFromCounts(rc: DataFrame, cc: DataFrame): DataFrame = {
    val full = rc.join(cc, Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = full.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"),
      count(lit(1)).as("v"))
    val pRef = (col("n_ref") + 1.0) / (col("t_ref") + col("v"))
    val pCur = (col("n_cur") + 1.0) / (col("t_cur") + col("v"))
    full.crossJoin(broadcast(tot))
      .select(col("key"), col("n_ref"), col("n_cur"),
        pRef.as("p_ref"), pCur.as("p_cur"),
        ((pCur - pRef) * log(pCur / pRef)).as("contrib"))
  }

  /** Binned PSI for a NUMERIC observation stream — the third standard
    * monitor beside [[categoricalPsi]] (categorical) and
    * [[embeddingMeanShift]] (representation): decile edges are derived
    * from a deterministic id-sample of the REFERENCE snapshot, both
    * snapshots are histogrammed against those FIXED edges, and the bin
    * ids feed [[categoricalPsi]] unchanged. Output: (key = bin id 0..
    * nBins−1, n_ref, n_cur, p_ref, p_cur, contrib).
    *
    * Edge discipline: exact rank-selected ELEMENTS of the sample
    * (value_percentiles' selection, deterministic (v, tie) order) — no
    * interpolation, so both engines pick identical edge doubles. The
    * global rank window runs over the O(sample) rows only (the
    * lm_quality_sampled shape: quantile estimation from a fixed-size
    * sample is the 100 TB practice — error O(1/√m) — a full-corpus
    * exact-quantile pass would be the one-task global sort this tier
    * bans). Binning is a map-side HOF fold over the broadcast ≤
    * nBins−1 edge array (count of edges below v); the PSI state is
    * O(nBins).
    */
  def numericPsi(ref: DataFrame, cur: DataFrame, vCol: String,
      tieCol: String, sampleMod: Int = 20, nBins: Int = 10): DataFrame = {
    val edges = decileEdges(ref, vCol, tieCol, sampleMod, nBins)
    categoricalPsi(binned(ref.select(vCol), vCol, edges),
      binned(cur.select(vCol), vCol, edges), "bin")
  }

  /** The fixed bin edges of [[numericPsi]]: one row, `edges` = the sorted
    * rank-selected elements of the `tieCol % sampleMod == 0` sample of
    * `ref`.
    */
  def decileEdges(ref: DataFrame, vCol: String, tieCol: String,
      sampleMod: Int = 20, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n and the ranks come from the one single-partition window pass
    val samp = ref.filter(col(tieCol) % sampleMod === 0)
      .select(col(vCol).as("v"), col(tieCol).as("tie"))
    val w = Window.orderBy(col("v").asc, col("tie").asc)
    samp.withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("k", explode(sequence(lit(1), lit(nBins - 1))))
      .filter(col("rn") === ceil(col("n") * col("k") / nBins).cast("long"))
      .agg(sort_array(collect_list(col("v"))).as("edges"))
  }

  /** `df` plus `bin` = the number of `edges` below `vCol` (a map-side fold
    * over the broadcast edge array).
    */
  def binned(df: DataFrame, vCol: String, edges: DataFrame): DataFrame =
    df.crossJoin(broadcast(edges)).withColumn("bin", aggregate(col("edges"),
      lit(0L), (acc, e) => acc + when(col(vCol) > e, 1L).otherwise(0L)))
      .drop("edges")

  /** Both halves of a deterministic even/odd split in one scan: `df` plus
    * `_h` = `idCol % 2`, keeping only `_h ∈ {0, 1}` — exactly the rows the
    * filters `idCol % 2 = 0` (half 0, the reference) and `idCol % 2 = 1`
    * (half 1, the current snapshot) select, so a null or negative odd id
    * is in neither half.
    */
  def halves(df: DataFrame, idCol: String): DataFrame =
    df.withColumn("_h", col(idCol) % 2).filter(col("_h").isin(0, 1))

  /** Per-key counts of both [[halves]] as one aggregate: (key, n_ref,
    * n_cur) — the counts table [[categoricalPsi]] builds from two scans
    * and a full outer join, for a non-null `key`.
    */
  def halfCounts(tagged: DataFrame, key: Column): DataFrame =
    tagged.groupBy(key.as("key")).agg(
      count_if(col("_h") === 0).as("n_ref"), count_if(col("_h") === 1).as("n_cur"))

  /** The PSI of a counts table (key, n_ref, n_cur) as ONE aggregate `psi`:
    * the right-hand side of the PSI invariant (object doc), equal to
    * [[categoricalPsiFromCounts]]'s Σ contrib up to float rounding.
    */
  def psiOfCounts(counts: DataFrame): DataFrame = {
    val a = col("n_cur") + 1.0
    val b = col("n_ref") + 1.0
    val l = log(a / b)
    counts.agg((sum(a * l) / sum(a) - sum(b * l) / sum(b)).as("psi"))
  }

  /** [[embeddingMeanShift]] between both [[halves]] of one scan: (dim,
    * mean_ref, mean_cur, abs_shift) from one dim-keyed aggregate of
    * conditional averages. A dim only one half has gets a null shift,
    * where the two-scan form's inner join drops it.
    */
  def halfMeanShift(tagged: DataFrame, vCol: String): DataFrame =
    tagged.select(col("_h"), posexplode(col(vCol)).as(Seq("dim", "x")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(avg(when(col("_h") === 0, col("x"))).as("mean_ref"),
        avg(when(col("_h") === 1, col("x"))).as("mean_cur"))
      .select(col("dim"), col("mean_ref"), col("mean_cur"),
        abs(col("mean_cur") - col("mean_ref")).as("abs_shift"))

  /** Per-dimension mean shift between two snapshots of an embedding
    * column (array<double> in `vCol`) — the first-moment drift monitor
    * for representation spaces (a systematic encoder change or corpus
    * shift moves per-dimension means far beyond sampling noise).
    * Output: (dim, mean_ref, mean_cur, abs_shift), one row per
    * dimension. The explode feeds a (dim)-keyed average — partial
    * map-side aggregation keeps the shuffle at O(dim·partitions).
    */
  def embeddingMeanShift(ref: DataFrame, cur: DataFrame,
      vCol: String): DataFrame = {
    def dimMeans(df: DataFrame, out: String) =
      df.select(posexplode(col(vCol)).as(Seq("dim", "x")))
        .groupBy("dim").agg(avg("x").as(out))
        .select(col("dim").cast("long").as("dim"), col(out))
    dimMeans(ref, "mean_ref").join(dimMeans(cur, "mean_cur"), Seq("dim"))
      .select(col("dim"), col("mean_ref"), col("mean_cur"),
        abs(col("mean_cur") - col("mean_ref")).as("abs_shift"))
  }

  /** Per-dimension moment state of an embedding snapshot — (dim, sx, n)
    * with sx = Σx. The SUFFICIENT-STATISTIC form of the mean monitor:
    * unlike a mean, moments are associative (two batches' states merge
    * by plain SUM), so a streaming fold or a per-shard rollup maintains
    * O(dim) state without rescanning vectors — the counts-table twin of
    * [[categoricalPsiFromCounts]] for continuous state.
    */
  def embeddingMoments(df: DataFrame, vCol: String): DataFrame =
    df.select(posexplode(col(vCol)).as(Seq("dim", "x")))
      .groupBy("dim").agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .select(col("dim").cast("long").as("dim"), col("sx"), col("n"))

  /** [[embeddingMeanShift]] from pre-aggregated moment tables (each
    * (dim, sx, n)) — means derive at READ time (sx/n), so the monitor's
    * stored state stays mergeable all the way to the comparison
    * (`embedding_drift_stream` pins stream-folded moments ≡ batch).
    * Divide-by-n matches avg's arithmetic only when every row
    * contributed exactly one x per dim — which posexplode guarantees.
    */
  def embeddingMeanShiftFromMoments(refM: DataFrame,
      curM: DataFrame): DataFrame = {
    val r = refM.select(col("dim"), (col("sx") / col("n")).as("mean_ref"))
    val c = curM.select(col("dim"), (col("sx") / col("n")).as("mean_cur"))
    r.join(c, Seq("dim"))
      .select(col("dim"), col("mean_ref"), col("mean_cur"),
        abs(col("mean_cur") - col("mean_ref")).as("abs_shift"))
  }
}
