package graft.substrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance over a CDC changelog with
  * before/after images — the refresh primitive behind the freshness
  * mechanisms the reference names (`factors/3-current.md:14` lists
  * materialized views; checks #21/#29 assess the catalog flags, this is
  * the data-level machinery that makes the flags true).
  *
  * Contract (fixed column names; callers rename):
  *   - `mv(g, n, s)`: a COUNT/SUM aggregate fully computed from some base
  *     snapshot — `n` rows and `s` = SUM(value) per group `g`.
  *   - `changes(keyCols..., b_g, b_v, a_g, a_v, seq)`: one row per change
  *     event, Debezium-style images. `(b_g, b_v)` = the row's group/value
  *     BEFORE the change (null ⇒ insert); `(a_g, a_v)` = AFTER (null ⇒
  *     delete); `seq` orders multiple changes to one key and must be
  *     UNIQUE per key AND NON-NULL (a tie would make the first/last
  *     fold ambiguous, and the keyed min_by/max_by fold IGNORES rows
  *     whose seq is null — every real changelog carries a non-null
  *     total per-key order: LSN, offset, commit timestamp).
  *
  * Multi-change chains per key fold to (first before-image, last
  * after-image) — the net contribution delta — which is correct for any
  * consistent chain (update-update, update-delete, delete-reinsert):
  * intermediate images cancel algebraically. Because the images carry the
  * old values, the refresh NEVER reads the base table: work is
  * O(|changes|) (two window passes on the change keys) + one shuffle on
  * the touched groups + a join against the MV (small by definition).
  * That is the 100 TB shape — refresh cost scales with the delta, not
  * with the 100 TB base a full recompute would re-scan. Groups whose
  * refreshed count reaches 0 drop out, so refresh(mv, log) ≡ full
  * recompute over Cdc-applied state (pinned by the mv_incremental_refresh
  * oracle and MvSpec's randomized equivalence).
  *
  * AGGREGATE SCOPE (the contract callers must not over-assume): SUM and
  * COUNT maintain incrementally because they are group homomorphisms —
  * a delta's contribution is itself a SUM/COUNT and folds in with `+`.
  * AVG derives algebraically from that same (s, n) state
  * ([[refreshSumCountAvg]]) — no extra maintained state. MIN/MAX do NOT
  * fit this scheme under deletes/updates-away: removing the current
  * minimum requires knowing the runner-up, which the (before, after)
  * images cannot carry — correct MIN/MAX maintenance needs either a
  * per-group value sketch (heap / count-map of the top values) or a
  * re-read of the group's base rows on eviction. [[refreshMinMax]] IS
  * that alternative: it re-aggregates only the TOUCHED groups from the
  * post-change base (cost O(touched groups' rows), still never the full
  * base) — never feed MIN/MAX through the delta fold.
  */
object MaterializedView {

  def refreshSumCount(mv: DataFrame, changes: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    val keys = keyCols.map(col)
    // ONE keyed aggregation folds each key's chain to (first
    // before-image, last after-image) — r16 optimization (guide §2.3
    // "aggregate before you shuffle" / §2.4): the previous form ran TWO
    // row_number windows over the change keys and then referenced the
    // windowed frame from both union branches, executing the
    // shuffle+sort pipeline twice (12 Window nodes in the benched MV
    // plan). min_by/max_by on `seq` pick the same images — `seq` is
    // UNIQUE per key AND NON-NULL (scaladoc contract:
    // min_by/max_by IGNORE rows whose ordering value is null, where a
    // nulls-first row_number window would have folded a null-seq row
    // as the chain's first event — every caller passes commit
    // versions, never null), so both are deterministic — with
    // partial (map-side) aggregation and no sort.
    // Each key then explodes its ±contributions (null group images
    // drop, exactly the old rn filters) and the delta re-aggregates by
    // touched group.
    val perKey = changes.groupBy(keys: _*).agg(
      min_by(struct(col("b_g"), col("b_v")), col("seq")).as("f"),
      max_by(struct(col("a_g"), col("a_v")), col("seq")).as("l"))
    val delta = perKey.select(explode(array(
        struct(col("f.b_g").as("g"), lit(-1L).as("dn"),
          (-col("f.b_v")).cast("long").as("dv")),
        struct(col("l.a_g").as("g"), lit(1L).as("dn"),
          col("l.a_v").cast("long").as("dv")))).as("c"))
      .select(col("c.g").as("g"), col("c.dn").as("dn"),
        col("c.dv").as("dv"))
      .filter(col("g").isNotNull)
      .groupBy("g").agg(sum("dn").as("dn"), sum("dv").as("dv"))
    mv.select(col("g"), col("n"), col("s"))
      .join(delta, Seq("g"), "full")
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .cast("long").as("n"),
        (coalesce(col("s"), lit(0L)) + coalesce(col("dv"), lit(0L)))
          .cast("long").as("s"))
      .filter(col("n") > 0)
  }

  /** AVG face (reference `factors/3-current.md:14` — the classic
    * refreshable aggregates): avg = s / n derived from the SUM/COUNT
    * state AFTER the fold, so AVG rides the exact incremental contract
    * of [[refreshSumCount]] with zero additional maintained state. The
    * n > 0 retention filter of the fold guarantees the division is
    * never 0/0.
    */
  def refreshSumCountAvg(mv: DataFrame, changes: DataFrame,
      keyCols: Seq[String]): DataFrame =
    refreshSumCount(mv, changes, keyCols)
      .withColumn("avg", col("s").cast("double") / col("n"))

  /** MIN/MAX refresh via touched-group re-aggregation — the correct
    * incremental shape for the non-invertible aggregates (object
    * scaladoc): the delta fold CANNOT maintain them, so the groups the
    * changelog touches (before-groups ∪ after-groups) are re-aggregated
    * from `base`, the POST-change snapshot (the CDC sink the changelog
    * was applied to — `Cdc.applyChangeLog`'s output), while untouched mv
    * rows pass through by anti-join.
    *
    * Contract: `mv(g, mn, mx)`; `base(g, v)` = current truth;
    * `changes` carries the standard `b_g`/`a_g` image columns (only the
    * group images are read — values are re-derived from base). Groups
    * whose rows all vanished drop out (the re-agg returns nothing for
    * them). Work is O(touched groups' base rows) + O(|mv|): the touched
    * set is distinct groups (small — broadcast), so the base side sees a
    * broadcast semi join, and when base is STORED partitioned/bucketed
    * by `g` that filter prunes the scan to the touched partitions —
    * otherwise it is one filtered scan, still never a shuffle of base.
    * refreshMinMax(mv, base', log) ≡ full MIN/MAX recompute over base'
    * by construction for touched groups and by no-change for the rest
    * (`mv_incremental_refresh_minmax` pins it cross-engine).
    */
  def refreshMinMax(mv: DataFrame, base: DataFrame,
      changes: DataFrame): DataFrame = {
    val touched = changes.select(col("b_g").as("g"))
      .unionByName(changes.select(col("a_g").as("g")))
      .filter(col("g").isNotNull).distinct()
    val untouched = mv.join(touched, Seq("g"), "left_anti")
    val reagg = base.join(broadcast(touched), Seq("g"), "left_semi")
      .groupBy("g").agg(min("v").as("mn"), max("v").as("mx"))
    untouched.select("g", "mn", "mx").unionByName(reagg)
  }
}
