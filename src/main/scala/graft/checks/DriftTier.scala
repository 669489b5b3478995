package graft.checks

import org.apache.spark.sql.functions._

import graft.checks.CheckDsl._
import graft.substrate.TextOps.tokens
import graft.substrate.VectorOps.toDoubleArr

/** Drift-monitoring tier (substrate.Drift): population-level comparison
  * of two corpus snapshots — the pre-retrain gate beside Factor 3's
  * value-freshness checks. Snapshots here are the deterministic
  * even/odd doc_id halves (the in-corpus stand-in for "last month's
  * corpus vs this month's" — both engines derive the same split).
  */
object DriftTier {

  /** Token-distribution PSI between the even and odd halves of the
    * document corpus — per-token contributions (Laplace-smoothed over
    * the union vocabulary), ordered by token so the movers are visible.
    * The oracle reproduces counts, smoothing, and the (p_cur−p_ref)·
    * ln(p_cur/p_ref) term per token; counts are integers, so the only
    * float arithmetic is the final smoothed-probability expression —
    * engine-exact to well within the 1e-9 comparator.
    */
  val corpusDriftPsi = Check("corpus_drift_psi",
    (spark, dir) => {
      val d = table(spark, dir, "documents")
      def half(m: Int) = d.filter(col("doc_id") % 2 === m)
        .select(explode(tokens(col("text"))).as("token"))
      graft.substrate.Drift.categoricalPsi(half(0), half(1), "token")
        .withColumnRenamed("key", "token")
        .orderBy("token")
    },
    Some(
      """WITH rtoks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |FROM documents WHERE doc_id % 2 = 0),
        |ctoks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        |FROM documents WHERE doc_id % 2 = 1),
        |rc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rtoks GROUP BY 1),
        |cc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_cur FROM ctoks GROUP BY 1),
        |unioned AS (SELECT token, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |FROM rc FULL JOIN cc USING (token)),
        |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS v FROM unioned)
        |SELECT token, n_ref, n_cur,
        |(n_ref + 1.0) / (t_ref + v) AS p_ref,
        |(n_cur + 1.0) / (t_cur + v) AS p_cur,
        |((n_cur + 1.0) / (t_cur + v) - (n_ref + 1.0) / (t_ref + v))
        |* ln(((n_cur + 1.0) / (t_cur + v)) / ((n_ref + 1.0) / (t_ref + v))) AS contrib
        |FROM unioned, tot ORDER BY token"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Per-dimension embedding mean shift between the even and odd vec_id
    * halves — the representation-space drift monitor. Means are averages
    * of float32 values cast to double; summation order differs between
    * engines at ~1e-16 relative, far under the comparator's 1e-9.
    */
  val embeddingDriftMeans = Check("embedding_drift_means",
    (spark, dir) => {
      val e = table(spark, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      def half(m: Int) = e.filter(col("vec_id") % 2 === m)
      graft.substrate.Drift.embeddingMeanShift(half(0), half(1), "v")
        .orderBy("dim")
    },
    Some(
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |r AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim, unnest(v) AS x
        |FROM e WHERE vec_id % 2 = 0),
        |c AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim, unnest(v) AS x
        |FROM e WHERE vec_id % 2 = 1),
        |rm AS (SELECT dim, AVG(x) AS mean_ref FROM r GROUP BY dim),
        |cm AS (SELECT dim, AVG(x) AS mean_cur FROM c GROUP BY dim)
        |SELECT dim, mean_ref, mean_cur, abs(mean_cur - mean_ref) AS abs_shift
        |FROM rm JOIN cm USING (dim) ORDER BY dim"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Binned numeric-value PSI between the even and odd event_id halves
    * of the events stream (Drift.numericPsi): decile edges from the
    * deterministic event_id % 20 sample of the reference half (exact
    * rank-selected elements, (v, event_id) tie-break), both halves
    * histogrammed against those fixed edges, Laplace-smoothed PSI per
    * bin. The oracle re-derives the sample, the rank-selected edges,
    * the edges-below-v bin fold, and the smoothing arithmetic — counts
    * are integers, so cross-engine float noise enters only the final
    * probability expressions.
    */
  val numericDriftPsi = Check("numeric_drift_psi",
    (spark, dir) => {
      val ev = table(spark, dir, "events").select(col("event_id"), col("value"))
      def half(m: Int) = ev.filter(col("event_id") % 2 === m)
      graft.substrate.Drift.numericPsi(half(0), half(1), "value", "event_id")
        .withColumnRenamed("key", "bin")
        .orderBy("bin")
    },
    Some(
      """WITH samp AS (SELECT value AS v, event_id AS tie FROM events
        |WHERE event_id % 2 = 0 AND event_id % 20 = 0),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM samp),
        |r AS (SELECT v, CAST(row_number() OVER (ORDER BY v, tie) AS BIGINT) AS rn FROM samp),
        |edges AS (SELECT v AS edge FROM r, n,
        |(SELECT unnest(generate_series(1, 9)) AS k)
        |WHERE rn = CAST(ceil(n * k / 10.0) AS BIGINT)),
        |rb AS (SELECT (SELECT COUNT(*) FROM edges e WHERE ev.value > e.edge) AS bin
        |FROM events ev WHERE ev.event_id % 2 = 0),
        |cb AS (SELECT (SELECT COUNT(*) FROM edges e WHERE ev.value > e.edge) AS bin
        |FROM events ev WHERE ev.event_id % 2 = 1),
        |rc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rb GROUP BY 1),
        |cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_cur FROM cb GROUP BY 1),
        |unioned AS (SELECT bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
        |FROM rc FULL JOIN cc USING (bin)),
        |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS v FROM unioned)
        |SELECT bin, n_ref, n_cur,
        |(n_ref + 1.0) / (t_ref + v) AS p_ref,
        |(n_cur + 1.0) / (t_cur + v) AS p_cur,
        |((n_cur + 1.0) / (t_cur + v) - (n_ref + 1.0) / (t_ref + v))
        |* ln(((n_cur + 1.0) / (t_cur + v)) / ((n_ref + 1.0) / (t_ref + v))) AS contrib
        |FROM unioned, tot ORDER BY bin"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** ENGINE-DEFINED scorecard check `distribution_currency` (registered
    * in graft.model.Registry's extension block — VERDICT r9 next #7):
    * Factor 3 gates on values being RECENT; this gates on the POPULATION
    * still being distributed like the validated snapshot — the monitors
    * above made load-bearing, the way #10's search_optimization scores a
    * fresh `search_indexes` artifact. Monitored assets (the three drift
    * modalities over the corpus's three distribution-bearing tables):
    * documents token PSI, events value PSI (both vs
    * substrate.Drift.PsiBar = 0.25, the standard PSI action band),
    * embeddings mean |shift| (vs MeanShiftBar = 0.1). value = fraction
    * of monitored assets within their bar; snapshots are the same
    * deterministic even/odd halves the monitor entries use, so on this
    * corpus all three pass (iid halves — PSI ~1e-3, shift ~1e-2, margins
    * orders of magnitude from the bars; cross-engine float noise cannot
    * flip an indicator). Composes into BOTH workload scorecards through
    * the same oracle-union machinery as every reference check.
    *
    * One pass per table: each monitored table is scanned once with its
    * rows tagged by half (`Drift.halves`), both halves' counts or means
    * come from one keyed aggregate, and each PSI is one aggregate over
    * the counts (`Drift.psiOfCounts`, the PSI invariant). The events
    * edges come from the reference half's sample as in `numericPsi`.
    * value = one aggregate over the three within-bar flags.
    */
  val distributionCurrency = Check("distribution_currency",
    (spark, dir) => {
      import graft.substrate.Drift
      val docs = Drift.halves(table(spark, dir, "documents"), "doc_id")
        .select(col("_h"), explode(tokens(col("text"))).as("token"))
      val ev = Drift.halves(table(spark, dir, "events"), "event_id")
        .select(col("_h"), col("event_id"), col("value"))
      val edges = Drift.decileEdges(ev.filter(col("_h") === 0), "value",
        "event_id")
      val emb = Drift.halves(table(spark, dir, "embeddings"), "vec_id")
        .select(col("_h"), toDoubleArr(col("embedding")).as("v"))
      val psiDoc = Drift.psiOfCounts(Drift.halfCounts(docs, col("token")))
      val psiEv = Drift.psiOfCounts(
        Drift.halfCounts(Drift.binned(ev, "value", edges), col("bin")))
      val msEmb = Drift.halfMeanShift(emb, "v").agg(avg("abs_shift").as("ms"))
      val within = psiDoc.select((col("psi") <= Drift.PsiBar).as("ok"))
        .unionAll(psiEv.select((col("psi") <= Drift.PsiBar).as("ok")))
        .unionAll(msEmb.select((col("ms") <= Drift.MeanShiftBar).as("ok")))
      fractionOf("distribution_currency", within, count_if(col("ok")),
        count(lit(1)))
    },
    Some {
      import graft.substrate.Drift
      // the three monitors' oracle pipelines, reduced to their scalar
      // drift metrics (same CTE chains as the per-asset entries above,
      // dc_-prefixed, summed/averaged instead of row-dumped)
      val ctes = Seq(
        """dc_rt AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents WHERE doc_id % 2 = 0)""",
        """dc_ct AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents WHERE doc_id % 2 = 1)""",
        "dc_rc AS (SELECT token, COUNT(*) AS n_ref FROM dc_rt GROUP BY 1)",
        "dc_cc AS (SELECT token, COUNT(*) AS n_cur FROM dc_ct GROUP BY 1)",
        "dc_un AS (SELECT token, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur FROM dc_rc FULL JOIN dc_cc USING (token))",
        "dc_tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS v FROM dc_un)",
        "dc_tokpsi AS (SELECT SUM(((n_cur + 1.0) / (t_cur + v) - (n_ref + 1.0) / (t_ref + v)) * ln(((n_cur + 1.0) / (t_cur + v)) / ((n_ref + 1.0) / (t_ref + v)))) AS psi FROM dc_un, dc_tot)",
        "dc_samp AS (SELECT value AS v, event_id AS tie FROM events WHERE event_id % 2 = 0 AND event_id % 20 = 0)",
        "dc_n AS (SELECT COUNT(*) AS n FROM dc_samp)",
        "dc_r AS (SELECT v, row_number() OVER (ORDER BY v, tie) AS rn FROM dc_samp)",
        "dc_edges AS (SELECT v AS edge FROM dc_r, dc_n, (SELECT unnest(generate_series(1, 9)) AS k) WHERE rn = CAST(ceil(n * k / 10.0) AS BIGINT))",
        "dc_rb AS (SELECT (SELECT COUNT(*) FROM dc_edges e WHERE ev.value > e.edge) AS bin FROM events ev WHERE ev.event_id % 2 = 0)",
        "dc_cb AS (SELECT (SELECT COUNT(*) FROM dc_edges e WHERE ev.value > e.edge) AS bin FROM events ev WHERE ev.event_id % 2 = 1)",
        "dc_brc AS (SELECT bin, COUNT(*) AS n_ref FROM dc_rb GROUP BY 1)",
        "dc_bcc AS (SELECT bin, COUNT(*) AS n_cur FROM dc_cb GROUP BY 1)",
        "dc_bun AS (SELECT bin, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur FROM dc_brc FULL JOIN dc_bcc USING (bin))",
        "dc_btot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS v FROM dc_bun)",
        "dc_evpsi AS (SELECT SUM(((n_cur + 1.0) / (t_cur + v) - (n_ref + 1.0) / (t_ref + v)) * ln(((n_cur + 1.0) / (t_cur + v)) / ((n_ref + 1.0) / (t_ref + v)))) AS psi FROM dc_bun, dc_btot)",
        "dc_em AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "dc_emr AS (SELECT dim, AVG(x) AS mr FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM dc_em WHERE vec_id % 2 = 0) GROUP BY dim)",
        "dc_emc AS (SELECT dim, AVG(x) AS mc FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM dc_em WHERE vec_id % 2 = 1) GROUP BY dim)",
        "dc_emshift AS (SELECT AVG(abs(mc - mr)) AS ms FROM dc_emr JOIN dc_emc USING (dim))")
      fractionSql("distribution_currency",
        s"SELECT (CASE WHEN (SELECT psi FROM dc_tokpsi) <= ${Drift.PsiBar} THEN 1 ELSE 0 END) + " +
          s"(CASE WHEN (SELECT psi FROM dc_evpsi) <= ${Drift.PsiBar} THEN 1 ELSE 0 END) + " +
          s"(CASE WHEN (SELECT ms FROM dc_emshift) <= ${Drift.MeanShiftBar} THEN 1 ELSE 0 END)",
        "SELECT 3", Nil, extraCtes = ctes)
    })

  /** The drift → index-refresh LOOP (VERDICT r9 what's-missing #2): the
    * monitors above measure population shift, `ann_ivf_incremental`
    * freezes codebooks by design — this entry TIES them. A drifted
    * subpopulation is PLANTED (vec_id % 4 == 3 shifted by +0.6 per dim —
    * the stand-in for an encoder swap or corpus-mix change), the
    * embedding mean-shift monitor scores it against the engine bar
    * (substrate.Drift.MeanShiftBar, THRESHOLDS.md), and the refresh
    * decision the policy would take is materialized alongside the
    * MEASURED consequence of skipping it: ADC recall@10 of the AGED
    * k=256 PQ codebook (trained pre-drift, on the base only — the frozen
    * artifact an append-only ingest keeps serving) vs the FRESH codebook
    * (re-trained on base ∪ delta) on drifted-region queries, both
    * against the exact euclidean oracle over the drifted corpus. At
    * sf0.1 the aged codebook measures 0.055 vs fresh 0.315 — a ~6×
    * recall collapse (shifted subvectors fall outside the aged
    * codebook's coverage, so every delta vector quantizes to the same
    * few edge cells and ADC loses the neighborhood) — while the no-drift
    * control shows aged ≈ fresh (DriftSpec pins both). Codebooks here
    * train at ONE Lloyd round, not ProdLloydIters: the staleness
    * comparison is aged-vs-fresh at EQUAL budget, the decay ratio is
    * round-insensitive (prototyped at 3 rounds: 0.06 vs 0.35, same
    * ~6×), and extra rounds buy SLA recall — a different claim, carried
    * by retrieval_recall_pq_prod — at double this entry's two-training
    * cost. The hash match reproduces the monitor arithmetic, the
    * decision, both codebook trainings, and both recall measurements
    * cross-engine.
    *
    * Scale shape: the monitor is the O(dim) keyed aggregate above; each
    * codebook training is the bounded O(sample) Lloyd pass; re-encoding
    * is PqIndex's shuffle-free map-side projection — so the refresh the
    * policy triggers costs one linear re-encode pass, NOT an index
    * rebuild of the retrieval structure (IVF cells and PQ codes evolve
    * independently — the non-residual design choice IvfPq documents).
    */
  val indexRefreshDecision = Check("index_refresh_decision",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.substrate.{Drift, PqIndex}
      import graft.substrate.VectorOps.sqDist
      val K = 10
      val Shift = 0.6
      val e = table(spark, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      val (corpus, base, delta, full) = driftedFixture(e, Shift)
      val meanShift = Drift.embeddingMeanShift(base, delta, "v")
        .agg(avg("abs_shift").as("mean_shift"))
      // queries: vec_id % 100 == 3 — a subset of the drifted delta
      // (100j + 3 ≡ 3 mod 4), the region whose neighborhoods the aged
      // codebook must still resolve
      val q = corpus.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val exact = VectorTier.exactTopK(full, q, K)
      def adcHits(trainSrc: org.apache.spark.sql.DataFrame, out: String) = {
        val cb = PqIndex.codebookArrays(
          PqIndex.codebooks(trainSrc, "vec_id", "v", dim = 64,
            k = PqIndex.ProdCodebookK, trainMod = PqIndex.ProdTrainMod),
          k = PqIndex.ProdCodebookK)
        val codes = PqIndex.encode(full, "vec_id", "v", cb, dim = 64)
        val approx = PqIndex.topK(codes, q, "qid", "qv", cb, dim = 64,
          topK = K).select("qid", "cid")
        exact.join(approx, Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as(out))
      }
      val nq = exact.select("qid").distinct()
        .agg(count(lit(1)).as("n_queries"))
      nq.crossJoin(adcHits(base, "h_aged"))
        .crossJoin(adcHits(full, "h_fresh"))
        .crossJoin(broadcast(meanShift))
        .select(col("n_queries"), col("mean_shift"),
          lit(Drift.MeanShiftBar).as("drift_bar"),
          (col("mean_shift") > Drift.MeanShiftBar).as("refresh"),
          (col("h_aged").cast("double") / (col("n_queries") * K))
            .as("recall_aged"),
          (col("h_fresh").cast("double") / (col("n_queries") * K))
            .as("recall_fresh"))
    },
    Some {
      import graft.substrate.{Drift, PqIndex}
      val K = 10
      val pq = (p: String, ts: Option[String]) =>
        VectorTier.pqCodeCtesCfg("corpus", m = 8, k = PqIndex.ProdCodebookK,
          trainMod = PqIndex.ProdTrainMod, iters = 1, prefix = p,
          trainSrc = ts, qWhere = Some("t.vec_id % 100 = 3"))
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${driftedCtes("", 0.6)},
         |rmeans AS (SELECT dim, AVG(x) AS mr FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM corpus WHERE NOT is_delta) GROUP BY dim),
         |cmeans AS (SELECT dim, AVG(x) AS mc FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM corpus WHERE is_delta) GROUP BY dim),
         |ms AS (SELECT AVG(abs(mc - mr)) AS mean_shift FROM rmeans JOIN cmeans USING (dim)),
         |qs AS (SELECT vec_id AS qid, v AS qv FROM corpus WHERE vec_id % 100 = 3),
         |exact AS (SELECT qid, cid FROM (SELECT q.qid, c.vec_id AS cid,
         |row_number() OVER (PARTITION BY q.qid ORDER BY list_distance(q.qv, c.v), c.vec_id) AS rank
         |FROM qs q, corpus c WHERE c.vec_id <> q.qid) WHERE rank <= $K),
         |${pq("a_", Some("bsrc"))},
         |${pq("f_", None)},
         |a_adist AS (SELECT l.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
         |FROM a_codes co JOIN a_lut l ON l.sub = co.sub AND l.cid = co.cid
         |WHERE co.vec_id <> l.qid GROUP BY 1, 2),
         |a_pq AS (SELECT qid, cid FROM (SELECT qid, cand AS cid,
         |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM a_adist) WHERE rank <= $K),
         |f_adist AS (SELECT l.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
         |FROM f_codes co JOIN f_lut l ON l.sub = co.sub AND l.cid = co.cid
         |WHERE co.vec_id <> l.qid GROUP BY 1, 2),
         |f_pq AS (SELECT qid, cid FROM (SELECT qid, cand AS cid,
         |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM f_adist) WHERE rank <= $K)
         |SELECT (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) FROM exact) AS n_queries,
         |(SELECT mean_shift FROM ms) AS mean_shift,
         |CAST(${Drift.MeanShiftBar} AS DOUBLE) AS drift_bar,
         |(SELECT mean_shift FROM ms) > ${Drift.MeanShiftBar} AS refresh,
         |CAST((SELECT COUNT(*) FROM exact JOIN a_pq USING (qid, cid)) AS DOUBLE)
         |/ ((SELECT COUNT(DISTINCT qid) FROM exact) * $K) AS recall_aged,
         |CAST((SELECT COUNT(*) FROM exact JOIN f_pq USING (qid, cid)) AS DOUBLE)
         |/ ((SELECT COUNT(DISTINCT qid) FROM exact) * $K) AS recall_fresh"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** The refresh EXECUTED, not just decided (VERDICT r10 next #3 /
    * what's-missing #2 — `index_refresh_decision` measured what
    * staleness costs; this entry pins the full decide→ACT→recover loop
    * via substrate.IndexRefresh.refreshIfDrifted): TWO scenarios over
    * the same fixture geometry (delta = vec_id % 4 == 3 shifted by
    * +shift per dimension), one DRIFTED (shift 0.6 — the monitor fires,
    * the operator re-trains the codebook on the CURRENT population and
    * re-encodes) and one STABLE (shift 0.02 — below the 0.1 bar, the
    * operator must NOT act and keeps serving the aged artifact; a loop
    * that always retrains is a timer, not a monitor, and at 100 TB the
    * gated re-encode is the corpus-linear cost the gate exists for).
    * Output per scenario: the measured mean_shift, the bar, the
    * decision, recall_aged (before acting) and recall_post (what the
    * serving index measures AFTER the loop ran), and recovered =
    * recall_post ≥ recall_aged. The oracle recomputes BOTH codebooks
    * per scenario and selects recall_post with the same
    * mean_shift-vs-bar CASE, so the hash match pins the decision, the
    * action, and the recovery, jointly. Queries sample the drifted
    * region (vec_id % 100 == 3 ⊂ delta) — where the aged codebook
    * decays (r10 measured 0.055 aged vs 0.315 fresh) and the refresh
    * must recover. Three bounded codebook trainings total (aged ×2
    * scenarios + fresh for the drifted one — the stable path trains no
    * second codebook: that is the point).
    */
  /** Shift-the-delta drifted-population fixture shared by
    * [[indexRefreshExecute]] (both scenarios) and
    * [[retrievalServeSwapStream]] (shift 0.6) — ONE definition so the
    * cross-entry "same fixture as index_refresh_execute" claim is
    * pinned by code, not prose. Rows with vec_id % 4 == 3 are the
    * arrived DELTA, shifted +`shift` per dimension. Eager
    * localCheckpoint: codebook trainings, encodes and the exact oracle
    * all re-consume the corpus (bounded: n×(id, 64 doubles, bool)
    * ≈ 1 MB at sf0.1). Returns (corpus-with-is_delta, base, delta,
    * full) — base/delta/full are projections of the checkpointed
    * corpus, so no second materialization is needed.
    */
  private def driftedFixture(e: org.apache.spark.sql.DataFrame,
      shift: Double): (org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame) = {
    val corpus = e.select(col("vec_id"),
      when(col("vec_id") % 4 === 3,
        transform(col("v"), x => x + lit(shift)))
        .otherwise(col("v")).as("v"),
      (col("vec_id") % 4 === 3).as("is_delta"))
      .localCheckpoint(true)
    val base = corpus.filter(!col("is_delta")).select("vec_id", "v")
    val delta = corpus.filter(col("is_delta")).select("vec_id", "v")
    val full = corpus.select("vec_id", "v")
    (corpus, base, delta, full)
  }

  /** DuckDB twin of [[driftedFixture]]: emits `${p}corpus`
    * (vec_id, v, is_delta) and `${p}bsrc` (the pre-drift base) from a
    * prior CTE `e(vec_id, v)`. Callers must not redefine those names.
    */
  private def driftedCtes(p: String, shift: Double): String =
    s"""${p}corpus AS (SELECT vec_id, CASE WHEN vec_id % 4 = 3
       |THEN list_transform(v, x -> x + $shift) ELSE v END AS v,
       |vec_id % 4 = 3 AS is_delta FROM e),
       |${p}bsrc AS (SELECT vec_id, v FROM ${p}corpus WHERE NOT is_delta)"""
      .stripMargin.replace("\n", " ")

  val indexRefreshExecute = Check("index_refresh_execute",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.substrate.{Drift, IndexRefresh, PqIndex}
      import graft.substrate.VectorOps.sqDist
      val K = 10
      val e = table(spark, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      def scenario(name: String, shift: Double) = {
        val (corpus, base, delta, full) = driftedFixture(e, shift)
        val (ms, refresh, cbAged, cbServing) = IndexRefresh
          .refreshIfDrifted(base, delta, full, "vec_id", "v", dim = 64)
        val q = corpus.filter(col("vec_id") % 100 === 3)
          .select(col("vec_id").as("qid"), col("v").as("qv"))
        val exact = VectorTier.exactTopK(full, q, K)
        def hits(cb: Array[Array[Array[Double]]], out: String) = {
          val codes = PqIndex.encode(full, "vec_id", "v", cb, dim = 64)
          val approx = PqIndex.topK(codes, q, "qid", "qv", cb, dim = 64,
            topK = K).select("qid", "cid")
          exact.join(approx, Seq("qid", "cid"), "left_semi")
            .agg(count(lit(1)).as(out))
        }
        val nq = exact.select("qid").distinct()
          .agg(count(lit(1)).as("n_queries"))
        // no-action path: serving == aged by IDENTITY, so h_post IS
        // h_aged — re-running the same ADC scan against the same
        // codebook would measure nothing and double the scenario's cost
        val withAged = nq.crossJoin(hits(cbAged, "h_aged"))
        val withPost =
          if (refresh) withAged.crossJoin(hits(cbServing, "h_post"))
          else withAged.withColumn("h_post", col("h_aged"))
        withPost
          .select(lit(name).as("scenario"), col("n_queries"),
            lit(ms).as("mean_shift"),
            lit(Drift.MeanShiftBar).as("drift_bar"),
            lit(refresh).as("refresh"),
            (col("h_aged").cast("double") / (col("n_queries") * K))
              .as("recall_aged"),
            (col("h_post").cast("double") / (col("n_queries") * K))
              .as("recall_post"))
          .withColumn("recovered", col("recall_post") >= col("recall_aged"))
      }
      scenario("drifted", 0.6).unionByName(scenario("stable", 0.02))
        .orderBy("scenario")
    },
    Some {
      import graft.substrate.{Drift, PqIndex}
      val K = 10
      def block(p: String, shift: Double): String = {
        val pq = (pp: String, ts: Option[String]) =>
          VectorTier.pqCodeCtesCfg(s"${p}corpus", m = 8,
            k = PqIndex.ProdCodebookK, trainMod = PqIndex.ProdTrainMod,
            iters = 1, prefix = pp, trainSrc = ts,
            qWhere = Some("t.vec_id % 100 = 3"))
        s"""${driftedCtes(p, shift)},
           |${p}rmeans AS (SELECT dim, AVG(x) AS mr FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM ${p}corpus WHERE NOT is_delta) GROUP BY dim),
           |${p}cmeans AS (SELECT dim, AVG(x) AS mc FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM ${p}corpus WHERE is_delta) GROUP BY dim),
           |${p}ms AS (SELECT AVG(abs(mc - mr)) AS ms FROM ${p}rmeans JOIN ${p}cmeans USING (dim)),
           |${p}qs AS (SELECT vec_id AS qid, v AS qv FROM ${p}corpus WHERE vec_id % 100 = 3),
           |${p}exact AS (SELECT qid, cid FROM (SELECT q.qid, c.vec_id AS cid,
           |row_number() OVER (PARTITION BY q.qid ORDER BY list_distance(q.qv, c.v), c.vec_id) AS rank
           |FROM ${p}qs q, ${p}corpus c WHERE c.vec_id <> q.qid) WHERE rank <= $K),
           |${pq(s"${p}a_", Some(s"${p}bsrc"))},
           |${pq(s"${p}f_", None)},
           |${p}a_adist AS (SELECT l.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
           |FROM ${p}a_codes co JOIN ${p}a_lut l ON l.sub = co.sub AND l.cid = co.cid
           |WHERE co.vec_id <> l.qid GROUP BY 1, 2),
           |${p}a_pq AS (SELECT qid, cid FROM (SELECT qid, cand AS cid,
           |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM ${p}a_adist) WHERE rank <= $K),
           |${p}f_adist AS (SELECT l.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
           |FROM ${p}f_codes co JOIN ${p}f_lut l ON l.sub = co.sub AND l.cid = co.cid
           |WHERE co.vec_id <> l.qid GROUP BY 1, 2),
           |${p}f_pq AS (SELECT qid, cid FROM (SELECT qid, cand AS cid,
           |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM ${p}f_adist) WHERE rank <= $K),
           |${p}row AS (SELECT
           |(SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) FROM ${p}exact) AS n_queries,
           |(SELECT ms FROM ${p}ms) AS mean_shift,
           |CAST(${Drift.MeanShiftBar} AS DOUBLE) AS drift_bar,
           |(SELECT ms FROM ${p}ms) > ${Drift.MeanShiftBar} AS refresh,
           |CAST((SELECT COUNT(*) FROM ${p}exact JOIN ${p}a_pq USING (qid, cid)) AS DOUBLE)
           |/ ((SELECT COUNT(DISTINCT qid) FROM ${p}exact) * $K) AS recall_aged,
           |CASE WHEN (SELECT ms FROM ${p}ms) > ${Drift.MeanShiftBar}
           |THEN CAST((SELECT COUNT(*) FROM ${p}exact JOIN ${p}f_pq USING (qid, cid)) AS DOUBLE)
           |/ ((SELECT COUNT(DISTINCT qid) FROM ${p}exact) * $K)
           |ELSE CAST((SELECT COUNT(*) FROM ${p}exact JOIN ${p}a_pq USING (qid, cid)) AS DOUBLE)
           |/ ((SELECT COUNT(DISTINCT qid) FROM ${p}exact) * $K) END AS recall_post)"""
          .stripMargin.replace("\n", " ")
      }
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${block("d_", 0.6)},
         |${block("s_", 0.02)}
         |SELECT scenario, n_queries, mean_shift, drift_bar, refresh,
         |recall_aged, recall_post, recall_post >= recall_aged AS recovered
         |FROM (SELECT 'drifted' AS scenario, * FROM d_row
         |UNION ALL SELECT 'stable' AS scenario, * FROM s_row)
         |ORDER BY scenario"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** SELECTIVE refresh — the O(drifted-fraction) form (VERDICT r10 next
    * #8): when drift is localized (here: 5 of 25 planted clusters shift
    * +0.8/dim while the rest only jitter +0.01 — the below-bar
    * background churn every live corpus has), a full re-encode rewrites
    * 100% of a 100 TB code table to maintain 20% of it. This entry pins
    * the cell-scoped alternative end-to-end via
    * IndexRefresh.cellShiftCorrection: per-cell mean-shift monitors
    * (membership = the STORED assignment) flag only the drifted cells;
    * the repair moves each flagged cell's serving centroid by the
    * monitor's own measured mean-shift vector — the PQ codebook stays
    * FROZEN, so clean cells' stored codes remain valid (retraining the
    * codebook would orphan every code at once, the residual-coupling
    * tradeoff IvfPq.residuals documents) — and only the flagged cells'
    * rows re-encode.
    *
    * The pinned claims are the incremental-maintenance pair, the same
    * contract shape mv_incremental_refresh proves for MVs: (a) COST —
    * `frac_rows_reencoded` ≈ the drifted fraction, never 1.0; (b)
    * EQUIVALENCE — the selectively-maintained serving state matches the
    * full re-encode twin: `sel_matches_full` (|recall_full −
    * recall_selective| ≤ 0.05 through the deployed residual probed
    * path) and `code_agreement` (fraction of vectors whose selective
    * codes equal the full twin's — refreshed cells agree by
    * construction; clean cells measure how often the below-bar jitter
    * flips a code). `recall_stale` rides along as the measured
    * no-maintenance baseline; it documents that per-cell TRANSLATION
    * drift barely moves deployed-path recall (stale codes are
    * CONSISTENTLY stale — est ≈ d(query, stored positions) — so
    * within-cell ordering survives; verified against an
    * exact-arithmetic simulation), which is exactly why the honest
    * selective story is write-cost avoidance at serving parity. The
    * recall-rescue case — the codebook itself no longer fitting — is
    * `index_refresh_execute`'s codebook-level loop. Raw ADC recall,
    * deliberately NO rerank: the exact refine would mask the code
    * differences being compared.
    */
  val indexRefreshSelective = Check("index_refresh_selective",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.substrate.{IndexRefresh, IvfIndex, IvfPq, PqIndex}
      import graft.substrate.VectorOps.sqDist
      val K = 10; val G = VectorTier.PlantedG
      val QMod = VectorTier.PlantedQMod; val CMod = 23
      // planted corpus — the retrieval_recall_ivfpq_prod fixture, by
      // SHARED construction (VectorTier.plantedCorpus) — then the
      // CURRENT snapshot: clusters g<5 drift, the rest jitter
      val p0 = VectorTier.plantedCorpus(spark, dir)
      val p1 = p0.select(col("vec_id"),
        when(col("vec_id") % G < 5,
          transform(col("v"), x => x + lit(0.8)))
          .otherwise(transform(col("v"), x => x + lit(0.01))).as("v"))
        .localCheckpoint(true)
      // the STORED artifact: assignment, centroids, frozen residual
      // codebook, codes — all built from the indexed snapshot p0
      val assigned = IvfIndex.assignAuto(p0, CMod).select("vec_id", "cell")
        .localCheckpoint(true)
      val cents0 = p0.filter(col("vec_id") % CMod === 0)
        .select(col("vec_id").as("cell"), col("v").as("cv"))
      val resid0 = p0.join(assigned, Seq("vec_id"))
        .join(broadcast(cents0), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
        .localCheckpoint(true)
      val cb = PqIndex.codebookArrays(
        PqIndex.codebooks(resid0, "vec_id", "r", dim = 64,
          k = PqIndex.ProdCodebookK, trainMod = PqIndex.ProdTrainMod),
        k = PqIndex.ProdCodebookK)
      val codes0 = PqIndex.encode(resid0, "vec_id", "r", cb, dim = 64)
        .join(assigned, Seq("vec_id"))
      // monitor + repair: corrected serving centroids, flagged cells
      val cents1 = IndexRefresh.cellShiftCorrection(p0, p1, assigned, cents0)
        .localCheckpoint(true)
      val refreshCells = cents1.filter(col("refreshed")).select("cell")
      // current residuals vs the SERVING centroids: full twin = every
      // row; selective = flagged cells re-encoded, others keep codes0
      val resid1 = p1.join(assigned, Seq("vec_id"))
        .join(broadcast(cents1.select("cell", "cv")), Seq("cell"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
        .localCheckpoint(true)
      val codesFull = PqIndex.encode(resid1, "vec_id", "r", cb, dim = 64)
        .join(assigned, Seq("vec_id"))
      val codesSel = codesFull.join(refreshCells, Seq("cell"), "left_semi")
        .unionByName(codes0.join(refreshCells, Seq("cell"), "left_anti"))
      val q = p1.filter(col("vec_id") % QMod === 3)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val exact = VectorTier.exactTopK(p1, q, K)
      val probes1 = IvfPq.probeCellsFrom(cents1.select("cell", "cv"), q,
        "qid", "qv", IvfPq.ProdNProbe)
      val probes0 = IvfPq.probeCellsFrom(cents0, q, "qid", "qv",
        IvfPq.ProdNProbe)
      def recallOf(codes: org.apache.spark.sql.DataFrame,
          probes: org.apache.spark.sql.DataFrame, out: String) = {
        val top = IvfPq.adcResidual(codes, probes, cb, dim = 64, topK = K)
          .select("qid", "cid")
        exact.join(top, Seq("qid", "cid"), "left_semi")
          .agg(count(lit(1)).as(out))
      }
      val nq = exact.select("qid").distinct()
        .agg(count(lit(1)).as("n_queries"))
      val nCells = assigned.select("cell").distinct()
        .agg(count(lit(1)).as("n_cells"))
      val nRef = refreshCells.agg(count(lit(1)).as("n_refresh_cells"))
      val nRows = assigned.agg(count(lit(1)).as("n_rows"))
      val nRowsRef = assigned.join(refreshCells, Seq("cell"), "left_semi")
        .agg(count(lit(1)).as("n_rows_ref"))
      val agree = codesSel.select(col("vec_id"), col("codes").as("cs"))
        .join(codesFull.select(col("vec_id"), col("codes").as("cf")),
          Seq("vec_id"))
        .agg(avg(when(col("cs") === col("cf"), 1.0).otherwise(0.0))
          .as("code_agreement"))
      nq.crossJoin(nCells).crossJoin(nRef).crossJoin(nRows)
        .crossJoin(nRowsRef)
        .crossJoin(recallOf(codes0, probes0, "h_stale"))
        .crossJoin(recallOf(codesSel, probes1, "h_sel"))
        .crossJoin(recallOf(codesFull, probes1, "h_full"))
        .crossJoin(agree)
        .select(col("n_queries"), col("n_cells"), col("n_refresh_cells"),
          (col("n_rows_ref").cast("double") / col("n_rows"))
            .as("frac_rows_reencoded"),
          (col("h_stale").cast("double") / (col("n_queries") * K))
            .as("recall_stale"),
          (col("h_sel").cast("double") / (col("n_queries") * K))
            .as("recall_selective"),
          (col("h_full").cast("double") / (col("n_queries") * K))
            .as("recall_full"),
          col("code_agreement"))
        .withColumn("sel_matches_full",
          abs(col("recall_full") - col("recall_selective")) <= 0.05)
    },
    Some {
      import graft.substrate.{Drift, IvfPq, PqIndex}
      val K = 10; val np = IvfPq.ProdNProbe
      val bar = Drift.MeanShiftBar
      def probeCte(name: String, cents: String) =
        s"""$name AS (SELECT qid, cell FROM (SELECT q.qid, c.cell,
           |row_number() OVER (PARTITION BY q.qid ORDER BY list_distance(q.qv, c.cv), c.cell) AS rn
           |FROM qs1 q, $cents c) WHERE rn <= $np)"""
          .stripMargin.replace("\n", " ")
      def qlutCtes(sfx: String, probes: String, centw: String) =
        s"""qres$sfx AS (SELECT p.qid, p.cell, list(q.x - c.x ORDER BY q.j) AS qr
           |FROM $probes p JOIN qw1 q ON q.qid = p.qid
           |JOIN $centw c ON c.cell = p.cell AND c.j = q.j GROUP BY p.qid, p.cell),
           |qsub$sfx AS (SELECT qid, cell, s.sub, qr[s.sub*8+1 : s.sub*8+8] AS quv FROM qres$sfx, subs s),
           |rlut$sfx AS (SELECT q.qid, q.cell, q.sub, c.cid, list_distance(q.quv, c.cv) AS d
           |FROM qsub$sfx q JOIN cbf c USING (sub))"""
          .stripMargin.replace("\n", " ")
      def adcCtes(sfx: String, probes: String, codes: String, lut: String) =
        s"""ad$sfx AS (SELECT p.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
           |FROM $probes p JOIN acell a ON a.cell = p.cell
           |JOIN $codes co ON co.vec_id = a.vec_id
           |JOIN $lut l ON l.qid = p.qid AND l.cell = p.cell AND l.sub = co.sub AND l.cid = co.cid
           |WHERE co.vec_id <> p.qid GROUP BY 1, 2),
           |top$sfx AS (SELECT qid, cid FROM (SELECT qid, cand AS cid,
           |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM ad$sfx) WHERE rank <= $K)"""
          .stripMargin.replace("\n", " ")
      def recall(top: String) =
        s"""CAST((SELECT COUNT(*) FROM exact JOIN $top USING (qid, cid)) AS DOUBLE)
           |/ ((SELECT COUNT(DISTINCT qid) FROM exact) * $K)"""
          .stripMargin.replace("\n", " ")
      s"""WITH ${VectorTier.plantedCorpusCtes("p0")},
         |${VectorTier.assignAutoCtes("p0", 23, 4)},
         |p1 AS (SELECT vec_id, CASE WHEN vec_id % 25 < 5
         |THEN list_transform(v, x -> x + 0.8)
         |ELSE list_transform(v, x -> x + 0.01) END AS v FROM p0),
         |acell AS (SELECT vec_id, cell FROM assigned),
         |rw0 AS (SELECT a.vec_id, a.cell, generate_subscripts(a.v, 1) AS j, unnest(a.v) AS x FROM assigned a),
         |centw AS (SELECT cent_id AS cell, generate_subscripts(cv, 1) AS j, unnest(cv) AS x FROM cents),
         |resid0 AS (SELECT r.vec_id, r.cell, list(r.x - c.x ORDER BY r.j) AS v
         |FROM rw0 r JOIN centw c ON c.cell = r.cell AND c.j = r.j GROUP BY r.vec_id, r.cell),
         |${VectorTier.pqCodeCtesCfg("resid0", m = 8, k = PqIndex.ProdCodebookK,
            trainMod = PqIndex.ProdTrainMod, iters = 1,
            qWhere = Some("FALSE"))},
         |p1w AS (SELECT vec_id, generate_subscripts(v, 1) AS j, unnest(v) AS x FROM p1),
         |r1w AS (SELECT a.vec_id, a.cell, q.j, q.x FROM acell a JOIN p1w q ON q.vec_id = a.vec_id),
         |m01 AS (SELECT cell, j, AVG(x) AS m0 FROM rw0 GROUP BY 1, 2),
         |m11 AS (SELECT cell, j, AVG(x) AS m1 FROM r1w GROUP BY 1, 2),
         |dmt AS (SELECT cell, j, m1 - m0 AS dm FROM m01 JOIN m11 USING (cell, j)),
         |sv AS (SELECT cell, list(dm ORDER BY j) AS dmv, AVG(abs(dm)) AS shift FROM dmt GROUP BY cell),
         |svw AS (SELECT cell, generate_subscripts(dmv, 1) AS j, unnest(dmv) AS d FROM sv),
         |cents1 AS (SELECT c.cell, s.shift > $bar AS refreshed,
         |list(CASE WHEN s.shift > $bar THEN c.x + w.d ELSE c.x END ORDER BY c.j) AS cv
         |FROM centw c JOIN svw w ON w.cell = c.cell AND w.j = c.j
         |JOIN sv s ON s.cell = c.cell GROUP BY c.cell, s.shift),
         |rcells AS (SELECT cell FROM cents1 WHERE refreshed),
         |cw1 AS (SELECT cell, generate_subscripts(cv, 1) AS j, unnest(cv) AS x FROM cents1),
         |resid1 AS (SELECT q.vec_id, q.cell, list(q.x - c.x ORDER BY q.j) AS v
         |FROM r1w q JOIN cw1 c ON c.cell = q.cell AND c.j = q.j GROUP BY q.vec_id, q.cell),
         |esv1 AS (SELECT t.vec_id, s.sub, t.v[s.sub*8+1 : s.sub*8+8] AS ev FROM resid1 t, subs s),
         |codesf AS (SELECT vec_id, sub, cid FROM (SELECT v.vec_id, v.sub, c.cid,
         |row_number() OVER (PARTITION BY v.vec_id, v.sub ORDER BY list_distance(v.ev, c.cv), c.cid) AS rn
         |FROM esv1 v JOIN cbf c USING (sub)) WHERE rn = 1),
         |codessel AS (SELECT co.vec_id, co.sub, co.cid FROM codesf co JOIN acell a USING (vec_id)
         |WHERE a.cell IN (SELECT cell FROM rcells)
         |UNION ALL SELECT co.vec_id, co.sub, co.cid FROM codes co JOIN acell a USING (vec_id)
         |WHERE a.cell NOT IN (SELECT cell FROM rcells)),
         |qs1 AS (SELECT vec_id AS qid, v AS qv FROM p1 WHERE vec_id % 53 = 3),
         |qw1 AS (SELECT qid, generate_subscripts(qv, 1) AS j, unnest(qv) AS x FROM qs1),
         |exact AS (SELECT qid, cid FROM (SELECT q.qid, c.vec_id AS cid,
         |row_number() OVER (PARTITION BY q.qid ORDER BY list_distance(q.qv, c.v), c.vec_id) AS rank
         |FROM qs1 q, p1 c WHERE c.vec_id <> q.qid) WHERE rank <= $K),
         |c0 AS (SELECT cent_id AS cell, cv FROM cents),
         |${probeCte("probes0", "c0")},
         |${probeCte("probes1", "cents1")},
         |${qlutCtes("0", "probes0", "centw")},
         |${qlutCtes("1", "probes1", "cw1")},
         |${adcCtes("s", "probes0", "codes", "rlut0")},
         |${adcCtes("e", "probes1", "codessel", "rlut1")},
         |${adcCtes("f", "probes1", "codesf", "rlut1")},
         |agreet AS (SELECT s.vec_id, SUM(CASE WHEN s.cid = f.cid THEN 1 ELSE 0 END) AS nm
         |FROM codessel s JOIN codesf f ON f.vec_id = s.vec_id AND f.sub = s.sub GROUP BY s.vec_id),
         |agg AS (SELECT
         |(SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) FROM exact) AS n_queries,
         |(SELECT CAST(COUNT(DISTINCT cell) AS BIGINT) FROM acell) AS n_cells,
         |(SELECT CAST(COUNT(*) AS BIGINT) FROM rcells) AS n_refresh_cells,
         |CAST((SELECT COUNT(*) FROM acell WHERE cell IN (SELECT cell FROM rcells)) AS DOUBLE)
         |/ (SELECT COUNT(*) FROM acell) AS frac_rows_reencoded,
         |${recall("tops")} AS recall_stale,
         |${recall("tope")} AS recall_selective,
         |${recall("topf")} AS recall_full,
         |(SELECT AVG(CASE WHEN nm = 8 THEN 1.0 ELSE 0.0 END) FROM agreet) AS code_agreement)
         |SELECT n_queries, n_cells, n_refresh_cells, frac_rows_reencoded,
         |recall_stale, recall_selective, recall_full, code_agreement,
         |abs(recall_full - recall_selective) <= 0.05 AS sel_matches_full FROM agg"""
        .stripMargin.replace("\n", " ")
        // every CTE MATERIALIZED (the corpus_prep_pipeline precedent):
        // cbf/codes/assigned are each referenced by several downstream
        // CTEs, and DuckDB's default inlining re-executes the whole
        // codebook chain per reference — at sf0.1 the expansion OOMs
        .replaceAll(" AS \\(", " AS MATERIALIZED (")
    },
    isScore = false)

  /** Bounded driver-side MemoryStream fixture cap (the
    * inverted_index_stream/IdxStreamCap discipline): only doc_id <
    * DriftStreamCap rows are collected to feed the test source, so the
    * fixture boundary is O(cap) at any sf — production reads files or
    * Kafka and never collects.
    */
  private val DriftStreamCap = 400L

  /** STREAMING drift monitoring (the `factors/3-current.md`
    * infrastructure-enforced shape applied to the monitor itself): the
    * reference snapshot is batch (even doc_ids); the CURRENT snapshot
    * arrives as a stream (odd doc_ids under the fixture cap, two
    * micro-batch waves) and each batch folds its token counts into the
    * running O(vocab) count state by SUM — the associative-merge form
    * `Drift.categoricalPsiFromCounts` exists for. The final PSI table is
    * derived from the folded counts alone; the oracle recomputes the
    * same PSI from the raw documents in SQL, so the hash match pins
    * stream-folded counts ≡ batch counts ≡ the monitor's arithmetic,
    * end-to-end. State is counts, not rows: a 100 TB stream folds into
    * vocab-sized state per batch, and lineage stays O(1) in the batch
    * count (eager localCheckpoint per fold, the mergeDelta discipline).
    * Stateful (blocking micro-batch loop) → benched serial-only.
    */
  val corpusDriftStream = Check("corpus_drift_stream",
    (spark, dir) => {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val d = table(ss, dir, "documents")
      def toks(df: org.apache.spark.sql.DataFrame) =
        df.select(explode(tokens(col("text"))).as("token"))
      val refCounts = toks(d.filter(col("doc_id") % 2 === 0))
        .groupBy(col("token").as("key")).agg(count(lit(1)).as("n_ref"))
      val streamed = col("doc_id") % 2 === 1 && col("doc_id") < DriftStreamCap
      def wave(m: Int): Seq[String] =
        d.filter(streamed && col("doc_id") % 4 === (2 * m + 1))
          .select(col("text")).as[String].collect().toSeq
      var curCounts = ss.emptyDataset[(String, Long)]
        .toDF("key", "n_cur")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[String]
      val q = input.toDF().toDF("text")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bc = toks(batch)
            .groupBy(col("token").as("key"))
            .agg(count(lit(1)).as("n_cur"))
          curCounts = curCounts.unionByName(bc)
            .groupBy("key").agg(sum("n_cur").as("n_cur"))
            .localCheckpoint(true)
        }
        .start()
      try {
        Seq(wave(0), wave(1)).foreach { texts =>
          input.addData(texts); q.processAllAvailable()
        }
      } finally q.stop()
      graft.substrate.Drift.categoricalPsiFromCounts(refCounts, curCounts)
        .withColumnRenamed("key", "token")
        .orderBy("token")
    },
    Some(
      s"""WITH rtoks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |FROM documents WHERE doc_id % 2 = 0),
         |ctoks AS (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
         |FROM documents WHERE doc_id % 2 = 1 AND doc_id < $DriftStreamCap),
         |rc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rtoks GROUP BY 1),
         |cc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_cur FROM ctoks GROUP BY 1),
         |unioned AS (SELECT token, COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
         |FROM rc FULL JOIN cc USING (token)),
         |tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS v FROM unioned)
         |SELECT token, n_ref, n_cur,
         |(n_ref + 1.0) / (t_ref + v) AS p_ref,
         |(n_cur + 1.0) / (t_cur + v) AS p_cur,
         |((n_cur + 1.0) / (t_cur + v) - (n_ref + 1.0) / (t_ref + v))
         |* ln(((n_cur + 1.0) / (t_cur + v)) / ((n_ref + 1.0) / (t_ref + v))) AS contrib
         |FROM unioned, tot ORDER BY token"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** The mean-shift monitor in STREAMING form — the continuous-state
    * sibling of [[corpusDriftStream]] with a different merge algebra:
    * means are NOT associative, so the folded state is the per-dim
    * sufficient statistics (Σx, n — `Drift.embeddingMoments`), merged by
    * SUM per micro-batch, and the means derive only at read time
    * (`embeddingMeanShiftFromMoments`). The current snapshot streams
    * (odd vec_ids under the fixture cap, two waves); the oracle
    * recomputes per-dim means from raw parquet, so the hash match pins
    * stream-folded moments ≡ batch ≡ the monitor arithmetic. State is
    * O(dim) at any corpus size; stateful → serial-only bench.
    */
  val embeddingDriftStream = Check("embedding_drift_stream",
    (spark, dir) => {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val e = table(ss, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      val refM = graft.substrate.Drift
        .embeddingMoments(e.filter(col("vec_id") % 2 === 0), "v")
      val streamed = col("vec_id") % 2 === 1 && col("vec_id") < DriftStreamCap
      def wave(m: Int): Seq[Seq[Double]] =
        e.filter(streamed && col("vec_id") % 4 === (2 * m + 1))
          .select(col("v")).as[Seq[Double]].collect().toSeq
      var curM = ss.emptyDataset[(Long, Double, Long)]
        .toDF("dim", "sx", "n")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Seq[Double]]
      val q = input.toDF().toDF("v")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          curM = curM
            .unionByName(graft.substrate.Drift.embeddingMoments(batch, "v"))
            .groupBy("dim").agg(sum("sx").as("sx"), sum("n").as("n"))
            .localCheckpoint(true)
        }
        .start()
      try {
        Seq(wave(0), wave(1)).foreach { vs =>
          input.addData(vs); q.processAllAvailable()
        }
      } finally q.stop()
      graft.substrate.Drift.embeddingMeanShiftFromMoments(refM, curM)
        .orderBy("dim")
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |r AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim, unnest(v) AS x
         |FROM e WHERE vec_id % 2 = 0),
         |c AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS dim, unnest(v) AS x
         |FROM e WHERE vec_id % 2 = 1 AND vec_id < $DriftStreamCap),
         |rm AS (SELECT dim, AVG(x) AS mean_ref FROM r GROUP BY dim),
         |cm AS (SELECT dim, AVG(x) AS mean_cur FROM c GROUP BY dim)
         |SELECT dim, mean_ref, mean_cur, abs(mean_cur - mean_ref) AS abs_shift
         |FROM rm JOIN cm USING (dim) ORDER BY dim"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Streaming INGEST against the FROZEN serving codebook — the stream
    * half of index maintenance: [[indexRefreshExecute]] guards WHEN the
    * codebook retrains; this pins that BETWEEN refreshes, arriving
    * vectors encode against the frozen artifact in a STATELESS
    * micro-batch map — no state store, no shuffle, the codebook rides
    * each batch as a broadcast-sized array (m·k·(dim/m) doubles) and
    * every batch is embarrassingly parallel. That statelessness is the
    * property that keeps index ingest streaming-compatible at any rate:
    * unlike the drift monitors (which FOLD state across batches with a
    * merge algebra), the encode of a vector depends on nothing but the
    * frozen artifact, so the 100 TB shape is trivially a wider cluster.
    * Output is the full per-row code assignment of the streamed delta
    * (two waves of new vectors); the DuckDB oracle recomputes the same
    * codes from raw parquet (train on the base population, encode the
    * delta), so the hash match pins stream-encode ≡ batch arithmetic
    * row-for-row — the batch-equivalence contract every streaming entry
    * here carries. Stateful (blocking micro-batch loop) → serial-only
    * bench, the established treatment.
    */
  val vectorIngestStream = Check("vector_ingest_stream",
    (spark, dir) => {
      import graft.substrate.PqIndex
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val e = table(ss, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      val cb = PqIndex.codebookArrays(
        PqIndex.codebooks(e.filter(col("vec_id") % 2 === 0),
          "vec_id", "v", dim = 64))
      val streamed = col("vec_id") % 2 === 1 && col("vec_id") < DriftStreamCap
      def wave(m: Int): Seq[(Long, Seq[Double])] =
        e.filter(streamed && col("vec_id") % 4 === (2 * m + 1))
          .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
          .collect().toSeq
      var acc = ss.emptyDataset[(Long, Seq[Int])].toDF("vec_id", "codes")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = input.toDF().toDF("vec_id", "v")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          acc = acc
            .unionByName(PqIndex.encode(batch, "vec_id", "v", cb, dim = 64))
            .localCheckpoint(true)
        }
        .start()
      try {
        Seq(wave(0), wave(1)).foreach { vs =>
          input.addData(vs); q.processAllAvailable()
        }
      } finally q.stop()
      acc.select(col("vec_id"),
          posexplode(col("codes")).as(Seq("sub", "cid")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("cid").cast("long").as("cid"))
        .orderBy("vec_id", "sub")
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |base AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
         |delta AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1 AND vec_id < $DriftStreamCap),
         |${VectorTier.pqCodeCtesCfg("delta", m = 8, k = 16, trainMod = 5,
            iters = 1, trainSrc = Some("base"), qWhere = Some("FALSE"))}
         |SELECT vec_id, sub, cid FROM codes ORDER BY 1, 2"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Streaming ingest folded into the DURABLE artifact store (VERDICT
    * r11 next #7 — the write-side twin of the serve-swap, closing the
    * loop r12's publishIncremental opened): [[vectorIngestStream]]
    * proved per-batch frozen-codebook encode; this entry makes each
    * micro-batch an APPEND COMMIT on the versioned index artifact
    * (VectorArtifact.appendPublish): v0 = the base corpus published
    * cell-clustered, then every streamed wave publishes v=N+1 whose
    * manifest pins v=N's ENTIRE file set untouched (zero data rewrite —
    * the append writes only the batch's own files) plus the batch's new
    * cell files. After the stream, the index is served from a fresh
    * loadLatest THROUGH the manifest chain, and the output is the full
    * per-row code assignment of everything the artifact now holds; the
    * DuckDB oracle recomputes the codes of base ∪ delta from raw
    * parquet (train on base, encode all), so the hash match pins
    * append-publish ≡ full re-encode publish, row for row — a missed
    * batch, a dropped shared file, or a stale manifest row would all
    * surface as missing/wrong code rows. Spark-side requires pin the
    * version chain (v2 ← v1 ← v0 provenance) and the zero-rewrite claim
    * (every v_N manifest row survives verbatim into v_{N+1}).
    * Stateless per-batch compute + metadata-scale commits: the 100 TB
    * shape is a wider cluster and an object-store rename. Stateful
    * fixture loop → serial-only bench.
    */
  val vectorIngestPublishStream = Check("vector_ingest_publish_stream",
    (spark, dir) => {
      import graft.substrate.{IvfPq, PqIndex, VectorArtifact}
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val e = table(ss, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      val base = e.filter(col("vec_id") % 2 === 0).localCheckpoint(true)
      // frozen serving artifacts, trained on the base population
      val cents = IvfPq.servingCentroids(base, centroidMod = 23)
        .localCheckpoint(true)
      val cb = PqIndex.codebookArrays(
        PqIndex.codebooks(base, "vec_id", "v", dim = 64))
      def codesFor(df: org.apache.spark.sql.DataFrame) =
        PqIndex.encode(df, "vec_id", "v", cb, dim = 64)
          .join(IvfPq.probeCellsFrom(cents, df, "vec_id", "v", nProbe = 1)
            .select(col("qid").as("vec_id"), col("cell")), Seq("vec_id"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_vecpub")
        .toString
      try {
        VectorArtifact.saveClustered(ss, tmp, 0L, dim = 64, cents, cb,
          codesFor(base))
        val streamed = col("vec_id") % 2 === 1 &&
          col("vec_id") < DriftStreamCap
        def wave(m: Int): Seq[(Long, Seq[Double])] =
          e.filter(streamed && col("vec_id") % 4 === (2 * m + 1))
            .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
            .collect().toSeq
        var version = 0L
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Seq[Double])]
        val q = input.toDF().toDF("vec_id", "v")
          .writeStream.outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            VectorArtifact.appendPublish(ss, tmp, version + 1, version,
              dim = 64, cents, cb, codesFor(batch))
            version += 1
          }
          .start()
        try {
          Seq(wave(0), wave(1)).foreach { vs =>
            input.addData(vs); q.processAllAvailable()
          }
        } finally q.stop()
        val a = VectorArtifact.loadLatest(ss, tmp)
        require(a.version == 2L && a.sourceVersion.contains(1L),
          s"append chain must end at v2 ← v1, got v${a.version} ← " +
            s"${a.sourceVersion}")
        // zero-rewrite: each commit pinned its ancestor's files verbatim
        val mfs = (0L to 2L)
          .map(v => VectorArtifact.readManifest(ss, tmp, v).toSet)
        require(mfs(0).subsetOf(mfs(1)) && mfs(1).subsetOf(mfs(2)),
          "an append commit must share its ancestor's entire file set")
        val rows = a.codes
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("sub", "cid")))
          .select(col("vec_id"), col("sub").cast("long").as("sub"),
            col("cid").cast("long").as("cid"))
          .orderBy("vec_id", "sub").collect()
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        ss.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField("vec_id", LongType),
            StructField("sub", LongType), StructField("cid", LongType))))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some(
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |base AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
         |pop AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0
         |OR (vec_id % 2 = 1 AND vec_id < $DriftStreamCap)),
         |${VectorTier.pqCodeCtesCfg("pop", m = 8, k = 16, trainMod = 5,
            iters = 1, trainSrc = Some("base"), qWhere = Some("FALSE"))}
         |SELECT vec_id, sub, cid FROM codes ORDER BY 1, 2"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Serving through an index HOT-SWAP — the missing edge of the
    * lifecycle triangle: [[indexRefreshExecute]] proves the refresh
    * loop PRODUCES a recovered artifact, `retrieval_serve_stream`
    * proves a stream SERVES a frozen artifact, but nothing yet proved
    * the serving tier can CONSUME the refreshed artifact without
    * stopping the query stream. Here the serving loop reads its
    * artifact (version, codebook, code table) from a single mutable
    * slot (an AtomicReference — the version-stamped pointer-swap every
    * zero-downtime serving tier uses: queries in flight keep the
    * artifact they dereferenced; the swap is one pointer store, never a
    * stream restart): the SAME query set streams twice over the
    * drifted-population fixture of [[indexRefreshExecute]] (delta =
    * vec_id % 4 == 3 shifted +0.6/dim; queries sample the drifted
    * region), wave 1 answered by the AGED artifact (codebook trained on
    * the pre-drift base — the ~0.05-recall regime the refresh exists to
    * escape), then the refresh loop's output is swapped in and wave 2
    * is answered by the REFRESHED artifact (retrained on the current
    * population, ~0.3 recall). Every served row is stamped with the
    * index_version that answered it, so the output pins WHICH artifact
    * served WHICH answer: the DuckDB oracle recomputes BOTH ADC chains
    * (aged trained on the base subset, fresh on the full population —
    * the indexRefreshExecute twins) and emits version-tagged ranked
    * rows; the hash match pins swap semantics end-to-end — same
    * queries, provably different answers, each version's rows equal to
    * its batch chain. All-integer output (version, qid, rank, cid):
    * rank order is the only FP-sensitive step, same as every ranked
    * retrieval entry. Artifacts build ONCE per (corpus, JVM) via
    * DerivationCache (the stored-index discipline — this entry's cost
    * is serving + one swap, not rebuilds). At 100 TB the swap cost is
    * O(1) driver-side (a pointer to the new code-table snapshot);
    * serving cost per batch is the measured flat-candidates ADC shape.
    * Stateful fixture loop → serial-only bench.
    */
  val retrievalServeSwapStream = Check("retrieval_serve_swap_stream",
    (spark, dir) => {
      import graft.substrate.{IndexRefresh, PqIndex}
      val K = 10
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val e = table(ss, dir, "embeddings")
        .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
      val (corpus, cbAged, codesAged, cbFresh, codesFresh) =
        graft.substrate.DerivationCache.memo(e,
          s"serveSwap/shift0.6/k${PqIndex.ProdCodebookK}") {
          // single-consumer memo, every builder pins the same ss conf
          // above — no artifactSession rebase needed (unlike the
          // cross-entry plantedResidIndex)
          val (_, base, delta, full) = driftedFixture(e, 0.6)
          val (_, refresh, cbA, cbS) = IndexRefresh
            .refreshIfDrifted(base, delta, full, "vec_id", "v", dim = 64)
          require(refresh,
            "the 0.6-shift fixture must fire the drift monitor")
          val codesA = PqIndex.encode(full, "vec_id", "v", cbA, dim = 64)
            .localCheckpoint(true)
          val codesF = PqIndex.encode(full, "vec_id", "v", cbS, dim = 64)
            .localCheckpoint(true)
          (full, cbA, codesA, cbS, codesF)
        }
      // the serving tier's artifact slot: version-stamped, swapped by
      // one pointer store — queries keep whatever they dereferenced
      val current = new java.util.concurrent.atomic.AtomicReference(
        (0L, cbAged, codesAged))
      val qs = corpus.filter(col("vec_id") % 100 === 3)
        .select(col("vec_id"), col("v")).as[(Long, Seq[Double])]
        .collect().toSeq
      var served = Seq.empty[(Long, Long, Long, Long)]
        .toDF("index_version", "qid", "rank", "cid")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val query = input.toDF().toDF("qid", "qv")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val (ver, cb, codes) = current.get()
          val ans = PqIndex.topK(codes, batch, "qid", "qv", cb, dim = 64,
            topK = K)
          served = served.unionByName(
              ans.select(lit(ver).as("index_version"), col("qid"),
                col("rank"), col("cid")))
            .localCheckpoint(true)
        }
        .start()
      try {
        input.addData(qs); query.processAllAvailable() // served by AGED
        current.set((1L, cbFresh, codesFresh))         // HOT SWAP
        input.addData(qs); query.processAllAvailable() // served by FRESH
      } finally query.stop()
      served.orderBy("index_version", "qid", "rank")
    },
    Some {
      import graft.substrate.PqIndex
      val K = 10
      def pq(pp: String, ts: Option[String]) =
        VectorTier.pqCodeCtesCfg("corpus", m = 8,
          k = PqIndex.ProdCodebookK, trainMod = PqIndex.ProdTrainMod,
          iters = 1, prefix = pp, trainSrc = ts,
          qWhere = Some("t.vec_id % 100 = 3"))
      def ranked(p: String) =
        s"""${p}adist AS (SELECT l.qid, co.vec_id AS cand, SUM(l.d * l.d) AS ad
           |FROM ${p}codes co JOIN ${p}lut l ON l.sub = co.sub AND l.cid = co.cid
           |WHERE co.vec_id <> l.qid GROUP BY 1, 2),
           |${p}ranked AS (SELECT qid, cand AS cid,
           |row_number() OVER (PARTITION BY qid ORDER BY ad, cand) AS rank FROM ${p}adist)"""
          .stripMargin.replace("\n", " ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |${driftedCtes("", 0.6)},
         |${pq("a_", Some("bsrc"))},
         |${pq("f_", None)},
         |${ranked("a_")},
         |${ranked("f_")}
         |SELECT index_version, qid, CAST(rank AS BIGINT) AS rank, cid FROM (
         |SELECT CAST(0 AS BIGINT) AS index_version, qid, rank, cid
         |FROM a_ranked WHERE rank <= $K
         |UNION ALL SELECT CAST(1 AS BIGINT), qid, rank, cid
         |FROM f_ranked WHERE rank <= $K)
         |ORDER BY 1, 2, 3"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  val all: Seq[Check] = Seq(corpusDriftPsi, embeddingDriftMeans,
    numericDriftPsi, distributionCurrency, indexRefreshDecision,
    indexRefreshExecute, indexRefreshSelective, corpusDriftStream,
    embeddingDriftStream, vectorIngestStream, vectorIngestPublishStream,
    retrievalServeSwapStream)
}
