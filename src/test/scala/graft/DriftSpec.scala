package graft

import org.apache.spark.sql.functions._

import graft.substrate.Drift

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("categoricalPsi: identical snapshots give ~zero contributions") {
    val obs = Seq("a", "a", "b", "c").toDF("k")
    val out = Drift.categoricalPsi(obs, obs, "k")
      .select("key", "contrib").as[(String, Double)].collect()
    assert(out.length == 3)
    assert(out.forall(r => math.abs(r._2) < 1e-15), s"${out.toSeq}")
  }

  test("categoricalPsi: smoothing keeps one-sided categories finite; movers carry positive contributions") {
    val ref = Seq("a", "a", "a", "b").toDF("k")
    val cur = Seq("a", "b", "c", "c").toDF("k")
    val rows = Drift.categoricalPsi(ref, cur, "k")
      .orderBy("key")
      .as[(String, Long, Long, Double, Double, Double)].collect()
    val byKey = rows.map(r => r._1 -> r).toMap
    assert(byKey("c")._2 == 0L && byKey("c")._3 == 2L)
    // union vocab = 3, totals 4 and 4: p = (n+1)/7
    assert(math.abs(byKey("c")._4 - 1.0 / 7) < 1e-15)
    assert(math.abs(byKey("c")._5 - 3.0 / 7) < 1e-15)
    // every contribution is finite and non-negative (the PSI term
    // (p2-p1)ln(p2/p1) is >= 0 for any p1,p2 > 0)
    assert(rows.forall(r => !r._6.isNaN && !r._6.isInfinite && r._6 >= 0))
    // the vanished-then-appeared categories are the top movers
    val top = rows.maxBy(_._6)._1
    assert(top == "a" || top == "c", s"unexpected top mover $top")
  }

  test("embeddingMeanShift: per-dim means and |shift| on known arrays") {
    val ref = Seq(Tuple1(Array(0.0, 2.0)), Tuple1(Array(2.0, 2.0))).toDF("v")
    val cur = Seq(Tuple1(Array(1.0, 0.0)), Tuple1(Array(3.0, 0.0))).toDF("v")
    val out = Drift.embeddingMeanShift(ref, cur, "v")
      .orderBy("dim").as[(Long, Double, Double, Double)].collect()
    assert(out.toSeq == Seq((0L, 1.0, 2.0, 1.0), (1L, 2.0, 0.0, 2.0)))
  }
  test("numericPsi: identical snapshots ~zero; a planted location shift concentrates mass in the top bin") {
    import spark.implicits._
    // deterministic values 0..199 with id ties for the edge selection
    val ref = (0L until 200L).map(i => (i, (i % 100).toDouble)).toDF("id", "x")
    val same = Drift.numericPsi(ref, ref, "x", "id", sampleMod = 2, nBins = 10)
      .collect()
    assert(same.nonEmpty)
    same.foreach(r => assert(math.abs(r.getAs[Double]("contrib")) < 1e-12))
    // bins stay in [0, nBins)
    same.foreach { r =>
      val b = r.getAs[Long]("key"); assert(b >= 0 && b < 10)
    }
    // location shift: every cur value beyond the reference range lands in
    // the TOP bin (edges are fixed from ref), and the PSI is clearly > 0
    val cur = ref.select(col("id"), (col("x") + 1000.0).as("x"))
    val shifted = Drift.numericPsi(ref, cur, "x", "id", sampleMod = 2, nBins = 10)
      .collect()
    val top = shifted.maxBy(_.getAs[Long]("key"))
    assert(top.getAs[Long]("key") == 9 && top.getAs[Long]("n_cur") == 200L)
    assert(shifted.map(_.getAs[Double]("contrib")).sum > 1.0)
  }

  test("halfCounts: one tagged scan gives categoricalPsi's per-key counts; null and negative odd ids are in neither half") {
    val obs = Seq[(java.lang.Long, String)]((0L, "a"), (1L, "a"), (2L, "b"),
      (3L, "c"), (4L, "a"), (-2L, "c"), (-3L, "d"), (null, "e"), (7L, "b"),
      (9L, "f")).toDF("id", "k")
    val one = Drift.halfCounts(Drift.halves(obs, "id"), col("k"))
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    val two = Drift.categoricalPsi(obs.filter(col("id") % 2 === 0),
      obs.filter(col("id") % 2 === 1), "k")
      .select("key", "n_ref", "n_cur").as[(String, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(one == two)
    assert(!one.exists(r => r._1 == "d" || r._1 == "e"), s"$one")
    assert(one.find(_._1 == "c").contains(("c", 1L, 1L)), s"$one")
  }

  test("psiOfCounts: the one-aggregate PSI equals the sum of contributions on a skewed case") {
    val counts = (0 until 60).map(i => (s"k$i", i.toLong * i * i,
      if (i % 7 == 0) 0L else (60L - i) * 3)).toDF("key", "n_ref", "n_cur")
    val psi = Drift.psiOfCounts(counts).head().getDouble(0)
    val contrib = Drift.categoricalPsiFromCounts(
      counts.select("key", "n_ref"), counts.select("key", "n_cur"))
      .agg(sum("contrib")).head().getDouble(0)
    assert(contrib > 1.0, s"not a skewed case: $contrib")
    assert(math.abs(psi - contrib) <= 1e-12 * contrib, s"$psi vs $contrib")
  }

  test("halfMeanShift: the conditional per-dim means equal embeddingMeanShift over the two halves") {
    val rnd = new scala.util.Random(7)
    val rows = (-5L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextDouble() + (if (i % 2 == 0) 0.0 else 0.3))))
    val e = rows.toDF("id", "v")
    val one = Drift.halfMeanShift(Drift.halves(e, "id"), "v")
      .orderBy("dim").as[(Long, Double, Double, Double)].collect().toSeq
    val two = Drift.embeddingMeanShift(e.filter(col("id") % 2 === 0),
      e.filter(col("id") % 2 === 1), "v")
      .orderBy("dim").as[(Long, Double, Double, Double)].collect().toSeq
    assert(one.map(_._1) == two.map(_._1))
    one.zip(two).foreach { case (a, b) =>
      Seq(a._2 -> b._2, a._3 -> b._3, a._4 -> b._4).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y)), s"$a vs $b")
      }
    }
  }

  /** The aged-vs-fresh recall pipeline of `index_refresh_decision`,
    * parameterized over the planted shift — shift = 0 is the CONTROL the
    * registered entry cannot carry (one entry, one corpus).
    */
  private def refreshLoop(shift: Double): (Double, Double, Double) = {
    import org.apache.spark.sql.expressions.Window
    import graft.substrate.{Drift, PqIndex}
    import graft.substrate.VectorOps.{sqDist, toDoubleArr}
    val K = 10
    val e = graft.checks.CheckDsl.table(spark, sf, "embeddings")
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    val corpus = e.select(col("vec_id"),
      when(col("vec_id") % 4 === 3, transform(col("v"), x => x + lit(shift)))
        .otherwise(col("v")).as("v"),
      (col("vec_id") % 4 === 3).as("is_delta"))
    val base = corpus.filter(!col("is_delta")).select("vec_id", "v")
    val delta = corpus.filter(col("is_delta")).select("vec_id", "v")
    val full = corpus.select("vec_id", "v")
    val meanShift = Drift.embeddingMeanShift(base, delta, "v")
      .agg(avg("abs_shift")).collect().head.getDouble(0)
    val q = corpus.filter(col("vec_id") % 100 === 3)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val exact = broadcast(q).crossJoin(full)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"),
        sqDist(col("qv"), col("v")).as("d2"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("cid"))))
      .filter(col("rank") <= K).select("qid", "cid").cache()
    val nq = exact.select("qid").distinct().count()
    def recall(train: org.apache.spark.sql.DataFrame): Double = {
      val cb = PqIndex.codebookArrays(
        PqIndex.codebooks(train, "vec_id", "v", dim = 64,
          k = PqIndex.ProdCodebookK, trainMod = PqIndex.ProdTrainMod),
        k = PqIndex.ProdCodebookK)
      val codes = PqIndex.encode(full, "vec_id", "v", cb, dim = 64)
      val approx = PqIndex.topK(codes, q, "qid", "qv", cb, dim = 64,
        topK = K).select("qid", "cid")
      val hits = exact.join(approx, Seq("qid", "cid"), "left_semi").count()
      hits.toDouble / (nq * K)
    }
    val out = (meanShift, recall(base), recall(full))
    exact.unpersist()
    out
  }

  test("categoricalPsiFromCounts: merged partial counts == one-shot observation PSI") {
    import spark.implicits._
    val ref = Seq("a", "a", "b", "c", "c", "c").toDF("k")
    val cur = Seq("a", "b", "b", "b", "d").toDF("k")
    val oneShot = Drift.categoricalPsi(ref, cur, "k")
      .orderBy("key").collect().map(_.toSeq)
    // the same cur observations split into two "micro-batches", counted
    // per batch and merged by SUM — the associative state a streaming
    // fold maintains
    val b1 = Seq("a", "b").toDF("k").groupBy(col("k").as("key"))
      .agg(count(lit(1)).as("n_cur"))
    val b2 = Seq("b", "b", "d").toDF("k").groupBy(col("k").as("key"))
      .agg(count(lit(1)).as("n_cur"))
    val merged = b1.unionByName(b2).groupBy("key")
      .agg(sum("n_cur").as("n_cur"))
    val rc = ref.groupBy(col("k").as("key")).agg(count(lit(1)).as("n_ref"))
    val folded = Drift.categoricalPsiFromCounts(rc, merged)
      .orderBy("key").collect().map(_.toSeq)
    assert(folded.toSeq == oneShot.toSeq)
  }

  test("embeddingMeanShiftFromMoments: merged batch moments == one-shot mean shift") {
    import spark.implicits._
    val ref = Seq(Tuple1(Seq(0.0, 2.0)), Tuple1(Seq(2.0, 2.0))).toDF("v")
    val cur = Seq(Tuple1(Seq(1.0, 0.0)), Tuple1(Seq(3.0, 0.0)),
      Tuple1(Seq(5.0, 3.0))).toDF("v")
    val oneShot = Drift.embeddingMeanShift(ref, cur, "v")
      .orderBy("dim").as[(Long, Double, Double, Double)].collect().toSeq
    // cur split into two "micro-batches", moments merged by SUM — the
    // sufficient-statistic state a streaming fold maintains (means are
    // NOT associative; sums and counts are)
    val b1 = Drift.embeddingMoments(
      Seq(Tuple1(Seq(1.0, 0.0))).toDF("v"), "v")
    val b2 = Drift.embeddingMoments(
      Seq(Tuple1(Seq(3.0, 0.0)), Tuple1(Seq(5.0, 3.0))).toDF("v"), "v")
    val merged = b1.unionByName(b2).groupBy("dim")
      .agg(sum("sx").as("sx"), sum("n").as("n"))
    val folded = Drift.embeddingMeanShiftFromMoments(
        Drift.embeddingMoments(ref, "v"), merged)
      .orderBy("dim").as[(Long, Double, Double, Double)].collect().toSeq
    assert(folded == oneShot)
  }

  test("refresh loop, planted drift: trigger fires AND the aged codebook's recall decay is real") {
    val (shift, aged, fresh) = refreshLoop(0.6)
    assert(shift > Drift.MeanShiftBar, s"monitor missed the planted shift: $shift")
    // the decay the trigger prevents: the pre-drift codebook loses the
    // drifted region's neighborhoods (shifted subvectors quantize to the
    // same few edge cells) while a re-trained codebook resolves them
    assert(fresh >= 2 * aged,
      s"expected >=2x recall decay under drift: aged=$aged fresh=$fresh")
  }

  test("refresh loop, control: no drift -> no trigger, no decay") {
    val (shift, aged, fresh) = refreshLoop(0.0)
    assert(shift <= Drift.MeanShiftBar,
      s"false-positive trigger on iid halves: $shift")
    // aged (trained on 75% of an iid corpus) must track fresh — the
    // trigger's absence is justified by the absence of decay
    assert(aged * 2 >= fresh,
      s"control decayed without drift: aged=$aged fresh=$fresh")
  }

  test("refresh EXECUTE: drifted scenario acts and recovers; stable scenario must not act") {
    // VERDICT r10 next #3 — decide→act→recover end-to-end: the drifted
    // row retrains + re-encodes and post recall strictly recovers from
    // the aged decay (post == fresh-trained by construction, so this IS
    // recovery-to-fresh-within-ε); the stable row keeps the aged
    // artifact untouched (post == aged exactly — acting without a
    // trigger would make the monitor a timer)
    val rows = graft.checks.Checks.byName("index_refresh_execute")
      .run(spark, sf).collect()
      .map(r => r.getAs[String]("scenario") -> r).toMap
    val d = rows("drifted"); val s = rows("stable")
    assert(d.getAs[Boolean]("refresh"), "drifted scenario must trigger")
    assert(d.getAs[Boolean]("recovered"))
    assert(d.getAs[Double]("recall_post") > d.getAs[Double]("recall_aged"),
      s"refresh bought no recall: aged=${d.getAs[Double]("recall_aged")} post=${d.getAs[Double]("recall_post")}")
    assert(!s.getAs[Boolean]("refresh"), "stable scenario must not trigger")
    assert(s.getAs[Double]("recall_post") == s.getAs[Double]("recall_aged"),
      "stable scenario served a different artifact than the aged one")
    assert(s.getAs[Boolean]("recovered"))
  }

  test("selective refresh: rewrites only the drifted fraction, serving parity with the full re-encode") {
    // VERDICT r10 next #8 — the incremental-maintenance pair: cost
    // (re-encoded rows ≈ the drifted fraction, never everything) and
    // equivalence (selective serving state ≈ full re-encode through the
    // deployed probed path)
    val r = graft.checks.Checks.byName("index_refresh_selective")
      .run(spark, sf).collect().head
    val frac = r.getAs[Double]("frac_rows_reencoded")
    assert(frac > 0.0 && frac < 0.7,
      s"selective refresh should rewrite a strict minority-ish fraction, got $frac")
    assert(r.getAs[Long]("n_refresh_cells") > 0)
    assert(r.getAs[Long]("n_refresh_cells") < r.getAs[Long]("n_cells"))
    assert(r.getAs[Boolean]("sel_matches_full"))
    val agree = r.getAs[Double]("code_agreement")
    // refreshed cells agree by construction; clean-cell jitter may flip
    // borderline codes, but a majority of vectors must carry identical
    // codes to the full twin
    assert(agree > 0.5 && agree <= 1.0, s"code agreement $agree")
  }

  test("vector_ingest_stream: stream-encoded codes == batch encode against the frozen codebook") {
    // the stateless-ingest contract: between refreshes, a streamed
    // vector's codes depend on nothing but the frozen artifact, so the
    // micro-batch path must be EXACTLY the batch encode, row for row
    import graft.substrate.PqIndex
    import graft.substrate.VectorOps.toDoubleArr
    val out = graft.checks.Checks.byName("vector_ingest_stream")
      .run(spark, sf).collect()
    assert(out.nonEmpty && out.length % 8 == 0, s"rows=${out.length}")
    val e = graft.checks.CheckDsl.table(spark, sf, "embeddings")
      .select(col("vec_id"), toDoubleArr(col("embedding")).as("v"))
    val cb = PqIndex.codebookArrays(PqIndex.codebooks(
      e.filter(col("vec_id") % 2 === 0), "vec_id", "v", dim = 64))
    val batch = PqIndex.encode(
        e.filter(col("vec_id") % 2 === 1 && col("vec_id") < 400),
        "vec_id", "v", cb, dim = 64)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "cid")))
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
      .toSet
    val streamed = out
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sub"),
        r.getAs[Long]("cid"))).toSet
    assert(streamed == batch, "stream and batch code assignments differ")
  }

  test("retrieval_serve_swap_stream: the hot-swap is load-bearing and each version equals its batch chain") {
    val out = graft.checks.Checks.byName("retrieval_serve_swap_stream")
      .run(spark, sf).collect()
    val byVer = out.groupBy(_.getAs[Long]("index_version"))
    assert(byVer.keySet == Set(0L, 1L), s"versions=${byVer.keySet}")
    // both versions answer the SAME query set with a complete 1..K
    // ranking — the stream never stopped across the swap
    def answers(v: Long) = byVer(v)
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("cid")).toSeq
      }
    val aged = answers(0L); val fresh = answers(1L)
    assert(aged.keySet == fresh.keySet && aged.nonEmpty)
    aged.values.foreach(cs => assert(cs.length == 10 && cs.distinct.length == 10))
    byVer.values.foreach(rs => rs.groupBy(_.getAs[Long]("qid")).values
      .foreach(g => assert(g.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))))
    // the swap must CHANGE answers: the aged codebook misranks the
    // drifted queries, the refreshed one recovers — identical outputs
    // would mean the slot never actually swapped
    val changed = aged.count { case (q, cs) => fresh(q) != cs }
    assert(changed > aged.size / 2,
      s"only $changed/${aged.size} queries changed answers across the swap")
  }

  test("refreshIfDrifted: an empty delta is a no-drift window, not an error") {
    // the routine monitoring state "no new data arrived" must read as
    // zero shift and serve the aged artifact — not NPE on avg(NULL)
    // (code-review r11)
    import graft.substrate.IndexRefresh
    val base = Seq.tabulate(8)(i =>
        (i.toLong, Array.fill(8)(i.toDouble)))
      .toDF("vec_id", "v")
    val empty = base.filter(org.apache.spark.sql.functions.lit(false))
    val (ms, refresh, aged, serving) = IndexRefresh.refreshIfDrifted(
      base, empty, base, "vec_id", "v", dim = 8, k = 2, trainMod = 1)
    assert(ms == 0.0 && !refresh)
    assert(serving eq aged, "no-drift window must keep the aged artifact")
  }

  test("cellShiftCorrection: a cell absent from a snapshot passes through unrefreshed, never vanishes") {
    // ADVICE r11 low #3: the inner joins silently DROPPED a cell whose
    // members are missing from either snapshot (e.g. all deleted in p1),
    // shrinking the coarse quantizer — it must pass through unrefreshed
    import graft.substrate.IndexRefresh
    val assigned = Seq((0L, 0L), (1L, 0L), (2L, 1L), (3L, 2L))
      .toDF("vec_id", "cell")
    val p0 = Seq((0L, Array(0.0, 0.0)), (1L, Array(2.0, 2.0)),
      (2L, Array(5.0, 5.0)), (3L, Array(9.0, 9.0))).toDF("vec_id", "v")
    // p1: cell 0 unchanged, cell 1 drifted by (+1,+2), cell 2 (vec 3)
    // fully deleted
    val p1 = Seq((0L, Array(0.0, 0.0)), (1L, Array(2.0, 2.0)),
      (2L, Array(6.0, 7.0))).toDF("vec_id", "v")
    val cents0 = Seq((0L, Array(1.0, 1.0)), (1L, Array(5.0, 5.0)),
      (2L, Array(9.0, 9.0))).toDF("cell", "cv")
    val out = IndexRefresh.cellShiftCorrection(p0, p1, assigned, cents0)
      .orderBy("cell")
      .as[(Long, Array[Double], Boolean)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L),
      s"all three cells must survive, got ${out.map(_._1).toSeq}")
    val byCell = out.map(r => r._1 -> r).toMap
    assert(!byCell(0L)._3 && byCell(0L)._2.toSeq == Seq(1.0, 1.0))
    assert(byCell(1L)._3 && byCell(1L)._2.toSeq == Seq(6.0, 7.0),
      s"drifted cell must move by the measured shift, got ${byCell(1L)._2.toSeq}")
    assert(!byCell(2L)._3 && byCell(2L)._2.toSeq == Seq(9.0, 9.0),
      "the member-less cell must pass through with its centroid unchanged")
  }
}
