package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.checks.{CheckDsl, Checks}

/** Physical-plan quality gates (SURVEY.md "optimize for scale"): these
  * assertions pin the plan properties the 100 TB design depends on, so a
  * refactor that silently breaks pushdown, pruning, broadcast selection,
  * or codegen fails the suite — not just the benchmark.
  */
class PlanQualitySpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter pushdown reaches the parquet scan through CheckDsl.table") {
    val plan = planOf(
      CheckDsl.table(spark, sf, "documents").filter(col("doc_id") > 100)
        .select("doc_id", "text"))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(doc_id,100)"), s"no pushed filter in:\n$plan")
  }

  test("column pruning: text_stats reads only doc_id and text") {
    val plan = planOf(Checks.byName("text_stats").run(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    // the unused document columns must NOT be scanned
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"unpruned scan: $readSchema")
  }

  test("metadata joins broadcast (lang_id stopword catalog)") {
    val plan = planOf(Checks.byName("lang_id").run(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("banded LSH candidate join is an equi-join, never a cartesian product") {
    // plan-shape only: build the LAZY pair plan directly on a tiny shingle
    // set (the Check itself is eager now — it would also run the job)
    import spark.implicits._
    val sh = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "shingle")
    val pairs = {
      // non-eager copy of the banded pipeline shape: band join + verify join
      val sigs = sh.groupBy("doc_id")
        .agg(min(xxhash64(col("shingle"), lit(0))).as("m0"),
          min(xxhash64(col("shingle"), lit(1))).as("m1"),
          count(lit(1)).as("n"))
      val banded = sigs.select(col("doc_id"), hash(col("m0"), col("m1")).as("bkey"))
      banded.select(col("bkey"), col("doc_id").as("a"))
        .join(banded.select(col("bkey"), col("doc_id").as("b")), Seq("bkey"))
        .filter(col("a") < col("b"))
    }
    val plan = planOf(pairs)
    assert(!plan.contains("CartesianProduct"), s"cartesian in LSH path:\n$plan")
  }

  test("neardup top-k scale path: candidates equi-join, no cartesian product") {
    // the registered check is eager (localCheckpoint) — gate the LAZY
    // candidate+rerank subtree it is built from, over the real table
    import graft.substrate.{CosineSignLsh, VectorOps}
    val e = CheckDsl.table(spark, sf, "embeddings")
      .select(col("vec_id"), VectorOps.toDoubleArr(col("embedding")).as("v"))
    val plan = planOf(CosineSignLsh.scoredCandidates(
      e, "vec_id", "v", dim = 64, nPlanes = 32, bandBits = 8, center = false))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in neardup top-k scale path:\n$plan")
  }

  test("incremental dedup candidates: band equi-join, no cartesian product") {
    import graft.substrate.MinHashLsh
    import spark.implicits._
    val dsh = Seq((1L, "a b c")).toDF("doc_id", "shingle")
    val csh = Seq((2L, "b c d")).toDF("doc_id", "shingle")
    // lazy candidate subtree (the registered check is eager): delta bands
    // joined to corpus bands on (band, bkey)
    val cand = MinHashLsh
      .bandedKeys(MinHashLsh.signatures(dsh, 8), 8, 2)
      .select(col("band"), col("bkey"), col("doc_id").as("a"))
      .join(MinHashLsh.bandedKeys(MinHashLsh.signatures(csh, 8), 8, 2)
        .select(col("band"), col("bkey"), col("doc_id").as("b")),
        Seq("band", "bkey"))
    val plan = planOf(cand)
    assert(!plan.contains("CartesianProduct"),
      s"cartesian in incremental dedup candidate path:\n$plan")
  }

  test("knn exact broadcast: query sample broadcasts, collection streams") {
    val plan = planOf(Checks.byName("knn_exact_cosine").run(spark, sf))
    // the bounded cross join must be broadcast-nested-loop (query side tiny),
    // never a shuffle-based cartesian of the full collection
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"knn cross join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("gap-fill grid join is an equi-join, never a product") {
    val plan = planOf(Checks.byName("gap_fill_forward").run(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs product in gap-fill plan:\n$plan")
  }

  test("sessionize windows are partitioned by user, never global") {
    val plan = planOf(Checks.byName("sessionize").run(spark, sf))
    assert(plan.contains("Window"), s"no window in sessionize plan:\n$plan")
    // a windowspecdefinition with an empty partition clause would move the
    // whole corpus to one partition
    assert(!plan.contains("windowspecdefinition(t"),
      s"unpartitioned window in sessionize plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("hot-key split join: hot side broadcasts, cold side shuffles") {
    val plan = planOf(Checks.byName("hotkey_split_join").run(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"hot path not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("star join broadcasts both dimensions; the fact never shuffles") {
    val plan = planOf(Checks.byName("part_supplier_rollup").run(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"dimensions not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"fact shuffled for a dimension join:\n$plan")
  }

  test("sequence_pack: one source shuffle, partitioned window, no product") {
    val plan = planOf(Checks.byName("sequence_pack").run(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"product in pack plan:\n$plan")
    // the running-sum window must be partitioned (by source), never global
    assert(plan.contains("Window"), s"no window in:\n$plan")
    assert(!plan.toLowerCase.contains("window operation! moving all data"),
      "global window in sequence_pack")
    // exactly the source-partition exchange + the final agg/order exchanges;
    // a plan that shuffles the corpus more than 3x lost the single-pass shape
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"$exchanges exchanges in sequence_pack plan:\n$plan")
  }

  test("dup_span_stats: shingle joins are equi-joins, never a product") {
    val plan = planOf(Checks.byName("dup_span_stats").run(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"product in dup_span_stats plan:\n$plan")
  }

  test("lm_quality_score: n-gram joins are equi-joins; scan pruned to doc_id/text") {
    val plan = planOf(Checks.byName("lm_quality_score").run(spark, sf))
    // the only non-equi join allowed is the broadcast of the 1-row vocab
    // count; the bigram->LM and count joins must never be products
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in lm_quality_score plan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$plan"))
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("source"), s"unpruned scan: $readSchema")
  }

  test("inverted-index lookup/rank: term set broadcasts, no product") {
    import spark.implicits._
    val docs = CheckDsl.table(spark, sf, "documents")
    val idx = graft.substrate.InvertedIndex.build(docs, "doc_id", "text")
    val lookup = graft.substrate.InvertedIndex
      .lookupAll(idx, Seq("the", "a").toDF("token"))
    val lp = planOf(lookup)
    assert(lp.contains("BroadcastHashJoin"), s"term join not broadcast:\n$lp")
    assert(!lp.contains("CartesianProduct"), s"product in lookup:\n$lp")
    val tfIdx = graft.substrate.InvertedIndex.buildWithTf(docs, "doc_id", "text")
    val lens = docs.select(col("doc_id").cast("long").as("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
    val rp = planOf(graft.substrate.InvertedIndex
      .rankBm25(tfIdx, lens, Seq("the", "a").toDF("token")))
    assert(rp.contains("BroadcastHashJoin"), s"rank term join not broadcast:\n$rp")
    assert(!rp.contains("CartesianProduct"), s"product in rank:\n$rp")
  }

  test("phrase lookup: terms broadcast, anchors aggregate without a product") {
    import spark.implicits._
    val docs = CheckDsl.table(spark, sf, "documents")
    val idx = graft.substrate.InvertedIndex
      .buildPositional(docs, "doc_id", "text",
        dfThreshold = 100, segmentWidth = 200)
    val plan = planOf(graft.substrate.InvertedIndex.lookupPhrase(idx,
      Seq(("the", 0L), ("data", 1L)).toDF("token", "offset")))
    assert(plan.contains("BroadcastHashJoin"),
      s"phrase term join not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"product in phrase:\n$plan")
  }

  test("lookupNear: block-banded window join is an equi-join, never a per-doc product") {
    import spark.implicits._
    val docs = CheckDsl.table(spark, sf, "documents")
    val idx = graft.substrate.InvertedIndex
      .buildPositional(docs, "doc_id", "text",
        dfThreshold = 100, segmentWidth = 200)
    val plan = planOf(graft.substrate.InvertedIndex.lookupNear(idx,
      Seq("the", "data").toDF("token"), slop = 2))
    assert(!plan.contains("CartesianProduct"), s"product in near:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"near term join not broadcast:\n$plan")
    // the anchor-occurrence join must carry the block key, not bare doc_id
    assert(plan.contains("blk"), s"window join not block-banded:\n$plan")
  }

  test("mergeDelta: untouched rows pass by anti-join; no product; one corpus-side agg chain") {
    val docs = CheckDsl.table(spark, sf, "documents")
    val base = docs.filter(col("doc_id") % 10 =!= 9)
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val stored = graft.substrate.InvertedIndex
      .build(base, "doc_id", "text", dfThreshold = 100, segmentWidth = 200)
      .localCheckpoint(true) // the stored table: merge may NOT re-scan base
    val plan = planOf(graft.substrate.InvertedIndex
      .mergeDelta(stored, delta, "doc_id", "text",
        dfThreshold = 100, segmentWidth = 200))
    assert(!plan.contains("CartesianProduct"), s"product in merge:\n$plan")
    // the pass-through path must be an anti join (untouched rows are
    // never re-aggregated)
    assert(plan.toLowerCase.contains("leftanti") ||
      plan.toLowerCase.contains("left_anti") || plan.contains("LeftAnti"),
      s"no anti-join pass-through in merge plan:\n$plan")
  }

  test("deleteDocs: untouched rows pass by anti-join; deleted ids broadcast; no product") {
    val docs = CheckDsl.table(spark, sf, "documents")
    val deleted = docs.filter(col("doc_id") % 10 === 7)
    val stored = graft.substrate.InvertedIndex
      .build(docs, "doc_id", "text", dfThreshold = 100, segmentWidth = 200)
      .localCheckpoint(true) // the stored table: delete may NOT re-scan the corpus
    val plan = planOf(graft.substrate.InvertedIndex
      .deleteDocs(stored, deleted, "doc_id", "text",
        dfThreshold = 100, segmentWidth = 200))
    assert(!plan.contains("CartesianProduct"), s"product in delete:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"no anti-join (pass-through / id drop) in delete plan:\n$plan")
    // BOTH small sides must broadcast — the touched-token semi join AND
    // the deleted-ids anti join into the exploded postings (a single
    // contains() would pass on the auto-broadcast semi join alone and
    // miss the anti join regressing to a shuffle)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected the touched-token semi join AND the deleted-ids anti " +
        s"join to broadcast:\n$plan")
  }

  test("vector index delete: code rows drop by broadcast anti join, scan stays the code table") {
    import graft.substrate.PqIndex
    val e = CheckDsl.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.substrate.VectorOps.toDoubleArr(col("embedding")).as("v"))
    val cb = PqIndex.codebookArrays(
      PqIndex.codebooks(e, "vec_id", "v", dim = 64))
    val codes = PqIndex.encode(e, "vec_id", "v", cb, dim = 64)
      .localCheckpoint(true) // the stored code table
    val deleted = e.filter(col("vec_id") % 10 === 7).select("vec_id")
    val plan = planOf(codes.join(broadcast(deleted), Seq("vec_id"),
      "left_anti"))
    assert(plan.contains("LeftAnti") && plan.contains("Broadcast"),
      s"deletion is not a broadcast anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("refreshMinMax: touched set broadcasts into base; untouched pass by anti-join") {
    import spark.implicits._
    val mv = Seq(("a", 1L, 9L)).toDF("g", "mn", "mx")
    val post = Seq(("a", 1L), ("b", 2L)).toDF("g", "v")
    val chg = Seq((1L, Some("a"), Some(9L), Option.empty[String],
      Option.empty[Long], 1L)).toDF("k", "b_g", "b_v", "a_g", "a_v", "seq")
    val plan = planOf(
      graft.substrate.MaterializedView.refreshMinMax(mv, post, chg))
    assert(!plan.contains("CartesianProduct"),
      s"product in minmax refresh:\n$plan")
    // base is re-read ONLY through a broadcast semi join on the touched
    // groups — the shape partition pruning rides on a stored base
    assert(plan.contains("BroadcastHashJoin"),
      s"touched-group join not broadcast:\n$plan")
    assert(plan.contains("LeftSemi"), s"no semi join into base:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti pass-through:\n$plan")
  }

  test("MV refresh: change folding shuffles on key, delta joins the MV without a product") {
    import spark.implicits._
    val mv = Seq(("a", 2L, 30L)).toDF("g", "n", "s")
    val chg = Seq((1L, Some("a"), Some(10L), Some("a"), Some(15L), 1L))
      .toDF("k", "b_g", "b_v", "a_g", "a_v", "seq")
    val refreshed =
      graft.substrate.MaterializedView.refreshSumCount(mv, chg, Seq("k"))
    val plan = planOf(refreshed)
    assert(!plan.contains("CartesianProduct"), s"product in MV refresh:\n$plan")
    // The per-key fold must be a KEYED aggregation (r16 optimization:
    // min_by/max_by per key replaced the double row_number window —
    // map-side combinable, no per-partition sort), never a global sort
    // or a window: a Window node here would mean the fold regressed to
    // the two-pass sorted form, and an unkeyed aggregate would mean a
    // global fold that cannot scale past one partition.
    val simple = refreshed.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    assert(!simple.contains("Window"),
      s"window fold regression in MV refresh:\n$simple")
    assert(simple.linesIterator.exists(l =>
        l.contains("HashAggregate(keys=[k#") ||
        l.contains("SortAggregate(key=[k#") ||
        l.contains("ObjectHashAggregate(keys=[k#")),
      s"no keyed per-key fold in MV refresh:\n$simple")
  }

  test("IVF-PQ: candidate scan is a broadcast equi-join on cell, never a corpus product") {
    import spark.implicits._
    val e = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(j => (i * 7 + j).toDouble % 5)))
      .toDF("vec_id", "v")
    val cb = graft.substrate.PqIndex.codebookArrays(
      graft.substrate.PqIndex.codebooks(e, "vec_id", "v", dim = 8,
        m = 4, k = 4, trainMod = 2), m = 4, k = 4)
    val q = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val res = graft.substrate.IvfPq.topK(e, q, "qid", "qv",
      centroidMod = 7, cb, dim = 8, nProbe = 2, topK = 3)
    val plan = planOf(res)
    assert(!plan.contains("CartesianProduct"), s"product in IVF-PQ:\n$plan")
    // the probed-cell candidate scan must be the hash equi-join on cell
    // with the (bounded) probe+LUT side broadcast — the property that
    // makes a stored code table partition-prunable
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast cell join:\n$plan")
  }

  test("hybrid RRF: batch BM25 and fusion windows partition by qid, never global") {
    import spark.implicits._
    val idx = graft.substrate.InvertedIndex.buildWithTf(
      Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text"), "doc_id", "text")
    val lens = Seq((1L, 2L), (2L, 2L)).toDF("doc_id", "dl")
    val lex = graft.substrate.InvertedIndex.rankBm25PerQuery(idx, lens,
      Seq((1L, "b"), (2L, "c")).toDF("qid", "token"), excludeSelf = true)
    val sem = Seq((1L, 1L, 2L)).toDF("qid", "rank", "doc_id")
    val fused = graft.substrate.Fusion.rrf(
      Seq(lex.select("qid", "rank", "doc_id"), sem))
    val plan = planOf(fused)
    assert(!plan.contains("CartesianProduct"), s"product in fusion:\n$plan")
    // every rank window (BM25 per-query top-N and the fused ordering)
    // must partition by qid — a global window would serialize all
    // queries through one task (the ADVICE-r8 simple-mode guard shape)
    val simple = fused.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    val specs = "windowspecdefinition\\((\\w+)#".r
      .findAllMatchIn(simple).map(_.group(1)).toList
    assert(specs.nonEmpty, s"no rank windows in:\n$simple")
    assert(specs.forall(_ == "qid"),
      s"global (unpartitioned) window in hybrid path: $specs")
    // and the row_number() <= topK filter must reach the sort as a
    // group-limit (partial+final), not rank-then-filter over all rows
    assert(simple.contains("WindowGroupLimit"),
      s"top-K not pushed into the window sort:\n$simple")
  }

  test("per-row text pipeline stays in whole-stage codegen") {
    // AQE wraps the plan and omits codegen annotation until execution —
    // disable it for the inspection only
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = planOf(Checks.byName("text_stats").run(spark, sf))
      // formatted mode marks codegen'd operators with "[codegen id : N]"
      // (the stopword-filter HOF project is legitimately interpreted; the
      // ratio/quality projects and the sort must stay in codegen)
      assert(plan.contains("[codegen id :"), s"no codegen span in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
  test("filtered ANN: keep-list lands as a broadcast semi join on the cell scan") {
    val res = Checks.byName("ann_ivf_filtered").run(spark, sf)
    val plan = planOf(res)
    assert(!plan.contains("CartesianProduct"), s"product in filtered ANN:\n$plan")
    val simple = res.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    // the predicate must restrict the candidate scan via a semi join
    // (broadcast when selective) — never by materializing a product or
    // re-ranking after the fact
    assert(simple.contains("LeftSemi"), s"no semi join in:\n$simple")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
  }

  test("corpus_mix_temperature: rate table broadcasts onto one pruned corpus scan") {
    val res = Checks.byName("corpus_mix_temperature").run(spark, sf)
    val plan = planOf(res)
    assert(!plan.contains("CartesianProduct"), s"product in mix:\n$plan")
    // the O(strata) rate table joins the corpus by lang as a broadcast —
    // the per-row keep decision must not shuffle the corpus
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast rate join:\n$plan")
    // the decision scan reads only the columns the decision needs
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(l => !l.contains("text")),
      s"mix decision scans text: $readSchemas")
  }

  test("ADC scan (k=256 prod): LUT table broadcasts onto the exploded codes, no product") {
    import spark.implicits._
    val e = (0L until 300L).map(i =>
      (i, Array.tabulate(8)(j => (i * 7 + j).toDouble % 11)))
      .toDF("vec_id", "v")
    val cb = graft.substrate.PqIndex.codebookArrays(
      graft.substrate.PqIndex.codebooks(e, "vec_id", "v", dim = 8,
        m = 4, k = 256, trainMod = 1, iters = 2), m = 4, k = 256)
    val codes = graft.substrate.PqIndex.encode(e, "vec_id", "v", cb, dim = 8)
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val res = graft.substrate.PqIndex.topK(codes, q, "qid", "qv", cb,
      dim = 8, topK = 3)
    val plan = planOf(res)
    // the m·k-per-query LUT is the BOUNDED side — it must broadcast onto
    // the exploded code scan as a hash equi-join (the shape that keeps
    // per-candidate cost m lookups and row width constant in k); a
    // product or a shuffled join here is the r10 debut regression
    assert(!plan.contains("CartesianProduct"), s"product in ADC scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"LUT not broadcast:\n$plan")
    // ...and the final ranking stays per-query, never a global window
    assert(!plan.contains("Window [") ||
      plan.linesIterator.filter(_.contains("Window"))
        .forall(_.contains("qid")), s"global window in ADC rank:\n$plan")
  }

  test("residual ADC deployed path: probes and per-(query,cell) LUT broadcast onto the cell-joined codes, no product") {
    import spark.implicits._
    val e = (0L until 300L).map(i =>
      (i, Array.tabulate(8)(j => (i * 7 + j).toDouble % 11)))
      .toDF("vec_id", "v")
    val resid = graft.substrate.IvfPq.residuals(e, centroidMod = 29)
    val cb = graft.substrate.PqIndex.codebookArrays(
      graft.substrate.PqIndex.codebooks(resid, "vec_id", "r", dim = 8,
        m = 4, k = 16, trainMod = 1), m = 4, k = 16)
    val codes = graft.substrate.PqIndex.encode(resid, "vec_id", "r", cb, dim = 8)
      .join(resid.select("vec_id", "cell"), Seq("vec_id"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probes = graft.substrate.IvfPq.probeCells(e, q, "qid", "qv",
      centroidMod = 29, nProbe = 2)
    val res = graft.substrate.IvfPq.adcResidual(codes, probes, cb,
      dim = 8, topK = 3)
    val plan = planOf(res)
    // the candidate scan is the cell equi-join of the code table against
    // the BROADCAST probe list, then the (qid, cell)-keyed residual LUT
    // broadcasts onto the exploded codes — an unbroadcast shuffle or a
    // product here is exactly the at-scale regression the r10 LUT
    // rework retired
    assert(!plan.contains("CartesianProduct"),
      s"product in residual ADC:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe/LUT joins not broadcast:\n$plan")
    assert(!plan.contains("Window [") ||
      plan.linesIterator.filter(_.contains("Window"))
        .forall(_.contains("qid")), s"global window in ADC rank:\n$plan")
  }

  test("stored-artifact ADC serving path: probes and per-query LUT broadcast onto the cell-joined codes, no product") {
    import spark.implicits._
    val e = (0L until 300L).map(i =>
      (i, Array.tabulate(8)(j => (i * 7 + j).toDouble % 11)))
      .toDF("vec_id", "v")
    val cb = graft.substrate.PqIndex.codebookArrays(
      graft.substrate.PqIndex.codebooks(e, "vec_id", "v", dim = 8,
        m = 4, k = 16, trainMod = 1), m = 4, k = 16)
    val cents = graft.substrate.IvfPq.servingCentroids(e, centroidMod = 29)
    val asg = graft.substrate.IvfPq
      .probeCellsFrom(cents, e, "vec_id", "v", nProbe = 1)
      .select(col("qid").as("vec_id"), col("cell"))
    val codes = graft.substrate.PqIndex.encode(e, "vec_id", "v", cb, dim = 8)
      .join(asg, Seq("vec_id"))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val probes = graft.substrate.IvfPq.probeCellsFrom(cents, q,
      "qid", "qv", nProbe = 2)
    val res = graft.substrate.IvfPq.adcStored(codes, probes, cb,
      dim = 8, topK = 3)
    val plan = planOf(res)
    // the ann_stored_index_pruned serving shape: probe list and the
    // per-query LUT are the BOUNDED sides — both must broadcast onto
    // the (manifest-pruned) code scan; a product or a shuffled join is
    // the at-scale regression the residual gate above retires
    assert(!plan.contains("CartesianProduct"),
      s"product in stored-artifact ADC:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe/LUT joins not broadcast:\n$plan")
    assert(!plan.contains("Window [") ||
      plan.linesIterator.filter(_.contains("Window"))
        .forall(_.contains("qid")), s"global window in ADC rank:\n$plan")
  }

  test("filtered hybrid: the keep-list semi-joins BOTH retrievers, no product") {
    val res = graft.checks.Checks.byName("retrieval_hybrid_filtered")
      .run(spark, sf)
    val plan = planOf(res)
    assert(!plan.contains("CartesianProduct"),
      s"product in filtered hybrid:\n$plan")
    // two LeftSemi positions: the BM25 postings restriction and the
    // probed-cell ANN restriction — the property the oracle pins
    // semantically, gated here physically
    val semis = plan.linesIterator.count(_.contains("LeftSemi"))
    assert(semis >= 2, s"expected >=2 semi joins (lex + sem), got $semis:\n$plan")
  }

  test("merge-on-read delete: the sidecar applies as a key-set filter, " +
      "never a join, an exchange or a product") {
    // the whole point of an O(batch) sidecar is that the read-side
    // apply never shuffles the corpus scan — a shuffled anti-join at
    // 100 TB would cost more than the CoW rewrite the sidecar avoids;
    // read on the driver, its keys filter the scan with no join at all
    import graft.substrate.{Layout, SnapshotStore}
    val tmp = java.nio.file.Files.createTempDirectory("pq_mor").toString
    try {
      val li = CheckDsl.table(spark, sf, "lineitem")
        .select("l_orderkey", "l_quantity")
      Layout.writeClustered(li, s"$tmp/d1", "l_orderkey", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("l_orderkey")))
      SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L, "l_orderkey",
        li.filter(col("l_orderkey") % 31 === 0).select("l_orderkey"),
        s"$tmp/del2")
      val plan = planOf(SnapshotStore.readAt(spark, tmp, 2L))
      assert(!plan.contains("CartesianProduct"),
        s"product in MoR read:\n$plan")
      assert(plan.contains("INSET"),
        s"no key-set filter (sidecar apply) in MoR read:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("Exchange"),
        s"the sidecar must apply without a join or an exchange:\n$plan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("merge-on-read MERGE read: the era-scoped sidecar applies as a " +
      "key-set filter on the base era only — no join, no shuffle, no " +
      "product, images unfiltered") {
    // r15: readCore splits the scan into added_v eras; the merge
    // sidecar must filter the BASE era while the image era unions in
    // untouched — a join, shuffle or product here would price the
    // O(batch) commit back into a corpus pass
    import graft.substrate.{Layout, SnapshotStore}
    val tmp = java.nio.file.Files.createTempDirectory("pq_mmor").toString
    try {
      import spark.implicits._
      val base = spark.range(500)
        .select(col("id").as("k"), (col("id") % 7).as("v"))
      Layout.writeClustered(base, s"$tmp/d1", "k", numFiles = 3)
      SnapshotStore.commit(spark, tmp, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
          Seq("k")))
      val ch = Seq((10L, 999L, "U", 1L), (20L, 0L, "D", 1L))
        .toDF("k", "v", "op", "seq")
      SnapshotStore.mergeCommitMor(spark, tmp, 2L, 1L, "k", ch,
        s"$tmp/del2", s"$tmp/img2")
      val plan = planOf(SnapshotStore.readAt(spark, tmp, 2L))
      assert(!plan.contains("CartesianProduct"),
        s"product in MoR merge read:\n$plan")
      // one physical Filter node carries the key set: the base era's
      val keyFilters = plan.linesIterator.count(l =>
        l.startsWith("Condition : ") && l.contains("INSET"))
      assert(keyFilters == 1,
        s"the merge sidecar must filter the base era only:\n$plan")
      assert(!plan.contains("Join") && !plan.contains("Exchange"),
        s"the sidecar apply must never join or shuffle the scan:\n$plan")
      assert(plan.contains("Union"),
        s"the image era must union in unfiltered:\n$plan")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  /** A clustered 150×16 vector store at `tmp` whose v1 forgets every
    * tenth vector through a merge-on-read sidecar (15 keys).
    */
  private def vectorStoreWithSidecar(tmp: String): Unit = {
    import graft.substrate.{IvfPq, PqIndex, VectorArtifact}
    val e = spark.range(150).select(col("id").as("vec_id"),
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(lit(0), lit(15)),
        j => sin(col("id") * (j + lit(1)) * lit(0.37))).as("v"))
      .localCheckpoint(true)
    val cents = IvfPq.servingCentroids(e, centroidMod = 7)
    val cb = PqIndex.codebookArrays(
      PqIndex.codebooks(e, "vec_id", "v", dim = 16))
    val asg = IvfPq.probeCellsFrom(cents, e, "vec_id", "v", nProbe = 1)
      .select(col("qid").as("vec_id"), col("cell"))
    val codes = PqIndex.encode(e, "vec_id", "v", cb, dim = 16)
      .join(asg, Seq("vec_id"))
    VectorArtifact.saveClustered(spark, tmp, 0L, 16, cents, cb, codes)
    import spark.implicits._
    VectorArtifact.deletePublishMor(spark, tmp, 1L, 0L,
      (0L until 150L by 10L).toDF("vec_id"))
  }

  /** The plans of v1's full-ADC (`load`) and pruned (`codesForCells`)
    * codes scans.
    */
  private def vectorServePlans(tmp: String): Seq[String] = {
    import graft.substrate.VectorArtifact
    val cells = VectorArtifact.readManifest(spark, tmp, 1L).flatMap(_._2)
    Seq(planOf(VectorArtifact.load(spark, tmp, 1L).codes),
      planOf(VectorArtifact.codesForCells(spark, tmp, 1L, cells.take(3))))
  }

  test("vector MoR forget: the sidecar applies to the codes scan as a " +
      "broadcast anti-join — full-ADC and pruned serves alike") {
    // past the key-set bound (forced to 0 here) the sidecar stays in its
    // parquet and joins the scan's broadcast side
    import graft.substrate.PendingKeys
    val tmp = java.nio.file.Files.createTempDirectory("pq_vmor").toString
    val was = PendingKeys.sidecarKeySetMaxRows
    try {
      vectorStoreWithSidecar(tmp)
      PendingKeys.sidecarKeySetMaxRows = 0
      vectorServePlans(tmp).foreach { plan =>
        assert(!plan.contains("CartesianProduct") &&
          plan.contains("LeftAnti") && plan.contains("BroadcastHashJoin"),
          s"vector sidecar must broadcast-anti-join the codes scan:\n$plan")
        assert(!plan.contains("SortMergeJoin"),
          s"the sidecar apply must never shuffle the codes scan:\n$plan")
      }
    } finally {
      PendingKeys.sidecarKeySetMaxRows = was
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("vector MoR forget: a sidecar within the key-set bound filters the " +
      "codes scan with one key set — no join, no shuffle") {
    val tmp = java.nio.file.Files.createTempDirectory("pq_vset").toString
    try {
      vectorStoreWithSidecar(tmp)
      vectorServePlans(tmp).foreach { plan =>
        assert(plan.linesIterator.count(l =>
          l.startsWith("Condition : ") && l.contains("INSET")) == 1,
          s"one key-set filter must carry the sidecar:\n$plan")
        assert(!plan.contains("Join") && !plan.contains("Exchange"),
          s"the sidecar apply must never join or shuffle the scan:\n$plan")
      }
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }
}
