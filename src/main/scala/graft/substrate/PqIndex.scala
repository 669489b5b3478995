package graft.substrate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the memory-compression path
  * for embedding similarity at corpus scale (`factors/2-consumable.md`'s
  * vector-retrieval tier beside BrpLsh/IvfIndex): each vector is split
  * into `m` subspaces of `dim/m` dims, each subvector is quantized to the
  * nearest of `k` per-subspace centroids, and the stored artifact is the
  * m-byte code array — 64 doubles (512 B) become 8 small ints, a ~64×
  * working-set cut, which is what lets a 100 TB embedding corpus be
  * SCANNED for candidates from memory instead of disk.
  *
  * Everything is deterministic and mirrored in the `ann_pq_topk` DuckDB
  * oracle: seeds = the subvectors of the `k` smallest vec_ids; training =
  * ONE Lloyd update (assign the `trainMod`-sample to nearest seed with
  * (distance, cid) tie-break, mean per cell, empty cells keep their
  * seed); the approximation is deterministic arithmetic, not fuzzy.
  *
  * Scale shape: training touches only the O(n/trainMod) sample (one
  * broadcast-seeds pass + a per-dim mean); the codebook is m·k
  * subvectors (bounded — collected to the driver like BrpLsh's nTables
  * rows, never O(n)); ENCODING is a pure map-side projection against
  * literal centroid arrays — no shuffle, no join, whole-stage codegen'd
  * native ArraySqDist per (subspace, centroid) — so it pipelines into
  * the parquet scan at any corpus size (PlanQualitySpec gates the
  * no-Exchange plan; SCALE.md's `pq encode codes` rows record ~0
  * shuffle across three decades). ADC queries broadcast a per-query
  * lookup table of m·k precomputed subspace distances and scan the
  * CODES, never the vectors: per-candidate cost is m array lookups +
  * adds.
  */
object PqIndex {

  val DefaultSubspaces = 8
  val DefaultCodebookK = 16
  val DefaultTrainMod = 5

  /** Production codebook knobs (the k=16 defaults above
    * are demo-grade: 4-bit codes measured recall@10 = 0.145 raw ADC /
    * 0.39 depth-50 reranked at sf0.1, far under the 0.8 SLA #19 holds
    * BRP to). k=256 is the 8-bit-per-subspace production standard (Jégou
    * et al. 2011 §V use k*=256 throughout) — SAME 8-byte/vector code
    * footprint at m=8, 16× finer per-subspace resolution. With full-corpus
    * training (this corpus is far below the ~tens·k-per-subspace sample
    * floor that would justify sampling; at 100 TB trainMod returns as the
    * O(sample) knob), 3 Lloyd rounds, and depth-100 rerank the measured
    * recall@10 at sf0.1 is 0.93 (`retrieval_recall_pq_prod`) — the knob
    * tradeoff is tabulated in SCALE.md.
    */
  val ProdCodebookK = 256
  val ProdTrainMod = 1
  val ProdLloydIters = 3
  val ProdRerankDepth = 100

  private def subvecs(v: Column, dim: Int, m: Int): Column = {
    val sd = dim / m
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(v, s * sd + 1, lit(sd))))
  }

  /** Train the per-subspace codebooks: (sub, cid, cv) with cv a
    * `dim/m`-dim centroid. Seeds are the subvectors of the k smallest
    * vec_ids (deterministic, SQL-mirrorable); `iters` Lloyd rounds over
    * the `vec_id % trainMod == 0` sample refine them (assign the sample
    * to nearest centroid with (distance, cid) tie-break = first match —
    * the oracle's (distance, cid) row_number convention — then mean per
    * cell); a cell the sample never hits keeps its previous-round
    * centroid.
    *
    * Execution shape (the MLlib-KMeans iteration pattern): the codebook
    * lives as a DRIVER-side m·k array between rounds (bounded — k·dim
    * doubles, the same legitimate small state as BrpLsh's planes), each
    * round's assignment is the native [[graft.functions.PqEncode]]
    * projection over the sample (map-side, no join), and the new means
    * are one keyed aggregation of the exploded (sub, cid, j, x) rows.
    * The r10 first cut chained the rounds as broadcast-join DataFrames:
    * round r's plan recomputed rounds 1..r-1 (O(iters²) passes) and the
    * min_by struct join priced ~2.5 s/round at k=256 — the native-assign
    * form prices the same three rounds at ~1 s total with identical
    * arithmetic (selfcheck-pinned across all SFs).
    */
  def codebooks(e: DataFrame, idCol: String, vCol: String, dim: Int,
      m: Int = DefaultSubspaces, k: Int = DefaultCodebookK,
      trainMod: Int = DefaultTrainMod, iters: Int = 1): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val base = e.select(col(idCol).cast("long").as("vec_id"),
      col(vCol).as("v"))
    val seeds = base.orderBy("vec_id").limit(k)
      .withColumn("cid", row_number().over(Window.orderBy("vec_id"))
        .cast("long") - 1)
    val seedSubs = seeds.select(col("cid"),
        subvecs(col("v"), dim, m).as(Seq("sub", "sv")))
      .select(col("sub").cast("int").as("sub"), col("cid").cast("int"),
        col("sv").as("cv"))
      .collect()
    // an empty corpus would die on `.max` of nothing, and a corpus with
    // fewer than k vectors would leave null slots in codebookArrays(k)
    // that NPE inside PqEncode's tight loop — fail HERE with the actual
    // contract instead
    require(seedSubs.nonEmpty,
      s"PqIndex.codebooks: empty training corpus — cannot seed $k centroids")
    val kEff = seedSubs.map(_.getInt(1)).max + 1
    require(kEff == k,
      s"PqIndex.codebooks: corpus has only $kEff distinct seed vectors but k=$k — a codebook needs at least k vectors (shrink k or grow the corpus)")
    var cbArr = Array.ofDim[Array[Double]](m, kEff)
    seedSubs.foreach { r =>
      cbArr(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    val train = base.filter(col("vec_id") % trainMod === 0)
      .select(col("vec_id"), col("v"))
    var round = 0
    while (round < iters) {
      val enc = org.apache.spark.sql.GraftColumn.of(
        graft.functions.PqEncode(
          org.apache.spark.sql.GraftColumn.expressionOf(col("v")), cbArr))
      val means = train
        .select(enc.as("codes"), subvecs(col("v"), dim, m).as(Seq("sub", "tv")))
        .select(col("sub"), expr("codes[sub]").as("cid"),
          posexplode(col("tv")).as(Seq("j", "x")))
        .groupBy("sub", "cid", "j").agg(avg("x").as("xm"))
        .groupBy("sub", "cid")
        .agg(transform(array_sort(collect_list(struct(col("j"), col("xm")))),
          p => p("xm")).as("cv"))
        .select(col("sub").cast("int"), col("cid").cast("int"), col("cv"))
        .collect()
      val next = cbArr.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
      cbArr = next
      round += 1
    }
    (for { s <- 0 until m; c <- 0 until kEff }
      yield (s.toLong, c.toLong, cbArr(s)(c).toSeq))
      .toDF("sub", "cid", "cv")
  }

  /** Collect the trained codebook to a driver-side array indexed
    * [sub][cid][j] — m·k subvectors, BOUNDED (m·k·dim/m = k·dim doubles;
    * 16·64 = 1 KB at the defaults), the same legitimate small-collect as
    * BrpLsh's nTables hyperplanes.
    */
  def codebookArrays(cb: DataFrame, m: Int = DefaultSubspaces,
      k: Int = DefaultCodebookK): Array[Array[Array[Double]]] = {
    val out = Array.ofDim[Array[Double]](m, k)
    cb.select(col("sub").cast("int"), col("cid").cast("int"), col("cv"))
      .collect().foreach { r =>
        out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
      }
    out
  }

  /** Encode the corpus: (vec_id, codes) with codes(s) = the 0-based index
    * of the nearest sub-centroid (ties → smallest cid — the first-match
    * convention the oracle's (distance, cid) row_number reproduces). A
    * pure projection — no join, no shuffle: the codebook rides along as
    * metadata of ONE native expression (functions.PqEncode — at k=256
    * the old literal-matrix HOF paid ~4M interpreted lambda evals per
    * encode, profiled at ~15 s vs ms for the native loop).
    */
  def encode(e: DataFrame, idCol: String, vCol: String,
      cb: Array[Array[Array[Double]]], dim: Int): DataFrame = {
    val enc = org.apache.spark.sql.GraftColumn.of(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftColumn.expressionOf(col(vCol)), cb))
    e.select(col(idCol).cast("long").as("vec_id"), enc.as("codes"))
  }

  /** The per-query ADC lookup TABLE: (qid, sub, cid, d) — m·k skinny
    * rows per query, each the exact squared subspace distance from the
    * query's subvector to centroid (sub, cid). The RELATIONAL form of
    * the classic per-query LUT array: at k=16 an array LUT rode each
    * candidate row harmlessly, but at the k=256 production codebooks the
    * array is 2 KB×8 per ROW — a crossJoin duplicated ~16 KB into every
    * (candidate, query) pair and round-10's debut bench priced it at
    * 15 s serial. Broadcasting the table and equi-joining on the
    * exploded codes keeps per-row width constant in k and lets the
    * (qid, cid) partial sums collapse map-side.
    */
  private[graft] def lutAdcTable(q: DataFrame, qidCol: String,
      qvCol: String, cb: Array[Array[Array[Double]]], dim: Int): DataFrame =
    lutAdcTableKeyed(q.select(col(qidCol).cast("long").as("qid"),
      col(qvCol).as("qv")), Seq("qid"), "qv", cb, dim)

  /** The codebook as a broadcast m·k DATA-row table, not literals:
    * embedding k=256 codebooks as nested literal arrays put ~16k
    * expression nodes in the plan and Catalyst's tree passes — not the
    * arithmetic — cost ~17 s per action (round-10 profile); as a
    * broadcast row table the plan carries ONE sqDist node and the same
    * distances come out of a skinny join.
    */
  private[substrate] def codebookDf(
      spark: org.apache.spark.sql.SparkSession,
      cb: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    (for {
      s <- cb.indices; c <- cb(s).indices
    } yield (s.toLong, c, cb(s)(c).toSeq)).toDF("sub", "cid_code", "cv")
  }

  /** [[lutAdcTable]] generalized to an arbitrary key (the residual
    * IVF-PQ form needs a LUT per (query, probed cell), because the query
    * RESIDUAL differs per cell — Jégou et al. 2011 §V.B): input rows are
    * (keyCols..., `qvCol`), output (keyCols..., sub, cid_code, d) — the
    * exact squared subspace distance from that key's vector to centroid
    * (sub, cid). Skinny m·k rows per key, broadcast by the callers.
    */
  private[graft] def lutAdcTableKeyed(q: DataFrame, keyCols: Seq[String],
      qvCol: String, cb: Array[Array[Array[Double]]], dim: Int): DataFrame = {
    val m = cb.length
    val cbDf = broadcast(codebookDf(q.sparkSession, cb))
    val keys = keyCols.map(col)
    q.select(keys :+ subvecs(col(qvCol), dim, m).as(Seq("sub", "quv")): _*)
      .select(keys ++ Seq(col("sub").cast("long").as("sub"), col("quv")): _*)
      .join(cbDf, Seq("sub"))
      .select(keys ++ Seq(col("sub"), col("cid_code"),
        VectorOps.sqDist(col("quv"), col("cv")).as("d")): _*)
  }

  /** ADC (asymmetric distance computation) top-k: each query precomputes
    * its [[lutAdcTable]] of exact subspace distances to the codebook
    * (broadcast — m·k rows per query, never O(n)), and the scan EXPLODES
    * the corpus codes to (vec_id, sub, code) and equi-joins on
    * (sub, code): approximate distance = the (qid, vec_id) sum of the m
    * matched lookup rows, aggregated map-side before the one N·|Q|-row
    * exchange. No vector arithmetic in the scan, per-row width constant
    * in k. Deterministic (adist asc, cid asc) ranking; self-matches
    * excluded. Output: (qid, rank, cid).
    */
  def topK(codes: DataFrame, q: DataFrame, qidCol: String, qvCol: String,
      cb: Array[Array[Array[Double]]], dim: Int,
      topK: Int = 10): DataFrame = {
    val lut = lutAdcTable(q, qidCol, qvCol, cb, dim)
    val codeRows = codes.select(col("vec_id"),
      posexplode(col("codes")).as(Seq("sub", "cid_code")))
    val scored = codeRows.join(broadcast(lut), Seq("sub", "cid_code"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), col("d"))
      .groupBy("qid", "cid").agg(sum("d").as("adist"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("cid").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid")
  }

  val DefaultRerankDepth = 50

  /** Two-stage retrieval: ADC prefilter to `depth` candidates per query
    * ([[topK]]), then EXACT euclidean rerank of just those — the standard
    * production recovery for PQ's quantization error (Jégou et al. §V.C:
    * reranking with source vectors). The exact pass touches |Q|·depth
    * vectors fetched by an equi-join on vec_id (point lookups on a
    * stored vector table — bucket/partition-prunable), never the corpus:
    * the scan stays the m-lookup ADC code pass, and the expensive full
    * distance is paid only where it can change the answer.
    * Deterministic (d2 asc, cid asc) final ranking. Output:
    * (qid, rank, cid).
    */
  def topKReranked(codes: DataFrame, e: DataFrame, q: DataFrame,
      qidCol: String, qvCol: String, cb: Array[Array[Array[Double]]],
      dim: Int, depth: Int = DefaultRerankDepth, k: Int = 10): DataFrame =
    rerankExact(
      topK(codes, q, qidCol, qvCol, cb, dim, topK = depth)
        .select("qid", "cid"),
      e, q, qidCol, qvCol, k)

  /** Exact-euclidean rerank of a (qid, cid) candidate table — the
    * shared refine stage of [[topKReranked]] (full-ADC prefilter) and
    * the IVF-PQ composition's refine entry (probed-ADC prefilter,
    * `retrieval_recall_ivfpq_rerank`): fetch each candidate's vector by
    * an equi-join on vec_id (point lookups on a stored vector table),
    * broadcast the queries, compute |cand| true distances, rank
    * deterministically ((d2, cid) tie-break). Output: (qid, rank, cid).
    */
  def rerankExact(cand: DataFrame, e: DataFrame, q: DataFrame,
      qidCol: String, qvCol: String, k: Int): DataFrame = {
    val exact = cand
      .join(e.select(col("vec_id").as("cid"), col("v")), Seq("cid"))
      .join(broadcast(q.select(col(qidCol).cast("long").as("qid"),
        col(qvCol).as("qv"))), Seq("qid"))
      .select(col("qid"), col("cid"),
        VectorOps.sqDist(col("qv"), col("v")).as("d2"))
    exact.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("cid").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "rank", "cid")
  }
}
