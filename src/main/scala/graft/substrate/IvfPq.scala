package graft.substrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the composition of the two scale mechanisms the retrieval
  * tier already carries separately (Jégou et al. 2011 §V: "IVFADC"):
  * an IVF coarse quantizer prunes the search to `nProbe` Voronoi cells,
  * and inside the probed cells the scan reads PQ CODES with per-query
  * ADC lookup tables instead of vectors. Each mechanism attacks a
  * different axis — IVF cuts the CANDIDATE COUNT to nProbe/|C| of the
  * corpus, PQ cuts the PER-CANDIDATE cost to m byte-indexed adds and
  * the working set ~64× — and at 100 TB you need both: a full-corpus
  * ADC scan ([[PqIndex.topK]]) still touches every row, and an IVF-flat
  * probe ([[IvfIndex.topK]]) still reads full vectors inside the cells.
  *
  * Variant note: this is the non-residual form (FAISS
  * `IVFPQ(by_residual=false)`) — codes quantize the RAW vectors, not
  * the cell residuals, so ONE codebook serves every cell and the stored
  * artifact is exactly [[PqIndex.encode]]'s code table plus the cell
  * assignment column. Residual encoding buys recall at the cost of
  * coupling codes to the coarse quantizer (a re-cluster invalidates
  * every code); with this corpus's margins the planted-cluster recall
  * is identical (PqSpec), and the decoupling is what lets the code
  * table and the IVF assignment evolve independently at scale.
  *
  * Scale shape: the candidate scan is an EQUI-JOIN on `cell` between
  * the code table and the broadcast probe list — never a cross join —
  * so a stored code table partitioned by cell prunes to nProbe
  * partitions per query, and the per-candidate work inside is the ADC
  * lookup sum. Everything upstream is the already-audited substrate:
  * cells from [[IvfIndex.assignAuto]] (two-level O(n·√|C|) assignment),
  * codes from [[PqIndex.encode]] (map-side projection). Deterministic
  * end-to-end; mirrored in the `ann_ivf_pq_topk` DuckDB oracle.
  */
object IvfPq {

  /** Approximate top-k: probe the `nProbe` nearest cells per query
    * (exact query-to-centroid distances — |C| broadcast rows), then ADC
    * over the probed cells' codes only. Output: (qid, rank, cid) with
    * the deterministic (adist, cid) tie-break.
    */
  def topK(e: DataFrame, queries: DataFrame, qidCol: String, qvCol: String,
      centroidMod: Int, cb: Array[Array[Array[Double]]], dim: Int,
      nProbe: Int, topK: Int = 10): DataFrame = {
    val indexed = IvfIndex.assignAuto(e, centroidMod).select("vec_id", "cell")
    val cellCodes = PqIndex.encode(e, "vec_id", "v", cb, dim)
      .join(indexed, Seq("vec_id"))
    val probes = probeCells(e, queries, qidCol, qvCol, centroidMod, nProbe)
      .select("qid", "cell")
    // ONE lut table per query — (qid, sub, cid, d) skinny rows, shared
    // across the query's probes (no per-(query, probe) LUT array is
    // duplicated): the candidate
    // scan is the cell equi-join against the broadcast probe list, then
    // the exploded codes equi-join the broadcast lut on (sub, code) and
    // the (qid, cid) partial sums collapse map-side.
    val lut = PqIndex.lutAdcTable(
      queries.select(col(qidCol).as("qid"), col(qvCol).as("qv")),
      "qid", "qv", cb, dim)
    val cand = cellCodes.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cid_code")))
    val scored = cand.join(broadcast(lut), Seq("qid", "sub", "cid_code"))
      .select(col("qid"), col("vec_id").as("cid"), col("d"))
      .groupBy("qid", "cid").agg(sum("d").as("adist"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("cid").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid")
  }

  /** Production probe budget for the residual deployed path: chosen off
    * the measured `retrieval_recall_ivf_probes` curve so the probe set
    * covers a planted cluster's full cell complement (cells per cluster
    * is ~Poisson(|C|/G); 8 probes cover the ~4-cell mean with tail
    * margin) while still scanning ≤ nProbe/|C| ≈ 9% of the code table
    * per query at sf0.1.
    */
  val ProdNProbe = 8

  /** RESIDUAL encoding input (FAISS `IVFPQ(by_residual=true)`; Jégou et
    * al. 2011 §V.B — the recall lever [[topK]]'s non-residual scaladoc
    * names): assign each vector to its IVF cell (the production
    * [[IvfIndex.assignAuto]] route), then output r = v − centroid(cell).
    * Residuals concentrate near 0 regardless of WHICH cell a vector
    * landed in, so one k-centroid codebook spends its resolution on the
    * within-cell geometry instead of re-describing the coarse structure
    * the IVF assignment already captured — that is where the recall
    * comes from. The cost is coupling: a re-clustered coarse quantizer
    * invalidates every code (the tradeoff [[topK]] documents).
    *
    * Shape: assignAuto is the audited O(n·√|C|) route; the centroid join
    * is broadcast (|C| rows); the subtraction is one codegen'd zip_with
    * projection — no extra shuffle over the assignment's own. Output:
    * (vec_id, cell, r).
    */
  def residuals(e: DataFrame, centroidMod: Int): DataFrame = {
    val assigned = IvfIndex.assignAuto(e, centroidMod)
    val cents = IvfIndex.centroids(e, centroidMod)
    assigned.join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("cv"), (x, c) => x - c).as("r"))
  }

  /** Per-query probe list WITH the probed centroids: (qid, qv, cell, cv)
    * — top-`nProbe` cells by exact query-to-centroid distance,
    * deterministic (d2, cent_id) tie-break. The centroid vector rides
    * along because the residual ADC path needs the QUERY residual
    * q − centroid per probed cell ([[adcResidual]]).
    */
  def probeCells(e: DataFrame, queries: DataFrame, qidCol: String,
      qvCol: String, centroidMod: Int, nProbe: Int): DataFrame =
    probeCellsFrom(servingCentroids(e, centroidMod),
      queries, qidCol, qvCol, nProbe)

  /** The coarse-quantizer artifact as a standalone (cell, cv) table —
    * what a serving tier STORES and hands to [[probeCellsFrom]] per
    * query batch (`retrieval_serve_stream`), instead of re-deriving
    * centroids from the corpus on every probe.
    */
  def servingCentroids(e: DataFrame, centroidMod: Int): DataFrame =
    IvfIndex.centroids(e, centroidMod)
      .select(col("cent_id").as("cell"), col("cv"))

  /** [[probeCells]] against an EXPLICIT centroid table (cell, cv) — the
    * form the refresh loop needs: after a selective centroid correction
    * (`index_refresh_selective`) the serving centroids are no longer a
    * pure id-sample of any corpus, they are the stored artifact itself.
    */
  def probeCellsFrom(cents: DataFrame, queries: DataFrame, qidCol: String,
      qvCol: String, nProbe: Int): DataFrame = {
    val wq = Window.partitionBy("qid").orderBy(col("qd2").asc, col("cell"))
    queries.crossJoin(broadcast(cents))
      .select(col(qidCol).cast("long").as("qid"), col(qvCol).as("qv"),
        col("cell"), VectorOps.sqDist(col(qvCol), col("cv")).as("qd2"),
        col("cv"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= nProbe)
      .select(col("qid"), col("qv"), col("cell"), col("cv"))
  }

  /** NON-residual ADC top-k over an EXPLICIT stored code table + probe
    * list — the serving form for a [[VectorArtifact]]-loaded index
    * (codes came off disk; nothing re-derives): candidates are the
    * `cell` equi-join of the code table against the broadcast probe
    * list (on a manifest-pruned read — VectorArtifact.codesForCells —
    * the scan never even OPENS unprobed cells' files), scoring is the
    * per-query broadcast LUT sum of [[PqIndex.topK]], ranking the
    * deterministic (adist, cid) window. [[topK]] is the from-corpus
    * twin (it derives assignment + codes itself); this one consumes the
    * stored artifact.
    */
  def adcStored(codesWithCell: DataFrame, probes: DataFrame,
      cb: Array[Array[Array[Double]]], dim: Int, topK: Int): DataFrame = {
    val lut = PqIndex.lutAdcTable(
      probes.select(col("qid"), col("qv")).dropDuplicates("qid"),
      "qid", "qv", cb, dim)
    val cand = codesWithCell
      .join(broadcast(probes.select("qid", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cid_code")))
    val scored = cand.join(broadcast(lut), Seq("qid", "sub", "cid_code"))
      .select(col("qid"), col("vec_id").as("cid"), col("d"))
      .groupBy("qid", "cid").agg(sum("d").as("adist"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("cid").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid")
  }

  /** Residual-ADC top-k over probed cells — the deployed compressed
    * retrieval scan (`retrieval_recall_ivfpq_prod`): the LUT is keyed by
    * (qid, cell) because each probed cell's query residual differs
    * (PqIndex.lutAdcTableKeyed — |Q|·nProbe·m·k skinny broadcast rows,
    * bounded by the query batch, never O(n)); the candidate scan is the
    * `cell` equi-join of the code table against the broadcast probe
    * list — on a stored code table partitioned BY cell it prunes to
    * nProbe partitions per query — and each candidate costs m lookup
    * adds, collapsed map-side before the one exchange. Deterministic
    * (adist, cid) ranking. Output: (qid, rank, cid) up to `topK` (pass
    * the rerank depth here and refine with PqIndex.rerankExact — the
    * IVFADC+R composition).
    */
  def adcResidual(codesWithCell: DataFrame, probes: DataFrame,
      cb: Array[Array[Array[Double]]], dim: Int, topK: Int): DataFrame = {
    val qres = probes.select(col("qid"), col("cell"),
      zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    val lut = PqIndex.lutAdcTableKeyed(qres, Seq("qid", "cell"), "qr", cb, dim)
    val cand = codesWithCell
      .join(broadcast(probes.select("qid", "cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "cid_code")))
    val scored = cand.join(broadcast(lut), Seq("qid", "cell", "sub", "cid_code"))
      .select(col("qid"), col("vec_id").as("cid"), col("d"))
      .groupBy("qid", "cid").agg(sum("d").as("adist"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adist").asc, col("cid").asc))
        .cast("long"))
      .filter(col("rank") <= topK)
      .select("qid", "rank", "cid")
  }
}
