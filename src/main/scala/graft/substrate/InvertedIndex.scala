package graft.substrate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Token → posting-list inverted index — the data-level mechanism behind
  * requirement #10 `search_optimization` (reference
  * `factors/requirements.yaml:46-48`; "Search ... results in
  * milliseconds", `factors/2-consumable.md:9`): the check scores a catalog
  * flag, this builds the companion table the flag asserts exists, the way
  * BrpLsh/IvfIndex witness the vector-index requirements (#15/#19).
  *
  * Scale shape: every build is one tokenize/explode pass + one
  * groupBy(token) df pass + one groupBy(token, segment) postings shuffle —
  * vocab_stats' shuffle class, trivially parallel at 100 TB. The built
  * index is meant to be STORED partitioned/bucketed by token, so a term
  * lookup reads only the matching token rows (predicate pushdown on the
  * bucket key), never the corpus — sub-scan access is the entire point of
  * the companion table.
  *
  * SEGMENTED postings (the classic stopword-skew remedy):
  * a stopword-grade token at corpus scale would put O(n_docs) doc_ids
  * into ONE `collect_list` cell — a single-task memory blowup against the
  * 2 GB value ceiling. So tokens whose df exceeds `dfThreshold` have
  * their postings SPLIT by doc_id range: one row per
  * `segment = doc_id div segmentWidth`, each holding at most
  * `segmentWidth` entries; low-df tokens keep one row (`segment = -1`).
  * Per-row postings are therefore bounded by max(dfThreshold,
  * segmentWidth) REGARDLESS of token skew (pinned by InvertedIndexSpec's
  * every-doc stopword fixture). Because segments partition the doc_id
  * space, a doc appears in exactly one row per token — [[lookupAll]],
  * [[lookupPhrase]] and [[rankBm25]] aggregate by doc_id and therefore
  * read segmented and unsegmented layouts identically (the df column
  * carries the token TOTAL on every segment row, so idf needs no
  * cross-segment re-aggregation). The final groupBy(token, segment) is
  * also what keeps the BUILD shuffle skew-safe: a hot token's postings
  * hash to many (token, segment) reducer keys instead of one.
  */
object InvertedIndex {

  /** Default per-row postings bound: 2^16 doc_ids ≈ 512 KB per cell —
    * comfortably inside task memory and far under the 2 GB value limit
    * even with (doc_id, tf, positions) struct entries.
    */
  val DefaultDfThreshold: Long = 1L << 16
  val DefaultSegmentWidth: Long = 1L << 16

  private def tokenized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("token"))

  /** Segment assignment: `doc_id div W` above the df threshold, -1 (one
    * row) below. Integer `div`, not floor(double /): exact for the whole
    * long range.
    */
  private def segmentCol(dfThreshold: Long, segmentWidth: Long) =
    when(col("df") > dfThreshold,
      expr(s"doc_id div $segmentWidth")).otherwise(lit(-1L)).cast("long")

  /** Core: per-token df over a (doc_id, token [, payload...]) table, then
    * the (token, segment) postings aggregation. `payload` builds the
    * per-posting struct column to collect; plain builds collect the bare
    * doc_id.
    *
    * The df join is keyed by token alone, so a stopword token routes all
    * its (doc, token) rows through one join task BEFORE the skew-safe
    * (token, segment) groupBy re-spreads them. Each such row is tiny
    * (token + doc_id + payload scalars, no arrays yet), so the hot key is
    * a sort-merge-spill straggler, not an OOM, and AQE's skew-join split
    * (on by default) carves it at runtime; the 2 GB-cell hazard this
    * class exists to remove lives only in the postings AGGREGATION, which
    * is segment-keyed.
    */
  private def segmentize(tok: DataFrame, dfThreshold: Long,
      segmentWidth: Long, payload: Option[org.apache.spark.sql.Column])
      : DataFrame = {
    val dfTab = tok.groupBy("token")
      .agg(count(lit(1)).cast("long").as("df"))
    tok.join(dfTab, Seq("token"))
      .withColumn("segment", segmentCol(dfThreshold, segmentWidth))
      .groupBy("token", "segment", "df")
      .agg(sort_array(collect_list(payload.getOrElse(col("doc_id"))))
        .as("postings"))
      .select("token", "segment", "df", "postings")
  }

  /** Build the index: (token, segment, df, postings) with postings = the
    * SORTED distinct doc_ids of the segment and df = the token's TOTAL
    * doc count (replicated on every segment row).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame =
    segmentize(tokenized(docs, idCol, textCol).distinct(),
      dfThreshold, segmentWidth, None)

  /** TF-bearing index variant: postings = doc_id-sorted array of
    * (doc_id, tf) — the structure ranked retrieval reads. Same shuffle
    * class as [[build]] after a (doc, token) partial agg.
    */
  def buildWithTf(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame = {
    val tf = tokenized(docs, idCol, textCol)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("long").as("tf"))
    segmentize(tf, dfThreshold, segmentWidth,
      Some(struct(col("doc_id"), col("tf"))))
  }

  /** POSITIONAL index: postings = doc_id-sorted array of (doc_id, tf,
    * positions) with positions = the sorted 0-based token offsets within
    * the document — the structure phrase retrieval reads
    * ([[lookupPhrase]]). Positions come from the same posexplode the
    * span-dedup substrate uses (WordShinglesPos' position discipline).
    */
  /** Per-(doc, token) positional tuples: (doc_id, token, tf, positions)
    * with positions = sorted 0-based offsets — the pre-aggregation both
    * [[buildPositional]] and [[mergeDeltaPositional]] segmentize.
    */
  private def positionalTuples(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "token")))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("long").as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))

  def buildPositional(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame =
    segmentize(positionalTuples(docs, idCol, textCol), dfThreshold,
      segmentWidth, Some(struct(col("doc_id"), col("tf"), col("positions"))))

  /** Process-local STORED-index handles: memoize the built index as an
    * eager localCheckpoint keyed by (corpus plan, build params) — the
    * in-session stand-in for the bucketed-by-token stored table a
    * serving deployment reads. "Search ... results in milliseconds"
    * (reference `factors/2-consumable.md:9`) is a stored-artifact claim:
    * a query plan that re-tokenizes the corpus per query models nothing
    * real, so retrieval entries (`inverted_index_lookup`/`_rank`/
    * `_phrase`/`_near`) and the merge entries' base index read these.
    * Same contract as BrpLsh's width memo: the value is deterministic
    * (a cache hit returns exactly what a rebuild would), and an ingest
    * boundary that appends under the same path must
    * [[DerivationCache.clear]]. The artifact is O(vocab · segments)
    * rows — bounded by the segmentation invariant, tiny next to the
    * corpus — so the checkpoint is cheap to hold for a session.
    */
  def storedBuild(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame =
    DerivationCache.memo(docs,
      s"invidx-plain-$idCol-$textCol-$dfThreshold-$segmentWidth") {
      build(docs, idCol, textCol, dfThreshold, segmentWidth)
        .localCheckpoint(true)
    }

  def storedBuildWithTf(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame =
    DerivationCache.memo(docs,
      s"invidx-tf-$idCol-$textCol-$dfThreshold-$segmentWidth") {
      buildWithTf(docs, idCol, textCol, dfThreshold, segmentWidth)
        .localCheckpoint(true)
    }

  def storedBuildPositional(docs: DataFrame, idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame =
    DerivationCache.memo(docs,
      s"invidx-pos-$idCol-$textCol-$dfThreshold-$segmentWidth") {
      buildPositional(docs, idCol, textCol, dfThreshold, segmentWidth)
        .localCheckpoint(true)
    }

  /** Incremental maintenance (the delta-vs-stored-index pattern proven
    * for MinHash in `dedup_incremental`): fold a delta corpus of NEW
    * doc_ids into a stored [[build]] index WITHOUT rebuilding. Only
    * tokens present in the delta are touched — their stored rows are
    * flattened back to (token, doc_id), unioned with the delta postings
    * and re-segmented (df re-derives, so a token crossing `dfThreshold`
    * re-layouts correctly); every other index row passes through
    * verbatim via an anti-join. Work is O(|delta| + postings of touched
    * tokens), never O(corpus) — at 100 TB the stored side is a bucketed
    * table and the touched-token join prunes to the delta's vocabulary.
    * Result ≡ `build(base ∪ delta)` (mergeDelta's oracle equivalence,
    * `inverted_index_incremental`), provided delta doc_ids are disjoint
    * from the indexed corpus (new documents, the ingest contract).
    */
  def mergeDelta(index: DataFrame, deltaDocs: DataFrame, idCol: String,
      textCol: String, dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame = {
    val deltaTok = tokenized(deltaDocs, idCol, textCol).distinct()
    val touched = deltaTok.select("token").distinct()
    val untouched = index.join(touched, Seq("token"), "left_anti")
    val touchedOld = index.join(touched, Seq("token"), "left_semi")
      .select(col("token"), explode(col("postings")).as("doc_id"))
    val rebuilt = segmentize(
      touchedOld.unionByName(deltaTok.select("token", "doc_id")),
      dfThreshold, segmentWidth, None)
    untouched.select("token", "segment", "df", "postings")
      .unionByName(rebuilt)
  }

  /** [[mergeDelta]] for the POSITIONAL index — keeps the phrase/proximity
    * serving artifact ([[buildPositional]]) incrementally maintainable
    * under the same ingest contract (delta doc_ids disjoint from the
    * indexed corpus). Identical shape: only the delta's tokens are
    * touched — their stored (doc_id, tf, positions) postings flatten
    * back to tuples, union with the delta's positional tuples, and
    * re-segmentize (df re-derives, so threshold crossings re-layout);
    * untouched rows pass through by anti-join. Work is O(|delta| +
    * postings of touched tokens); result ≡ buildPositional(base ∪ delta)
    * (`inverted_index_incremental_pos`'s oracle equivalence, positions
    * and tf included).
    */
  def mergeDeltaPositional(index: DataFrame, deltaDocs: DataFrame,
      idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame = {
    val deltaTp = positionalTuples(deltaDocs, idCol, textCol)
    val touched = deltaTp.select("token").distinct()
    val untouched = index.join(touched, Seq("token"), "left_anti")
    val touchedOld = index.join(touched, Seq("token"), "left_semi")
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))
    val rebuilt = segmentize(
      touchedOld.unionByName(
        deltaTp.select("token", "doc_id", "tf", "positions")),
      dfThreshold, segmentWidth,
      Some(struct(col("doc_id"), col("tf"), col("positions"))))
    untouched.select("token", "segment", "df", "postings")
      .unionByName(rebuilt)
  }

  /** Right-to-be-forgotten / retention enforcement on the stored index:
    * remove `deletedDocs`' doc_ids touching ONLY their tokens — the
    * INVERSE of [[mergeDelta]] under the same contract (the deleted rows
    * carry the text that was indexed: a deployment deletes rows FROM the
    * corpus it holds, so they are at hand — re-tokenizing them is what
    * scopes the touched-token set without a full index scan). Untouched
    * tokens pass through by anti-join; touched tokens' postings flatten,
    * drop the deleted ids (broadcast anti join — deletion batches are
    * bounded: consent revocations / retention windows, never the
    * corpus), and re-segmentize. df re-derives, so a DOWNWARD threshold
    * crossing re-coalesces a previously segmented token into one row,
    * and a token whose every posting is deleted vanishes (empty groups
    * produce no rows). Work is O(deleted docs' tokens + postings of
    * touched tokens); result ≡ build(remaining docs), the
    * `inverted_index_delete` oracle equivalence — Factor-5
    * retention/consent DECIDE (`retention_policy`, `consent_coverage`)
    * paired with an ACT on the serving artifact, the same decide→act
    * completion the refresh loop got in `index_refresh_execute`.
    * Reference anchor: "defined and ENFORCED data retention and
    * deletion schedules" (`factors/requirements.yaml:197-199`) — the
    * enforcement half, applied to the derived index, not just the
    * table.
    */
  def deleteDocs(index: DataFrame, deletedDocs: DataFrame, idCol: String,
      textCol: String, dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame = {
    val touched = tokenized(deletedDocs, idCol, textCol)
      .select("token").distinct()
    val delIds = deletedDocs
      .select(col(idCol).cast("long").as("doc_id")).distinct()
    val untouched = index.join(touched, Seq("token"), "left_anti")
    val kept = index.join(touched, Seq("token"), "left_semi")
      .select(col("token"), explode(col("postings")).as("doc_id"))
      .join(broadcast(delIds), Seq("doc_id"), "left_anti")
    untouched.select("token", "segment", "df", "postings")
      .unionByName(
        segmentize(kept.select("token", "doc_id"),
          dfThreshold, segmentWidth, None))
  }

  /** [[deleteDocs]] for the POSITIONAL index — the phrase/proximity
    * artifact forgets the same way: touched tokens' (doc_id, tf,
    * positions) postings flatten, deleted ids drop, re-segmentize.
    * Result ≡ buildPositional(remaining docs) (spec-pinned).
    */
  def deleteDocsPositional(index: DataFrame, deletedDocs: DataFrame,
      idCol: String, textCol: String,
      dfThreshold: Long = DefaultDfThreshold,
      segmentWidth: Long = DefaultSegmentWidth): DataFrame = {
    val touched = tokenized(deletedDocs, idCol, textCol)
      .select("token").distinct()
    val delIds = deletedDocs
      .select(col(idCol).cast("long").as("doc_id")).distinct()
    val untouched = index.join(touched, Seq("token"), "left_anti")
    val kept = index.join(touched, Seq("token"), "left_semi")
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"), col("p.positions").as("positions"))
      .join(broadcast(delIds), Seq("doc_id"), "left_anti")
    untouched.select("token", "segment", "df", "postings")
      .unionByName(
        segmentize(kept, dfThreshold, segmentWidth,
          Some(struct(col("doc_id"), col("tf"), col("positions")))))
  }

  /** BM25 ranked retrieval (Robertson/Sparck-Jones, the Lucene-default
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf form) over a [[buildWithTf]] index
    * plus a doc-length norms table — the two stored artifacts a search
    * layer keeps beside the corpus. The plan explodes ONLY the query
    * terms' posting lists (index pruned by the broadcast term join), joins
    * norms by doc_id, and top-k's with a deterministic (score desc,
    * doc_id) tie-break. Output: (rank, doc_id, score).
    *
    * The final orderBy+limit plans as TakeOrderedAndProject (a true
    * top-k, no global sort); the row_number window then re-orders only
    * the ≤ topK survivors to stamp ranks — the only deterministic way to
    * number a limited set, and O(topK), not a second corpus sort.
    */
  def rankBm25(index: DataFrame, docLens: DataFrame, terms: DataFrame,
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 10): DataFrame = {
    val t = terms.toDF("token").distinct()
    val stats = docLens.agg(count(lit(1)).cast("long").as("n_docs"),
      avg("dl").as("avgdl"))
    val posting = index.join(broadcast(t), Seq("token"))
      .select(col("df"), explode(col("postings")).as("p"))
      .select(col("df"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val scored = posting
      .join(docLens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("doc_id").agg(sum("s").as("score"))
    import org.apache.spark.sql.expressions.Window
    scored
      .orderBy(col("score").desc, col("doc_id").asc).limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select("rank", "doc_id", "score")
  }

  /** [[rankBm25]] for a BATCH of queries — `queryTerms` is a (qid, token)
    * DataFrame (each query's term set, broadcast: |Q|·|terms/query| rows,
    * always small next to the index). Identical scoring arithmetic;
    * aggregation and the top-N window partition by qid, so per-query work
    * is the same posting-pruned join and queries share one plan instead
    * of |Q| sequential rankBm25 jobs. The per-qid top-N runs as a
    * rank-window (filter-after-row_number pushes the limit into the sort
    * per partition key) — a per-qid TakeOrdered, not a global sort of
    * all candidates. Output: (qid, rank, doc_id, score).
    * `excludeSelf` drops doc_id == qid BEFORE ranking — the
    * more-like-this convention where qids ARE doc_ids (matches the
    * semantic retrievers' self-exclusion). `allowed` (a doc_id
    * keep-list) restricts ranking to documents satisfying a metadata
    * predicate — the lexical twin of IvfIndex.topKFiltered's semi join:
    * it lands on the EXPLODED postings, after term pruning and before
    * scoring, so a disallowed doc contributes nothing to any rank (the
    * restriction property `retrieval_hybrid_filtered` pins end-to-end).
    * At 100 TB the keep-list is a pushed-down predicate on metadata
    * stored inline in the posting rows; the broadcast semi join here is
    * the portable form of the same plan position. BM25's idf/avgdl
    * stats stay CORPUS-level (the index artifact is predicate-agnostic
    * — one index serves every filter), matching how production engines
    * score filtered queries against global statistics.
    */
  def rankBm25PerQuery(index: DataFrame, docLens: DataFrame,
      queryTerms: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      topN: Int = 10, excludeSelf: Boolean = false,
      allowed: Option[DataFrame] = None): DataFrame = {
    val t = queryTerms.toDF("qid", "token").distinct()
    val stats = docLens.agg(count(lit(1)).cast("long").as("n_docs"),
      avg("dl").as("avgdl"))
    val posting1 = index.join(broadcast(t), Seq("token"))
      .select(col("qid"), col("df"), explode(col("postings")).as("p"))
      .select(col("qid"), col("df"), col("p.doc_id").as("doc_id"),
        col("p.tf").as("tf"))
    val posting0 = allowed match {
      // broadcast() matches the documented plan shape: a bare join
      // leaves Spark free to shuffle the exploded postings against the
      // keep-list at scale
      case Some(a) => posting1.join(broadcast(a.select(col("doc_id"))),
        Seq("doc_id"), "left_semi")
      case None => posting1
    }
    val posting =
      if (excludeSelf) posting0.filter(col("doc_id") =!= col("qid"))
      else posting0
    val scored = posting
      .join(docLens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("s"))
      .groupBy("qid", "doc_id").agg(sum("s").as("score"))
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rank", row_number().over(
        Window.partitionBy("qid")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= topN)
      .select("qid", "rank", "doc_id", "score")
  }

  /** Conjunctive (AND) retrieval: doc_ids containing EVERY query term.
    * `terms` is a 1-column DataFrame of distinct tokens (broadcast — a
    * query's term set is always small). The plan touches only the index
    * rows matching the terms (an equi-join that prunes to the term
    * buckets on a stored index), explodes just those posting lists, and
    * intersects by counting: a doc hit by all |terms| lists qualifies.
    * Segment-transparent: a doc appears in exactly one segment row per
    * token, so the per-doc hit count is the matched-term count either way.
    */
  def lookupAll(index: DataFrame, terms: DataFrame): DataFrame = {
    val t = terms.toDF("token").distinct()
    val nTerms = t.agg(count(lit(1)).as("n_terms"))
    index.join(broadcast(t), Seq("token"))
      .select(explode(col("postings")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
      .join(broadcast(nTerms), col("hits") === col("n_terms"))
      .select("doc_id")
  }

  /** PHRASE retrieval over a [[buildPositional]] index: doc_ids where the
    * phrase's tokens occur at CONSECUTIVE positions, in order. `terms` is
    * a (token, offset) DataFrame — offset = the token's 0-based slot in
    * the phrase (duplicate tokens at different slots are fine). The
    * classic positional-intersection: every (doc, occurrence) pair votes
    * for `anchor = position - offset`; an anchor backed by ALL phrase
    * slots is a phrase start. Only the query terms' posting rows are
    * read (broadcast term join — same pruning as [[lookupAll]]), so
    * conjunctive over-matches (all words present, never adjacent) are
    * eliminated without re-reading the corpus.
    */
  /** PROXIMITY retrieval over a [[buildPositional]] index: doc_ids where
    * every query term occurs within SOME window of `slop` positions
    * (unordered — the "all terms near each other" query between
    * conjunctive AND and exact phrase). Semantics: a doc matches iff a
    * choice of one occurrence per term spans max−min ≤ slop; equivalently
    * iff some occurrence position `apos` (the window's left edge is
    * always itself an occurrence) has every term present in
    * [apos, apos+slop] — which is what the plan tests. The within-doc
    * window join is BANDED by `pos div slop` blocks (an occurrence in
    * the window lives in the anchor's block or the next one), so the
    * join is an equi-join on (doc_id, block) whose per-key width is the
    * local occurrence density — never the O(occ²)-per-doc product a
    * plain doc_id join would build on stopword-dense documents. Only the
    * query terms' posting rows are read (broadcast term join, same
    * pruning as [[lookupAll]]/[[lookupPhrase]]).
    */
  def lookupNear(index: DataFrame, terms: DataFrame, slop: Int): DataFrame = {
    require(slop >= 1, s"slop must be >= 1, got $slop")
    val t = terms.toDF("token").distinct()
    val nTerms = t.agg(countDistinct("token").as("n_terms"))
    val occ = index.join(broadcast(t), Seq("token"))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"),
        explode(col("p.positions")).as("pos"))
    val anchors = occ.select(col("doc_id"), col("pos").as("apos"),
        explode(array(lit(0L), lit(1L))).as("boff"))
      .select(col("doc_id"), col("apos"),
        (expr(s"apos div $slop") + col("boff")).as("blk"))
    val occB = occ.withColumn("blk", expr(s"pos div $slop"))
    anchors.join(occB, Seq("doc_id", "blk"))
      .filter(col("pos") >= col("apos") && col("pos") <= col("apos") + slop)
      .groupBy("doc_id", "apos")
      .agg(countDistinct("token").as("hits"))
      .join(broadcast(nTerms), col("hits") === col("n_terms"))
      .select("doc_id").distinct()
  }

  def lookupPhrase(index: DataFrame, terms: DataFrame): DataFrame = {
    val t = terms.select(col("token"),
      col("offset").cast("long").as("offset")).distinct()
    val nSlots = t.agg(countDistinct("offset").as("n_slots"))
    index.join(broadcast(t), Seq("token"))
      .select(col("offset"), explode(col("postings")).as("p"))
      .select(col("offset"), col("p.doc_id").as("doc_id"),
        explode(col("p.positions")).as("pos"))
      .select(col("doc_id"), (col("pos") - col("offset")).as("anchor"),
        col("offset"))
      .groupBy("doc_id", "anchor")
      .agg(countDistinct("offset").as("hits"))
      .join(broadcast(nSlots), col("hits") === col("n_slots"))
      .select("doc_id").distinct()
  }
}
