package graft.checks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.checks.CheckDsl._
import graft.substrate.TextOps._

/** Corpus-construction operators a large-scale training-data pipeline needs
  * beyond per-document analysis (driver north star; reference Factor 2
  * presupposes curated corpora exist, `factors/requirements.yaml:54-88`):
  * deterministic sampling / splitting and repetition filtering.
  *
  * Determinism discipline: sampling decisions use an arithmetic hash
  * `(doc_id * 2654435761 + 40503) % 2147483647` — pure BIGINT math that is
  * bit-identical in any engine, so every operator here carries a DuckDB
  * oracle (and, at 100 TB, reruns of the pipeline assign every record the
  * same split — no RNG state to coordinate across executors).
  */
object PipelineTier {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** Fixed doc_id cap on the dedup-store fixtures: bounds BOTH sides —
    * the stored index (~cap/2 docs) and the ingested waves (~cap/10 +
    * cap/50 docs) — so the MemoryStream driver-side collects and the md5
    * portable hashing stay O(cap) at ANY scale factor (the
    * inverted_index_stream IdxStreamCap discipline; binding from sf0.1
    * up, whole-corpus below). Declared at the TOP of the object: entry
    * vals interpolate it into oracle SQL, and a val referenced before
    * its initializer silently reads 0 (hit building dedup_index_publish).
    */
  private val DedupStreamCap = 1000L

  /** Knuth-style multiplicative mix of a record id — the shared sampling
    * hash. Stays well inside Long (doc_id * 2.65e9 ≪ 2^63).
    */
  private[checks] def mix(id: Column): Column =
    (id * lit(2654435761L) + lit(40503L)) % lit(2147483647L)

  private[checks] val MixSql = "((doc_id * 2654435761 + 40503) % 2147483647)"

  /** Deterministic 10% stratified sample accounting, per source stratum.
    * Map-side only: the keep-decision is a per-row expression; one shuffle
    * for the per-stratum rollup. At 100 TB the same expression IS the
    * sampling filter — no count-based reservoir, no driver coordination.
    */
  val stratifiedSample = Check("stratified_sample",
    (spark, dir) => {
      docs(spark, dir)
        .groupBy("source")
        .agg(
          count(lit(1)).cast("long").as("population"),
          sum(when(mix(col("doc_id")) % 10 === 0, 1L).otherwise(0L))
            .cast("long").as("sampled"))
        .select(col("source"), col("population"), col("sampled"),
          (col("sampled").cast("double") / col("population")).as("rate"))
        .orderBy("source")
    },
    Some(
      s"""SELECT source, population, sampled,
         |CAST(sampled AS DOUBLE) / population AS rate FROM (
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS population,
         |CAST(SUM(CASE WHEN $MixSql % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS sampled
         |FROM documents GROUP BY 1) ORDER BY source"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Deterministic 80/10/10 train/validation/test assignment with
    * per-stratum split fractions. Same hash, same scale story: assignment
    * is a stateless per-row expression, so train/test membership is stable
    * under reruns, repartitioning, and incremental appends.
    */
  val trainTestSplit = Check("train_test_split",
    (spark, dir) => {
      val bucket = mix(col("doc_id")) % 100
      val split = when(bucket < 80, "train")
        .when(bucket < 90, "validation").otherwise("test")
      docs(spark, dir)
        .select(col("source"), split.as("split"))
        .groupBy("source", "split").agg(count(lit(1)).cast("long").as("docs"))
        .withColumn("frac", col("docs").cast("double") /
          sum("docs").over(Window.partitionBy("source")))
        .orderBy("source", "split")
    },
    Some(
      s"""SELECT source, split, docs,
         |CAST(docs AS DOUBLE) / SUM(docs) OVER (PARTITION BY source) AS frac
         |FROM (SELECT source,
         |CASE WHEN $MixSql % 100 < 80 THEN 'train'
         |     WHEN $MixSql % 100 < 90 THEN 'validation'
         |     ELSE 'test' END AS split,
         |CAST(COUNT(*) AS BIGINT) AS docs
         |FROM documents GROUP BY 1, 2) ORDER BY source, split"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Within-document repetition score (Gopher-style repetition filter):
    * 1 - distinct/total word trigrams. Pure per-row expressions over the
    * codegen'd WordShingles — no shuffle, linear scan at any scale.
    */
  val repetitionDetect = Check("repetition_detect",
    (spark, dir) => {
      docs(spark, dir)
        .select(col("doc_id"),
          greatest(size(tokens(col("text"))) - 2, lit(0))
            .cast("long").as("n_trigrams"),
          size(wordTrigrams(col("text"))).cast("long").as("n_distinct"))
        .select(col("doc_id"), col("n_trigrams"), col("n_distinct"),
          when(col("n_trigrams") > 0,
            lit(1.0) - col("n_distinct").cast("double") / col("n_trigrams"))
            .otherwise(lit(0.0)).as("repetition"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos FROM documents),
        |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
        |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
        |dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct FROM tri GROUP BY 1),
        |base AS (SELECT doc_id,
        |CAST(greatest(len(string_split_regex(trim(text), '\s+')) - 2, 0) AS BIGINT) AS n_trigrams
        |FROM documents)
        |SELECT b.doc_id AS doc_id, b.n_trigrams, COALESCE(dt.n_distinct, 0) AS n_distinct,
        |CASE WHEN b.n_trigrams > 0
        |THEN 1.0 - CAST(COALESCE(dt.n_distinct, 0) AS DOUBLE) / b.n_trigrams
        |ELSE 0.0 END AS repetition
        |FROM base b LEFT JOIN dt ON dt.doc_id = b.doc_id ORDER BY doc_id"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Banded MinHash LSH with the PORTABLE (md5) permutation hash, proven
    * against a DuckDB oracle running the identical band algebra — the
    * cross-engine correctness witness for substrate.MinHashLsh's banding
    * (whose production path keeps the faster engine-specific xxhash64).
    *
    * The corpus has no natural near-dups (max trigram Jaccard ≈ 0.02), so
    * the check PLANTS them: every doc_id % 100 == 0 gains a copy at
    * doc_id + 1,000,000 with the first token dropped (trigram Jaccard
    * ≈ (n-4)/(n-2) — high). Both engines build the same augmented corpus;
    * the LSH must surface exactly the planted pairs.
    *
    * This is a correctness WITNESS, not a throughput claim (the portable
    * md5 hash is 2-3× slower than the production xxhash64), so it runs on
    * a deterministic quarter of the corpus (doc_id % 4 == 0 — every
    * planted %100 source survives, 100 % 4 == 0) to keep its bench cost
    * proportional to what it proves.
    */
  val dedupMinhashBanded = Check("dedup_minhash_banded",
    (spark, dir) => {
      val d = docs(spark, dir).filter(col("doc_id") % 4 === 0)
      val toks = tokens(col("text"))
      val aug = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text")))
      val sh = aug.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      graft.substrate.MinHashLsh.nearDupPairs(sh, numPerms = 8, bandRows = 2,
          threshold = 0.5,
          hashFn = graft.substrate.MinHashLsh.portableHash,
          bandKeyFn = graft.substrate.MinHashLsh.portableBandKey)
        .orderBy("a", "b")
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      val bands = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM sigs")
        .mkString(" UNION ALL ")
      s"""WITH aug AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
         |UNION ALL SELECT doc_id + 1000000 AS doc_id,
         |array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
         |len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
         |FROM documents WHERE doc_id % 100 = 0),
         |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM aug),
         |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |sigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY doc_id),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
         |FROM cand c JOIN tri ta ON ta.doc_id = c.a
         |JOIN tri tb ON tb.doc_id = c.b AND tb.sh = ta.sh GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         |SELECT c.a AS a, c.b AS b,
         |CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN sigs sa ON sa.doc_id = c.a JOIN sigs sb ON sb.doc_id = c.b)
         |WHERE jaccard >= 0.5 ORDER BY a, b"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** INCREMENTAL dedup — the nightly-ingest shape: match a DELTA batch
    * against the already-indexed corpus (substrate.MinHashLsh
    * .nearDupPairsAgainst) instead of re-deduping everything. The corpus
    * is the EVEN doc_ids; the delta is the %10==7 docs (all odd, so
    * disjoint from the corpus) plus planted near-dups (every
    * doc_id % 50 == 0 corpus doc re-ingested at
    * +2,000,000 with its first token dropped). The banding must surface
    * exactly the planted re-ingests; unrelated delta docs stay clean.
    * Portable md5 hashes → the full cross-set band algebra is mirrored in
    * DuckDB. At 100 TB the corpus side's signatures are a STORED artifact
    * (MinHashLsh.signatures) — only the delta hashes fresh; candidates
    * come from one (band, bkey) equi-join of delta bands vs the index.
    * Witness discipline (same as dedup_minhash_banded): the md5 corpus
    * side is capped to even doc_ids — every planted %50 source is even,
    * every natural delta id (%10==7) is odd, so the sets stay disjoint
    * and the planted pairs all survive at half the hash cost.
    */
  val dedupIncremental = Check("dedup_incremental",
    (spark, dir) => {
      val d = docs(spark, dir)
      val toks = tokens(col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text")))
      def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      graft.substrate.MinHashLsh.nearDupPairsAgainst(sh(delta), sh(corpus),
          numPerms = 8, bandRows = 2, threshold = 0.5,
          hashFn = graft.substrate.MinHashLsh.portableHash,
          bandKeyFn = graft.substrate.MinHashLsh.portableBandKey)
        .orderBy("a", "b")
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      def bands(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
         |UNION ALL SELECT doc_id + 2000000 AS doc_id,
         |array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
         |len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
         |FROM documents WHERE doc_id % 50 = 0),
         |ctoks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM corpus),
         |ctri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM ctoks t1 JOIN ctoks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN ctoks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |dtoks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM delta),
         |dtri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM dtoks t1 JOIN dtoks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN dtoks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |csigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM ctri GROUP BY doc_id),
         |dsigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM dtri GROUP BY doc_id),
         |cband AS (${bands("csigs")}),
         |dband AS (${bands("dsigs")}),
         |cand AS (SELECT DISTINCT d.doc_id AS a, c.doc_id AS b
         |FROM dband d JOIN cband c ON d.band = c.band AND d.bkey = c.bkey
         |AND d.doc_id <> c.doc_id),
         |inter AS (SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
         |FROM cand c JOIN dtri ta ON ta.doc_id = c.a
         |JOIN ctri tb ON tb.doc_id = c.b AND tb.sh = ta.sh GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         |SELECT c.a AS a, c.b AS b,
         |CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN dsigs sa ON sa.doc_id = c.a JOIN csigs sb ON sb.doc_id = c.b)
         |WHERE jaccard >= 0.5 ORDER BY a, b"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false,
    inBench = false) // md5 witness: proves the cross-set band algebra, not
                     // throughput — the benched twin is dedup_incremental_prod

  /** Right-to-be-forgotten on the dedup SIGNATURE index (VERDICT r11
    * what's-missing #2, the last stored serving artifact without a
    * delete path): build the corpus signature+shingle index, FORGET a
    * governance batch (every doc_id % 100 == 0 — half the planted
    * re-ingest sources) via MinHashLsh.deleteDocs' broadcast anti-joins,
    * then ingest the usual delta (natural %10==7 docs plus re-ingests of
    * ALL %50==0 sources, deleted ones included — a re-upload of
    * forgotten content arriving later IS the hazard scenario). The
    * surviving planted sources (%100==50) must still match — the index
    * keeps working — while the forgotten ones must NEVER surface, even
    * against their own near-identical re-ingests. The oracle rebuilds
    * the whole band algebra from the REMAINING corpus alone, so the
    * hash match pins delete-from-index ≡ rebuild-without-the-deleted:
    * candidate generation, Jaccard values, and the absence of every
    * forgotten doc, jointly. At 100 TB the act is two anti-joins
    * touching O(deleted) rows of metadata-scale state — never a
    * re-shingle of the corpus. Anchor: `factors/5-compliant.md:9`,
    * `factors/requirements.yaml:197-199`.
    */
  val dedupIndexDelete = Check("dedup_index_delete",
    (spark, dir) => {
      import graft.substrate.MinHashLsh
      val d = docs(spark, dir)
      val toks = tokens(col("text"))
      def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      // the stored index artifact (shingle store + signature table),
      // checkpointed once: the delete and the ingest both read it
      val csh = sh(corpus).localCheckpoint(true)
      val sigs = MinHashLsh.signatures(csh, 8, MinHashLsh.portableHash)
        .localCheckpoint(true)
      val forget = d.filter(col("doc_id") % 100 === 0).select("doc_id")
      val (sigs2, csh2) = MinHashLsh.deleteDocs(sigs, csh, forget)
      val delta = d.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text")))
      MinHashLsh.nearDupPairsAgainstIndex(sh(delta), sigs2, csh2,
          numPerms = 8, bandRows = 2, threshold = 0.5,
          hashFn = MinHashLsh.portableHash,
          bandKeyFn = MinHashLsh.portableBandKey)
        .orderBy("a", "b")
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      def bands(src: String) = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM $src")
        .mkString(" UNION ALL ")
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |WHERE doc_id % 2 = 0 AND doc_id % 100 <> 0),
         |delta AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7
         |UNION ALL SELECT doc_id + 2000000 AS doc_id,
         |array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
         |len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
         |FROM documents WHERE doc_id % 50 = 0),
         |ctoks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM corpus),
         |ctri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM ctoks t1 JOIN ctoks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN ctoks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |dtoks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM delta),
         |dtri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM dtoks t1 JOIN dtoks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN dtoks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |csigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM ctri GROUP BY doc_id),
         |dsigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM dtri GROUP BY doc_id),
         |cband AS (${bands("csigs")}),
         |dband AS (${bands("dsigs")}),
         |cand AS (SELECT DISTINCT d.doc_id AS a, c.doc_id AS b
         |FROM dband d JOIN cband c ON d.band = c.band AND d.bkey = c.bkey
         |AND d.doc_id <> c.doc_id),
         |inter AS (SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
         |FROM cand c JOIN dtri ta ON ta.doc_id = c.a
         |JOIN ctri tb ON tb.doc_id = c.b AND tb.sh = ta.sh GROUP BY 1, 2)
         |SELECT a, b, jaccard FROM (
         |SELECT c.a AS a, c.b AS b,
         |CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN dsigs sa ON sa.doc_id = c.a JOIN csigs sb ON sb.doc_id = c.b)
         |WHERE jaccard >= 0.5 ORDER BY a, b"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false,
    inBench = false) // md5 witness (the dedup_incremental discipline):
                     // proves forget ≡ rebuild-without-deleted; the
                     // delete itself is two broadcast anti-joins whose
                     // cost is negligible next to the already-benched
                     // prod band algebra (dedup_incremental_prod)

  /** The dedup signature index as a DURABLE, versioned lakehouse
    * artifact — SnapshotStore's manifest-commit machinery applied to a
    * SECOND artifact family (proving the r12 layer is generic, not
    * vector-specific): v1 = the base corpus' signature table written
    * CLUSTERED BY doc_id (4 files) and committed; v2 = an ingest wave's
    * signatures appended as new files (every v1 file manifest-shared,
    * zero rewrite); v3 = a governance DELETE batch (doc_id % 20 == 0
    * below 100 — range-local by construction) executed as a file
    * rewrite bounded by the clustering: only the files whose rows
    * intersect the batch (found via input_file_name against the stored
    * index itself) are rewritten minus the forgotten docs' rows, every
    * other file — the whole wave dir and the untouched base files — is
    * pinned verbatim from v2. The final state is read back THROUGH the
    * persisted v3 manifest and the DuckDB oracle recomputes the
    * signature table of (base ∪ wave) minus the forgotten docs from
    * raw parquet, so the hash pins append ≡ recompute, forget ≡
    * rebuild-without-deleted, and cross-session manifest resolution,
    * jointly. Spark-side requires pin the bounded delete (affected ⊂
    * total files) and real sharing. At 100 TB the affected-file set of
    * a doc_id-range batch is the clustering's file-level prune — the
    * delete touches O(affected files), never the corpus. One honest
    * nuance, spec-pinned (LayoutSpec "forget vs time travel"): v1/v2's
    * manifests still pin files CONTAINING the forgotten rows — history
    * keeps serving until retention drops those versions, and
    * SnapshotStore.vacuumExecute is what makes the forget PHYSICAL
    * (deletion completes at vacuum, the contract real table formats
    * document). Anchor: `factors/requirements.yaml:136-138` (immutable
    * versions) composed with `:197-199` (enforced deletion).
    */
  val dedupIndexPublish = Check("dedup_index_publish",
    (spark, dir) => {
      import graft.substrate.{Layout, MinHashLsh, SnapshotStore}
      import spark.implicits._
      val d = docs(spark, dir)
      def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      def sigs(df: DataFrame) =
        MinHashLsh.signatures(sh(df), 8, MinHashLsh.portableHash)
      val tmp = java.nio.file.Files.createTempDirectory("graft_sigstore")
        .toString
      try {
        val base = d.filter(col("doc_id") % 2 === 0 &&
          col("doc_id") < DedupStreamCap).select("doc_id", "text")
        Layout.writeClustered(sigs(base), s"$tmp/s1", "doc_id",
          numFiles = 4)
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/s1"), Nil))
        // v2: APPEND commit — the wave's signatures land as new files,
        // every v1 file pinned untouched
        val wave = d.filter(col("doc_id") % 10 === 7 &&
          col("doc_id") < DedupStreamCap).select("doc_id", "text")
        Layout.writeClustered(sigs(wave), s"$tmp/s2", "doc_id",
          numFiles = 2)
        SnapshotStore.commit(spark, tmp, 2L, SnapshotStore.manifestForStats(
          spark, 2L, Seq(s"$tmp/s1", s"$tmp/s2"), Nil))
        // v3: DELETE commit — rewrite ONLY the files holding the
        // forgotten docs' rows (the doc_id clustering makes a
        // range-local batch a file-level prune)
        val forget = d.filter(col("doc_id") % 20 === 0 &&
          col("doc_id") < 100).select("doc_id")
        // manifest rows are fully-qualified URIs (r13); input_file_name
        // emits its own URI form (file:///...) — normalize BOTH sides
        // through PathNorm at the comparison (VERDICT r13 what's-wrong
        // #1: hadoop Path, never java.net.URI — a space-bearing
        // filename crashes the URI parser), keep the stored rows
        // qualified (the ADVICE r12 discipline)
        val affectedPaths = SnapshotStore.readAt(spark, tmp, 2L)
          .withColumn("_f", input_file_name())
          .join(broadcast(forget), Seq("doc_id"))
          .select("_f").distinct().collect()
          .map(r => graft.substrate.PathNorm(r.getString(0))).toSet
        val m2Files = SnapshotStore.manifest(spark, tmp)
          .filter(col("version") === 2L).select("file").distinct()
          .as[String].collect().toSeq
        val (affected, shared) = m2Files.partition(f =>
          affectedPaths(graft.substrate.PathNorm(f)))
        require(affected.nonEmpty && affected.size < m2Files.size,
          s"the clustered delete must touch a strict subset of files: " +
            s"${affected.size} of ${m2Files.size}")
        require(shared.nonEmpty, "delete commit must share untouched files")
        Layout.writeClustered(
          spark.read.parquet(affected: _*)
            .join(broadcast(forget), Seq("doc_id"), "left_anti"),
          s"$tmp/s3", "doc_id", numFiles = 1)
        SnapshotStore.commit(spark, tmp, 3L,
          shared.toDF("file")
            .select(lit(3L).as("version"), col("file"))
            .unionByName(SnapshotStore.manifestForStats(spark, 3L,
              Seq(s"$tmp/s3"), Nil).select("version", "file")))
        // final state, resolved ONCE from the PERSISTED v3 manifest
        // (schema comes off the same DataFrame — a second readAt would
        // repeat the whole manifest resolution, code-review r12)
        val v3 = SnapshotStore.readAt(spark, tmp, 3L)
        val rows = v3.orderBy("doc_id").collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), v3.schema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      s"""WITH pop AS (SELECT doc_id, text FROM documents
         |WHERE doc_id < $DedupStreamCap AND (
         |(doc_id % 2 = 0 AND NOT (doc_id % 20 = 0 AND doc_id < 100))
         |OR doc_id % 10 = 7)),
         |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM pop),
         |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2)
         |SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n
         |FROM tri GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** QUALITY-AWARE dedup retention — the decision layer production
    * curation actually runs: near-dup pairs → connected components →
    * keep the HIGHEST-QUALITY member per cluster (here: most tokens,
    * doc_id tiebreak), not the min-id. On the dedup_minhash_banded
    * planted corpus every cluster is {original, first-token-dropped copy},
    * so the quality rule must keep exactly the originals — a
    * semantically-checkable retention decision, not just a convention.
    * Output = one row per cluster (kept doc, its token count, cluster
    * size). Oracle recomputes the full chain: md5 banding → exact-Jaccard
    * pairs → recursive closure → per-cluster argmax. Composes three
    * already-scale-safe parts (banded LSH, components, a per-cluster
    * window over cluster-sized groups).
    */
  val dedupRetainQuality = Check("dedup_retain_quality",
    (spark, dir) => {
      val d = docs(spark, dir).filter(col("doc_id") % 4 === 0)
      val toks = tokens(col("text"))
      val aug = d.select(col("doc_id"), col("text")).unionAll(
        d.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text")))
      val sh = aug.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      val pairs = graft.substrate.MinHashLsh.nearDupPairs(sh, numPerms = 8,
          bandRows = 2, threshold = 0.5,
          hashFn = graft.substrate.MinHashLsh.portableHash,
          bandKeyFn = graft.substrate.MinHashLsh.portableBandKey)
        .select(col("a").as("src"), col("b").as("dst"))
      val comps = graft.substrate.Graph.components(pairs)
      val qual = aug.select(col("doc_id").as("node"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      val sizes = comps.groupBy("label")
        .agg(count(lit(1)).cast("long").as("cluster_size"))
      val w = Window.partitionBy("label").orderBy(col("n_tokens").desc, col("node"))
      comps.join(qual, Seq("node"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(sizes, Seq("label"))
        .select(col("node").as("kept_doc"), col("n_tokens").as("kept_tokens"),
          col("cluster_size"))
        .orderBy("kept_doc")
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      val bands = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM sigs")
        .mkString(" UNION ALL ")
      s"""WITH RECURSIVE aug AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
         |UNION ALL SELECT doc_id + 1000000 AS doc_id,
         |array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
         |len(string_split_regex(trim(text), '\\s+'))), ' ') AS text
         |FROM documents WHERE doc_id % 100 = 0),
         |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM aug),
         |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |sigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY doc_id),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.a, c.b, CAST(COUNT(*) AS BIGINT) AS i
         |FROM cand c JOIN tri ta ON ta.doc_id = c.a
         |JOIN tri tb ON tb.doc_id = c.b AND tb.sh = ta.sh GROUP BY 1, 2),
         |pairs AS (SELECT a, b FROM (
         |SELECT c.a AS a, c.b AS b,
         |CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(i.i, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
         |JOIN sigs sa ON sa.doc_id = c.a JOIN sigs sb ON sb.doc_id = c.b)
         |WHERE jaccard >= 0.5),
         |edges AS (SELECT a AS s, b AS d FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT s AS n FROM edges),
         |reach AS (SELECT n AS root, n AS node FROM nodes
         |UNION SELECT r.root, e.d FROM reach r JOIN edges e ON e.s = r.node),
         |labels AS (SELECT root, MIN(node) AS label FROM reach GROUP BY root),
         |qual AS (SELECT doc_id AS node,
         |CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens FROM aug),
         |sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM labels GROUP BY label),
         |ranked AS (SELECT l.root AS node, l.label, q.n_tokens,
         |row_number() OVER (PARTITION BY l.label ORDER BY q.n_tokens DESC, l.root) AS rn
         |FROM labels l JOIN qual q ON q.node = l.root)
         |SELECT r.node AS kept_doc, r.n_tokens AS kept_tokens, s.cluster_size
         |FROM ranked r JOIN sizes s ON s.label = r.label WHERE r.rn = 1 ORDER BY 1"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** Sequence PACKING — the concat-and-chop step that turns a curated
    * corpus into fixed-length LM training sequences: per source, documents
    * lay out in doc_id order, token offsets accumulate, and a document
    * belongs to the 512-token window its FIRST token lands in (pack_id =
    * start_offset // seqLen; boundaries cut mid-document — the standard
    * packing semantics). Output = per-(source, pack) doc count and token
    * mass, the pack-utilization view a data loader plans batches from.
    * Scale shape: one shuffle on source, an ordered running-sum window
    * per source partition, then a map-side-combined groupBy — source
    * partitions sort independently at 100 TB (for a single giant source,
    * range-partition by doc_id and offset per range with a two-pass
    * prefix sum).
    */
  val sequencePack = Check("sequence_pack",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val seqLen = 512L
      val d = docs(spark, dir).select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_toks"))
      val w = Window.partitionBy("source").orderBy("doc_id")
      d.withColumn("cum", sum("n_toks").over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_toks")) / lit(seqLen)).cast("long"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum("n_toks").cast("long").as("tok_sum"))
        .orderBy("source", "pack_id")
    },
    Some(
      """WITH d AS (SELECT doc_id, source,
        |len(string_split_regex(trim(text), '\s+')) AS n_toks FROM documents),
        |c AS (SELECT source, n_toks,
        |SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM d)
        |SELECT source, CAST((cum - n_toks) // 512 AS BIGINT) AS pack_id,
        |CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS tok_sum
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** PRODUCTION-HASH twin of [[dedupIncremental]]: the same delta-vs-index
    * shape on the same corpus split, but hashed with the engine-native
    * xxhash64 permutations and int band keys (MinHashLsh defaults) — the
    * path a real nightly ingest runs. xxhash64 is engine-private, so this
    * is a rows-only entry (documented exemption); its ALGEBRA is witnessed
    * green by `dedup_incremental` (portable md5 twin, full DuckDB mirror)
    * and DedupSpec's randomized full-vs-incremental equivalence. Registered
    * IN the bench headline so the production path's cost is tracked
    * round-over-round (VERDICT r3 #8) — the md5 witness is bench-exempt
    * for the same reason in reverse (proves correctness, not throughput).
    */
  val dedupIncrementalProd = Check("dedup_incremental_prod",
    (spark, dir) => {
      val d = docs(spark, dir)
      val toks = tokens(col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text")))
      def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      graft.substrate.MinHashLsh.nearDupPairsAgainst(sh(delta), sh(corpus),
          threshold = 0.5)
        .orderBy("a", "b")
    },
    None, isScore = false)

  /** STREAMING dedup at ingest — the stream face of `dedup_incremental`:
    * documents arrive as real Structured Streaming micro-batches
    * (MemoryStream → foreachBatch) and each batch is near-dup-checked
    * against the STORED signature index (MinHashLsh
    * .nearDupPairsAgainstIndex — only the batch hashes fresh; the index
    * side is the signature artifact appended batch-by-batch, never
    * rebuilt) plus within itself (nearDupPairs), then its signatures and
    * shingles join the stores. This is detection-at-ingest: every doc is
    * indexed, dup or not, and the report carries (later arrival, earlier
    * doc, jaccard) — admission control is a downstream anti-join on `a`.
    * Two waves stream in: natural docs (doc_id % 20 = 7 → wave 1,
    * % 20 = 17 → wave 2) plus planted re-ingests of indexed docs
    * (doc_id % 50 = 0, first token dropped, re-keyed +2,000,000;
    * % 100 = 0 → wave 1, % 100 = 50 → wave 2), all under
    * [[DedupStreamCap]]. The DuckDB oracle recomputes ALL near-dup pairs
    * over base ∪ wave1 ∪ wave2 with one global band algebra and applies
    * the arrival-order rule declaratively (pair reported iff not both
    * sides are base; a = the later epoch's doc, id-ordered within an
    * epoch) — the hash match pins stream-incremental ≡ batch over the
    * full population, band boundaries, Jaccard values and arrival
    * orientation included. Per-batch cost at 100 TB is O(batch +
    * candidates): one (band, bkey) equi-join against the stored index,
    * shingle store touched only by the candidate-bounded verify join.
    * Stateful (blocking micro-batch loop) → serial-only bench.
    */
  val dedupIngestStream = Check("dedup_ingest_stream",
    (spark, dir) => {
      import graft.substrate.MinHashLsh
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val d = docs(ss, dir)
      val toks = tokens(col("text"))
      def sh(df: DataFrame) = df.select(col("doc_id"),
        explode(wordTrigrams(col("text"))).as("shingle"))
      val base = d
        .filter(col("doc_id") % 2 === 0 && col("doc_id") < DedupStreamCap)
        .select(col("doc_id"), col("text"))
      // the stored index artifact: signature table + shingle store,
      // eagerly checkpointed per batch so lineage stays O(1) in batches
      var sigStore = MinHashLsh
        .signatures(sh(base), 8, MinHashLsh.portableHash)
        .localCheckpoint(true)
      var shStore = sh(base).localCheckpoint(true)
      var pairs = Seq.empty[(Long, Long, Double)].toDF("a", "b", "jaccard")
      def wave(m: Int): Seq[(Long, String)] = {
        val nat = d.filter(col("doc_id") % 20 === (10 * m + 7) &&
            col("doc_id") < DedupStreamCap)
          .select(col("doc_id"), col("text"))
        val planted = d.filter(col("doc_id") % 100 === (50 * m) &&
            col("doc_id") < DedupStreamCap)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ",
              slice(toks, lit(2), greatest(size(toks) - 1, lit(0))))
              .as("text"))
        nat.unionAll(planted).as[(Long, String)].collect().toSeq
      }
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val q = input.toDF().toDF("doc_id", "text")
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bsh = sh(batch).localCheckpoint(true)
          val cross = MinHashLsh.nearDupPairsAgainstIndex(bsh, sigStore,
            shStore, numPerms = 8, bandRows = 2, threshold = 0.5,
            hashFn = MinHashLsh.portableHash,
            bandKeyFn = MinHashLsh.portableBandKey)
          val within = MinHashLsh.nearDupPairs(bsh, numPerms = 8,
            bandRows = 2, threshold = 0.5,
            hashFn = MinHashLsh.portableHash,
            bandKeyFn = MinHashLsh.portableBandKey)
          pairs = pairs.unionByName(cross).unionByName(within)
            .localCheckpoint(true)
          sigStore = sigStore
            .unionByName(MinHashLsh.signatures(bsh, 8,
              MinHashLsh.portableHash))
            .localCheckpoint(true)
          shStore = shStore.unionByName(bsh).localCheckpoint(true)
        }
        .start()
      try {
        Seq(wave(0), wave(1)).foreach { vs =>
          input.addData(vs); q.processAllAvailable()
        }
      } finally q.stop()
      pairs.orderBy("a", "b")
    },
    Some {
      val sigCols = (0 until 8)
        .map(p => s"MIN(md5(sh || ':$p')) AS m$p").mkString(", ")
      val bands = (0 until 4)
        .map(b => s"SELECT doc_id, $b AS band, md5(m${2 * b} || '|' || m${2 * b + 1}) AS bkey FROM sigs")
        .mkString(" UNION ALL ")
      s"""WITH pop AS (
         |SELECT doc_id, text, 0 AS ep FROM documents WHERE doc_id % 2 = 0 AND doc_id < $DedupStreamCap
         |UNION ALL SELECT doc_id, text, CASE WHEN doc_id % 20 = 7 THEN 1 ELSE 2 END AS ep
         |FROM documents WHERE doc_id % 10 = 7 AND doc_id < $DedupStreamCap
         |UNION ALL SELECT doc_id + 2000000 AS doc_id,
         |array_to_string(list_slice(string_split_regex(trim(text), '\\s+'), 2,
         |len(string_split_regex(trim(text), '\\s+'))), ' ') AS text,
         |CASE WHEN doc_id % 100 = 0 THEN 1 ELSE 2 END AS ep
         |FROM documents WHERE doc_id % 50 = 0 AND doc_id < $DedupStreamCap),
         |toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM pop),
         |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |sigs AS (SELECT doc_id, $sigCols, CAST(COUNT(*) AS BIGINT) AS n FROM tri GROUP BY doc_id),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT x.doc_id AS u, y.doc_id AS v
         |FROM banded x JOIN banded y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.u, c.v, CAST(COUNT(*) AS BIGINT) AS i
         |FROM cand c JOIN tri ta ON ta.doc_id = c.u
         |JOIN tri tb ON tb.doc_id = c.v AND tb.sh = ta.sh GROUP BY 1, 2),
         |j AS (SELECT c.u, c.v, eu.ep AS epu, ev.ep AS epv,
         |CAST(COALESCE(i.i, 0) AS DOUBLE) / (su.n + sv.n - COALESCE(i.i, 0)) AS jaccard
         |FROM cand c LEFT JOIN inter i ON i.u = c.u AND i.v = c.v
         |JOIN sigs su ON su.doc_id = c.u JOIN sigs sv ON sv.doc_id = c.v
         |JOIN pop eu ON eu.doc_id = c.u JOIN pop ev ON ev.doc_id = c.v)
         |SELECT CASE WHEN epv > epu THEN v ELSE u END AS a,
         |CASE WHEN epv > epu THEN u ELSE v END AS b, jaccard
         |FROM j WHERE jaccard >= 0.5 AND NOT (epu = 0 AND epv = 0)
         |ORDER BY a, b"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** Events attributed to the pipeline-run window they occurred in —
    * point-in-interval RANGE join (substrate.RangeJoin): binned to an
    * equi-join on hour buckets + residual BETWEEN, instead of the
    * nested-loop a naive theta join plans (see RangeJoinSpec's plan
    * assertion). Runs with no events report 0 (left join back to the run
    * catalog).
    */
  val eventsInRunWindow = Check("events_in_run_window",
    (spark, dir) => {
      val ev = table(spark, dir, "events").select(col("ts"))
      val runs = graft.catalog.Fixtures.pipelineRuns.df(spark) // bind ONCE
      val matched = graft.substrate.RangeJoin.pointInInterval(
        ev, "ts", runs.select("run_id", "start_ts", "end_ts"),
        "start_ts", "end_ts")
      // fresh exprIds via rename — counts derives from `runs`, so joining
      // back without it would make run_id ambiguous (self-join lineage)
      val counts = matched.groupBy("run_id")
        .agg(count(lit(1)).as("n_events"))
        .withColumnRenamed("run_id", "rid")
      runs.select("run_id", "pipeline")
        .join(counts, col("run_id") === col("rid"), "left")
        .select(col("run_id"), col("pipeline"),
          coalesce(col("n_events"), lit(0L)).cast("long").as("n_events"))
        .orderBy("run_id")
    },
    Some(graft.catalog.Fixture.oracle(
      Seq(graft.catalog.Fixtures.pipelineRuns),
      """SELECT r.run_id AS run_id, r.pipeline AS pipeline,
        |CAST(COUNT(e.ts) AS BIGINT) AS n_events
        |FROM pipeline_runs r LEFT JOIN events e
        |ON e.ts >= r.start_ts AND e.ts <= r.end_ts
        |GROUP BY 1, 2 ORDER BY run_id""".stripMargin.replace("\n", " "))),
    isScore = false)

  /** Gap-based batch sessionization — the batch mirror of EP3's streaming
    * session_window: a new session starts after a >30 min silence per
    * user; session id = running sum of session-start flags. All temporal
    * math on INTEGER micros (`unix_micros` / DuckDB `epoch_us`) with
    * event_id tie-breaks, so ordering and gap comparisons are
    * bit-identical cross-engine (events.ts is nanos in the file; both
    * engines truncate to the same µs). A gap of EXACTLY the threshold
    * starts a new session (>=) — the same boundary rule as Structured
    * Streaming's session_window, so the batch and streaming
    * sessionizers agree row-for-row (see PipelineTierSpec parity test).
    *
    * Scale shape: one per-user window sort (sessionization's inherent
    * shuffle), then per-(user, session) and per-size aggregations. Output
    * = session-size histogram.
    */
  val sessionize = Check("sessionize",
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val ev = table(spark, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tus"), col("event_id"))
      val flagged = ev.withColumn("new_s",
        when(lag(col("tus"), 1).over(w).isNull ||
          col("tus") - lag(col("tus"), 1).over(w) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      val sid = flagged.withColumn("session_id",
        sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sid.groupBy("user_id", "session_id")
        .agg(count(lit(1)).cast("long").as("session_size"))
        .groupBy("session_size")
        .agg(count(lit(1)).cast("long").as("n_sessions"))
        .orderBy("session_size")
    },
    Some(
      """WITH s AS (SELECT user_id, event_id, epoch_us(ts) AS tus,
        |CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
        |THEN 1 ELSE 0 END AS new_s FROM events),
        |sid AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id
        |ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |per AS (SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS session_size
        |FROM sid GROUP BY 1, 2)
        |SELECT session_size, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM per GROUP BY 1 ORDER BY session_size"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Batch mirror of EP3's stream-stream attribution join
    * (streaming.FreshnessMonitor.attributionJoin, watermark-bounded
    * interval join): attribute each purchase to every view by the same
    * user within the 30-minute attribution window. Calls the SAME
    * function as the streaming path — watermarks are no-ops on batch
    * frames — so the oracle checks the exact semantics the stream runs
    * (batch/stream row parity is additionally pinned in StreamingSpec).
    * Output on integer micros for engine-exact comparison.
    *
    * Scale shape: equi-join on user_id with the interval as a residual
    * predicate — per-user event counts are bounded, so the shuffle is the
    * inherent per-user co-location, never a product.
    */
  val attributionJoin = Check("attribution_join",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
      val out = graft.streaming.FreshnessMonitor.attributionJoin(
        ev.filter(col("event_type") === "view").select("user_id", "ts"),
        ev.filter(col("event_type") === "purchase").select("user_id", "ts"),
        windowMinutes = 30)
      out.select(col("user_id"),
          expr("unix_micros(trigger_ts)").as("trigger_us"),
          expr("unix_micros(conversion_ts)").as("conversion_us"))
        .orderBy("user_id", "trigger_us", "conversion_us")
    },
    Some(
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS cus FROM events WHERE event_type = 'purchase')
        |SELECT t.user_id, t.tus AS trigger_us, c.cus AS conversion_us
        |FROM t JOIN c ON c.user_id = t.user_id
        |AND c.cus >= t.tus AND c.cus <= t.tus + 1800000000
        |ORDER BY 1, 2, 3"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Attribution LATENCY distribution — last-touch attribution (the
    * LATEST view within the window claims the purchase) composed on the
    * same interval join as `attribution_join`, then exact rank-selection
    * median/p90 of conversion latency in integer micros (the
    * value_percentiles idiom: element-of-data, engine-portable). The
    * global rank window runs over attributed conversions only (a tiny
    * fraction of events); at 100 TB swap the exact selection for
    * percentile_approx — this form is the oracle-checkable witness of
    * that distribution.
    */
  val attributionLatency = Check("attribution_latency",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
      val pairs = graft.streaming.FreshnessMonitor.attributionJoin(
        ev.filter(col("event_type") === "view").select("user_id", "ts"),
        ev.filter(col("event_type") === "purchase").select("user_id", "ts"),
        windowMinutes = 30)
      val lat = pairs.groupBy("user_id", "conversion_ts")
        .agg(max("trigger_ts").as("trigger_ts"))
        .select((expr("unix_micros(conversion_ts)") -
          expr("unix_micros(trigger_ts)")).as("lat_us"))
      val counts = lat.agg(count(lit(1)).as("n"))
      val w = Window.orderBy("lat_us")
      lat.crossJoin(broadcast(counts))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("t", explode(array(Seq(50, 90).map(p =>
          struct(lit(p.toLong).as("p"),
            ceil(col("n") * lit(p / 100.0)).cast("long").as("target"))): _*)))
        .filter(col("rn") === col("t.target"))
        .select(col("t.p").as("p"), col("lat_us"),
          col("n").cast("long").as("n_attributed"))
        .orderBy("p")
    },
    Some(
      """WITH t AS (SELECT user_id, epoch_us(ts) AS tus FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(ts) AS cus FROM events WHERE event_type = 'purchase'),
        |pairs AS (SELECT t.user_id, t.tus, c.cus FROM t JOIN c ON c.user_id = t.user_id
        |AND c.cus >= t.tus AND c.cus <= t.tus + 1800000000),
        |lastt AS (SELECT user_id, cus, MAX(tus) AS tus FROM pairs GROUP BY 1, 2),
        |lat AS (SELECT cus - tus AS lat_us FROM lastt),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lat),
        |r AS (SELECT lat_us, CAST(row_number() OVER (ORDER BY lat_us) AS BIGINT) AS rn FROM lat)
        |SELECT p, lat_us, nn.n AS n_attributed FROM (
        |SELECT CAST(50 AS BIGINT) AS p, lat_us FROM r
        |WHERE rn = (SELECT CAST(ceil(0.5::DOUBLE * n) AS BIGINT) FROM nn)
        |UNION ALL SELECT 90, lat_us FROM r
        |WHERE rn = (SELECT CAST(ceil(0.9::DOUBLE * n) AS BIGINT) FROM nn)), nn
        |ORDER BY p"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Rolling 7-day event counts per type — the RANGE-frame window idiom
    * (SURVEY §2.B "frames") on integer day numbers: per (event_type, day)
    * count plus its trailing-week sum. Integer-only outputs.
    */
  val rollingDailyCounts = Check("rolling_daily_counts",
    (spark, dir) => {
      val daily = table(spark, dir, "events")
        .select(col("event_type"),
          floor(expr("unix_micros(ts)") / lit(86400000000L)).cast("long").as("day_num"))
        .groupBy("event_type", "day_num")
        .agg(count(lit(1)).cast("long").as("n"))
      val w = Window.partitionBy("event_type").orderBy("day_num")
        .rangeBetween(-6, 0)
      daily.withColumn("n_7d", sum("n").over(w).cast("long"))
        .orderBy("event_type", "day_num")
    },
    Some(
      """WITH daily AS (SELECT event_type,
        |CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num,
        |CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, day_num, n,
        |CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day_num
        |RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_7d
        |FROM daily ORDER BY event_type, day_num"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Time-series resample + forward-fill — the gap-repair operator a
    * training pipeline runs before feature extraction: an hourly grid per
    * event_type spanning that type's observed range (`sequence` explode —
    * bounded fan-out like RangeJoin's binning), left-joined with observed
    * hourly sums, missing hours carried forward via
    * `last(_, ignoreNulls)` over an unbounded-preceding frame. The first
    * grid hour always has data (the span starts at the type's min), so
    * the fill is total. Integer-only outputs.
    */
  val gapFillForward = Check("gap_fill_forward",
    (spark, dir) => {
      val hourly = table(spark, dir, "events")
        .select(col("event_type"),
          floor(expr("unix_micros(ts)") / lit(3600000000L)).cast("long").as("hour_num"),
          floor(col("value")).cast("long").as("value_i"))
        .groupBy("event_type", "hour_num")
        .agg(sum("value_i").cast("long").as("hourly_value"))
      val span = hourly.groupBy("event_type")
        .agg(min("hour_num").as("lo"), max("hour_num").as("hi"))
      val grid = span.select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("hour_num"))
      val w = Window.partitionBy("event_type").orderBy("hour_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hour_num"), "left")
        .select(col("event_type"), col("hour_num"),
          last(col("hourly_value"), ignoreNulls = true).over(w)
            .cast("long").as("filled_value"),
          when(col("hourly_value").isNull, 1L).otherwise(0L).as("was_missing"))
        .orderBy("event_type", "hour_num")
    },
    Some(
      """WITH hourly AS (SELECT event_type,
        |CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hour_num,
        |CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS hourly_value
        |FROM events GROUP BY 1, 2),
        |span AS (SELECT event_type, MIN(hour_num) AS lo, MAX(hour_num) AS hi
        |FROM hourly GROUP BY 1),
        |grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour_num FROM span),
        |j AS (SELECT g.event_type, g.hour_num, h.hourly_value
        |FROM grid g LEFT JOIN hourly h
        |ON h.event_type = g.event_type AND h.hour_num = g.hour_num)
        |SELECT event_type, hour_num,
        |CAST(LAST_VALUE(hourly_value IGNORE NULLS) OVER (PARTITION BY event_type
        |ORDER BY hour_num ROWS UNBOUNDED PRECEDING) AS BIGINT) AS filled_value,
        |CASE WHEN hourly_value IS NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS was_missing
        |FROM j ORDER BY event_type, hour_num"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Train/test contamination — the eval-integrity gate every LM data
    * pipeline needs: fraction of TEST documents whose content fingerprint
    * (min-md5 trigram MinHash, doc_fingerprint's expression) also appears
    * in TRAIN under the deterministic split. Exact-duplicate documents
    * that straddle the hash split are contamination; near-dup extension =
    * run the same semi-join on LSH cluster labels. One fingerprint scan +
    * one distinct + one semi join — no all-pairs work at any scale.
    */
  val splitContamination = Check("split_contamination",
    (spark, dir) => {
      val fp = coalesce(
        array_min(transform(wordTrigrams(col("text")),
          s => md5(s.cast("binary")))),
        md5(normText(col("text")).cast("binary")))
      val bucket = mix(col("doc_id")) % 100
      val d = docs(spark, dir).select(col("doc_id"), fp.as("fingerprint"),
        when(bucket < 80, "train").when(bucket < 90, "validation")
          .otherwise("test").as("split"))
      val train = d.filter(col("split") === "train")
        .select("fingerprint").distinct()
      val test = d.filter(col("split") === "test")
      val contaminated = test.join(train, Seq("fingerprint"), "left_semi")
      cnt(test).toDF("n_test").crossJoin(cnt(contaminated).toDF("n_contaminated"))
        .select(col("n_test").cast("long"), col("n_contaminated").cast("long"),
          (col("n_contaminated").cast("double") / col("n_test")).as("rate"))
    },
    Some(
      s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok,
         |generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS pos FROM documents),
         |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
         |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
         |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
         |fpt AS (SELECT doc_id, MIN(md5(sh)) AS f FROM tri GROUP BY doc_id),
         |d AS (SELECT dd.doc_id,
         |COALESCE(fpt.f, md5(lower(trim(regexp_replace(dd.text, '\\s+', ' ', 'g'))))) AS fingerprint,
         |CASE WHEN ((dd.doc_id * 2654435761 + 40503) % 2147483647) % 100 < 80 THEN 'train'
         |WHEN ((dd.doc_id * 2654435761 + 40503) % 2147483647) % 100 < 90 THEN 'validation'
         |ELSE 'test' END AS split
         |FROM documents dd LEFT JOIN fpt ON fpt.doc_id = dd.doc_id),
         |tr AS (SELECT DISTINCT fingerprint FROM d WHERE split = 'train'),
         |te AS (SELECT fingerprint FROM d WHERE split = 'test')
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
         |CAST(SUM(CASE WHEN tr.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
         |CAST(SUM(CASE WHEN tr.fingerprint IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rate
         |FROM te LEFT JOIN tr ON tr.fingerprint = te.fingerprint"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Benchmark decontamination at the SPAN level — the 13-gram overlap
    * check (GPT-3 appendix-C lineage): a test document is contaminated if
    * ANY of its word 13-grams also appears in any train document, which
    * catches quoted/partial leakage the whole-doc fingerprint of
    * `split_contamination` misses. Output is the actionable diagnostic: the
    * contaminated test doc_ids with their shared-span counts (integers
    * only). The corpus carries natural repeated spans, so the result is
    * non-trivially non-empty at every SF without planting.
    *
    * Scale shape: distinct 13-grams per doc build map-side (the codegen'd
    * WordShingles expression), train grams dedupe with one hash agg, and
    * contamination is one shingle-keyed equi-join — linear, never
    * doc×doc. At 100 TB shuffle xxhash64(g) instead of the raw 13-gram
    * strings (the dedup_minhash_lsh production-twin pattern); raw strings
    * keep this entry engine-portable.
    */
  val ngramContamination = Check("ngram_contamination",
    (spark, dir) => {
      val d = docs(spark, dir)
      val split = when(mix(col("doc_id")) % 100 < 80, "train")
        .when(mix(col("doc_id")) % 100 < 90, "validation")
        .otherwise("test")
      val grams = d.select(col("doc_id"), split.as("split"),
        explode(wordShingles(col("text"), 13)).as("g"))
      val trainGrams = grams.filter(col("split") === "train")
        .select("g").distinct()
      grams.filter(col("split") === "test")
        .join(trainGrams, Seq("g"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_shared_grams"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents),
         |grams AS (SELECT DISTINCT doc_id, array_to_string(ts[i:i+12], ' ') AS g
         |FROM toks, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 12, 0))) AS i) pos),
         |d AS (SELECT doc_id, CASE WHEN $MixSql % 100 < 80 THEN 'train'
         |WHEN $MixSql % 100 < 90 THEN 'validation' ELSE 'test' END AS split FROM documents),
         |trg AS (SELECT DISTINCT g FROM grams JOIN d USING (doc_id) WHERE d.split = 'train')
         |SELECT grams.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
         |FROM grams JOIN trg USING (g) JOIN d ON d.doc_id = grams.doc_id
         |WHERE d.split = 'test' GROUP BY 1 ORDER BY 1"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Corpus n-gram statistics: top-20 word trigrams by DOCUMENT frequency
    * (distinct-per-doc shingles → one agg on the shingle key). The
    * global top-k is `orderBy.limit(k)` — per-partition top-k then a
    * 20-row merge on the driver side of the exchange, never a global
    * window sort.
    */
  val ngramDocFreq = Check("ngram_doc_freq",
    (spark, dir) => {
      val dfreq = docs(spark, dir)
        .select(explode(wordTrigrams(col("text"))).as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).cast("long").as("doc_freq"))
      val top = dfreq.orderBy(col("doc_freq").desc, col("trigram").asc).limit(20)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("doc_freq").desc, col("trigram").asc)).cast("long"))
        .select("rank", "trigram", "doc_freq")
    },
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok,
        |generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos FROM documents),
        |tri AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS sh
        |FROM toks t1 JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
        |dfreq AS (SELECT sh AS trigram, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tri GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY doc_freq DESC, trigram) AS BIGINT) AS rank,
        |trigram, doc_freq FROM dfreq ORDER BY doc_freq DESC, trigram LIMIT 20"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Fuzzy string matching (edit-distance-1 entity resolution) via a
    * DELETION-NEIGHBORHOOD equi-join — never an all-pairs edit-distance
    * scan: each base name explodes into its |name| one-char-deletion
    * variants (bounded fan-out, like RangeJoin's binning) and a probe
    * with one deleted character matches on plain string equality. Probes
    * are planted deterministically (key-derived typo position). Output:
    * matches-per-probe histogram (zero-padded ids make some variants
    * collide across many bases — kept, both engines agree exactly).
    */
  val fuzzyMatchDist = Check("fuzzy_match_dist",
    (spark, dir) => {
      val base = table(spark, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"))
      val probes = base.filter(col("k") % 20 === 0)
        .select((col("k") + 1000000L).as("pk"),
          expr("concat(substr(name, 1, cast(k % length(name) as int)), " +
            "substr(name, cast(k % length(name) as int) + 2, length(name)))")
            .as("pname"))
      val vars = base.select(col("k"), explode(expr(
        "transform(sequence(1, length(name)), " +
          "i -> concat(substr(name, 1, i - 1), substr(name, i + 1, length(name))))"))
        .as("v"))
      probes.join(vars, col("v") === col("pname"), "left")
        .groupBy("pk").agg(count_distinct(col("k")).as("n_matches"))
        .groupBy("n_matches").agg(count(lit(1)).cast("long").as("n_probes"))
        .orderBy("n_matches")
    },
    Some(
      """WITH base AS (SELECT c_custkey AS k, c_name AS name FROM customer),
        |probes AS (SELECT k + 1000000 AS pk,
        |substr(name, 1, CAST(k % length(name) AS INT)) ||
        |substr(name, CAST(k % length(name) AS INT) + 2, length(name)) AS pname
        |FROM base WHERE k % 20 = 0),
        |vars AS (SELECT k, unnest(list_transform(range(1, length(name) + 1),
        |i -> substr(name, 1, CAST(i - 1 AS INT)) || substr(name, CAST(i + 1 AS INT), length(name)))) AS v
        |FROM base),
        |m AS (SELECT p.pk, CAST(COUNT(DISTINCT v.k) AS BIGINT) AS n_matches
        |FROM probes p LEFT JOIN vars v ON v.v = p.pname GROUP BY 1)
        |SELECT n_matches, CAST(COUNT(*) AS BIGINT) AS n_probes
        |FROM m GROUP BY 1 ORDER BY n_matches"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Concurrently-executing pipeline-run pairs — the interval-OVERLAP
    * variant of the range join (substrate.RangeJoin.intervalOverlap,
    * duplicate-free canonical-bucket emission), self-joined over the run
    * catalog. Oracle = plain theta join (fine on fixture scale; the
    * binned plan is the point at data scale).
    */
  val runsOverlap = Check("runs_overlap",
    (spark, dir) => {
      val runs = graft.catalog.Fixtures.pipelineRuns.df(spark)
      val a = runs.select(col("run_id").as("run_a"),
        col("start_ts").as("sa"), col("end_ts").as("ea"))
      val b = runs.select(col("run_id").as("run_b"),
        col("start_ts").as("sb"), col("end_ts").as("eb"))
      graft.substrate.RangeJoin.intervalOverlap(a, "sa", "ea", b, "sb", "eb")
        .filter(col("run_a") < col("run_b"))
        .select("run_a", "run_b").orderBy("run_a", "run_b")
    },
    Some(graft.catalog.Fixture.oracle(
      Seq(graft.catalog.Fixtures.pipelineRuns),
      """SELECT a.run_id AS run_a, b.run_id AS run_b
        |FROM pipeline_runs a JOIN pipeline_runs b
        |ON a.start_ts <= b.end_ts AND b.start_ts <= a.end_ts
        |AND a.run_id < b.run_id ORDER BY 1, 2"""
        .stripMargin.replace("\n", " "))),
    isScore = false)

  /** Corpus mixing: downsample each source to a per-source target weight
    * (basis points) with the deterministic hash — the "data mixing"
    * step that rebalances sources before training. Weights here derive
    * from the source ordinal (a stand-in for a declared mixing catalog;
    * the join shape with a real catalog is an identical broadcast).
    * Per-row keep decision, one rollup shuffle — reruns and appends keep
    * every prior decision.
    */
  val corpusMix = Check("corpus_mix",
    (spark, dir) => {
      val ord = expr("cast(substring(source, 4) as int)")
      val wBps = (lit(500) + (ord % 20) * lit(500)).cast("long")
      docs(spark, dir)
        .select(col("source"), wBps.as("target_bps"),
          (mix(col("doc_id")) % 10000 < wBps).cast("long").as("kept"))
        .groupBy("source", "target_bps")
        .agg(count(lit(1)).cast("long").as("population"),
          sum("kept").cast("long").as("sampled"))
        .select(col("source"), col("target_bps"), col("population"),
          col("sampled"),
          (col("sampled").cast("double") / col("population")).as("achieved"))
        .orderBy("source")
    },
    Some(
      s"""SELECT source, target_bps, population, sampled,
         |CAST(sampled AS DOUBLE) / population AS achieved FROM (
         |SELECT source,
         |CAST(500 + (CAST(substr(source, 4) AS INT) % 20) * 500 AS BIGINT) AS target_bps,
         |CAST(COUNT(*) AS BIGINT) AS population,
         |CAST(SUM(CASE WHEN $MixSql % 10000 <
         |500 + (CAST(substr(source, 4) AS INT) % 20) * 500
         |THEN 1 ELSE 0 END) AS BIGINT) AS sampled
         |FROM documents GROUP BY 1, 2) ORDER BY source"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Sliding-window chunking (RAG-standard 64-token window, 32-token
    * stride) — the overlapping variant of chunk_documents: per-row
    * bounded explode, chunk content fingerprinted (md5) so the oracle
    * compares full content without shipping big strings.
    */
  val chunkSliding = Check("chunk_sliding",
    (spark, dir) => {
      val t = docs(spark, dir).select(col("doc_id"),
        graft.substrate.TextOps.tokens(col("text")).as("toks"))
      val nChunks = (lit(1) +
        ceil(greatest(size(col("toks")) - 64, lit(0)) / lit(32.0)).cast("int"))
      t.withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          size(slice(col("toks"), col("chunk_id") * 32 + 1, lit(64)))
            .cast("long").as("chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), col("chunk_id") * 32 + 1, lit(64)))
            .cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    },
    Some(
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks,
        |1 + CAST(ceil(greatest(len(toks) - 64, 0) / 32.0) AS INT) AS n_chunks FROM t),
        |c AS (SELECT doc_id, toks, unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |CAST(len(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64)) AS BIGINT) AS chunk_tokens,
        |md5(array_to_string(list_slice(toks, chunk_id * 32 + 1, chunk_id * 32 + 64), ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Per-user chronological event sequences — the sequence-construction
    * step for sequential/recommendation training data: collect each
    * user's event types in (time, event_id) order, fingerprint the
    * ordered sequence (md5) so the oracle checks CONTENT AND ORDER
    * without shipping long strings. Ordered aggregation is done with
    * array_sort over collected structs (deterministic total order), not
    * a window + collect (one shuffle, map-side partial collect).
    */
  val userEventSequences = Check("user_event_sequences",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tus"),
          col("event_id"), col("event_type"))
      ev.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          md5(concat_ws(",",
            expr("transform(array_sort(collect_list(struct(tus, event_id, event_type))), x -> x.event_type)"))
            .cast("binary")).as("sequence_md5"))
        .orderBy("user_id")
    },
    Some(
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |md5(string_agg(event_type, ',' ORDER BY epoch_us(ts), event_id)) AS sequence_md5
        |FROM events GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Within-session event-type co-occurrence: for every unordered type
    * pair, in how many sessions do both appear (association-mining
    * support counts). Sessions from the same gap rule as `sessionize`;
    * the pair join is per-session over the DISTINCT types present
    * (≤ 5 here), so the self-join fan-out is bounded by type
    * cardinality², never by session length.
    */
  val sessionTypePairs = Check("session_type_pairs",
    (spark, dir) => {
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val ev = table(spark, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tus"),
          col("event_id"), col("event_type"))
      val flagged = ev.withColumn("new_s",
        when(lag(col("tus"), 1).over(w).isNull ||
          col("tus") - lag(col("tus"), 1).over(w) >= 1800L * 1000000L, 1L)
          .otherwise(0L))
      val types = flagged.withColumn("session_id",
        sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("user_id", "session_id", "event_type").distinct()
      types.as("x").join(types.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.session_id") === col("y.session_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).cast("long").as("n_sessions"))
        .orderBy("type_a", "type_b")
    },
    Some(
      """WITH s AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tus,
        |CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
        |OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) >= 1800000000
        |THEN 1 ELSE 0 END AS new_s FROM events),
        |sid AS (SELECT user_id, event_type, SUM(new_s) OVER (PARTITION BY user_id
        |ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM s),
        |t AS (SELECT DISTINCT user_id, session_id, event_type FROM sid)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM t x JOIN t y ON y.user_id = x.user_id AND y.session_id = x.session_id
        |AND x.event_type < y.event_type
        |GROUP BY 1, 2 ORDER BY type_a, type_b"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Stepwise funnel: users who viewed, then clicked strictly after the
    * first view, then purchased strictly after that click. Each stage is
    * an aggregation + broadcastable stage-table join keyed on user — no
    * window over the raw event stream, so stage N costs one pass over
    * the (already user-reduced) stage N−1 table. Micros-integer time
    * math throughout.
    */
  val funnelConversion = Check("funnel_conversion",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts)").as("tus"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("tus").as("t_view"))
      val c = ev.filter(col("event_type") === "click").as("c")
        .join(v, Seq("user_id"))
        .filter(col("tus") > col("t_view"))
        .groupBy("user_id").agg(min("tus").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").as("p")
        .join(c, Seq("user_id"))
        .filter(col("tus") > col("t_click"))
        .groupBy("user_id").agg(min("tus").as("t_purchase"))
      cnt(v).toDF("n_viewed")
        .crossJoin(cnt(c).toDF("n_clicked_after"))
        .crossJoin(cnt(p).toDF("n_purchased_after"))
        .select(col("n_viewed").cast("long"),
          col("n_clicked_after").cast("long"),
          col("n_purchased_after").cast("long"))
    },
    Some(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        |v AS (SELECT user_id, MIN(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.tus) AS t_click FROM e JOIN v ON v.user_id = e.user_id
        |WHERE e.event_type = 'click' AND e.tus > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.tus) AS t_purchase FROM e JOIN c ON c.user_id = e.user_id
        |WHERE e.event_type = 'purchase' AND e.tus > c.t_click GROUP BY 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_viewed,
        |(SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_clicked_after,
        |(SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchased_after"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Retention cohorts: users grouped by first-signup week, distinct
    * active users per week offset since signup. All time math is integer
    * day/week numbers (`div`); the cohort table is user-grain (small
    * relative to events) and broadcastable at any realistic ratio.
    */
  val retentionCohorts = Check("retention_cohorts",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("user_id"), col("event_type"),
          floor(expr("unix_micros(ts)") / lit(86400000000L)).cast("long").as("day"))
      val cohort = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("day").as("cohort_day"))
      val activity = ev.select("user_id", "day").distinct()
      activity.join(broadcast(cohort), Seq("user_id"))
        .filter(col("day") >= col("cohort_day"))
        .select(expr("cohort_day div 7").as("cohort_week"),
          expr("(day - cohort_day) div 7").as("week_offset"),
          col("user_id"))
        .groupBy("cohort_week", "week_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
    Some(
      """WITH e AS (SELECT user_id, event_type,
        |CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day FROM events),
        |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM e
        |WHERE event_type = 'signup' GROUP BY 1),
        |activity AS (SELECT DISTINCT user_id, day FROM e)
        |SELECT cohort_day // 7 AS cohort_week,
        |(day - cohort_day) // 7 AS week_offset,
        |CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM activity a JOIN cohort c ON c.user_id = a.user_id
        |WHERE day >= cohort_day
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Exact-k-per-stratum sample: rank documents by the sampling hash
    * within each source and keep the 5 smallest — a reservoir-free exact-
    * size sample that is stable under reruns and repartitioning (the
    * hash is a total order per stratum; doc_id breaks the impossible-in-
    * practice hash ties deterministically). One window shuffle on the
    * stratum key.
    */
  val exactKSample = Check("exact_k_sample",
    (spark, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(mix(col("doc_id")).asc, col("doc_id").asc)
      docs(spark, dir)
        .select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .orderBy("source", "rk")
    },
    Some(
      s"""SELECT source, doc_id, rk FROM (
         |SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source
         |ORDER BY $MixSql, doc_id) AS BIGINT) AS rk FROM documents)
         |WHERE rk <= 5 ORDER BY source, rk"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Temperature (α) corpus mixing — the multilingual-pretraining
    * rebalance (mT5's α-sampling, Xue et al. 2021): sample stratum l with
    * probability ∝ n_l^α (α = 0.3), which upweights low-resource strata
    * relative to their natural share. The per-stratum keep RATE that
    * realizes those proportions with maximum data utilization is
    * rate_l = (n_l / n_min)^(α−1) — the smallest stratum keeps 100%
    * (α−1 < 0), larger strata are hash-downsampled. Strata here are the
    * `lang` column (the canonical α-sampling axis; the en-heavy corpus
    * gives a real skew to rebalance).
    *
    * Determinism discipline: the rate enters the per-row decision only
    * through `floor(rate · 1e6)` — an integer threshold both engines
    * derive from identical double arithmetic (the one exactly-integer
    * case is the min stratum's pow(1.0, −0.7) = 1.0, exact in IEEE), so
    * `sampled` is integer-equal cross-engine while `target_share` /
    * `achieved_share` compare as doubles. Scale shape: one O(strata)
    * aggregate broadcast back onto a single corpus scan — the decision
    * is a per-row expression, same as [[corpusMix]], so reruns and
    * appends keep every prior decision at any corpus size.
    */
  val corpusMixTemperature = Check("corpus_mix_temperature",
    (spark, dir) => {
      val pops = docs(spark, dir).groupBy("lang")
        .agg(count(lit(1)).cast("long").as("population"))
      val z = pops.agg(
        sum(pow(col("population").cast("double"), 0.3)).as("z"),
        min(col("population")).cast("double").as("min_pop"))
      val rates = pops.crossJoin(broadcast(z))
        .select(col("lang"), col("population"),
          (pow(col("population").cast("double"), 0.3) / col("z"))
            .as("target_share"),
          pow(col("population").cast("double") / col("min_pop"), -0.7)
            .as("rate"))
        .withColumn("thr", floor(col("rate") * lit(1000000L)).cast("long"))
      val kept = docs(spark, dir)
        .join(broadcast(rates.select("lang", "thr")), Seq("lang"))
        .select(col("lang"),
          (mix(col("doc_id")) % 1000000L < col("thr")).cast("long").as("k"))
        .groupBy("lang").agg(sum("k").cast("long").as("sampled"))
      val tot = kept.agg(sum("sampled").cast("double").as("tot"))
      rates.join(kept, Seq("lang")).crossJoin(broadcast(tot))
        .select(col("lang"), col("population"), col("target_share"),
          col("rate"), col("sampled"),
          (col("sampled").cast("double") / col("tot")).as("achieved_share"))
        .orderBy("lang")
    },
    Some(
      s"""WITH pops AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS population
         |FROM documents GROUP BY 1),
         |z AS (SELECT SUM(pow(CAST(population AS DOUBLE), 0.3)) AS z,
         |CAST(MIN(population) AS DOUBLE) AS min_pop FROM pops),
         |rates AS (SELECT lang, population,
         |pow(CAST(population AS DOUBLE), 0.3) / z.z AS target_share,
         |pow(CAST(population AS DOUBLE) / z.min_pop, -0.7) AS rate,
         |CAST(floor(pow(CAST(population AS DOUBLE) / z.min_pop, -0.7)
         |* 1000000) AS BIGINT) AS thr FROM pops, z),
         |kept AS (SELECT d.lang, CAST(SUM(CASE WHEN
         |$MixSql % 1000000 < r.thr THEN 1 ELSE 0 END) AS BIGINT) AS sampled
         |FROM documents d JOIN rates r ON r.lang = d.lang GROUP BY 1),
         |tot AS (SELECT CAST(SUM(sampled) AS DOUBLE) AS tot FROM kept)
         |SELECT r.lang, r.population, r.target_share, r.rate, k.sampled,
         |k.sampled / t.tot AS achieved_share
         |FROM rates r JOIN kept k ON k.lang = r.lang, tot t
         |ORDER BY r.lang"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  val all: Seq[Check] = Seq(stratifiedSample, trainTestSplit,
    repetitionDetect, dedupMinhashBanded, dedupIncremental,
    dedupIncrementalProd, dedupIngestStream, dedupIndexDelete,
    dedupIndexPublish, dedupRetainQuality,
    sequencePack, eventsInRunWindow,
    sessionize, attributionJoin, attributionLatency,
    rollingDailyCounts, gapFillForward, splitContamination, ngramContamination,
    ngramDocFreq,
    fuzzyMatchDist, runsOverlap, corpusMix, corpusMixTemperature,
    chunkSliding, userEventSequences,
    sessionTypePairs, funnelConversion, retentionCohorts, exactKSample)
}
