package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Fixtures
import graft.catalog.Fixtures.{constraints, featureValues, labels}
import graft.checks.CheckDsl._
import graft.substrate.AsOfJoin

/** Relational extension operators named by SURVEY.md §2.B: the as-of join,
  * constraint validation over real data, and JSON-props parsing.
  */
object OpsTier {

  /** The as-of join operator itself (what check #24 scores the need for):
    * labels enriched with the latest feature at-or-before each label
    * timestamp. Oracle = DuckDB's native ASOF LEFT JOIN — an independent
    * implementation validating our union+window formulation.
    */
  val asofJoin = Check("asof_join",
    (spark, _) => {
      val l = labels.df(spark)
      val r = featureValues.df(spark).select("entity_id", "feature_ts", "value")
      AsOfJoin.asofLeft(l, r, key = "entity_id",
        leftTs = "label_ts", rightTs = "feature_ts", rightVals = Seq("value"))
        .orderBy("entity_id")
    },
    Some(graft.catalog.Fixture.oracle(Seq(labels, featureValues),
      """SELECT l.entity_id, l.label_ts, l.label,
        |f.feature_ts AS asof_feature_ts, f.value
        |FROM labels l ASOF LEFT JOIN feature_values f
        |ON l.entity_id = f.entity_id AND f.feature_ts <= l.label_ts
        |ORDER BY l.entity_id""".stripMargin.replace("\n", " "))),
    isScore = false)

  /** Forward as-of (next observation at-or-after): same union+window
    * operator with the scan direction flipped; oracle = DuckDB native
    * ASOF with the inequality reversed — an independent implementation
    * of the forward semantics.
    */
  val asofJoinForward = Check("asof_join_forward",
    (spark, _) => {
      val l = labels.df(spark)
      val r = featureValues.df(spark).select("entity_id", "feature_ts", "value")
      AsOfJoin.asofLeftForward(l, r, key = "entity_id",
        leftTs = "label_ts", rightTs = "feature_ts", rightVals = Seq("value"))
        .orderBy("entity_id")
    },
    Some(graft.catalog.Fixture.oracle(Seq(labels, featureValues),
      """SELECT l.entity_id, l.label_ts, l.label,
        |f.feature_ts AS asof_feature_ts, f.value
        |FROM labels l ASOF LEFT JOIN feature_values f
        |ON l.entity_id = f.entity_id AND f.feature_ts >= l.label_ts
        |ORDER BY l.entity_id""".stripMargin.replace("\n", " "))),
    isScore = false)

  /** Constraint VALIDATION (the data-probing half of check #7): per
    * declared constraint, the violation rate measured against the actual
    * table. Both the Spark plan and the oracle SQL are generated from the
    * same constraint catalog rows — one column-pruned scan per constraint,
    * each a partial-aggregated single pass.
    */
  val constraintValidation = Check("constraint_validation",
    (spark, dir) => {
      // ONE scan per table, not one per constraint: all of a table's
      // constraint probes fuse into a single partial-agg pass, then
      // `stack` unpivots the agg row back to per-constraint rows. At
      // 100 TB this is the difference between K full scans and 1.
      val byAsset = constraints.rows.groupBy(_.head.asInstanceOf[String]).toSeq
        .sortBy(_._1)
      val probes = byAsset.map { case (asset, rows) =>
        val t = table(spark, dir, asset)
        val viols = rows.zipWithIndex.map { case (r, i) =>
          val column = r(1).asInstanceOf[String]
          val kind = r(2).asInstanceOf[String]
          val c = col(column)
          val v = kind match {
            case "not_null" => sum(when(c.isNull, 1L).otherwise(0L))
            case "unique"   => count(c) - countDistinct(c)
            case "range"    =>
              val lo = r(3).asInstanceOf[Double]; val hi = r(4).asInstanceOf[Double]
              sum(when(c.isNotNull && (c < lo || c > hi), 1L).otherwise(0L))
            case "pattern"  =>
              val pat = r(5).asInstanceOf[String]
              sum(when(c.isNotNull && !c.rlike(pat), 1L).otherwise(0L))
          }
          coalesce(v, lit(0L)).cast("long").as(s"v$i")
        }
        val aggd = t.agg(count(lit(1)).as("total"), viols: _*)
        val stackArgs = rows.zipWithIndex.map { case (r, i) =>
          s"'${r(1)}', '${r(2)}', v$i"
        }.mkString(", ")
        aggd.select(lit(asset).as("asset"),
            expr(s"stack(${rows.size}, $stackArgs) AS (column_name, kind, violations)"),
            col("total"))
          .select(col("asset"), col("column_name"), col("kind"),
            col("violations"), col("total"),
            (col("violations").cast("double") / col("total")).as("violation_rate"))
      }
      probes.reduce(_ unionAll _).orderBy("asset", "column_name", "kind")
    },
    Some {
      val selects = constraints.rows.map { r =>
        val Seq(asset, column, kind) = r.take(3).map(_.asInstanceOf[String])
        val viol = kind match {
          case "not_null" => s"SUM(CASE WHEN $column IS NULL THEN 1 ELSE 0 END)"
          case "unique"   => s"COUNT($column) - COUNT(DISTINCT $column)"
          case "range"    =>
            val lo = r(3).asInstanceOf[Double]; val hi = r(4).asInstanceOf[Double]
            s"SUM(CASE WHEN $column IS NOT NULL AND ($column < $lo OR $column > $hi) THEN 1 ELSE 0 END)"
          case "pattern"  =>
            val pat = r(5).asInstanceOf[String]
            s"SUM(CASE WHEN $column IS NOT NULL AND NOT regexp_matches($column, '$pat') THEN 1 ELSE 0 END)"
        }
        s"""SELECT '$asset' AS asset, '$column' AS column_name, '$kind' AS kind,
           |CAST(COALESCE($viol, 0) AS BIGINT) AS violations,
           |CAST(COUNT(*) AS BIGINT) AS total,
           |CAST(COALESCE($viol, 0) AS DOUBLE) / COUNT(*) AS violation_rate
           |FROM $asset""".stripMargin.replace("\n", " ")
      }
      selects.mkString("", " UNION ALL ", " ORDER BY asset, column_name, kind")
    },
    isScore = false)

  /** Semi-structured props parsing (§2.B sources row: `from_json` /
    * `get_json_object` on `events.props`): extract the numeric payload and
    * aggregate per event type.
    */
  val eventsPropsStats = Check("events_props_stats",
    (spark, dir) => {
      table(spark, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          (sum("k").cast("double") / count(lit(1))).as("avg_k"))
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Per-PRODUCT assessment grain (reference `definitions.md:23-25`: the
    * data product is "the primary unit of assessment"; unassigned assets
    * form the default unnamed product per `definitions.md:25`). Scoped
    * semantic-documentation coverage per product.
    */
  val productAssessment = Check("product_assessment",
    (spark, _) => {
      val a = Fixtures.assets.df(spark)
      val p = Fixtures.dataProducts.df(spark).select("product", "asset")
      val assigned = a.join(broadcast(p), Seq("asset"), "left")
        .withColumn("product", coalesce(col("product"), lit("__default__")))
      assigned.groupBy("product")
        .agg(count(lit(1)).as("assets"),
          sum(when(col("description").isNotNull &&
            length(trim(col("description"))) > 0, 1L).otherwise(0L))
            .as("documented"))
        .select(col("product"), col("assets"), col("documented"),
          (col("documented").cast("double") / col("assets")).as("value"))
        .orderBy("product")
    },
    Some(graft.catalog.Fixture.oracle(
      Seq(Fixtures.assets, Fixtures.dataProducts),
      """SELECT product, assets, documented,
        |CAST(documented AS DOUBLE) / assets AS value FROM (
        |SELECT COALESCE(p.product, '__default__') AS product,
        |CAST(COUNT(*) AS BIGINT) AS assets,
        |CAST(SUM(CASE WHEN a.description IS NOT NULL
        |AND length(trim(a.description)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS documented
        |FROM assets a LEFT JOIN data_products p ON p.asset = a.asset
        |GROUP BY 1) ORDER BY product""".stripMargin.replace("\n", " "))),
    isScore = false)

  /** TF-IDF top terms per document (SURVEY.md §2.C text analysis): pure
    * DataFrame TF-IDF — tf from one explode+agg, document frequency from a
    * distinct agg, MLlib-style smoothed idf ln((N+1)/(df+1)), top-3 terms
    * per doc. Two shuffles (doc-grain, term-grain), both partial-agg'd.
    */
  val tfidfTopTerms = Check("tfidf_top_terms",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = table(spark, dir, "documents")
        .select(col("doc_id"), explode(graft.substrate.TextOps.tokens(col("text"))).as("term"))
        .persist()
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = toks.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, Seq("term")).crossJoin(broadcast(n))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") *
            log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
            .as("tfidf"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term").asc)
      // eager top-3 materialization so the token cache is released here
      // rather than leaking into the caller's session
      val out = scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "term")
        .orderBy("doc_id", "rank")
        .localCheckpoint(true)
      toks.unpersist(false)
      out
    },
    Some(
      """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
        |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
        |scored AS (SELECT tf.doc_id, tf.term,
        |CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) AS tfidf
        |FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
        |SELECT doc_id, rank, term FROM (SELECT doc_id, term,
        |CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rank
        |FROM scored) WHERE rank <= 3 ORDER BY doc_id, rank"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Table profiling: row count + key distinct count per driver table —
    * the table-stats substrate behind check #9 (access_optimization)
    * layout decisions. Column-pruned single-pass aggs.
    */
  val tableProfiles = Check("table_profiles",
    (spark, dir) => {
      val keys = Seq(
        "region" -> "r_regionkey", "nation" -> "n_nationkey",
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "lineitem" -> "l_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
      keys.map { case (t, k) =>
        table(spark, dir, t).agg(
          count(lit(1)).as("n_rows"), countDistinct(col(k)).as("n_distinct_key"))
          .select(lit(t).as("table_name"), lit(k).as("key_column"),
            col("n_rows"), col("n_distinct_key"))
      }.reduce(_ unionAll _).orderBy("table_name")
    },
    Some {
      val keys = Seq(
        "region" -> "r_regionkey", "nation" -> "n_nationkey",
        "customer" -> "c_custkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey", "orders" -> "o_orderkey",
        "lineitem" -> "l_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id")
      keys.map { case (t, k) =>
        s"SELECT '$t' AS table_name, '$k' AS key_column, CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(COUNT(DISTINCT $k) AS BIGINT) AS n_distinct_key FROM $t"
      }.mkString("", " UNION ALL ", " ORDER BY table_name")
    },
    isScore = false)

  /** Null-rate profile of every declared column of every data table — the
    * generic data-quality scan backing constraint discovery. Same fused
    * shape as constraint_validation: one pass per table, stack-unpivoted.
    */
  private val NullProfileTables = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** (asset → its profiled columns), the ONE derivation both the Spark
    * plan and the oracle SQL are generated from.
    */
  private val nullProfileByAsset: Seq[(String, Seq[Seq[Any]])] =
    Fixtures.columns.rows
      .filter(r => NullProfileTables(r.head.asInstanceOf[String]))
      .groupBy(_.head.asInstanceOf[String]).toSeq.sortBy(_._1)

  val nullProfile = Check("null_profile",
    (spark, dir) => {
      nullProfileByAsset.map { case (asset, rows) =>
        val t = table(spark, dir, asset)
        val aggs = rows.zipWithIndex.map { case (r, i) =>
          val c = r(1).asInstanceOf[String]
          sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"n$i")
        }
        val stackArgs = rows.zipWithIndex
          .map { case (r, i) => s"'${r(1)}', n$i" }.mkString(", ")
        t.agg(count(lit(1)).as("total"), aggs: _*)
          .select(lit(asset).as("asset"),
            expr(s"stack(${rows.size}, $stackArgs) AS (column_name, nulls)"),
            col("total"))
          .select(col("asset"), col("column_name"), col("nulls"), col("total"),
            (col("nulls").cast("double") / col("total")).as("null_rate"))
      }.reduce(_ unionAll _).orderBy("asset", "column_name")
    },
    Some {
      val ctes = nullProfileByAsset.map { case (asset, rows) =>
        val aggs = rows.zipWithIndex.map { case (r, i) =>
          s"CAST(SUM(CASE WHEN ${r(1)} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n$i"
        }.mkString(", ")
        s"np_$asset AS (SELECT CAST(COUNT(*) AS BIGINT) AS total, $aggs FROM $asset)"
      }
      val selects = nullProfileByAsset.flatMap { case (asset, rows) =>
        rows.zipWithIndex.map { case (r, i) =>
          s"SELECT '$asset' AS asset, '${r(1)}' AS column_name, n$i AS nulls, total, CAST(n$i AS DOUBLE) / total AS null_rate FROM np_$asset"
        }
      }
      "WITH " + ctes.mkString(", ") + " " +
        selects.mkString("", " UNION ALL ", " ORDER BY asset, column_name")
    },
    isScore = false)

  /** The EP3 freshness transform run in BATCH mode over the events table —
    * the same plan the streaming monitor deploys (watermark is a no-op in
    * batch), oracle-checked against DuckDB's time_bucket. Daily tumbling
    * windows, latest event, count, SLA-breach flag.
    */
  val windowedFreshnessBatch = Check("windowed_freshness_batch",
    (spark, dir) => {
      graft.streaming.FreshnessMonitor.windowedFreshness(
        table(spark, dir, "events").select("ts"),
        windowLen = "1 day", slaMinutes = 120L)
        .select(col("window_start"), col("window_end"),
          col("latest_ts"), col("n_events"), col("sla_breach"))
        .orderBy("window_start")
    },
    Some(
      """SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
        |time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
        |MAX(ts) AS latest_ts, CAST(COUNT(*) AS BIGINT) AS n_events,
        |date_diff('second', MAX(ts), time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day') > 7200 AS sla_breach
        |FROM events GROUP BY 1 ORDER BY window_start"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Inter-run gap analytics via lag() (§2.B "lag/lead for propagation
    * deltas"): per pipeline, each run's start minus the previous run's
    * end — negative gaps = overlapping runs.
    */
  val pipelineRunDeltas = Check("pipeline_run_deltas",
    (spark, _) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("pipeline").orderBy("start_ts")
      Fixtures.pipelineRuns.df(spark)
        .select(col("pipeline"), col("run_id"), col("start_ts"), col("end_ts"))
        .withColumn("prev_end", lag("end_ts", 1).over(w))
        .select(col("pipeline"), col("run_id"),
          (unix_timestamp(col("start_ts")) - unix_timestamp(col("prev_end")))
            .as("gap_sec"))
        .orderBy("pipeline", "run_id")
    },
    Some(graft.catalog.Fixture.oracle(Seq(Fixtures.pipelineRuns),
      """SELECT pipeline, run_id,
        |CAST(date_diff('second',
        |lag(end_ts, 1) OVER (PARTITION BY pipeline ORDER BY start_ts),
        |start_ts) AS BIGINT) AS gap_sec
        |FROM pipeline_runs ORDER BY pipeline, run_id"""
        .stripMargin.replace("\n", " "))),
    isScore = false)

  /** OLAP rollup over order dimensions (§2.B "rollup across factors" — the
    * literal `rollup()` primitive with grouping() indicators, mirrored by
    * DuckDB's ROLLUP).
    */
  val salesRollup = Check("sales_rollup",
    (spark, dir) => {
      table(spark, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        // round the float sum: partition-order reassociation error
        // (~1e-12 relative) must not reach the hash compare
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("revenue"),
          grouping("o_orderstatus").cast("long").as("g_status"),
          grouping("o_orderpriority").cast("long").as("g_priority"))
        .orderBy("g_status", "g_priority", "o_orderstatus", "o_orderpriority")
    },
    Some(
      """SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |ROUND(SUM(o_totalprice), 2) AS revenue,
        |CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_priority, o_orderstatus, o_orderpriority"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Approximate-sketch substrate (§2.B "approx distinct (HLL++)",
    * "percentile_approx"): each sketch vs its exact answer — the at-scale
    * path for profiling where exact distinct/percentile would need a full
    * shuffle. SELF-VERIFYING: the sketch values themselves are
    * engine-specific, so the hash-checked output carries the EXACT answer
    * (plain SQL on both engines) plus `within_tolerance`, the in-query
    * assertion |approx−exact|/exact ≤ 0.05 — the oracle expects TRUE, so
    * a sketch drifting past its documented bound fails the driver gate
    * instead of hiding behind a rows-only exemption. HLL rsd is pinned at
    * 0.02 (2.5× headroom under the asserted 5%); percentile_approx
    * accuracy 10000 → error ≪ 1%.
    */
  val sketchAccuracy = Check("sketch_accuracy",
    (spark, dir) => {
      val li = table(spark, dir, "lineitem")
      val hll = li.agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02)
          .cast("double").as("approx"),
        countDistinct("l_orderkey").cast("double").as("exact"))
        .select(lit("hll_distinct_orderkey").as("metric"), col("approx"), col("exact"))
      val pct = li.agg(
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(10000))
          .as("approx"),
        expr("percentile(l_extendedprice, 0.99)").as("exact"))
        .select(lit("p99_extendedprice").as("metric"),
          col("approx").cast("double"), col("exact").cast("double"))
      hll.unionAll(pct)
        .select(col("metric"),
          floor(col("exact")).cast("long").as("exact_i"),
          (abs(col("approx") - col("exact")) / col("exact") <= 0.05)
            .as("within_tolerance"))
        .orderBy("metric")
    },
    Some(
      """SELECT 'hll_distinct_orderkey' AS metric,
        |CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_i,
        |TRUE AS within_tolerance FROM lineitem
        |UNION ALL
        |SELECT 'p99_extendedprice',
        |CAST(floor(quantile_cont(l_extendedprice, 0.99)) AS BIGINT), TRUE
        |FROM lineitem ORDER BY metric"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Two-phase salted aggregation (substrate.SkewOps) over the most
    * skew-shaped real column (events.event_type: 5 values → every key is
    * a hot key at scale). The salt is internal — the merged result must
    * equal a plain GROUP BY, which is exactly what the oracle runs.
    * Integer-only outputs (count, floor-sum, min/max ids) for
    * cross-engine parity.
    */
  val skewSaltedAgg = Check("skew_salted_agg",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("event_type"), col("event_id"),
          floor(col("value")).cast("long").as("value_i"))
      graft.substrate.SkewOps.saltedAgg(ev, Seq("event_type"), salts = 16,
        partial = Seq(count(lit(1)).as("c"), sum("value_i").as("s"),
          min("event_id").as("lo"), max("event_id").as("hi")),
        merge = Seq(sum("c").cast("long").as("n_events"),
          sum("s").cast("long").as("sum_value_i"),
          min("lo").as("min_event_id"), max("hi").as("max_event_id")))
        .orderBy("event_type")
    },
    Some(
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_value_i,
        |MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
        |FROM events GROUP BY 1 ORDER BY event_type"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Hot-key split join (substrate.SkewOps.hotKeySplitJoin): the declared
    * hot customer keys join via broadcast, the cold rest via shuffle, and
    * the union must equal a plain join — which is exactly what the oracle
    * runs. Output: per-mktsegment order counts split by hot/cold path.
    */
  val hotkeySplitJoin = Check("hotkey_split_join",
    (spark, dir) => {
      val hotKeys: Seq[Any] = (1L to 10L)
      val orders = table(spark, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
      val cust = table(spark, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.substrate.SkewOps.hotKeySplitJoin(orders, cust, "o_custkey", hotKeys)
        .groupBy(col("c_mktsegment"),
          col("o_custkey").isin(hotKeys: _*).cast("int").as("is_hot"))
        .agg(count(lit(1)).cast("long").as("n_orders"))
        .select(col("c_mktsegment"), col("is_hot").cast("long").as("is_hot"),
          col("n_orders"))
        .orderBy("c_mktsegment", "is_hot")
    },
    Some(
      """SELECT c_mktsegment,
        |CAST(CASE WHEN o_custkey BETWEEN 1 AND 10 THEN 1 ELSE 0 END AS BIGINT) AS is_hot,
        |CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON c_custkey = o_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, is_hot"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Exact discrete percentiles (p50/p95/p99) of event values per type —
    * rank selection (`row_number` at ceil(p·n)) rather than interpolating
    * percentile functions, so the result is an ELEMENT of the data:
    * integer-exact and engine-portable (percentile_approx and interpolated
    * quantiles are not). One window pass; targets exploded per row so a
    * small group can satisfy several percentiles with the same element,
    * identically in both engines.
    */
  val valuePercentiles = Check("value_percentiles",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("event_type"), floor(col("value")).cast("long").as("value_i"),
          col("event_id"))
      val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("value_i", "event_id")
      val ranked = ev.join(broadcast(counts), Seq("event_type"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("t", explode(array(Seq(50, 95, 99).map(p =>
          struct(lit(p.toLong).as("p"),
            ceil(col("n") * lit(p / 100.0)).cast("long").as("target"))): _*)))
      ranked.filter(col("rn") === col("t.target"))
        .select(col("event_type"), col("t.p").as("p"), col("value_i"))
        .orderBy("event_type", "p")
    },
    Some(
      """WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS value_i, event_id FROM events),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |r AS (SELECT e.event_type, value_i,
        |CAST(row_number() OVER (PARTITION BY e.event_type ORDER BY value_i, event_id) AS BIGINT) AS rn, n.n
        |FROM e JOIN n ON n.event_type = e.event_type)
        |SELECT event_type, p, value_i FROM (
        |SELECT event_type, CAST(50 AS BIGINT) AS p, value_i FROM r WHERE rn = CAST(ceil(0.5::DOUBLE * n) AS BIGINT)
        |UNION ALL SELECT event_type, 95, value_i FROM r WHERE rn = CAST(ceil(0.95::DOUBLE * n) AS BIGINT)
        |UNION ALL SELECT event_type, 99, value_i FROM r WHERE rn = CAST(ceil(0.99::DOUBLE * n) AS BIGINT))
        |ORDER BY event_type, p"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Data-level referential integrity: FK orphans in both directions via
    * left_anti joins (lineitem rows whose order is missing; orders with
    * no lineitem). The DATA-probing complement of the declaration-level
    * relationship checks — zero counts are the assertion, not a vacuous
    * result. Two anti joins, each one shuffle (or broadcast at dim size).
    */
  val orphanCheck = Check("orphan_check",
    (spark, dir) => {
      val li = table(spark, dir, "lineitem").select(col("l_orderkey"))
      val o = table(spark, dir, "orders").select(col("o_orderkey"))
      val liOrphans = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      val childless = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      cnt(li).toDF("n_lineitem")
        .crossJoin(cnt(o).toDF("n_orders"))
        .crossJoin(cnt(liOrphans).toDF("n_lineitem_orphans"))
        .crossJoin(cnt(childless).toDF("n_childless_orders"))
        .select(col("n_lineitem").cast("long"), col("n_orders").cast("long"),
          col("n_lineitem_orphans").cast("long"),
          col("n_childless_orders").cast("long"))
    },
    Some(
      """SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_lineitem,
        |(SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
        |(SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_lineitem_orphans,
        |(SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)) AS n_childless_orders"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** IQR-rule outlier counts per event type: quartiles by exact rank
    * selection (same discipline as value_percentiles — elements of the
    * data, engine-exact), fences at q1/q3 ∓ 1.5·IQR (exact .5-multiples
    * of integers), then one fused pass counting fence violations. The
    * numeric-distribution data-quality probe behind constraint checking.
    */
  val iqrOutliers = Check("iqr_outliers",
    (spark, dir) => {
      val ev = table(spark, dir, "events")
        .select(col("event_type"), floor(col("value")).cast("long").as("value_i"),
          col("event_id"))
      val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("value_i", "event_id")
      val ranked = ev.join(broadcast(counts), Seq("event_type"))
        .withColumn("rn", row_number().over(w).cast("long"))
      val q = ranked
        .filter(col("rn") === ceil(col("n") * lit(0.25)).cast("long") ||
          col("rn") === ceil(col("n") * lit(0.75)).cast("long"))
        .groupBy("event_type")
        .agg(min("value_i").as("q1"), max("value_i").as("q3"))
        .select(col("event_type"), col("q1"), col("q3"),
          (col("q1") - lit(1.5) * (col("q3") - col("q1"))).as("lo"),
          (col("q3") + lit(1.5) * (col("q3") - col("q1"))).as("hi"))
      ev.join(broadcast(q), Seq("event_type"))
        .groupBy("event_type")
        .agg(first("q1").as("q1"), first("q3").as("q3"),
          sum(when(col("value_i") < col("lo") || col("value_i") > col("hi"), 1L)
            .otherwise(0L)).cast("long").as("n_outliers"))
        .orderBy("event_type")
    },
    Some(
      """WITH e AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS value_i, event_id FROM events),
        |n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |r AS (SELECT e.event_type, value_i,
        |CAST(row_number() OVER (PARTITION BY e.event_type ORDER BY value_i, event_id) AS BIGINT) AS rn, n.n
        |FROM e JOIN n ON n.event_type = e.event_type),
        |q AS (SELECT event_type, MIN(value_i) AS q1, MAX(value_i) AS q3,
        |MIN(value_i) - 1.5::DOUBLE * (MAX(value_i) - MIN(value_i)) AS lo,
        |MAX(value_i) + 1.5::DOUBLE * (MAX(value_i) - MIN(value_i)) AS hi
        |FROM r WHERE rn = CAST(ceil(0.25::DOUBLE * n) AS BIGINT)
        |OR rn = CAST(ceil(0.75::DOUBLE * n) AS BIGINT) GROUP BY 1)
        |SELECT e.event_type, q.q1, q.q3,
        |CAST(SUM(CASE WHEN e.value_i < q.lo OR e.value_i > q.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM e JOIN q ON q.event_type = e.event_type
        |GROUP BY 1, 2, 3 ORDER BY e.event_type"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Long→wide pivot: daily event counts, one column per event type
    * (explicit value list — at scale you always enumerate pivot values;
    * inference costs an extra distinct pass and unbounded width). Oracle
    * mirrors with conditional aggregation, which is exactly what the
    * pivot plans to.
    */
  val eventsPivotDaily = Check("events_pivot_daily",
    (spark, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      table(spark, dir, "events")
        .select(floor(expr("unix_micros(ts)") / lit(86400000000L))
          .cast("long").as("day_num"), col("event_type"))
        .groupBy("day_num")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("day_num") +:
          types.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
        .orderBy("day_num")
    },
    Some(
      """SELECT CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day_num,
        |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day_num"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Multi-way star join over the so-far-unexercised part/supplier
    * dimensions: lineitem ⨝ part ⨝ supplier, revenue rolled up by part
    * type prefix × supplier nation. Both dimensions are broadcast-size
    * relative to the fact at any SF ratio — the plan must pick broadcast
    * joins (fact never shuffles on a dimension key).
    */
  val partSupplierRollup = Check("part_supplier_rollup",
    (spark, dir) => {
      val li = table(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice")).cast("long").as("price_i"),
          col("l_quantity").cast("long").as("qty"))
      val part = table(spark, dir, "part")
        .select(col("p_partkey"), split(col("p_type"), " ").getItem(0).as("type_prefix"))
      val supp = table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("type_prefix", "s_nationkey")
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum("qty").cast("long").as("sum_qty"),
          sum("price_i").cast("long").as("sum_price_i"))
        .orderBy("type_prefix", "s_nationkey")
    },
    Some(
      """SELECT string_split(p.p_type, ' ')[1] AS type_prefix, s.s_nationkey,
        |CAST(COUNT(*) AS BIGINT) AS n_items,
        |CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |CAST(SUM(CAST(floor(l.l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |GROUP BY 1, 2 ORDER BY type_prefix, s_nationkey"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Z-order clustering keys (substrate.Layout.zValue — the
    * two-dimensional generalization of check #9's range-clustered layout,
    * `factors/requirements.yaml:42-44` "clustering keys"): interleave the
    * two predicate dimensions' bits so a z-RANGE is a bounded (x, y)
    * rectangle, which is what makes parquet min/max stats prune on EITHER
    * column of a two-sided scan predicate (LayoutSpec measures the
    * selectivity-product pruning; this entry oracles the curve's
    * arithmetic and its locality). Output: per top-4-bit z-bucket row
    * counts and per-dimension extents — the extents ARE the locality
    * claim (each bucket confines x and y to one 64-wide quarter-window;
    * a row-count-only output would not distinguish z-order from any
    * hash). The z computation is pure codegen'd shift/mask map-side
    * arithmetic; the groupBy is the only shuffle.
    */
  val zorderClusterStats = Check("zorder_cluster_stats",
    (spark, dir) => {
      val l = table(spark, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(256L)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(256L)).cast("long").as("y"))
      l.withColumn("zb",
          shiftright(graft.substrate.Layout.zValue(col("x"), col("y"), 8), 12)
            .cast("long"))
        .groupBy("zb").agg(
          count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
        .orderBy("zb")
    },
    Some {
      val z = graft.substrate.Layout.zValueSql("x", "y", 8)
      s"""WITH d AS (SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem),
         |zz AS (SELECT x, y, ($z >> 12) AS zb FROM d)
         |SELECT CAST(zb AS BIGINT) AS zb, CAST(COUNT(*) AS BIGINT) AS n,
         |CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
         |CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
         |FROM zz GROUP BY zb ORDER BY zb"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** The d=3 generalization of zorder_cluster_stats (VERDICT r9 #8 —
    * Layout.zValueN): three bounded dims (part/supp/orderkey mod 64,
    * 6 bits each = 18 z-bits), bucketed by the top 6 z-bits, per-bucket
    * min/max of ALL THREE dims — the hash match pins that every z-bucket
    * covers a bounded BOX in (x, y, z), the property that lets a
    * three-predicate scan prune ~the three-factor selectivity product
    * (LayoutSpec measures the physical pruning on real files; this entry
    * pins the curve arithmetic cross-engine via zValueNSql).
    */
  val zorder3ClusterStats = Check("zorder3_cluster_stats",
    (spark, dir) => {
      val l = table(spark, dir, "lineitem").select(
        pmod(col("l_partkey"), lit(64L)).cast("long").as("x"),
        pmod(col("l_suppkey"), lit(64L)).cast("long").as("y"),
        pmod(col("l_orderkey"), lit(64L)).cast("long").as("z"))
      l.withColumn("zb",
          shiftright(graft.substrate.Layout.zValueN(
            Seq(col("x"), col("y"), col("z")), 6), 12).cast("long"))
        .groupBy("zb").agg(
          count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"),
          min("z").as("min_z"), max("z").as("max_z"))
        .orderBy("zb")
    },
    Some {
      val zv = graft.substrate.Layout.zValueNSql(Seq("x", "y", "z"), 6)
      s"""WITH d AS (SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y,
         |l_orderkey % 64 AS z FROM lineitem),
         |zz AS (SELECT x, y, z, ($zv >> 12) AS zb FROM d)
         |SELECT CAST(zb AS BIGINT) AS zb, CAST(COUNT(*) AS BIGINT) AS n,
         |CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
         |CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y,
         |CAST(MIN(z) AS BIGINT) AS min_z, CAST(MAX(z) AS BIGINT) AS max_z
         |FROM zz GROUP BY zb ORDER BY zb"""
        .stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** Compaction planning (substrate.Layout.compactionPlan): the
    * metadata-side half of the small-file problem every partitioned
    * ingest creates — pack each partition's files, in key order, into
    * target-sized bins (one output row = one compaction task). The
    * fixture listing is the documents table's (source, lang) hive
    * partitions sized by Σ n_chars; the target derives from the listing
    * itself (2× the mean file size, integer arithmetic mirrored in SQL)
    * so the plan is non-trivial at every SF. The oracle recomputes the
    * running sums, the floor-div bin assignment, and the per-bin rollup,
    * pinning order preservation and the never-split-a-file contract.
    */
  val compactionPlan = Check("compaction_plan",
    (spark, dir) => {
      val files = table(spark, dir, "documents")
        .groupBy(col("source").as("part"), col("lang").as("file"))
        .agg(sum("n_chars").cast("long").as("bytes"))
      val stats = files.agg(sum("bytes").as("tb"),
        count(lit(1)).as("nf"))
      val listing = files.crossJoin(broadcast(stats))
        .withColumn("target", expr("2 * (tb div nf)")).drop("tb", "nf")
      // the plan also carries the explicit `files` member list the
      // executor consumes (ADVICE r10); this entry oracles the numeric
      // plan columns — the list's CONTENT is pinned by first/last +
      // n_files here and consumed end-to-end by compaction_execute
      graft.substrate.Layout.compactionPlan(listing, col("target"))
        .select("part", "bin", "n_files", "total_bytes", "first_file",
          "last_file")
        .orderBy("part", "bin")
    },
    Some(
      """WITH files AS (SELECT source AS part, lang AS file,
        |CAST(SUM(n_chars) AS BIGINT) AS bytes FROM documents GROUP BY 1, 2),
        |t AS (SELECT 2 * (SUM(bytes) // COUNT(*)) AS target FROM files),
        |pre AS (SELECT part, file, bytes,
        |SUM(bytes) OVER (PARTITION BY part ORDER BY file
        |ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes AS p FROM files),
        |binned AS (SELECT part, file, bytes,
        |CAST(floor(p::DOUBLE / (SELECT target FROM t)::DOUBLE) AS BIGINT) AS bin FROM pre)
        |SELECT part, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
        |CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        |MIN(file) AS first_file, MAX(file) AS last_file
        |FROM binned GROUP BY 1, 2 ORDER BY part, bin"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Compaction EXECUTED, not just planned (VERDICT r9 what's-missing
    * #3 / next #3 — the OPTIMIZE loop's second half), now across a
    * MULTI-PARTITION fixture (VERDICT r10 next #5): lineitem is written
    * as a 2-hive-partition small-file clustered artifact (p=0/p=1 by
    * orderkey parity, 12 range-clustered files each), both partitions
    * are listed (driver-side FS metadata — the manifest read), planned
    * into ~4-file bins (target = 4× mean file size, derived from the
    * listing; the window scopes bins per partition), and REWRITTEN by
    * Layout.compactAll — the partition-looped OPTIMIZE driver under one
    * bounded cross-partition budget. The check's output is per-returnflag
    * aggregates computed from the REWRITTEN files, and the oracle
    * computes the same aggregates from the ORIGINAL lineitem parquet —
    * so the hash match IS the read-equivalence proof
    * (`requirements.yaml:42-44`'s clustering contract: compaction must
    * not lose or duplicate a row), now including the partition routing.
    * Sums use the ORDER-INDEPENDENT integer idiom (per-row floor →
    * BIGINT, the part_supplier_rollup precedent): VERDICT r10 #1 — the
    * r10 raw-double sums were exactly the values whose addition order
    * the rewrite changes, and the ~2.3e9-magnitude price sum drifted in
    * the low bits past the driver's hash while np.allclose masked it;
    * integer addition is associative, so the rewritten file order cannot
    * move the hash. Clustering preservation (per-file key ranges stay
    * disjoint; pruning survives) is the physical half the oracle cannot
    * see — LayoutSpec measures it on the same pipeline. Plan/listing
    * collects are metadata-scale (#files/#bins rows); aggregates are
    * collected (4 rows) so the temp artifact can be deleted eagerly —
    * no lazy read of a removed directory, no junk left behind.
    */
  val compactionExecute = Check("compaction_execute",
    (spark, dir) => {
      import graft.substrate.Layout
      val li = table(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      // the 24-small-file INPUT artifact is read-only and shared across
      // runs (r14 — VERDICT r13 next #1a: this entry was the loaded-box
      // bench's worst contended wall, and two clustered 12-file writes
      // per run were fixture cost, not the measured OPTIMIZE); the
      // listing, plan, and REWRITE — the subjects — stay per-run in a
      // private temp dir. compactAll never mutates its input.
      val in = sharedStore(li, "ops.compactInStore") { t =>
        Seq(0, 1).foreach { p =>
          Layout.writeClustered(li.filter(col("l_orderkey") % 2 === p),
            s"$t/in/p=$p", "l_orderkey", numFiles = 12)
        }
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_compact")
        .toString
      try {
        val listing = Layout.listFiles(spark, s"$in/in/p=0")
          .unionByName(Layout.listFiles(spark, s"$in/in/p=1"))
        val stats = listing.agg(sum("bytes").as("tb"), count(lit(1)).as("nf"))
        val planned = Layout.compactionPlan(
          listing.crossJoin(broadcast(stats))
            .withColumn("target", expr("4 * (tb div nf)")).drop("tb", "nf"),
          col("target"))
        Layout.compactAll(spark, s"$tmp/out", planned, "l_orderkey")
        val rows = spark.read.parquet(s"$tmp/out").drop("p", "bin")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n_rows"),
            sum(floor(col("l_quantity")).cast("long")).as("sum_qty_i"),
            sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_i"))
          .orderBy("l_returnflag")
          .collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("l_returnflag",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_qty_i",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_price_i",
              org.apache.spark.sql.types.LongType))))
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some(
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
        |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** Manifest-pinned snapshot reads (substrate.SnapshotStore) — the
    * data-level witness for Factor 4's immutable version ids
    * (`requirements.yaml:136-138`): v1 is the initial load (l_orderkey
    * % 4 ∈ {0,1}, 4 clustered files), v2 an APPEND commit (v1's files
    * plus a % 4 = 2 delta — pinned by listing both directories, no file
    * rewritten), v3 a COMPACTION commit (v2's rows rewritten into one
    * clustered file; v1/v2 keep their original files). The output reads
    * ALL THREE versions through readAt AFTER the compaction commit
    * exists — v1 and v2 still answering from their original files while
    * v3 answers from the rewrite IS the time-travel claim, and v3
    * hashing equal to v2 is the rewrite's read-equivalence. The oracle
    * recomputes each version's aggregates from the source parquet with
    * the same modulus predicates; sums use the order-independent
    * integer-cents idiom (the compaction_execute lesson — v3's file
    * order differs from v2's by construction). Aggregates are collected
    * (3 rows); manifest collects are metadata-scale (#files rows). The
    * vacuum/retention half — dropped-version files deletable, shared
    * files surviving, retained reads intact after deletion — is
    * physical and lives in LayoutSpec. (The `snapshot_read` /
    * `snapshot_incremental_read` / `snapshot_read_pruned` /
    * `snapshot_count_meta` quartet reads the shared
    * [[snapshotStatsStore]] below.)
    */
  /** A SHARED, JVM-lifetime, READ-ONLY store fixture (VERDICT r13 next
    * #1a — the round's one blown gate was the driver bench, and its
    * forensics traced the blowup to ~16 snapshot-family entries each
    * building a PRIVATE store per run: 3+ clustered writes + commits
    * apiece × 3 serial runs × the concurrent suite saturated exactly
    * the temp-dir I/O the driver box is worst at, inflating untouched
    * CPU-bound entries up to 29×). Entries whose SUBJECT is the READ
    * path — pruned scans, metadata counts, merged schema reads,
    * point lookups — share one memoized store per (corpus, shape);
    * entries whose subject is the COMMIT itself (delete / ingest /
    * concurrent race) keep private builds, because their store
    * mutates. Memoized via DerivationCache keyed on the source plan
    * (a different SF dir builds its own store — the demoFlatArtifact
    * discipline), deleted at JVM exit. Consumers must treat the
    * returned path as IMMUTABLE: never commit into it, never delete it.
    */
  private def sharedStore(key: org.apache.spark.sql.DataFrame,
      tag: String)(build: String => Unit): String =
    graft.substrate.DerivationCache.memo(key, tag) {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_shared_store").toString
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively(): Unit
      }))
      build(tmp)
      tmp
    }

  /** ONE-pass multiset-equality pin (r16 optimization — guide §1.2
    * "don't compute things you throw away"): the
    * `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty` form ran TWO
    * actions, each shuffling BOTH inputs for an exceptAll join — four
    * input computations and two job round-trips per pin, and the
    * expensive side (a full recompute / readAt) computed twice. Tagging
    * each side ±1, unioning, and checking that every distinct row's tag
    * sum is zero proves the identical property — multiset equality,
    * null-safe (groupBy groups nulls like exceptAll matches them) — in
    * ONE action that computes each input once.
    */
  private def requireSameRows(a: DataFrame, b: DataFrame,
      msg: => String): Unit = {
    // the internal tag/diff columns must not collide with a compared
    // column (ADVICE r16: withColumn REPLACES a like-named column, which
    // would corrupt the equality check silently) — all call sites pass
    // store-schema frames today; this keeps the helper honest if one
    // ever doesn't
    require(!a.columns.contains("_side") && !a.columns.contains("_d"),
      "requireSameRows: compared frames must not carry _side/_d columns")
    val cols = a.columns.toSeq.map(col)
    val mismatch = a.withColumn("_side", lit(1L))
      .unionByName(b.withColumn("_side", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("_side")).as("_d"))
      .filter(col("_d") =!= 0L)
    require(mismatch.isEmpty, msg)
  }

  private val SnapAggSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("version",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("n_rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sum_qty_i",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sum_price_i",
      org.apache.spark.sql.types.LongType)))

  private def snapAgg(df: DataFrame, tag: Long): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        sum(floor(col("l_quantity")).cast("long")).as("sum_qty_i"),
        sum(floor(col("l_extendedprice")).cast("long")).as("sum_price_i"))
      .select(lit(tag).as("version"), col("n_rows"), col("sum_qty_i"),
        col("sum_price_i"))

  val snapshotRead = Check("snapshot_read",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = snapshotStatsStore(spark, dir)
      // reads resolve through the PERSISTED manifests — nothing from
      // the building session's DataFrames survives to here
      val rows = Seq(1L, 2L, 3L)
        .map(v => snapAgg(SnapshotStore.readAt(spark, tmp, v), v))
        .reduce(_ unionByName _).orderBy("version").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        SnapAggSchema)
    },
    Some {
      def agg(where: String) =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem WHERE $where""".stripMargin.replace("\n", " ")
      s"""SELECT CAST(1 AS BIGINT) AS version, ${agg("l_orderkey % 4 <= 1")}
         |UNION ALL SELECT CAST(2 AS BIGINT), ${agg("l_orderkey % 4 <= 2")}
         |UNION ALL SELECT CAST(3 AS BIGINT), ${agg("l_orderkey % 4 <= 2")}
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** File-level incremental consumption over the SAME snapshot store
    * lifecycle (`snapshotFixture`): a downstream consumer pinned to v1
    * catches up to v2 by reading ONLY the files v2 added
    * (SnapshotStore.readChanged — after an append commit that is
    * exactly the delta, O(|delta|) bytes instead of a table re-scan;
    * the manifest diff itself is O(#files) metadata rows). The 2→3 row
    * is the HONEST caveat pinned as data: a compaction commit rewrites
    * every file, so the file-level diff degenerates to the full table —
    * the reason maintenance rewrites pair with row-level diffing
    * (table_diff / cdc_upsert) for consumers that cannot re-read. The
    * oracle recomputes both windows from the source parquet with the
    * same modulus predicates (1→2: the % 4 = 2 delta only; 2→3: the
    * full % 4 ≤ 2 population); integer-cents sums.
    */
  val snapshotIncrementalRead = Check("snapshot_incremental_read",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = snapshotStatsStore(spark, dir)
      val rows = Seq((1L, 2L), (2L, 3L)).map { case (a, b) =>
        snapAgg(SnapshotStore.readChanged(spark, tmp, a, b), b)
          .withColumnRenamed("version", "to_version")
          .select(lit(a).as("from_version"), col("to_version"),
            col("n_rows"), col("sum_qty_i"), col("sum_price_i"))
      }.reduce(_ unionByName _).orderBy("from_version").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("from_version",
            org.apache.spark.sql.types.LongType, nullable = false) +:
          SnapAggSchema.fields.toSeq.map(f =>
            if (f.name == "version") f.copy(name = "to_version") else f)))
    },
    Some {
      def agg(where: String) =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem WHERE $where""".stripMargin.replace("\n", " ")
      s"""SELECT CAST(1 AS BIGINT) AS from_version, CAST(2 AS BIGINT) AS to_version, ${agg("l_orderkey % 4 = 2")}
         |UNION ALL SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), ${agg("l_orderkey % 4 <= 2")}
         |ORDER BY from_version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** TWO WRITERS RACING one SNAPSHOT STORE under optimistic concurrency
    * — the CAS-client witness on the TABLE family, completing the
    * symmetry with `ann_stored_index_concurrent` on the index family
    * (every commit-protocol feature now has a data-level witness on
    * BOTH durable stores). Two append-ingest writers race
    * SnapshotStore.commitNext from the same observed latest (v0, the
    * l_orderkey % 4 ∈ {0,1} base): a CyclicBarrier holds both until
    * each has derived its manifest rows against v0, so both stage v1
    * and exactly one rename claims it; the loser's retry RE-DERIVES —
    * `rowsFor(v)` is re-invoked and pins the NEW latest's files plus
    * its own delta — and lands v2. The punchline the oracle hashes:
    * append ∘ append commutes on row content, so v2 = base + both
    * deltas = the WHOLE lineitem population in either commit order,
    * even though v1's content is order-dependent (deliberately not
    * emitted — only the deterministic v0 and v2 aggregates are).
    * Spark-side requires pin the protocol: versions {1,2} split across
    * the writers, attempts exactly 3, the version chain gapless. The
    * integer-cents sums are order-independent (the compaction_execute
    * lesson). At 100 TB this is concurrent ingest against one table
    * with no lost update and bounded retries — the property that lets
    * two pipelines share a sink unscheduled. Anchor:
    * `factors/requirements.yaml:136-138` (immutable versions under
    * concurrency).
    */
  val snapshotConcurrentCommit = Check("snapshot_concurrent_commit",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      // the immutable DATA dirs are a shared read-only artifact (r14 —
      // the subject is the COMMIT race, not the clustered writes); the
      // STORE (manifest dirs) is private per run so the race always
      // starts from v0
      val data = quarterDataStore(spark, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_snaprace2")
        .toString
      try {
        SnapshotStore.commit(spark, tmp, 0L,
          SnapshotStore.manifestForStats(spark, 0L, Seq(s"$data/d1"), Nil))
        val gate = new java.util.concurrent.CyclicBarrier(2)
        val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
        // an append commit's rows = the CURRENT latest's files + the
        // delta's — re-derived per attempt, so a retried intent pins
        // the winner's files instead of silently dropping them
        def appendRows(v: Long, delta: String): DataFrame = {
          attempts.incrementAndGet()
          if (v == 1L)
            gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
          val latest = SnapshotStore.committedVersions(spark, tmp).last
          SnapshotStore.manifest(spark, tmp)
            .filter(col("version") === latest)
            .select(lit(v).as("version"), col("file"))
            .unionByName(SnapshotStore.manifestForStats(spark, v,
              Seq(delta), Nil).select("version", "file"))
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (va, vb) = try {
          def committer(delta: String) =
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long = SnapshotStore.commitNext(spark, tmp)(
                v => appendRows(v, delta))
            })
          val (fa, fb) = (committer(s"$data/d2"), committer(s"$data/d3"))
          (fa.get(300, java.util.concurrent.TimeUnit.SECONDS),
            fb.get(300, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool.shutdownNow()
        require(Set(va, vb) == Set(1L, 2L),
          s"both writers must land, at 1 and 2: got $va/$vb")
        require(attempts.get == 3,
          s"two firsts + exactly one retry, got ${attempts.get}")
        require(SnapshotStore.committedVersions(spark, tmp) ==
          Seq(0L, 1L, 2L),
          "the claim race must never produce a gap or a lost version")
        val rows = Seq(
          snapAgg(SnapshotStore.readAt(spark, tmp, 0L), 0L),
          snapAgg(SnapshotStore.readAt(spark, tmp, 2L), 2L))
          .reduce(_ unionByName _).orderBy("version").collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      def agg(where: String) =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem WHERE $where""".stripMargin.replace("\n", " ")
      s"""SELECT CAST(0 AS BIGINT) AS version, ${agg("l_orderkey % 4 <= 1")}
         |UNION ALL SELECT CAST(2 AS BIGINT), ${agg("1 = 1")}
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** The shared quarter-split DATA artifact: lineitem's 3 bench columns
    * clustered by l_orderkey into d1 (% 4 ≤ 1, 4 files), d2 (% 4 = 2,
    * 2 files), d3 (% 4 = 3, 2 files) — the immutable input files the
    * COMMIT-subject entries (concurrent races, streaming ingest) pin
    * into their private per-run stores. Never handed to a
    * vacuum-bearing entry: purge deletes unshared files by design.
    */
  private def quarterDataStore(spark: SparkSession, dir: String): String = {
    import graft.substrate.Layout
    val li = table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    sharedStore(li, "ops.quarterDataStore") { t =>
      Layout.writeClustered(li.filter(col("l_orderkey") % 4 <= 1),
        s"$t/d1", "l_orderkey", numFiles = 4)
      Layout.writeClustered(li.filter(col("l_orderkey") % 4 === 2),
        s"$t/d2", "l_orderkey", numFiles = 2)
      Layout.writeClustered(li.filter(col("l_orderkey") % 4 === 3),
        s"$t/d3", "l_orderkey", numFiles = 2)
    }
  }

  /** The 3-version snapshot store with PER-FILE STATISTICS in every
    * committed manifest (SnapshotStore.manifestForStats on l_orderkey),
    * each version's manifest DURABLY COMMITTED to `<tmp>/_manifest/v=N/`
    * (r12: the manifest is a committed artifact, not a session
    * DataFrame): v1 initial clustered load (l_orderkey % 4 ∈ {0,1}, 4
    * files), v2 append (+ the % 4 = 2 delta, 2 files), v3 compaction
    * (v2 — itself read back THROUGH the persisted v2 manifest —
    * rewritten into one clustered file); each commit records row counts
    * and l_orderkey bounds read from the parquet footers, driver-side.
    * SHARED (r14, one [[sharedStore]] build per JVM) by the four
    * read-path entries — `snapshot_read`, `snapshot_incremental_read`,
    * `snapshot_read_pruned`, `snapshot_count_meta` — so all four
    * witness the same store lifecycle and none re-pays the build.
    */
  private def snapshotStatsStore(spark: SparkSession,
      dir: String): String =
    sharedStore(table(spark, dir, "lineitem"), "ops.snapshotStatsStore") {
      tmp =>
        import graft.substrate.{Layout, SnapshotStore}
        val li = table(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
        val statsCols = Seq("l_orderkey")
        Layout.writeClustered(li.filter(col("l_orderkey") % 4 <= 1),
          s"$tmp/d1", "l_orderkey", numFiles = 4)
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
            statsCols))
        Layout.writeClustered(li.filter(col("l_orderkey") % 4 === 2),
          s"$tmp/d2", "l_orderkey", numFiles = 2)
        SnapshotStore.commit(spark, tmp, 2L,
          SnapshotStore.manifestForStats(spark, 2L,
            Seq(s"$tmp/d1", s"$tmp/d2"), statsCols))
        Layout.writeClustered(SnapshotStore.readAt(spark, tmp, 2L),
          s"$tmp/d3", "l_orderkey", numFiles = 1)
        SnapshotStore.commit(spark, tmp, 3L,
          SnapshotStore.manifestForStats(spark, 3L, Seq(s"$tmp/d3"),
            statsCols))
    }

  /** FILE SKIPPING through committed manifest statistics — the scan-
    * planning half of the clustered layout story (check #9's
    * `requirements.yaml:42-44` clustering keys; Iceberg/Delta's
    * manifest-bounds pruning as the public design): the store's commits
    * carry per-file l_orderkey bounds read from parquet footers
    * (`manifestForStats`), and a selective key-range read of v2 plans
    * DRIVER-SIDE to the files whose bounds intersect [100, 400] — the
    * clustered layout makes those bounds disjoint, so most of the
    * version's 6 files are exonerated without opening them. The plan
    * gate REQUIRES the prune (opened < total, and an impossible range
    * plans to ZERO files); the oracle requires the pruned scan still
    * returns exactly the predicate's rows (file skipping must never
    * change results — the residual filter handles survivors'
    * non-matching rows). At 100 TB this is the difference between a
    * key-range query reading one file and reading the table: pruning
    * rides in the manifest, so it needs no directory listing, no
    * footer I/O at query time, and no engine-specific index. Integer-
    * cents sums (order-independent across the surviving files).
    */
  val snapshotReadPruned = Check("snapshot_read_pruned",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = snapshotStatsStore(spark, dir)
      val (surv, total) =
        SnapshotStore.filesWhere(spark, tmp, 2L, "l_orderkey", 100L, 400L)
      require(surv.nonEmpty && surv.size < total,
        s"committed bounds must prune the range scan: opened " +
          s"${surv.size} of $total files")
      val (none, _) =
        SnapshotStore.filesWhere(spark, tmp, 2L, "l_orderkey", -100L, -1L)
      require(none.isEmpty,
        "an impossible range must exonerate every file at planning")
      val rows = snapAgg(SnapshotStore.readAtWhere(spark, tmp, 2L,
        "l_orderkey", 100L, 400L), 2L).collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        SnapAggSchema)
    },
    Some(
      """SELECT CAST(2 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
        |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
        |FROM lineitem
        |WHERE l_orderkey % 4 <= 2 AND l_orderkey BETWEEN 100 AND 400"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** METADATA-ONLY COUNT — every version's row count answered from the
    * manifest's committed per-file counts (`SnapshotStore.countAt`),
    * with ZERO data files opened: the catalog-lookup aggregate every
    * table format serves from its manifests, and at 100 TB the
    * difference between a millisecond planning read and a full scan.
    * The oracle recomputes each version's count from the source
    * parquet with the fixture's modulus predicates — the manifest
    * numbers must equal the data's, including across the v3 compaction
    * rewrite (count is rewrite-invariant). The store build dominates
    * the entry's cost; the measured aggregate itself never leaves the
    * driver (MetaIo).
    */
  val snapshotCountMeta = Check("snapshot_count_meta",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = snapshotStatsStore(spark, dir)
      val counts = Seq(1L, 2L, 3L)
        .map(v => (v, SnapshotStore.countAt(spark, tmp, v)))
      spark.createDataFrame(
        java.util.Arrays.asList(
          counts.map(c => org.apache.spark.sql.Row(c._1, c._2)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType, nullable = false))))
    },
    Some {
      def cnt(where: String) =
        s"CAST((SELECT COUNT(*) FROM lineitem WHERE $where) AS BIGINT)"
      s"""SELECT CAST(1 AS BIGINT) AS version, ${cnt("l_orderkey % 4 <= 1")} AS n_rows
         |UNION ALL SELECT CAST(2 AS BIGINT), ${cnt("l_orderkey % 4 <= 2")}
         |UNION ALL SELECT CAST(3 AS BIGINT), ${cnt("l_orderkey % 4 <= 2")}
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** ADDITIVE SCHEMA EVOLUTION on the durable snapshot store — the
    * data-level witness for Factor 3's schema-change tracking
    * (`requirements.yaml:112-114`; check #28 scores the declaration,
    * this entry proves the store SERVES an evolved schema): v1 commits
    * 2-column order files; v2 appends delta files carrying a NEW
    * column (o_orderpriority) WITHOUT rewriting v1's immutable files —
    * exactly how a table format widens a schema. The merged read of v2
    * (`readAt(..., mergeSchema = true)`) surfaces the new column as
    * null on every pre-evolution row; requires pin that v1's schema
    * does NOT have the column and v2's merged schema DOES (evolution
    * is versioned, not retroactive). The output splits v2 by
    * null-ness of the new column — the oracle reproduces the split
    * from the append predicate (odd keys carry the column), so a
    * wrong merge (column dropped, or nulls on the wrong side) hash-
    * fails. Integer-cents sums.
    */
  val snapshotSchemaEvolution = Check("snapshot_schema_evolution",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = sharedStore(table(spark, dir, "orders"),
        "ops.snapshotEvoStore") { t =>
        val orders = table(spark, dir, "orders")
        Layout.writeClustered(
          orders.filter(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "o_totalprice"),
          s"$t/d1", "o_orderkey", numFiles = 2)
        SnapshotStore.commit(spark, t, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d1"), Nil))
        Layout.writeClustered(
          orders.filter(col("o_orderkey") % 2 === 1)
            .select("o_orderkey", "o_totalprice", "o_orderpriority"),
          s"$t/d2", "o_orderkey", numFiles = 2)
        SnapshotStore.commit(spark, t, 2L, SnapshotStore.manifestForStats(
          spark, 2L, Seq(s"$t/d1", s"$t/d2"), Nil))
      }
      require(!SnapshotStore.readAt(spark, tmp, 1L)
        .schema.fieldNames.contains("o_orderpriority"),
        "v1 must still serve the pre-evolution schema")
      val merged = SnapshotStore.readAt(spark, tmp, 2L,
        mergeSchema = true)
      require(merged.schema.fieldNames.contains("o_orderpriority"),
        "the merged v2 read must surface the evolved column")
      val rows = merged
        .groupBy(col("o_orderpriority").isNotNull.cast("long")
          .as("has_priority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("o_totalprice")).cast("long")).as("sum_price_i"))
        .orderBy("has_priority").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("has_priority",
            org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_price_i",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """SELECT CAST(o_orderkey % 2 AS BIGINT) AS has_priority,
        |CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_i
        |FROM orders GROUP BY 1 ORDER BY has_priority"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** GOVERNANCE DELETE on the snapshot store, FILE-BOUNDED BY COMMITTED
    * STATS — the right-to-be-forgotten contract (Factor 5 retention,
    * `5-compliant.md:9`, `requirements.yaml:197-199`) on the TABLE
    * family, composing this round's two storage features: the deleted
    * key range [100, 400] plans through the manifest's bounds
    * (`filesWhere`), so `deleteCommit` REWRITES ONLY the intersecting
    * files of the clustered v1 and carries every exonerated file's
    * manifest row verbatim — write I/O ∝ the deleted range, never the
    * table (requires pin rewritten < total AND the shared files appear
    * in both versions' manifests by the same path). The forget-vs-time-
    * travel contract is then exercised PHYSICALLY: v1 still serves the
    * deleted rows (requires pin > 0 — that IS time travel), and
    * `vacuumExecute(keep v2)` retires v1 and reclaims the pre-delete
    * files while the kept manifest's references protect everything v2
    * pins. The OUTPUT aggregates v2 AFTER the vacuum — hash-matching
    * the oracle's NOT-BETWEEN recompute proves the survivors' bytes are
    * intact once the forget went physical. At 100 TB a forget batch
    * over a clustered key touches O(matching range) files; the vector
    * store's deletePublish is the cell-bounded twin of this
    * stats-bounded geometry.
    */
  val snapshotDeleteCommit = Check("snapshot_delete_commit",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapdel")
        .toString
      try {
        val li = table(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
        Layout.writeClustered(li.filter(col("l_orderkey") % 4 <= 1),
          s"$tmp/d1", "l_orderkey", numFiles = 4)
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
            Seq("l_orderkey")))
        val (rewritten, total) = SnapshotStore.deleteCommit(spark, tmp,
          2L, 1L, "l_orderkey", 100L, 400L, s"$tmp/d_del2")
        require(rewritten >= 1 && rewritten < total,
          s"the delete must be file-bounded: rewrote $rewritten of $total")
        def filesOf(v: Long) = SnapshotStore.manifest(spark, tmp)
          .filter(col("version") === v).select("file")
          .collect().map(_.getString(0)).toSet
        require((filesOf(1L) intersect filesOf(2L)).size == total - rewritten,
          "every exonerated file must be shared verbatim across versions")
        require(SnapshotStore.readAt(spark, tmp, 1L)
          .filter(col("l_orderkey").between(100, 400)).count() > 0,
          "time travel: the pre-delete version still serves the rows")
        val reclaimed = SnapshotStore.vacuumExecute(spark, tmp, Seq(2L))
        require(reclaimed.nonEmpty,
          "retiring the pre-delete version must reclaim its unshared files")
        val rows = snapAgg(SnapshotStore.readAt(spark, tmp, 2L), 2L)
          .collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some(
      """SELECT CAST(2 AS BIGINT) AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
        |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
        |FROM lineitem
        |WHERE l_orderkey % 4 <= 1 AND l_orderkey NOT BETWEEN 100 AND 400"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** RECTANGLE FILE SKIPPING over a Z-ORDERED snapshot version — the
    * composition that makes the z-order layout pay at the FILE level:
    * `zorder_cluster_stats` pins that z-buckets cover bounded boxes,
    * LayoutSpec measures row-group pruning, and this entry closes the
    * loop through the DURABLE store — `writeZClustered` files carry
    * tight footer bounds on BOTH interleaved dimensions, the commit
    * records them (`manifestForStats` on x AND y), and a rectangle
    * scan plans through `filesWhereAll` to ~the selectivity PRODUCT of
    * files where a single-dimension predicate prunes one factor. The
    * plan gate REQUIRES the ordering that claim implies: rect
    * survivors < x-only survivors < total files. The oracle recomputes
    * the rectangle aggregate from raw parquet — file skipping must
    * never change results. At 100 TB this is the lakehouse OPTIMIZE
    * ZORDER read path: a two-predicate dashboard query on a z-ordered
    * table opens the files of one box, planned from manifest metadata
    * alone.
    */
  val snapshotReadPrunedZ = Check("snapshot_read_pruned_z",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = sharedStore(table(spark, dir, "lineitem"),
        "ops.snapshotZStore") { t =>
        // dims with FULL modular range at every SF (suppkey spans only
        // 1..10 at sf0.001 — a y built on it would empty the rectangle)
        val l = table(spark, dir, "lineitem").select(
          pmod(col("l_orderkey"), lit(256L)).cast("long").as("x"),
          pmod(col("l_partkey"), lit(128L)).cast("long").as("y"),
          col("l_quantity"))
        Layout.writeZClustered(l, s"$t/d0", "x", "y", bits = 8,
          numFiles = 16)
        SnapshotStore.commit(spark, t, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d0"),
            Seq("x", "y")))
      }
      val rect = Seq(("x", 32L, 63L), ("y", 96L, 127L))
      val (rectSurv, total) =
        SnapshotStore.filesWhereAll(spark, tmp, 1L, rect)
      val (xSurv, _) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "x", 32L, 63L)
      require(rectSurv.nonEmpty && rectSurv.size < xSurv.size &&
        xSurv.size < total,
        s"z-bounds must prune the rectangle tighter than one factor: " +
          s"rect ${rectSurv.size} < x ${xSurv.size} < total $total")
      val rows = SnapshotStore.readAtWhereAll(spark, tmp, 1L, rect)
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty_i"))
        .collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_qty_i",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i
        |FROM lineitem
        |WHERE l_orderkey % 256 BETWEEN 32 AND 63
        |AND l_partkey % 128 BETWEEN 96 AND 127"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** TIME-WINDOW FILE SKIPPING — the shape every training-data
    * pipeline has (events/logs land in time order; reads are windows):
    * the events table clustered by EVENT TIME and committed with
    * bounds, a one-day window read planning to the files whose time
    * ranges intersect it. Time rides as an EPOCH-MICROS LONG column
    * projected at write (`unix_micros`): `MetaIo.footerStats`
    * deliberately rejects TIMESTAMP logical annotations (value-domain
    * ambiguity — unknown beats wrong), so the write-side projection is
    * the discipline that makes time skippable, mirroring how table
    * formats partition on derived date columns. The plan gate requires
    * the prune; the oracle recomputes the window from raw parquet via
    * `epoch_us(ts)` — tz-independent on both engines. At 100 TB this is
    * "read one day of a three-year corpus by opening one day's files,
    * planned from the manifest".
    */
  val snapshotReadPrunedTime = Check("snapshot_read_pruned_time",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      // 2024-01-10T00:00Z .. 2024-01-10T23:59:59.999999Z
      val lo = 1704844800000000L
      val hi = 1704931199999999L
      val tmp = sharedStore(table(spark, dir, "events"),
        "ops.snapshotTimeStore") { t =>
        val ev = table(spark, dir, "events")
          .select(unix_micros(col("ts")).as("ts_us"), col("event_id"),
            col("value"))
        Layout.writeClustered(ev, s"$t/d0", "ts_us", numFiles = 8)
        SnapshotStore.commit(spark, t, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d0"),
            Seq("ts_us")))
      }
      val (surv, total) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "ts_us", lo, hi)
      require(surv.nonEmpty && surv.size < total,
        s"time bounds must prune the window scan: opened " +
          s"${surv.size} of $total files")
      val rows = SnapshotStore.readAtWhere(spark, tmp, 1L, "ts_us",
        lo, hi)
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("value")).cast("long")).as("sum_value_i"))
        .collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_value_i",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_value_i
        |FROM events
        |WHERE epoch_us(ts) BETWEEN 1704844800000000 AND 1704931199999999"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** BLOOM-PRUNED POINT LOOKUP — the skipping case bounds CANNOT serve
    * (check #18's point_lookup_availability made physical at the file
    * level): the events table clustered by TIME carries a UUID-like
    * surrogate key (`xxhash64(event_id)` — uncorrelated with the
    * layout by construction, the shape every hashed/UUID primary key
    * has), so every file's min/max on that key spans the whole domain
    * and range stats exonerate NOTHING — require-pinned: the bounds
    * plan keeps every file. The commit therefore records per-file
    * BLOOMS (`manifestForStatsBloom` — Delta bloom indexes / Iceberg
    * puffin as the public designs), and the same lookup plans through
    * `filesWherePoint` to ~one file (require-pinned strictly tighter
    * than bounds). The oracle fetches the row by its natural id from
    * raw parquet — the bloom's false-positive side can only ADD files,
    * never lose the row, so the hash match pins lossless skipping. At
    * 100 TB this is "fetch one record by key from a time-partitioned
    * lake without a secondary index": open one file, planned from
    * manifest metadata.
    */
  val snapshotPointLookupBloom = Check("snapshot_point_lookup_bloom",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = sharedStore(table(spark, dir, "events"),
        "ops.snapshotBloomStore") { t =>
        val ev = table(spark, dir, "events")
          .select(unix_micros(col("ts")).as("ts_us"),
            xxhash64(col("event_id")).as("ukey"),
            col("event_id"), col("user_id"), col("event_type"))
        Layout.writeClustered(ev, s"$t/d0", "ts_us", numFiles = 8)
        SnapshotStore.commit(spark, t, 1L,
          SnapshotStore.manifestForStatsBloom(spark, 1L, Seq(s"$t/d0"),
            statsCols = Seq("ts_us", "ukey"), bloomCols = Seq("ukey")))
      }
      // the engine's own hash of the natural key, computed driver-side
      val key = org.apache.spark.sql.catalyst.expressions
        .XxHash64Function.hash(42L,
          org.apache.spark.sql.types.LongType, 42L)
      val (boundsSurv, total) =
        SnapshotStore.filesWhere(spark, tmp, 1L, "ukey", key, key)
      require(boundsSurv.size == total,
        s"a hashed key must defeat range stats (every file's bounds " +
          s"span it): ${boundsSurv.size} of $total")
      val (bloomSurv, _) =
        SnapshotStore.filesWherePoint(spark, tmp, 1L, "ukey", key)
      require(bloomSurv.nonEmpty && bloomSurv.size < total,
        s"the bloom must prune the point lookup: opened " +
          s"${bloomSurv.size} of $total files")
      val rows = SnapshotStore.readAtPoint(spark, tmp, 1L, "ukey", key)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type",
            org.apache.spark.sql.types.StringType))))
    },
    Some(
      """SELECT CAST(event_id AS BIGINT) AS event_id,
        |CAST(user_id AS BIGINT) AS user_id, event_type
        |FROM events WHERE event_id = 42 ORDER BY event_id"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** STREAMING INGEST folded into the durable SNAPSHOT store — the
    * table-family twin of `vector_ingest_publish_stream`, completing
    * the symmetry the two-writer race entries established (every
    * commit-protocol feature witnessed on BOTH durable stores): each
    * micro-batch becomes an APPEND COMMIT claimed through the CAS
    * client (`commitNext` — the retry-at-N+1 path a production
    * ingester actually runs), whose manifest pins the ancestor's
    * ENTIRE file set verbatim plus the batch's own clustered files
    * WITH footer stats — so the streamed table keeps its file-skipping
    * and metadata-count properties as it grows (`countAt` of the final
    * head is require-pinned against the data). Requires pin the
    * version chain {0,1,2} gapless and the zero-rewrite claim (every
    * v_N manifest row survives into v_{N+1}). The output reads all
    * three versions through the persisted manifests — the oracle
    * recomputes each from the source parquet with the wave predicates,
    * so a missed batch, dropped shared file, or stale manifest row
    * hash-fails. Streamed waves are key-capped (< 2000) so the
    * driver-collected fixture stays bounded at every SF. Stateless
    * per-batch compute + metadata-scale commits: at 100 TB this is a
    * structured-streaming sink committing into a lakehouse table.
    * Stateful fixture loop → serial-only bench.
    */
  val snapshotIngestPublishStream = Check("snapshot_ingest_publish_stream",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      import ss.implicits._
      implicit val sq = ss.sqlContext
      val cap = 2000L
      val li = table(ss, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      // the base version's clustered files come from the shared quarter
      // artifact (r14 — the subjects here are the streaming CAS appends;
      // no vacuum runs, so sharing is safe); waves and the store stay
      // private per run
      val data = quarterDataStore(ss, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapstream")
        .toString
      try {
        SnapshotStore.commit(ss, tmp, 0L,
          SnapshotStore.manifestForStats(ss, 0L, Seq(s"$data/d1"),
            Seq("l_orderkey")))
        def wave(m: Int): Seq[(Long, Double, Double)] =
          li.filter(col("l_orderkey") % 4 === (2 + m) &&
              col("l_orderkey") < cap)
            .as[(Long, Double, Double)].collect().toSeq
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Double, Double)]
        val q = input.toDF()
          .toDF("l_orderkey", "l_quantity", "l_extendedprice")
          .writeStream.outputMode("append")
          // the IDEMPOTENT-SINK discipline (ADVICE r13 low #3, hardened
          // by code-review r14): a foreachBatch re-execution re-invokes
          // with the same batch id, so the sink asks batchTagCommitted
          // FIRST — a committed tag skips BOTH the wave rewrite (whose
          // Overwrite would clobber the UUID-named files the head pins)
          // and the commit; appendCommit stamps fresh rows with the tag
          // — so the gapless-chain and zero-rewrite requires below hold
          // even under a post-commit re-execution
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val tag = s"wave$batchId"
            if (!SnapshotStore.batchTagCommitted(ss, tmp, tag)) {
              val d = s"$tmp/w$batchId"
              Layout.writeClustered(batch, d, "l_orderkey", numFiles = 1)
              SnapshotStore.appendCommit(ss, tmp, Seq(d),
                Seq("l_orderkey"), batchTag = Some(tag))
            }
            ()
          }
          .start()
        try {
          Seq(wave(0), wave(1)).foreach { vs =>
            input.addData(vs); q.processAllAvailable()
          }
        } finally q.stop()
        require(SnapshotStore.committedVersions(ss, tmp) ==
          Seq(0L, 1L, 2L), "the append chain must land gapless at {0,1,2}")
        // zero-rewrite: each commit pinned its ancestor's files verbatim
        def filesOf(v: Long) = SnapshotStore.manifest(ss, tmp)
          .filter(col("version") === v).select("file")
          .collect().map(_.getString(0)).toSet
        val fsets = (0L to 2L).map(filesOf)
        require(fsets(0).subsetOf(fsets(1)) && fsets(1).subsetOf(fsets(2)),
          "an append commit must share its ancestor's entire file set")
        // stats survive the streaming appends: the head counts from
        // metadata alone, and it matches the data
        val head = SnapshotStore.readAt(ss, tmp, 2L)
        require(SnapshotStore.countAt(ss, tmp, 2L) == head.count(),
          "countAt must answer the streamed head from manifest stats")
        val rows = (0L to 2L)
          .map(v => snapAgg(SnapshotStore.readAt(ss, tmp, v), v))
          .reduce(_ unionByName _).orderBy("version").collect()
        ss.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      def agg(where: String) =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem WHERE $where""".stripMargin.replace("\n", " ")
      s"""SELECT CAST(0 AS BIGINT) AS version, ${agg("l_orderkey % 4 <= 1")}
         |UNION ALL SELECT CAST(1 AS BIGINT), ${agg(
            "l_orderkey % 4 <= 1 OR (l_orderkey % 4 = 2 AND l_orderkey < 2000)")}
         |UNION ALL SELECT CAST(2 AS BIGINT), ${agg(
            "l_orderkey % 4 <= 1 OR (l_orderkey % 4 >= 2 AND l_orderkey < 2000)")}
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** STRING-BOUND FILE SKIPPING (VERDICT r13 what's-missing #3 / next
    * #4) — the documents-table shape every corpus pipeline has: reads
    * are "one source" / "one lang" slices of a table CLUSTERED by that
    * dimension string, and until r14 the manifest recorded bounds only
    * for integral columns, so these predicates pruned NOTHING (the
    * `snapshot_read_pruned_time` entry worked only because its writer
    * projected epoch-micros LONGs). The store clusters documents by
    * `source` and commits smin_/smax_ string bounds (unsigned UTF-8
    * order — the order parquet computed the footer stats in and the
    * order Spark compares strings in); a single-source read plans
    * through `filesWhereStr` to the files whose bound range covers it —
    * require-pinned strictly fewer than total — and a range below every
    * source (digits sort before letters) plans to ZERO files. The
    * oracle recomputes the slice from raw parquet; SUM over BIGINT
    * n_chars is exact in both engines. At 100 TB this is "read one
    * source's documents from a source-clustered corpus by opening that
    * source's files", planned from manifest metadata alone. Shares its
    * read-only store via [[sharedStore]].
    *
    * r15 (VERDICT r14 what's-missing #4 / next #6): the store also
    * commits bounds on `src_url` — a LONG string (>64 chars, a
    * URL-like `source/lang/doc_id/padding` path) whose bounds were
    * UNKNOWN under the r14 drop-past-64 rule, so its prefix predicates
    * pruned nothing. With Iceberg-style truncate-and-increment bounds
    * (MetaIo.truncateMax) the same prefix read now plans to a strict
    * subset of files (require-pinned opened < total) and returns the
    * identical slice — a documents-table text-prefix scan that skips,
    * the shape the 100 TB corpus actually serves.
    */
  val snapshotReadPrunedStr = Check("snapshot_read_pruned_str",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = sharedStore(table(spark, dir, "documents"),
        "ops.snapshotStrStore") { t =>
        val docs = table(spark, dir, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            col("n_chars"),
            // a deliberately over-long string column: every value
            // exceeds MaxStringBound, so only TRUNCATED bounds can
            // ever prune it
            concat_ws("/", col("source"), col("lang"),
              lpad(col("doc_id").cast("string"), 9, "0"),
              lit("x" * 80)).as("src_url"))
        Layout.writeClustered(docs, s"$t/d0", "source", numFiles = 5)
        SnapshotStore.commit(spark, t, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d0"),
            Seq("source", "doc_id", "src_url")))
      }
      val (surv, total) = SnapshotStore.filesWhereStr(spark, tmp, 1L,
        "source", "src3", "src3")
      require(surv.nonEmpty && surv.size < total,
        s"committed string bounds must prune the source slice: opened " +
          s"${surv.size} of $total files")
      val (none, _) = SnapshotStore.filesWhereStr(spark, tmp, 1L,
        "source", "0", "0")
      require(none.isEmpty,
        "a range below every source must exonerate every file")
      // the LONG column's truncated bounds must prune the prefix scan
      // exactly like the short column's exact bounds do ('/' < '0', so
      // ["src3/", "src30") covers precisely the src3/… prefix)
      val (survUrl, totalUrl) = SnapshotStore.filesWhereStr(spark, tmp,
        1L, "src_url", "src3/", "src30")
      require(survUrl.nonEmpty && survUrl.size < totalUrl,
        s"truncated long-string bounds must prune the prefix scan: " +
          s"opened ${survUrl.size} of $totalUrl files")
      val urlSlice = SnapshotStore.readAtWhereStr(spark, tmp, 1L,
        "src_url", "src3/", "src30")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
        .head()
      val rows = SnapshotStore.readAtWhereStr(spark, tmp, 1L,
        "source", "src3", "src3")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .collect()
      require(urlSlice.getLong(0) == rows.head.getLong(0) &&
        urlSlice.getLong(1) == rows.head.getLong(1),
        "the truncated-bound prefix scan must return the identical " +
          "slice — truncation may only widen ranges, never lose rows")
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_docs",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_chars",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE source = 'src3'"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** MERGE-ON-READ DELETION VECTORS — the scattered-forget shape
    * (VERDICT r13 what's-missing #1 / next #2, the realistic
    * right-to-be-forgotten geometry): N subjects spread across N files
    * make copy-on-write rewrite ~N full files for N rows, so the store
    * commits an O(batch) DELETE SIDECAR instead (Delta deletion
    * vectors / Iceberg equality deletes as the public designs —
    * `SnapshotStore.deleteCommitMor`). Require-pinned, in order: the
    * batch is genuinely scattered (its keys touch EVERY data file — the
    * CoW-hostile shape); the MoR commit rewrites ZERO data files (v2's
    * data-file set IS v1's, verbatim); v1 still serves the deleted rows
    * (time travel); v2 serves none of them (the broadcast anti-join
    * read path); `countAt` REFUSES a metadata count under pending
    * equality deletes (matched counts are unknowable — the Iceberg
    * call); `materializeCommit` turns the forget physical at v3 whose
    * manifest carries no delete rows and whose metadata count serves
    * again; and vacuum(keep v3) reclaims the sidecar and the
    * pre-delete files. The output emits v2 (logical) and v3
    * (materialized) aggregates — hash-equal to each other and to the
    * oracle's NOT-IN recompute, which is exactly what the CoW twin
    * (`snapshot_delete_commit`) would have produced: merge-on-read is
    * an I/O strategy, never a semantics change. Anchor:
    * `5-compliant.md:9`, `requirements.yaml:197-199`.
    */
  val snapshotDeleteDv = Check("snapshot_delete_dv",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapdv")
        .toString
      try {
        val li = table(spark, dir, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice")
        val base = li.filter(col("l_orderkey") % 4 <= 1)
        Layout.writeClustered(base, s"$tmp/d1", "l_orderkey",
          numFiles = 4)
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$tmp/d1"),
            Seq("l_orderkey")))
        // the batch reads off the COMMITTED clustered base (r16
        // optimization: each broadcast of `keys` re-scanned the raw
        // lineitem slice; v1's four files hold exactly those rows)
        val keys = SnapshotStore.readAt(spark, tmp, 1L)
          .filter(col("l_orderkey") % 31 === 0)
          .select("l_orderkey").distinct()
        val nKeys = SnapshotStore.deleteCommitMor(spark, tmp, 2L, 1L,
          "l_orderkey", keys, s"$tmp/del2")
        require(nKeys > 0, "the scattered batch must name keys")
        // ONE manifest action for both versions' data-file sets, and ONE
        // scan for the scatter + time-travel pins (r16 optimization: the
        // per-version manifest helper and the two separate joins over
        // readAt(1) ran four jobs for what two aggregates prove)
        val vFiles = SnapshotStore.manifest(spark, tmp)
          .filter(col("version").isin(1L, 2L) &&
            (col("kind").isNull || col("kind") =!= "delete"))
          .select("version", "file").collect()
        def dataFilesOf(v: Long) = vFiles
          .filter(_.getLong(0) == v).map(_.getString(1)).toSet
        val v1Files = dataFilesOf(1L)
        require(dataFilesOf(2L) == v1Files,
          "a merge-on-read delete must rewrite ZERO data files")
        val spreadRow = SnapshotStore.readAt(spark, tmp, 1L)
          .withColumn("_f", input_file_name())
          .join(broadcast(keys), Seq("l_orderkey"))
          .agg(countDistinct(col("_f")).as("spread"),
            count(lit(1)).as("served")).head
        val spread = spreadRow.getLong(0)
        require(spread == v1Files.size,
          s"the batch must scatter across every file (CoW-hostile): " +
            s"touched $spread of ${v1Files.size}")
        require(spreadRow.getLong(1) > 0,
          "time travel: the pre-delete version still serves the rows")
        require(SnapshotStore.readAt(spark, tmp, 2L)
          .join(broadcast(keys), Seq("l_orderkey")).count() == 0,
          "the logical read must apply the sidecar")
        val refused =
          try { SnapshotStore.countAt(spark, tmp, 2L); false }
          catch {
            // most-specific first (ADVICE r14 low #3): a broad IAE
            // catch would also swallow a genuine commit conflict —
            // countAt cannot conflict today, but the refusal-check
            // pattern must not normalize the footgun
            case e: graft.substrate.CommitConflictException => throw e
            case _: IllegalArgumentException => true
          }
        require(refused,
          "countAt must refuse a metadata count under pending deletes")
        SnapshotStore.materializeCommit(spark, tmp, 3L, 2L,
          "l_orderkey", s"$tmp/d3", numFiles = 2)
        require(SnapshotStore.manifest(spark, tmp)
          .filter(col("version") === 3L && col("kind") === "delete")
          .count() == 0L,
          "materialization must drop the delete rows")
        val v2Rows = snapAgg(SnapshotStore.readAt(spark, tmp, 2L), 2L)
          .collect()
        require(SnapshotStore.countAt(spark, tmp, 3L) ==
          SnapshotStore.readAt(spark, tmp, 3L).count(),
          "the materialized head must serve metadata counts again")
        val v3Rows = snapAgg(SnapshotStore.readAt(spark, tmp, 3L), 3L)
          .collect()
        val reclaimed = SnapshotStore.vacuumExecute(spark, tmp, Seq(3L))
        require(reclaimed.exists(_.contains("/del2/")),
          "vacuum must reclaim the unreferenced delete sidecar")
        require(SnapshotStore.readAt(spark, tmp, 3L).count() ==
          v3Rows.head.getLong(1),
          "the kept head must read intact after the purge")
        spark.createDataFrame(
          java.util.Arrays.asList((v2Rows ++ v3Rows): _*), SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      def agg =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem
           |WHERE l_orderkey % 4 <= 1 AND l_orderkey % 31 <> 0"""
          .stripMargin.replace("\n", " ")
      s"""SELECT CAST(2 AS BIGINT) AS version, $agg
         |UNION ALL SELECT CAST(3 AS BIGINT), $agg
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  /** Durable MERGE (upsert) commit — the CDC-to-lakehouse write path
    * (VERDICT r13 what's-missing #2 / next #3; the mechanism check #29
    * assesses, `requirements.yaml:123-125`): a keyed state table
    * (per-orderkey integer aggregates, UNIQUE on the key — the
    * applyChangeLog contract) committed clustered with bounds, then a
    * Debezium-style changelog — updates on [100,300], deletes on
    * [400,500], inserts from the disjoint %4=2 key population — folds
    * in via `SnapshotStore.mergeCommit`: Cdc.applyChangeLog over ONLY
    * the files whose committed bounds intersect the changelog's keys,
    * exonerated files' manifest rows carried verbatim. Require-pinned:
    * the rewrite is file-bounded (rewritten < total — the key-local
    * changelog on a clustered store), exonerated files are shared by
    * the same path, and `countAt` answers the new head consistently
    * (fresh stats on rewritten files). The oracle replays the same
    * merge algebra relationally (base minus deletes, updates applied,
    * inserts unioned), so a lost carry, a double-applied update, or a
    * dropped insert hash-fails. At 100 TB this is the standard
    * streaming-CDC ingestion shape: write I/O ∝ the changelog's key
    * locality, never the table.
    */
  val snapshotMergeCommit = Check("snapshot_merge_commit",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val li = table(spark, dir, "lineitem")
      def keyedAgg(pred: org.apache.spark.sql.Column) = li.filter(pred)
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"),
          sum(floor(col("l_extendedprice")).cast("long")).as("price_i"))
      val base = keyedAgg(col("l_orderkey") % 4 <= 1)
      // the keyed base's clustered files are a shared read-only
      // artifact (the commit + merge rewrite are the subjects; no
      // vacuum runs here, so sharing is safe); store private per run
      val data = sharedStore(base, "ops.keyedBaseStore") { t =>
        Layout.writeClustered(base, s"$t/d1", "l_orderkey", numFiles = 4)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapmrg")
        .toString
      try {
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$data/d1"),
            Seq("l_orderkey")))
        // update/delete images read off the COMMITTED clustered base
        // (r16 optimization — the snapshot_merge_mor rationale)
        val v1 = SnapshotStore.readAt(spark, tmp, 1L)
        val upd = v1.filter(col("l_orderkey").between(100, 300))
          .select(col("l_orderkey"), (col("qty_i") + 1000).as("qty_i"),
            col("price_i"), lit("U").as("op"), lit(1L).as("seq"))
        val del = v1.filter(col("l_orderkey").between(400, 500))
          .select(col("l_orderkey"), col("qty_i"), col("price_i"),
            lit("D").as("op"), lit(1L).as("seq"))
        val ins = keyedAgg(col("l_orderkey") % 4 === 2 &&
            col("l_orderkey").between(100, 300))
          .select(col("l_orderkey"), col("qty_i"), col("price_i"),
            lit("I").as("op"), lit(1L).as("seq"))
        val changes = upd.unionByName(del).unionByName(ins)
        val (rewritten, total) = SnapshotStore.mergeCommit(spark, tmp,
          2L, 1L, "l_orderkey", changes, s"$tmp/m2")
        require(rewritten >= 1 && rewritten < total,
          s"the merge must be file-bounded: rewrote $rewritten of $total")
        // ONE manifest action for both versions (r16 optimization)
        val vf = SnapshotStore.manifest(spark, tmp)
          .filter(col("version").isin(1L, 2L))
          .select("version", "file").collect()
        def filesOf(v: Long) = vf
          .filter(_.getLong(0) == v).map(_.getString(1)).toSet
        require((filesOf(1L) intersect filesOf(2L)).size ==
          total - rewritten,
          "every exonerated file must be shared verbatim across versions")
        val head = SnapshotStore.readAt(spark, tmp, 2L)
        require(SnapshotStore.countAt(spark, tmp, 2L) == head.count(),
          "countAt must answer the merged head from manifest stats")
        val rows = head
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty_i")).as("sum_qty_i"),
            sum(col("price_i")).as("sum_price_i"))
          .select(lit(2L).as("version"), col("n_rows"),
            col("sum_qty_i"), col("sum_price_i"))
          .collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some(
      """WITH base AS (SELECT l_orderkey,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i,
        |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_i
        |FROM lineitem WHERE l_orderkey % 4 <= 1 GROUP BY 1),
        |ins AS (SELECT l_orderkey,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i,
        |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_i
        |FROM lineitem WHERE l_orderkey % 4 = 2
        |AND l_orderkey BETWEEN 100 AND 300 GROUP BY 1),
        |merged AS (SELECT l_orderkey,
        |CASE WHEN l_orderkey BETWEEN 100 AND 300 THEN qty_i + 1000
        |ELSE qty_i END AS qty_i, price_i
        |FROM base WHERE l_orderkey NOT BETWEEN 400 AND 500
        |UNION ALL SELECT l_orderkey, qty_i, price_i FROM ins)
        |SELECT CAST(2 AS BIGINT) AS version,
        |CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(qty_i) AS BIGINT) AS sum_qty_i,
        |CAST(SUM(price_i) AS BIGINT) AS sum_price_i FROM merged"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** MERGE-ON-READ MERGE — the O(batch) CDC commit (VERDICT r14
    * what's-missing #3 / next #5): the same changelog as
    * `snapshot_merge_commit` (updates on [100,300], deletes on
    * [400,500], inserts from the disjoint %4=2 population) lands via
    * `SnapshotStore.mergeCommitMor` as an equality-delete SIDECAR plus
    * an append of the surviving post-images — ZERO ancestor data files
    * rewritten (require-pinned: v1's file set carried verbatim, the
    * only additions under the image dir), where the CoW twin rewrites
    * every bound-intersecting file. Require-pinned further: the logical
    * read EQUALS `Cdc.applyChangeLog` on the ancestor (row-for-row,
    * both directions); `countAt` refuses while pending (equality
    * deletes make matched counts unknowable — the Iceberg call) and
    * serves again after `materializeCommit` converges the table to the
    * CoW result. r16 extends the lifecycle with a plain APPEND UNDER
    * THE PENDING SIDECAR (v3, the disjoint %4=3 population):
    * require-pinned to serve IMMEDIATELY — `appendCommit` stamps
    * per-file sequence numbers (`added_v`), so an earlier merge
    * sidecar exempts later appends, the full Iceberg equality-delete
    * discipline (ADVICE r15 medium: the r15 behavior hid such rows
    * until materialize — silent row loss in the plausible
    * append-after-CDC-merge workflow). The output emits v2 (logical),
    * v3 (post-append) and v4 (materialized) aggregates — v3 = v4
    * hash-pins that materialization changes nothing the append didn't
    * already serve: merge-on-read is an I/O strategy, never a
    * semantics change. At 100 TB this is high-frequency CDC on a wide
    * key distribution: commit I/O ∝ the changelog, the rewrite storm
    * deferred to the maintenance window that compacts anyway, and
    * ingest NEVER pauses behind a pending merge.
    * Anchor: `requirements.yaml:123-125`.
    */
  val snapshotMergeMor = Check("snapshot_merge_mor",
    (spark, dir) => {
      import graft.substrate.{Cdc, Layout, SnapshotStore}
      val li = table(spark, dir, "lineitem")
      def keyedAgg(pred: org.apache.spark.sql.Column) = li.filter(pred)
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"),
          sum(floor(col("l_extendedprice")).cast("long")).as("price_i"))
      val base = keyedAgg(col("l_orderkey") % 4 <= 1)
      // same shared clustered base as snapshot_merge_commit (read-only
      // data dirs; the store and all commits are private per run)
      val data = sharedStore(base, "ops.keyedBaseStore") { t =>
        Layout.writeClustered(base, s"$t/d1", "l_orderkey", numFiles = 4)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapmmor")
        .toString
      try {
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$data/d1"),
            Seq("l_orderkey")))
        // update/delete images read off the COMMITTED clustered base
        // (r16 optimization: deriving them from the keyed-agg plan
        // re-ran the lineitem groupBy once per changelog branch per
        // consuming action; v1 holds exactly those rows)
        val v1 = SnapshotStore.readAt(spark, tmp, 1L)
        val upd = v1.filter(col("l_orderkey").between(100, 300))
          .select(col("l_orderkey"), (col("qty_i") + 1000).as("qty_i"),
            col("price_i"), lit("U").as("op"), lit(1L).as("seq"))
        val del = v1.filter(col("l_orderkey").between(400, 500))
          .select(col("l_orderkey"), col("qty_i"), col("price_i"),
            lit("D").as("op"), lit(1L).as("seq"))
        val ins = keyedAgg(col("l_orderkey") % 4 === 2 &&
            col("l_orderkey").between(100, 300))
          .select(col("l_orderkey"), col("qty_i"), col("price_i"),
            lit("I").as("op"), lit(1L).as("seq"))
        val changes = upd.unionByName(del).unionByName(ins)
        val (nKeys, nImages) = SnapshotStore.mergeCommitMor(spark, tmp,
          2L, 1L, "l_orderkey", changes, s"$tmp/del2", s"$tmp/img2")
        require(nKeys > 0 && nImages > 0, "the changelog must carry " +
          "keys and surviving images")
        // ONE manifest action for both versions' data-file sets (r16
        // optimization: the per-version helper planned and ran the
        // manifest read twice)
        val vFiles = SnapshotStore.manifest(spark, tmp)
          .filter(col("version").isin(1L, 2L) && (col("kind").isNull ||
            !col("kind").isin("delete", "merge_delete")))
          .select("version", "file").collect()
        def dataFilesOf(v: Long) = vFiles
          .filter(_.getLong(0) == v).map(_.getString(1)).toSet
        val (f1, f2) = (dataFilesOf(1L), dataFilesOf(2L))
        require(f1.subsetOf(f2) && (f2 -- f1).forall(_.contains("/img2/")),
          "a MoR merge must rewrite ZERO ancestor data files")
        val expected = Cdc.applyChangeLog(
          SnapshotStore.readAt(spark, tmp, 1L), changes, Seq("l_orderkey"))
        val head = SnapshotStore.readAt(spark, tmp, 2L)
        requireSameRows(head, expected,
          "the logical read must equal applyChangeLog on the ancestor")
        val refused =
          try { SnapshotStore.countAt(spark, tmp, 2L); false }
          catch {
            case e: graft.substrate.CommitConflictException => throw e
            case _: IllegalArgumentException => true
          }
        require(refused,
          "countAt must refuse a metadata count under pending deletes")
        // v3: plain append UNDER the pending merge sidecar — the
        // disjoint %4=3 population must serve immediately (per-file
        // sequence stamping; r16)
        val app = keyedAgg(col("l_orderkey") % 4 === 3)
        Layout.writeClustered(app, s"$tmp/d3app", "l_orderkey",
          numFiles = 2)
        SnapshotStore.appendCommit(spark, tmp, Seq(s"$tmp/d3app"),
          Seq("l_orderkey"))
        // the three counts in ONE action (r16 optimization: three
        // separate count() jobs planned the v2 read twice)
        def cnt(tag: String, df: DataFrame) = df
          .agg(count(lit(1)).as("n")).select(lit(tag).as("t"), col("n"))
        val counts = cnt("v3", SnapshotStore.readAt(spark, tmp, 3L))
          .unionByName(cnt("v2", SnapshotStore.readAt(spark, tmp, 2L)))
          .unionByName(cnt("app", app))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        require(counts("v3") == counts("v2") + counts("app"),
          "rows appended under a pending merge sidecar must serve " +
            "immediately — equality deletes apply only to smaller " +
            "per-file sequence numbers")
        SnapshotStore.materializeCommit(spark, tmp, 4L, 3L,
          "l_orderkey", s"$tmp/d4", numFiles = 2)
        require(SnapshotStore.countAt(spark, tmp, 4L) ==
          SnapshotStore.readAt(spark, tmp, 4L).count(),
          "the materialized head must serve metadata counts again")
        def agg(v: Long) = SnapshotStore.readAt(spark, tmp, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty_i")).as("sum_qty_i"),
            sum(col("price_i")).as("sum_price_i"))
          .select(lit(v).as("version"), col("n_rows"),
            col("sum_qty_i"), col("sum_price_i"))
        val rows = agg(2L).unionByName(agg(3L)).unionByName(agg(4L))
          .orderBy("version").collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      val merged =
        """WITH base AS (SELECT l_orderkey,
          |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i,
          |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_i
          |FROM lineitem WHERE l_orderkey % 4 <= 1 GROUP BY 1),
          |ins AS (SELECT l_orderkey,
          |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i,
          |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_i
          |FROM lineitem WHERE l_orderkey % 4 = 2
          |AND l_orderkey BETWEEN 100 AND 300 GROUP BY 1),
          |merged AS (SELECT l_orderkey,
          |CASE WHEN l_orderkey BETWEEN 100 AND 300 THEN qty_i + 1000
          |ELSE qty_i END AS qty_i, price_i
          |FROM base WHERE l_orderkey NOT BETWEEN 400 AND 500
          |UNION ALL SELECT l_orderkey, qty_i, price_i FROM ins),
          |appended AS (SELECT * FROM merged
          |UNION ALL SELECT l_orderkey,
          |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT),
          |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT)
          |FROM lineitem WHERE l_orderkey % 4 = 3 GROUP BY 1)"""
          .stripMargin.replace("\n", " ")
      def one(v: Int, from: String) =
        s"""SELECT CAST($v AS BIGINT) AS version,
           |CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(qty_i) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(price_i) AS BIGINT) AS sum_price_i FROM $from"""
          .stripMargin.replace("\n", " ")
      s"$merged ${one(2, "merged")} UNION ALL ${one(3, "appended")} " +
        s"UNION ALL ${one(4, "appended")} ORDER BY version"
    },
    isScore = false)

  /** ROW-LEVEL CHANGE DATA FEED over a full lifecycle (VERDICT r14
    * what's-missing #2 / next #4 — the Delta-CDF/Iceberg-changelog
    * shape): a keyed state table lives through an APPEND (v2), a
    * merge-on-read governance DELETE (v3, every 31st key), a
    * merge-on-read MERGE (v4: updates, a delete, disjoint inserts) and
    * a MATERIALIZE (v5), and `SnapshotStore.readChangesBetween(1, 5)`
    * emits the typed row events a downstream incremental consumer
    * replays — exactly where the file-level `readChanged` REFUSES
    * (pending sidecars) or degenerates to the full table (rewrites).
    * The output is the per-(commit, change_type) event aggregate; the
    * oracle recomputes every step's expected set relationally, so a
    * phantom event, a lost delete, or a mis-typed update hash-fails.
    * Require-pinned: the materialize step emits ZERO events (a rewrite
    * is not a change), and replaying the feed over v1 reproduces v5
    * row-for-row (the consumer contract). Scale shape: each step's I/O
    * ∝ its changed files plus the bounds-pruned sidecar-matched slice
    * of carried files — an append step never rescans the base. Anchor:
    * `requirements.yaml:91-93`, `3-current.md:12-15`.
    */
  /** The SHARED 5-commit lifecycle store the row-level CDF entries read
    * (r15, the fixture discipline: their SUBJECT is the feed — a READ
    * path — so the commits are fixture and build once per JVM; no entry
    * commits into or vacuums the shared store): v1 keyed base (%4 ≤ 1,
    * clustered, stats), v2 append (%4 = 3 delta), v3 MoR governance
    * delete (every 31st key), v4 MoR merge (updates on present
    * [100,300], deletes on present [400,500], inserts from the disjoint
    * %4 = 2 keys — all filtered off the %31 forget), v5 materialize.
    */
  private def cdfLifecycleStore(spark: SparkSession, dir: String)
      : String = {
    import graft.substrate.{Layout, SnapshotStore}
    val li = table(spark, dir, "lineitem")
    def keyedAgg(pred: org.apache.spark.sql.Column) = li.filter(pred)
      .groupBy("l_orderkey")
      .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"),
        sum(floor(col("l_extendedprice")).cast("long")).as("price_i"))
    val base = keyedAgg(col("l_orderkey") % 4 <= 1)
    val delta = keyedAgg(col("l_orderkey") % 4 === 3)
    sharedStore(base, "ops.cdfLifecycleStore") { t =>
      Layout.writeClustered(base, s"$t/d1", "l_orderkey", numFiles = 4)
      Layout.writeClustered(delta, s"$t/d2", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, t, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d1"),
          Seq("l_orderkey")))
      SnapshotStore.appendCommit(spark, t, Seq(s"$t/d2"),
        Seq("l_orderkey"))
      val pop = base.unionByName(delta)
      val forget = pop.filter(col("l_orderkey") % 31 === 0)
        .select("l_orderkey")
      SnapshotStore.deleteCommitMor(spark, t, 3L, 2L, "l_orderkey",
        forget, s"$t/del3")
      val present = pop.filter(col("l_orderkey") % 31 =!= 0)
      val upd = present.filter(col("l_orderkey").between(100, 300))
        .select(col("l_orderkey"), (col("qty_i") + 1000).as("qty_i"),
          col("price_i"), lit("U").as("op"), lit(1L).as("seq"))
      val del = present.filter(col("l_orderkey").between(400, 500))
        .select(col("l_orderkey"), col("qty_i"), col("price_i"),
          lit("D").as("op"), lit(1L).as("seq"))
      // the %31 filter is load-bearing (ADVICE r15 low): an insert key
      // that matched the v3 forget would be hidden by the governance
      // sidecar (scope None) while the oracle counted it served — the
      // check passed only because TPC-H orderkey sparsity left the
      // intersection empty; filter BOTH engines so correctness stops
      // depending on generator key sparsity
      val ins = keyedAgg(col("l_orderkey") % 4 === 2 &&
          col("l_orderkey").between(100, 300) &&
          col("l_orderkey") % 31 =!= 0)
        .select(col("l_orderkey"), col("qty_i"), col("price_i"),
          lit("I").as("op"), lit(1L).as("seq"))
      SnapshotStore.mergeCommitMor(spark, t, 4L, 3L, "l_orderkey",
        upd.unionByName(del).unionByName(ins), s"$t/del4", s"$t/img4")
      SnapshotStore.materializeCommit(spark, t, 5L, 4L,
        "l_orderkey", s"$t/d5", numFiles = 2)
    }
  }

  val snapshotCdfRead = Check("snapshot_cdf_read",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = cdfLifecycleStore(spark, dir)
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 5L,
        "l_orderkey").localCheckpoint(true)
      require(cdf.filter(col("_commit_version") === 5L).isEmpty,
        "a materialize rewrite must emit ZERO row events")
      // the consumer contract: v1 + feed = v5 (multiset algebra)
      val adds = cdf.filter(col("_change_type")
          .isin("insert", "update_postimage"))
        .select("l_orderkey", "qty_i", "price_i")
      val drops = cdf.filter(col("_change_type")
          .isin("delete", "update_preimage"))
        .select("l_orderkey", "qty_i", "price_i")
      val replayed = SnapshotStore.readAt(spark, tmp, 1L)
        .unionByName(adds).exceptAll(drops)
      val head = SnapshotStore.readAt(spark, tmp, 5L)
      requireSameRows(replayed, head,
        "replaying the feed over v1 must reproduce v5 row-for-row")
      val rows = cdf.groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey")).as("sum_key"),
          sum(col("qty_i")).as("sum_qty_i"))
        .orderBy("version", "change_type").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_key",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_qty_i",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """WITH ka AS (SELECT l_orderkey, l_orderkey % 4 AS q,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i
        |FROM lineitem GROUP BY 1, 2),
        |pop AS (SELECT * FROM ka WHERE q <= 1 OR q = 3),
        |b2 AS (SELECT * FROM ka WHERE q = 3),
        |del3 AS (SELECT * FROM pop WHERE l_orderkey % 31 = 0),
        |upd AS (SELECT * FROM pop WHERE l_orderkey % 31 <> 0
        |AND l_orderkey BETWEEN 100 AND 300),
        |del4 AS (SELECT * FROM pop WHERE l_orderkey % 31 <> 0
        |AND l_orderkey BETWEEN 400 AND 500),
        |ins4 AS (SELECT * FROM ka WHERE q = 2
        |AND l_orderkey BETWEEN 100 AND 300 AND l_orderkey % 31 <> 0),
        |ev AS (
        |SELECT 2 AS version, 'insert' AS change_type, l_orderkey, qty_i FROM b2
        |UNION ALL SELECT 3, 'delete', l_orderkey, qty_i FROM del3
        |UNION ALL SELECT 4, 'delete', l_orderkey, qty_i FROM del4
        |UNION ALL SELECT 4, 'insert', l_orderkey, qty_i FROM ins4
        |UNION ALL SELECT 4, 'update_preimage', l_orderkey, qty_i FROM upd
        |UNION ALL SELECT 4, 'update_postimage', l_orderkey, qty_i + 1000 FROM upd)
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
        |CAST(SUM(qty_i) AS BIGINT) AS sum_qty_i
        |FROM ev GROUP BY 1, 2 ORDER BY version, change_type"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** The DOWNSTREAM CONSUMER of the row-level feed (r15 — what check
    * #29's incremental coverage is FOR): a COUNT/SUM materialized view
    * computed ONCE at v1 and maintained to v5 purely from
    * `readChangesBetween`'s typed events — converted to the
    * before/after-image contract `MaterializedView.refreshSumCount`
    * folds (pre/post pairs join per (key, commit); `_commit_version`
    * is the per-key sequence) — WITHOUT ever re-reading the base table.
    * Require-pinned: the refreshed MV equals a full recompute over the
    * v5 head row-for-row. This composes three r15/r14 mechanisms —
    * CDF over MoR deletes and merges, the image-fold MV refresh, the
    * manifest-composed step reads — into the exact pipeline a 100 TB
    * deployment runs: the aggregate's refresh cost is O(|events|),
    * never the base scan, across appends, forgets, CDC merges, and
    * maintenance rewrites (which emit nothing). Oracle: the merged
    * final state recomputed relationally, grouped. Anchor:
    * `requirements.yaml:91-93,123-125`, `3-current.md:14`.
    */
  val mvRefreshFromCdf = Check("mv_refresh_from_cdf",
    (spark, dir) => {
      import graft.substrate.{MaterializedView, SnapshotStore}
      val tmp = cdfLifecycleStore(spark, dir)
      def grouped(df: DataFrame) = df
        .groupBy((col("l_orderkey") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("qty_i")).as("s"))
      val mv0 = grouped(SnapshotStore.readAt(spark, tmp, 1L))
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 5L,
        "l_orderkey").localCheckpoint(true)
      // events → the MV's image rows: at most one pre/post pair per
      // (key, commit), so the commit version IS the per-key sequence
      val pre = cdf.filter(col("_change_type")
          .isin("delete", "update_preimage"))
        .select(col("l_orderkey"), (col("l_orderkey") % 10).as("b_g"),
          col("qty_i").as("b_v"), col("_commit_version").as("seq"))
      val post = cdf.filter(col("_change_type")
          .isin("insert", "update_postimage"))
        .select(col("l_orderkey"), (col("l_orderkey") % 10).as("a_g"),
          col("qty_i").as("a_v"), col("_commit_version").as("seq"))
      val changes = pre.join(post, Seq("l_orderkey", "seq"),
        "full_outer")
      val refreshed = MaterializedView.refreshSumCount(mv0, changes,
        Seq("l_orderkey")).localCheckpoint(true)
      val recomputed = grouped(SnapshotStore.readAt(spark, tmp, 5L))
      requireSameRows(refreshed, recomputed,
        "the feed-maintained MV must equal a full recompute at the head")
      // the two-window RESUME composability this entry pinned in r15
      // moved out per the r15 verdict's bench-watch note (its three
      // folds + two recomputes priced the entry at ~17 s serial): the
      // windowed consumption contract is now pinned by
      // `mv_refresh_stream_cdf` (the streaming consumer folds 1→3
      // then 3→5 and requires equality with both the batch fold and
      // the recompute) and by SnapshotCdfSpec's stream-parity test —
      // this entry benches the SINGLE fold
      val rows = refreshed.orderBy("g").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("g",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """WITH ka AS (SELECT l_orderkey, l_orderkey % 4 AS q,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i
        |FROM lineitem GROUP BY 1, 2),
        |pop AS (SELECT * FROM ka WHERE q <= 1 OR q = 3),
        |final AS (
        |SELECT l_orderkey, CASE WHEN l_orderkey BETWEEN 100 AND 300
        |THEN qty_i + 1000 ELSE qty_i END AS qty_i
        |FROM pop WHERE l_orderkey % 31 <> 0
        |AND l_orderkey NOT BETWEEN 400 AND 500
        |UNION ALL SELECT l_orderkey, qty_i FROM ka
        |WHERE q = 2 AND l_orderkey BETWEEN 100 AND 300
        |AND l_orderkey % 31 <> 0)
        |SELECT CAST(l_orderkey % 10 AS BIGINT) AS g,
        |CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(qty_i) AS BIGINT) AS s
        |FROM final GROUP BY 1 ORDER BY g"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** POSITIONAL governance delete (r16 — VERDICT r15 what's-missing
    * #5, the Iceberg positional-delete design): the scattered %31
    * forget lands via `SnapshotStore.deleteCommitPos` — the commit
    * resolves matched rows to exact (file, row_index) pairs with one
    * bounded scan (coverage-pruned, keys distributed) and ZERO
    * rewrites — and the headline is what the equality sidecar had to
    * give up: `countAt` KEEPS SERVING while the delete is pending
    * (sum of committed row counts minus the sidecars' own footer
    * counts — require-pinned equal to the logical read's count, still
    * driver-side metadata with zero data files opened). Require-pinned
    * further: v1's data file set carried verbatim; the row-level feed
    * emits exactly the forgotten rows as deletes; `materializeCommit`
    * converges. Stated contract (vs `deleteCommitMor`): positions name
    * EXISTING rows only — a re-insert of the key serves — so a
    * compliance forget that must survive re-ingestion still wants the
    * equality form. The output hashes v2 (logical, count from
    * metadata) and v3 (materialized) aggregates against the relational
    * filter. Anchor: `requirements.yaml:197-199`, `5-compliant.md:9`.
    */
  val snapshotDeletePos = Check("snapshot_delete_pos",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      val li = table(spark, dir, "lineitem")
      val base = li.filter(col("l_orderkey") % 4 <= 1)
        .groupBy("l_orderkey")
        .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"),
          sum(floor(col("l_extendedprice")).cast("long")).as("price_i"))
      val data = sharedStore(base, "ops.keyedBaseStore") { t =>
        Layout.writeClustered(base, s"$t/d1", "l_orderkey", numFiles = 4)
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_snappos")
        .toString
      try {
        SnapshotStore.commit(spark, tmp, 1L,
          SnapshotStore.manifestForStats(spark, 1L, Seq(s"$data/d1"),
            Seq("l_orderkey")))
        // the batch reads off the COMMITTED clustered base (r16
        // optimization: deriving it from the keyed-agg plan re-ran the
        // lineitem groupBy for the sidecar build and again for the
        // batch-size pin; the store holds exactly those rows)
        val forget = SnapshotStore.readAt(spark, tmp, 1L)
          .filter(col("l_orderkey") % 31 === 0)
          .select("l_orderkey")
        val n = SnapshotStore.deleteCommitPos(spark, tmp, 2L, 1L,
          "l_orderkey", forget, s"$tmp/pos2")
        require(n == forget.count(),
          "every forget key is unique in the keyed base — matched " +
            "rows must equal the batch")
        // the headline: metadata-only counting SURVIVES the pending
        // positional delete, exactly (the equality sidecar refuses)
        require(SnapshotStore.countAt(spark, tmp, 2L) ==
          SnapshotStore.countAt(spark, tmp, 1L) - n,
          "countAt must subtract the positional sidecar exactly")
        require(SnapshotStore.countAt(spark, tmp, 2L) ==
          SnapshotStore.readAt(spark, tmp, 2L).count(),
          "the metadata count must equal the logical read's count")
        // ONE manifest action for both versions, and ONE aggregate
        // over the feed (r16 optimization: the isEmpty + count pair
        // executed the whole one-step feed plan twice)
        val vFiles = SnapshotStore.manifest(spark, tmp)
          .filter(col("version").isin(1L, 2L) && (col("kind").isNull ||
            !col("kind").isin("delete", "merge_delete", "pos_delete")))
          .select("version", "file").collect()
        def dataFilesOf(v: Long) = vFiles
          .filter(_.getLong(0) == v).map(_.getString(1)).toSet
        require(dataFilesOf(1L) == dataFilesOf(2L),
          "a positional delete must rewrite ZERO data files")
        val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 2L,
          "l_orderkey")
        val cdfRow = cdf.agg(count(lit(1)).as("all"),
          count(when(col("_change_type") =!= "delete", 1)).as("other"))
          .head
        require(cdfRow.getLong(1) == 0L && cdfRow.getLong(0) == n,
          "the feed must emit exactly the forgotten rows as deletes")
        SnapshotStore.materializeCommit(spark, tmp, 3L, 2L,
          "l_orderkey", s"$tmp/d3", numFiles = 2)
        require(SnapshotStore.countAt(spark, tmp, 3L) ==
          SnapshotStore.countAt(spark, tmp, 2L),
          "materialization must not change the logical count")
        def agg(v: Long) = SnapshotStore.readAt(spark, tmp, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty_i")).as("sum_qty_i"),
            sum(col("price_i")).as("sum_price_i"))
          .select(lit(v).as("version"), col("n_rows"),
            col("sum_qty_i"), col("sum_price_i"))
        val rows = agg(2L).unionByName(agg(3L)).orderBy("version")
          .collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      val kept =
        """WITH kept AS (SELECT l_orderkey,
          |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i,
          |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS price_i
          |FROM lineitem WHERE l_orderkey % 4 <= 1
          |AND l_orderkey % 31 <> 0 GROUP BY 1)"""
          .stripMargin.replace("\n", " ")
      def one(v: Int) =
        s"""SELECT CAST($v AS BIGINT) AS version,
           |CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(qty_i) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(price_i) AS BIGINT) AS sum_price_i FROM kept"""
          .stripMargin.replace("\n", " ")
      s"$kept ${one(2)} UNION ALL ${one(3)} ORDER BY version"
    },
    isScore = false)

  /** The SHARED composite-key lifecycle store (r16 — VERDICT r15
    * what's-missing #1's done-when: the 5-commit lifecycle on a
    * TWO-COLUMN key): lineitem's natural composite PK
    * (l_orderkey, l_linenumber) at ROW level, so tuple identity is
    * load-bearing — a forget or update of line 1 must leave line 2 of
    * the same order untouched. v1 base (%4 ≤ 1, clustered on the
    * leading key, stats), v2 append (%4 = 3), v3 composite MoR
    * governance delete (ODD lines of every 31st key only), v4
    * composite MoR merge (updates on present [100,300] line 1, deletes
    * on present [400,500] line 2, inserts from the disjoint %4 = 2
    * keys filtered off the forget tuples), v5 materialize. READ-path
    * subject (the feed), so the commits are fixture — built once per
    * JVM, never committed into or vacuumed by an entry.
    */
  private def cdfCompositeStore(spark: SparkSession, dir: String)
      : String = {
    import graft.substrate.{Layout, SnapshotStore}
    // aggregated to one row per tuple: the generator's lineitem is NOT
    // unique on (l_orderkey, l_linenumber) — 60k rows / 45.8k tuples at
    // sf0.01 — and the CDC/CDF contract requires a unique key
    val li = table(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
      .agg(sum(floor(col("l_quantity")).cast("long")).as("qty_i"))
    val base = li.filter(col("l_orderkey") % 4 <= 1)
    val delta = li.filter(col("l_orderkey") % 4 === 3)
    sharedStore(base, "ops.cdfCompositeStore") { t =>
      Layout.writeClustered(base, s"$t/d1", "l_orderkey", numFiles = 4)
      Layout.writeClustered(delta, s"$t/d2", "l_orderkey", numFiles = 2)
      SnapshotStore.commit(spark, t, 1L,
        SnapshotStore.manifestForStats(spark, 1L, Seq(s"$t/d1"),
          Seq("l_orderkey")))
      SnapshotStore.appendCommit(spark, t, Seq(s"$t/d2"),
        Seq("l_orderkey"))
      val pop = base.unionByName(delta)
      val isForget = col("l_orderkey") % 31 === 0 &&
        col("l_linenumber") % 2 === 1
      SnapshotStore.deleteCommitMor(spark, t, 3L, 2L,
        Seq("l_orderkey", "l_linenumber"), pop.filter(isForget),
        s"$t/del3")
      val present = pop.filter(!isForget)
      val upd = present.filter(col("l_orderkey").between(100, 300) &&
          col("l_linenumber") === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("qty_i") + 1000).as("qty_i"),
          lit("U").as("op"), lit(1L).as("seq"))
      val del = present.filter(col("l_orderkey").between(400, 500) &&
          col("l_linenumber") === 2)
        .select(col("l_orderkey"), col("l_linenumber"), col("qty_i"),
          lit("D").as("op"), lit(1L).as("seq"))
      val ins = li.filter(col("l_orderkey") % 4 === 2 &&
          col("l_orderkey").between(100, 300) && !isForget)
        .select(col("l_orderkey"), col("l_linenumber"), col("qty_i"),
          lit("I").as("op"), lit(1L).as("seq"))
      SnapshotStore.mergeCommitMor(spark, t, 4L, 3L,
        Seq("l_orderkey", "l_linenumber"),
        upd.unionByName(del).unionByName(ins), s"$t/del4", s"$t/img4",
        1, "seq", "op")
      SnapshotStore.materializeCommit(spark, t, 5L, 4L,
        "l_orderkey", s"$t/d5", numFiles = 2)
    }
  }

  /** COMPOSITE-KEY row-level change data feed (r16 — VERDICT r15
    * what's-missing #1 / next #3): `snapshot_cdf_read`'s full 5-commit
    * lifecycle on the (l_orderkey, l_linenumber) composite PK, at row
    * level — `deleteCommitMor` forgets TUPLES (odd lines of every 31st
    * key; line 2 of the same order must keep serving),
    * `mergeCommitMor` updates/deletes/inserts tuples, and
    * `readChangesBetween(keyCols)` diffs on the full tuple. The output
    * is the per-(commit, change_type) event aggregate keyed by
    * sum(l_orderkey·7 + l_linenumber) so a tuple mix-up (an event
    * attributed to the wrong LINE of the right order) hash-fails; the
    * oracle recomputes every step's event set relationally. Require-
    * pinned: the materialize step emits nothing and replaying the feed
    * over v1 reproduces v5 row-for-row. Bounds pruning falls back to
    * the LEADING key column — still distributed, still conservative.
    * Anchor: `requirements.yaml:123-125`, `3-current.md:12-15`.
    */
  val snapshotCdfComposite = Check("snapshot_cdf_composite",
    (spark, dir) => {
      import graft.substrate.SnapshotStore
      val tmp = cdfCompositeStore(spark, dir)
      val cdf = SnapshotStore.readChangesBetween(spark, tmp, 1L, 5L,
        Seq("l_orderkey", "l_linenumber")).localCheckpoint(true)
      require(cdf.filter(col("_commit_version") === 5L).isEmpty,
        "a materialize rewrite must emit ZERO row events")
      val adds = cdf.filter(col("_change_type")
          .isin("insert", "update_postimage"))
        .select("l_orderkey", "l_linenumber", "qty_i")
      val drops = cdf.filter(col("_change_type")
          .isin("delete", "update_preimage"))
        .select("l_orderkey", "l_linenumber", "qty_i")
      val replayed = SnapshotStore.readAt(spark, tmp, 1L)
        .unionByName(adds).exceptAll(drops)
      val head = SnapshotStore.readAt(spark, tmp, 5L)
      requireSameRows(replayed, head,
        "replaying the feed over v1 must reproduce v5 row-for-row")
      val rows = cdf.groupBy(col("_commit_version").as("version"),
          col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_orderkey") * 7 + col("l_linenumber")).as("sum_key"),
          sum(col("qty_i")).as("sum_qty_i"))
        .orderBy("version", "change_type").collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("change_type",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_key",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sum_qty_i",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """WITH li AS (SELECT l_orderkey,
        |CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |l_orderkey % 4 AS q,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i
        |FROM lineitem GROUP BY 1, 2, 3),
        |pop AS (SELECT * FROM li WHERE q <= 1 OR q = 3),
        |b2 AS (SELECT * FROM li WHERE q = 3),
        |del3 AS (SELECT * FROM pop
        |WHERE l_orderkey % 31 = 0 AND l_linenumber % 2 = 1),
        |present AS (SELECT * FROM pop
        |WHERE NOT (l_orderkey % 31 = 0 AND l_linenumber % 2 = 1)),
        |upd AS (SELECT * FROM present
        |WHERE l_orderkey BETWEEN 100 AND 300 AND l_linenumber = 1),
        |del4 AS (SELECT * FROM present
        |WHERE l_orderkey BETWEEN 400 AND 500 AND l_linenumber = 2),
        |ins4 AS (SELECT * FROM li WHERE q = 2
        |AND l_orderkey BETWEEN 100 AND 300
        |AND NOT (l_orderkey % 31 = 0 AND l_linenumber % 2 = 1)),
        |ev AS (
        |SELECT 2 AS version, 'insert' AS change_type,
        |l_orderkey, l_linenumber, qty_i FROM b2
        |UNION ALL SELECT 3, 'delete', l_orderkey, l_linenumber, qty_i FROM del3
        |UNION ALL SELECT 4, 'delete', l_orderkey, l_linenumber, qty_i FROM del4
        |UNION ALL SELECT 4, 'insert', l_orderkey, l_linenumber, qty_i FROM ins4
        |UNION ALL SELECT 4, 'update_preimage', l_orderkey, l_linenumber, qty_i FROM upd
        |UNION ALL SELECT 4, 'update_postimage', l_orderkey, l_linenumber, qty_i + 1000 FROM upd)
        |SELECT CAST(version AS BIGINT) AS version, change_type,
        |CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS sum_key,
        |CAST(SUM(qty_i) AS BIGINT) AS sum_qty_i
        |FROM ev GROUP BY 1, 2 ORDER BY version, change_type"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** STREAMING consumer of the row-level feed (r16 — VERDICT r15
    * what's-missing #2 / next #4): the `mv_refresh_from_cdf` fold run
    * CONTINUOUSLY — a Structured Streaming query (MemoryStream →
    * foreachBatch, the `dedup_ingest_stream` discipline) receives
    * committed-head notifications, and each micro-batch folds
    * `readChangesBetween(lastSeen, head)` into the persisted MV via
    * `MaterializedView.refreshSumCount`, advancing its watermark —
    * never re-reading the base table. Two notifications arrive (head 3,
    * then head 5), so the MV folds the lifecycle in two resumed
    * windows; the two-window ≡ one-window resume algebra — pinned by
    * `mv_refresh_from_cdf` in r15 — now lives HERE (that entry benches
    * the single fold per the r15 bench-watch note). Require-pinned: the
    * final MV equals a full recompute over the v5 head row-for-row AND
    * the one-shot batch fold (stream ≡ batch parity). At 100 TB this
    * is the always-on downstream aggregate a CDC lakehouse feeds:
    * refresh cost per micro-batch is O(|window events|), across
    * appends, forgets, CDC merges, and maintenance rewrites (which
    * emit nothing). Stateful (blocking micro-batch loop) →
    * serial-only bench. Anchor: `requirements.yaml:91-93,123-125`,
    * `3-current.md:12-15`.
    */
  val mvRefreshStreamCdf = Check("mv_refresh_stream_cdf",
    (spark, dir) => {
      import graft.substrate.{MaterializedView, SnapshotStore}
      val tmp = cdfLifecycleStore(spark, dir)
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", 2)
      implicit val sq: org.apache.spark.sql.SQLContext = ss.sqlContext
      import ss.implicits._
      def grouped(df: DataFrame) = df
        .groupBy((col("l_orderkey") % 10).as("g"))
        .agg(count(lit(1)).as("n"), sum(col("qty_i")).as("s"))
      def imagesOf(w: DataFrame) = {
        val pre = w.filter(col("_change_type")
            .isin("delete", "update_preimage"))
          .select(col("l_orderkey"), (col("l_orderkey") % 10).as("b_g"),
            col("qty_i").as("b_v"), col("_commit_version").as("seq"))
        val post = w.filter(col("_change_type")
            .isin("insert", "update_postimage"))
          .select(col("l_orderkey"), (col("l_orderkey") % 10).as("a_g"),
            col("qty_i").as("a_v"), col("_commit_version").as("seq"))
        pre.join(post, Seq("l_orderkey", "seq"), "full_outer")
      }
      var mv = grouped(SnapshotStore.readAt(ss, tmp, 1L))
        .localCheckpoint(true)
      var lastSeen = 1L
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val q = input.toDF().toDF("head").writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // the consumer polls the committed head; a micro-batch may
          // carry several notifications — fold once, up to the latest.
          // A zero-row micro-batch (engine trigger with no data) is a
          // no-op, not an NPE (code-review r16)
          val hd = batch.agg(max(col("head"))).head
          val head = if (hd.isNullAt(0)) lastSeen else hd.getLong(0)
          if (head > lastSeen) {
            val w = SnapshotStore.readChangesBetween(ss, tmp, lastSeen,
              head, "l_orderkey")
            mv = MaterializedView.refreshSumCount(mv, imagesOf(w),
              Seq("l_orderkey")).localCheckpoint(true)
            lastSeen = head
          }
        }
        .start()
      try {
        Seq(3L, 5L).foreach { h =>
          input.addData(h); q.processAllAvailable()
        }
      } finally q.stop()
      require(lastSeen == 5L,
        "the stream consumer must have advanced its watermark to v5")
      val recomputed = grouped(SnapshotStore.readAt(ss, tmp, 5L))
      requireSameRows(mv, recomputed,
        "the stream-maintained MV must equal a full recompute at v5")
      // stream ≡ batch parity: the one-shot fold over the whole window
      val batchMv = MaterializedView.refreshSumCount(
        grouped(SnapshotStore.readAt(ss, tmp, 1L)),
        imagesOf(SnapshotStore.readChangesBetween(ss, tmp, 1L, 5L,
          "l_orderkey")), Seq("l_orderkey"))
      requireSameRows(mv, batchMv,
        "the streamed two-window fold must equal the one-shot batch fold")
      val rows = mv.orderBy("g").collect()
      ss.createDataFrame(
        java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("g",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("s",
            org.apache.spark.sql.types.LongType))))
    },
    Some(
      """WITH ka AS (SELECT l_orderkey, l_orderkey % 4 AS q,
        |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty_i
        |FROM lineitem GROUP BY 1, 2),
        |pop AS (SELECT * FROM ka WHERE q <= 1 OR q = 3),
        |final AS (
        |SELECT l_orderkey, CASE WHEN l_orderkey BETWEEN 100 AND 300
        |THEN qty_i + 1000 ELSE qty_i END AS qty_i
        |FROM pop WHERE l_orderkey % 31 <> 0
        |AND l_orderkey NOT BETWEEN 400 AND 500
        |UNION ALL SELECT l_orderkey, qty_i FROM ka
        |WHERE q = 2 AND l_orderkey BETWEEN 100 AND 300
        |AND l_orderkey % 31 <> 0)
        |SELECT CAST(l_orderkey % 10 AS BIGINT) AS g,
        |CAST(COUNT(*) AS BIGINT) AS n,
        |CAST(SUM(qty_i) AS BIGINT) AS s
        |FROM final GROUP BY 1 ORDER BY g"""
        .stripMargin.replace("\n", " ")),
    isScore = false)

  /** APPENDER vs COMPACTOR racing one SNAPSHOT STORE (VERDICT r13
    * what's-missing #5 / next #6) — the asymmetric two-writer shape a
    * real deployment runs (streaming ingest vs the maintenance
    * OPTIMIZE), already witnessed on the vector store
    * (`ann_stored_index_concurrent`) and completed here on the table
    * store now that both halves exist (appendCommit-geometry rows +
    * compaction rewrites, both claimed through `commitNext`). A
    * CyclicBarrier holds both writers until each has derived its
    * first-attempt rows against v0; exactly one claims v1, the loser's
    * retry RE-DERIVES against the winner's commit — the compactor
    * re-plans its rewrite over the appended table, or the appender
    * re-shares the compacted file — and lands v2. The punchline the
    * oracle hashes: append ∘ compact ≡ compact ∘ append on ROW CONTENT
    * (v2 = base + delta in either commit order, integer-cents sums
    * order-independent). Requires pin the protocol: versions {1,2}
    * split across the writers, attempts exactly 3, the chain gapless.
    * Runs its own 2-thread pool + barrier → serial-only bench (the
    * snapshot_concurrent_commit treatment). Anchor:
    * `requirements.yaml:136-138`.
    */
  val snapshotConcurrentCompact = Check("snapshot_concurrent_compact",
    (spark, dir) => {
      import graft.substrate.{Layout, SnapshotStore}
      // same shared read-only data dirs as snapshot_concurrent_commit
      // (the quarter artifact) — base = d1, delta = d2; the STORE is
      // private so the race always starts from v0, and no vacuum ever
      // runs here so sharing is safe
      val data = quarterDataStore(spark, dir)
      val tmp = java.nio.file.Files.createTempDirectory("graft_snapacr")
        .toString
      try {
        SnapshotStore.commit(spark, tmp, 0L,
          SnapshotStore.manifestForStats(spark, 0L, Seq(s"$data/d1"),
            Seq("l_orderkey")))
        val gate = new java.util.concurrent.CyclicBarrier(2)
        val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
        def appendRows(v: Long): DataFrame = {
          attempts.incrementAndGet()
          if (v == 1L)
            gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
          val latest = SnapshotStore.committedVersions(spark, tmp).last
          SnapshotStore.manifest(spark, tmp)
            .filter(col("version") === latest)
            .drop("version").withColumn("version", lit(v))
            .unionByName(
              SnapshotStore.manifestForStats(spark, v, Seq(s"$data/d2"),
                Seq("l_orderkey")),
              allowMissingColumns = true)
        }
        def compactRows(v: Long): DataFrame = {
          attempts.incrementAndGet()
          if (v == 1L)
            gate.await(120, java.util.concurrent.TimeUnit.SECONDS)
          val latest = SnapshotStore.committedVersions(spark, tmp).last
          // the rewrite RE-DERIVES per attempt: a retried compactor
          // compacts the WINNER's table, never its stale first plan
          Layout.writeClustered(SnapshotStore.readAt(spark, tmp, latest),
            s"$tmp/c$v", "l_orderkey", numFiles = 1)
          SnapshotStore.manifestForStats(spark, v, Seq(s"$tmp/c$v"),
            Seq("l_orderkey"))
        }
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        val (va, vb) = try {
          def committer(rows: Long => DataFrame) =
            pool.submit(new java.util.concurrent.Callable[Long] {
              def call(): Long =
                SnapshotStore.commitNext(spark, tmp)(rows)
            })
          val (fa, fb) = (committer(appendRows), committer(compactRows))
          (fa.get(300, java.util.concurrent.TimeUnit.SECONDS),
            fb.get(300, java.util.concurrent.TimeUnit.SECONDS))
        } finally pool.shutdownNow()
        require(Set(va, vb) == Set(1L, 2L),
          s"both writers must land, at 1 and 2: got $va/$vb")
        require(attempts.get == 3,
          s"two firsts + exactly one retry, got ${attempts.get}")
        require(SnapshotStore.committedVersions(spark, tmp) ==
          Seq(0L, 1L, 2L),
          "the claim race must never produce a gap or a lost version")
        require(SnapshotStore.countAt(spark, tmp, 2L) ==
          SnapshotStore.readAt(spark, tmp, 2L).count(),
          "stats must survive whichever writer retried")
        val rows = Seq(
          snapAgg(SnapshotStore.readAt(spark, tmp, 0L), 0L),
          snapAgg(SnapshotStore.readAt(spark, tmp, 2L), 2L))
          .reduce(_ unionByName _).orderBy("version").collect()
        spark.createDataFrame(
          java.util.Arrays.asList(rows: _*),
          SnapAggSchema)
      } finally {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
      }
    },
    Some {
      def agg(where: String) =
        s"""CAST(COUNT(*) AS BIGINT) AS n_rows,
           |CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty_i,
           |CAST(SUM(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sum_price_i
           |FROM lineitem WHERE $where""".stripMargin.replace("\n", " ")
      s"""SELECT CAST(0 AS BIGINT) AS version, ${agg("l_orderkey % 4 <= 1")}
         |UNION ALL SELECT CAST(2 AS BIGINT), ${agg("l_orderkey % 4 <= 2")}
         |ORDER BY version""".stripMargin.replace("\n", " ")
    },
    isScore = false)

  val all: Seq[Check] = Seq(asofJoin, asofJoinForward, constraintValidation, eventsPropsStats,
    productAssessment, tfidfTopTerms, tableProfiles, nullProfile,
    windowedFreshnessBatch, pipelineRunDeltas, salesRollup, sketchAccuracy,
    skewSaltedAgg, hotkeySplitJoin, valuePercentiles, orphanCheck,
    iqrOutliers, partSupplierRollup, eventsPivotDaily, zorderClusterStats,
    zorder3ClusterStats, compactionPlan, compactionExecute, snapshotRead,
    snapshotIncrementalRead, snapshotConcurrentCommit, snapshotReadPruned,
    snapshotCountMeta, snapshotSchemaEvolution, snapshotDeleteCommit,
    snapshotIngestPublishStream, snapshotReadPrunedZ,
    snapshotReadPrunedTime, snapshotPointLookupBloom,
    snapshotReadPrunedStr, snapshotDeleteDv, snapshotDeletePos,
    snapshotMergeCommit,
    snapshotMergeMor, snapshotCdfRead, snapshotCdfComposite,
    mvRefreshFromCdf, mvRefreshStreamCdf, snapshotConcurrentCompact)
}
