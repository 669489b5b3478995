package graft.checks

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Fixtures._
import graft.checks.CheckDsl._
import graft.checks.Source.Catalog

/** Factor 3 — Current: "freshness enforced by infrastructure rather than
  * assumed by convention" (reference `factors/3-current.md:3`; stanzas
  * `factors/requirements.yaml:90-125`). Checks #21-#29 of SURVEY.md §2.A.
  *
  * The data-probing checks here (#22, #27) aggregate the big tables with
  * column-pruned, predicate-free scans into single map-side-combinable
  * max/count aggregates — the cheapest possible full-table pass at 100 TB
  * (and with ts-partitioned layouts, `max(ts)` prunes to the newest
  * partitions).
  */
object Factor3 {

  /** #21 change_detection (yaml:91-93). */
  val changeDetection = fraction("change_detection", Catalog(assets),
    fractionSql("change_detection",
      "SELECT COUNT(*) FROM assets WHERE cdc_enabled",
      "SELECT COUNT(*) FROM assets", Seq(assets))) { (_, _) =>
    (count_if(col("cdc_enabled")), count(lit(1)))
  }

  /** Per-asset latest event time, as a (ts_asset, max_ts) union of three
    * column-pruned aggregates over the timestamped tables: one row per
    * asset.
    */
  private def latestTs(spark: SparkSession, dir: String): DataFrame = {
    def mx(t: String, c: String) = table(spark, dir, t)
      .agg(max(col(c)).as("max_ts")).select(lit(t).as("ts_asset"), col("max_ts"))
    mx("events", "ts").unionAll(mx("orders", "o_orderdate"))
      .unionAll(mx("lineitem", "l_shipdate"))
  }

  private val latestTsCte =
    """latest_ts AS (
      |SELECT 'events' AS asset, MAX(ts) AS max_ts FROM events
      |UNION ALL SELECT 'orders', MAX(o_orderdate) FROM orders
      |UNION ALL SELECT 'lineitem', MAX(l_shipdate) FROM lineitem)"""
      .stripMargin.replace("\n", " ")

  /** #22 data_freshness (yaml:95-97): population = assets WITH a declared
    * freshness SLA; fresh iff lag(asOf, max event ts) within the window.
    * An SLA row matches at most one latest-time row, so counting the SLA
    * rows with a fresh match counts the fresh join rows.
    */
  val dataFreshness = fraction("data_freshness", Catalog(sla),
    fractionSql("data_freshness",
      s"SELECT COUNT(*) FROM latest_ts l JOIN sla s ON l.asset = s.asset AND s.sla_kind = 'freshness' WHERE date_diff('second', l.max_ts, $AsOfSql) <= s.threshold * 3600",
      "SELECT COUNT(*) FROM sla WHERE sla_kind = 'freshness'",
      Seq(sla), Seq(latestTsCte))) { (spark, dir) =>
    val freshness = col("sla_kind") === "freshness"
    val fresh = latestTs(spark, dir).where(col("ts_asset") === col("asset").outer() &&
      unix_timestamp(lit(AsOf)) - unix_timestamp(col("max_ts")) <=
        col("threshold").outer() * 3600).exists()
    (count_if(freshness && fresh), count_if(freshness))
  }

  /** #23 propagation_latency_compliance (yaml:99-101): p95 of end-to-end run
    * duration per pipeline vs SLA (exact rank-based percentile, see #11).
    */
  val propagationLatencyCompliance = Check("propagation_latency_compliance",
    (spark, _) => {
      val runs = pipelineRuns.df(spark).select(col("pipeline"),
        (unix_timestamp(col("end_ts")) - unix_timestamp(col("start_ts"))).as("dur"))
      val w = Window.partitionBy("pipeline").orderBy("dur")
      val p95 = runs.withColumn("cd", cume_dist().over(w))
        .filter(col("cd") >= 0.95)
        .groupBy("pipeline").agg(min("dur").as("p95"))
      // p95 is unique per pipeline: every pipeline row stays exactly once
      fractionOf("propagation_latency_compliance",
        pipelines.df(spark).join(broadcast(p95), Seq("pipeline"), "left"),
        count_if(col("p95") <= col("latency_sla_sec")), count(lit(1)))
    },
    Some {
      val p95Cte =
        """p95s AS (SELECT pipeline, MIN(dur) AS p95 FROM (
          |SELECT pipeline, date_diff('second', start_ts, end_ts) AS dur,
          |cume_dist() OVER (PARTITION BY pipeline
          |  ORDER BY date_diff('second', start_ts, end_ts)) AS cd
          |FROM pipeline_runs) WHERE cd >= 0.95 GROUP BY pipeline)"""
          .stripMargin.replace("\n", " ")
      fractionSql("propagation_latency_compliance",
        "SELECT COUNT(*) FROM p95s p JOIN pipelines pl ON p.pipeline = pl.pipeline WHERE p.p95 <= pl.latency_sla_sec",
        "SELECT COUNT(*) FROM pipelines",
        Seq(pipelineRuns, pipelines), Seq(p95Cte))
    })

  /** #24 point_in_time_correctness (yaml:103-105): leakage probe — a label
    * row is clean iff a naive latest-value join could not pull a feature
    * from its future (`3-current.md:23`). The remediating as-of join itself
    * is the `asof_join` extension operator.
    */
  val pointInTimeCorrectness = Check("point_in_time_correctness",
    (spark, _) => {
      val latest = featureValues.df(spark).groupBy("entity_id")
        .agg(max("feature_ts").as("latest_ts"))
      // latest is unique per entity: every label row stays exactly once
      fractionOf("point_in_time_correctness",
        labels.df(spark).join(broadcast(latest), Seq("entity_id"), "left"),
        count_if(col("latest_ts").isNull ||
          col("latest_ts") <= col("label_ts")), count(lit(1)))
    },
    Some(fractionSql("point_in_time_correctness",
      "SELECT COUNT(*) FROM labels l LEFT JOIN (SELECT entity_id, MAX(feature_ts) AS latest_ts FROM feature_values GROUP BY entity_id) f ON l.entity_id = f.entity_id WHERE f.latest_ts IS NULL OR f.latest_ts <= l.label_ts",
      "SELECT COUNT(*) FROM labels", Seq(labels, featureValues))))

  /** #25 training_serving_parity (yaml:107-109): per feature, max
    * |batch − realtime| within epsilon ("Training-serving skew… silently
    * degrades", `3-current.md:23`).
    */
  val trainingServingParity = Check("training_serving_parity",
    (spark, _) => {
      val fp = featureParity.df(spark)
      val b = fp.filter(col("path") === "batch")
        .select(col("entity_id"), col("feature"), col("value").as("vb"))
      val r = fp.filter(col("path") === "realtime")
        .select(col("entity_id"), col("feature"), col("value").as("vr"))
      val perFeature = b.join(r, Seq("entity_id", "feature"))
        .groupBy("feature").agg(max(abs(col("vb") - col("vr"))).as("md"))
      fractionOf("training_serving_parity", perFeature,
        count_if(col("md") <= 1e-6), count(lit(1)))
    },
    Some {
      val mdCte =
        """per_feature AS (SELECT b.feature, MAX(ABS(b.value - r.value)) AS md
          |FROM feature_parity b JOIN feature_parity r
          |ON b.entity_id = r.entity_id AND b.feature = r.feature
          |AND b.path = 'batch' AND r.path = 'realtime'
          |GROUP BY b.feature)""".stripMargin.replace("\n", " ")
      fractionSql("training_serving_parity",
        "SELECT COUNT(*) FROM per_feature WHERE md <= 0.000001",
        "SELECT COUNT(*) FROM per_feature",
        Seq(featureParity), Seq(mdCte))
    })

  /** #26 feature_refresh_compliance (yaml:111-113): online features within
    * the staleness tolerance declared in the SLA catalog.
    */
  val featureRefreshCompliance = Check("feature_refresh_compliance",
    (spark, _) => {
      // the tolerance rows are catalog data, read on the driver; a row
      // counts once per tolerance it meets — the oracle's cross join (a
      // null tolerance meets none)
      val tols = sla.df(spark)
        .filter(col("asset") === "online_features" && col("sla_kind") === "staleness")
        .select(col("threshold")).collect()
        .filterNot(_.isNullAt(0)).map(_.getDouble(0))
      val age =
        unix_timestamp(lit(AsOf)) - unix_timestamp(col("last_refresh_ts"))
      fractionOf("feature_refresh_compliance",
        featureCatalog.df(spark).filter(col("store") === "online"),
        tols.map(t => count_if(age <= lit(t) * 3600))
          .foldLeft(lit(0L))(_ + _), count(lit(1)))
    },
    Some(fractionSql("feature_refresh_compliance",
      s"SELECT COUNT(*) FROM feature_catalog f, (SELECT threshold FROM sla WHERE asset = 'online_features' AND sla_kind = 'staleness') t WHERE f.store = 'online' AND date_diff('second', f.last_refresh_ts, $AsOfSql) <= t.threshold * 3600",
      "SELECT COUNT(*) FROM feature_catalog WHERE store = 'online'",
      Seq(featureCatalog, sla))))

  /** #27 temporal_referential_integrity (yaml:115-117): record-grain —
    * non-null event timestamps within a sane window ending at asOf, in one
    * aggregate over the three tables' timestamps, each cast to the type the
    * comparison with a timestamp literal coerces it to.
    */
  val temporalReferentialIntegrity = Check("temporal_referential_integrity",
    (spark, dir) => {
      val lo = java.time.Instant.parse("1990-01-01T00:00:00Z")
      val ts = Seq("events" -> "ts", "orders" -> "o_orderdate",
        "lineitem" -> "l_shipdate").map { case (t, c) =>
        table(spark, dir, t).select(col(c).cast("timestamp").as("t"))
      }.reduce(_ unionAll _)
      fractionOf("temporal_referential_integrity", ts,
        count_if(col("t").isNotNull && col("t") >= lit(lo) && col("t") <= lit(AsOf)),
        count(lit(1)))
    },
    Some {
      val lo = "TIMESTAMP '1990-01-01 00:00:00'"
      def okQ(t: String, c: String) =
        s"(SELECT COUNT(*) FROM $t WHERE $c IS NOT NULL AND $c >= $lo AND $c <= $AsOfSql)"
      fractionSql("temporal_referential_integrity",
        s"SELECT ${okQ("events", "ts")} + ${okQ("orders", "o_orderdate")} + ${okQ("lineitem", "l_shipdate")}",
        "SELECT (SELECT COUNT(*) FROM events) + (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem)",
        Nil)
    })

  /** #28 schema_evolution_tracking (yaml:119-121). */
  val schemaEvolutionTracking = fraction("schema_evolution_tracking",
    Catalog(assets), fractionSql("schema_evolution_tracking",
      "SELECT COUNT(*) FROM assets a WHERE EXISTS (SELECT 1 FROM schema_versions v WHERE v.asset = a.asset)",
      "SELECT COUNT(*) FROM assets", Seq(assets, schemaVersions))) { (spark, _) =>
    (count_if(inCatalog(col("asset"), schemaVersions.df(spark).select("asset"))),
      count(lit(1)))
  }

  /** #29 incremental_update_coverage (yaml:123-125). */
  val incrementalUpdateCoverage = fraction("incremental_update_coverage",
    Catalog(pipelines), fractionSql("incremental_update_coverage",
      "SELECT COUNT(*) FROM pipelines WHERE mode IN ('cdc', 'streaming', 'incremental')",
      "SELECT COUNT(*) FROM pipelines", Seq(pipelines))) { (_, _) =>
    (count_if(col("mode").isin("cdc", "streaming", "incremental")), count(lit(1)))
  }

  val all: Seq[Check] = Seq(changeDetection, dataFreshness,
    propagationLatencyCompliance, pointInTimeCorrectness,
    trainingServingParity, featureRefreshCompliance,
    temporalReferentialIntegrity, schemaEvolutionTracking,
    incrementalUpdateCoverage)
}
