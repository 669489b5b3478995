package graft.checks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Fixtures._
import graft.checks.CheckDsl._
import graft.checks.Source.{Catalog, Table}

/** Factor 5 — Compliant: "explicit ownership, enforced access boundaries,
  * and AI-specific safeguards" (reference `factors/5-compliant.md:3`;
  * stanzas `factors/requirements.yaml:164-203`). Checks #39-#48.
  *
  * The data-probing checks here (#40 PII regex scan, #45 TVD, #46 consent
  * join, #48 k-anonymity) are single-pass column-pruned scans + hash aggs;
  * at 100 TB the PII scan adds TABLESAMPLE (SURVEY.md §4) — the fraction is
  * statistical either way.
  */
object Factor5 {

  /** PII detection regex: id-suffixed names, emails, SSN-shaped strings
    * (`5-compliant.md:9,15` — PII must be found *before* masking/embedding).
    * RE2-compatible → identical semantics in Spark RLIKE and DuckDB
    * regexp_matches.
    */
  private val PiiPattern = "#[0-9]{3,}|@|[0-9]{3}-[0-9]{2}-[0-9]{4}"
  private val DetectThreshold = 0.5

  /** String columns probed for PII content (candidate set = free-text-ish
    * string columns of entity tables).
    */
  private val PiiProbes = Seq(
    ("customer", "c_name"), ("supplier", "s_name"),
    ("part", "p_name"), ("documents", "source"))

  /** #39 classification (yaml:165-167): objects = tables ∪ columns, tagged
    * via the governance tag catalog.
    */
  val classification = Check("classification",
    (spark, _) => {
      val objs = assets.df(spark).select(col("asset").as("object"))
        .unionAll(columns.df(spark).select(
          concat_ws(".", col("asset"), col("column_name")).as("object")))
      fractionOf("classification", catalogOnly(objs),
        count_if(inCatalog(col("object"), tags.df(spark).select("object"))),
        count(lit(1)))
    },
    Some(fractionSql("classification",
      "SELECT COUNT(*) FROM (SELECT asset AS object FROM assets UNION ALL SELECT asset || '.' || column_name FROM columns) o WHERE EXISTS (SELECT 1 FROM tags t WHERE t.object = o.object)",
      "SELECT (SELECT COUNT(*) FROM assets) + (SELECT COUNT(*) FROM columns)",
      Seq(assets, columns, tags))))

  /** #40 field_masking (yaml:169-171): population = PII columns (declared ∪
    * regex-DETECTED from the data — declaration alone can't be trusted,
    * `5-compliant.md:15`); hits = those with a masking policy.
    */
  val fieldMasking = Check("field_masking",
    (spark, dir) => {
      val detected = PiiProbes.map { case (t, c) =>
        table(spark, dir, t).agg(
          avg(when(col(c).rlike(PiiPattern), 1.0).otherwise(0.0)).as("rate"))
          .select(lit(t).as("asset"), lit(c).as("column_name"), col("rate"))
      }.reduce(_ unionAll _).filter(col("rate") > DetectThreshold)
        .select("asset", "column_name")
      val cols = columns.df(spark)
      val declared = cols.filter(col("pii_declared"))
        .select("asset", "column_name")
      // declared ∪ detected is a handful of rows: de-duplicated on the
      // driver (the declared set is catalog data, collected with no job)
      val pii = spark.createDataFrame(
        java.util.Arrays.asList(
          (declared.collect() ++ detected.collect()).distinct: _*),
        declared.schema)
      // (asset, column_name) is the columns catalog's key
      val masked = cols.filter(col("masking_policy").isNotNull)
        .select("asset", "column_name")
      fractionOf("field_masking", catalogOnly(pii), count_if(inCatalog(
        struct(col("asset"), col("column_name")), masked)), count(lit(1)))
    },
    Some {
      val detectedSql = PiiProbes.map { case (t, c) =>
        s"SELECT '$t' AS asset, '$c' AS column_name, AVG(CASE WHEN regexp_matches($c, '$PiiPattern') THEN 1.0 ELSE 0.0 END) AS rate FROM $t"
      }.mkString(" UNION ALL ")
      val piiCte =
        s"""pii AS (SELECT DISTINCT asset, column_name FROM (
           |SELECT asset, column_name FROM columns WHERE pii_declared
           |UNION ALL SELECT asset, column_name FROM ($detectedSql)
           |WHERE rate > $DetectThreshold))""".stripMargin.replace("\n", " ")
      fractionSql("field_masking",
        "SELECT COUNT(*) FROM pii p JOIN columns c ON p.asset = c.asset AND p.column_name = c.column_name WHERE c.masking_policy IS NOT NULL",
        "SELECT COUNT(*) FROM pii",
        Seq(columns), Seq(piiCte))
    })

  /** #41 access_audit_coverage (yaml:173-175): access events captured in an
    * IMMUTABLE audit log.
    */
  val accessAuditCoverage = fraction("access_audit_coverage",
    Catalog(accessEvents), fractionSql("access_audit_coverage",
      "SELECT COUNT(*) FROM access_events e WHERE EXISTS (SELECT 1 FROM audit_log a WHERE a.event_id = e.event_id AND a.immutable)",
      "SELECT COUNT(*) FROM access_events", Seq(accessEvents, auditLog))) { (spark, _) =>
    (count_if(inCatalog(col("event_id"),
      auditLog.df(spark).filter(col("immutable")).select("event_id"))),
      count(lit(1)))
  }

  /** #42 bias_testing_coverage (yaml:177-179): training datasets with a
    * bias-test record before AI consumption.
    */
  val biasTestingCoverage = fraction("bias_testing_coverage", Catalog(assets),
    fractionSql("bias_testing_coverage",
      "SELECT COUNT(*) FROM assets a WHERE training_data AND EXISTS (SELECT 1 FROM bias_tests b WHERE b.dataset = a.asset)",
      "SELECT COUNT(*) FROM assets WHERE training_data",
      Seq(assets, biasTests))) { (spark, _) =>
    (count_if(col("training_data") &&
      inCatalog(col("asset"), biasTests.df(spark).select("dataset"))),
      count_if(col("training_data")))
  }

  /** #43 purpose_limitation (yaml:181-183): declared purposes AND
    * enforcement.
    */
  val purposeLimitation = fraction("purpose_limitation", Catalog(accessPaths),
    fractionSql("purpose_limitation",
      "SELECT COUNT(*) FROM access_paths WHERE len(purposes) > 0 AND enforced",
      "SELECT COUNT(*) FROM access_paths", Seq(accessPaths))) { (_, _) =>
    (count_if(size(col("purposes")) > 0 && col("enforced")), count(lit(1)))
  }

  /** #44 license_compliance (yaml:185-187): population = externally sourced
    * datasets; license must permit training and be unexpired at asOf.
    */
  val licenseCompliance = fraction("license_compliance", Catalog(assets),
    fractionSql("license_compliance",
      s"SELECT COUNT(*) FROM assets a WHERE origin = 'external' AND EXISTS (SELECT 1 FROM licenses l WHERE l.asset = a.asset AND l.permits_training AND l.expires > $AsOfSql)",
      "SELECT COUNT(*) FROM assets WHERE origin = 'external'",
      Seq(assets, licenses))) { (spark, _) =>
    val ext = col("origin") === "external"
    val lic = licenses.df(spark)
      .filter(col("permits_training") && col("expires") > lit(AsOf))
    (count_if(ext && inCatalog(col("asset"), lic.select("asset"))), count_if(ext))
  }

  /** #45 demographic_representation (yaml:189-191): per training dataset,
    * total-variation distance between the observed demographic distribution
    * and the declared target ≤ tolerance. Observed shares come from one
    * hash-agg pass over the data.
    */
  val demographicRepresentation = fraction("demographic_representation",
    Catalog(assets), {
      val obsCte =
        """obs AS (SELECT 'documents' AS dataset, lang AS category,
          |COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents) AS share
          |FROM documents GROUP BY lang)""".stripMargin.replace("\n", " ")
      val tvdCte =
        """tvd AS (SELECT COALESCE(o.dataset, t.dataset) AS dataset,
          |SUM(ABS(COALESCE(o.share, 0) - COALESCE(t.target_share, 0))) / 2 AS tvd
          |FROM obs o FULL JOIN population_dist t
          |ON o.dataset = t.dataset AND o.category = t.category
          |GROUP BY 1)""".stripMargin.replace("\n", " ")
      fractionSql("demographic_representation",
        "SELECT COUNT(*) FROM assets a WHERE training_data AND EXISTS (SELECT 1 FROM tvd v WHERE v.dataset = a.asset AND v.tvd <= 0.1)",
        "SELECT COUNT(*) FROM assets WHERE training_data",
        Seq(assets, populationDist), Seq(obsCte, tvdCte))
    }) { (spark, dir) =>
    val docs = table(spark, dir, "documents")
    val tot = docs.agg(count(lit(1)).as("total"))
    val obs = docs.groupBy(col("lang").as("category"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .select(lit("documents").as("dataset"), col("category"),
        (col("cnt").cast("double") / col("total")).as("share"))
    val tgt = populationDist.df(spark)
      .select(col("dataset"), col("category"), col("target_share"))
    val tvd = obs.join(tgt, Seq("dataset", "category"), "full_outer")
      .groupBy("dataset")
      .agg((sum(abs(coalesce(col("share"), lit(0.0)) -
        coalesce(col("target_share"), lit(0.0)))) / 2).as("tvd"))
    (count_if(col("training_data") &&
      col("asset").isin(tvd.filter(col("tvd") <= 0.1).select("dataset"))),
      count_if(col("training_data")))
  }

  /** #46 consent_coverage (yaml:193-195): personal-data records (customer)
    * with a valid, unexpired, AI-scoped legal basis. Consent is recorded per
    * subject cohort; the join is a broadcast against the record stream.
    */
  val consentCoverage = fraction("consent_coverage", Table("customer"),
    fractionSql("consent_coverage",
      s"SELECT COUNT(*) FROM customer c WHERE EXISTS (SELECT 1 FROM consent x WHERE x.cohort = c.c_custkey % 10 AND x.basis IS NOT NULL AND x.scope_ai AND x.expires_ts > $AsOfSql)",
      "SELECT COUNT(*) FROM customer", Seq(consent))) { (spark, _) =>
    val valid = consent.df(spark).filter(col("basis").isNotNull &&
      col("scope_ai") && col("expires_ts") > lit(AsOf))
    (count_if(inCatalog(col("c_custkey") % 10, valid.select("cohort"))),
      count(lit(1)))
  }

  /** #47 retention_policy (yaml:197-199): schedule declared AND enforced,
    * with a data probe where the asset has a known event-time column —
    * oldest record must be within the retention window at asOf.
    */
  val retentionPolicy = Check("retention_policy",
    (spark, dir) => {
      def mn(t: String, c: String) = table(spark, dir, t)
        .agg(min(col(c)).as("min_ts")).select(lit(t).as("asset"), col("min_ts"))
      val oldest = mn("events", "ts").unionAll(mn("orders", "o_orderdate"))
        .unionAll(mn("lineitem", "l_shipdate"))
      val probed = retention.df(spark).join(oldest, Seq("asset"), "left")
      fractionOf("retention_policy", probed,
        count_if(col("enforced") && (col("min_ts").isNull ||
          unix_timestamp(lit(AsOf)) - unix_timestamp(col("min_ts")) <=
            col("retention_days").cast("long") * 86400L)),
        lit(assets.rows.length.toLong))
    },
    Some {
      val oldestCte =
        """oldest AS (SELECT 'events' AS asset, MIN(ts) AS min_ts FROM events
          |UNION ALL SELECT 'orders', MIN(o_orderdate) FROM orders
          |UNION ALL SELECT 'lineitem', MIN(l_shipdate) FROM lineitem)"""
          .stripMargin.replace("\n", " ")
      fractionSql("retention_policy",
        s"SELECT COUNT(*) FROM retention r LEFT JOIN oldest o ON r.asset = o.asset WHERE r.enforced AND (o.min_ts IS NULL OR date_diff('second', o.min_ts, $AsOfSql) <= r.retention_days * 86400)",
        "SELECT COUNT(*) FROM assets",
        Seq(retention, assets), Seq(oldestCte))
    })

  /** Quasi-identifier columns per anonymized dataset (#48). The reference
    * leaves QI choice to the platform (`5-compliant.md:23` names
    * re-identification risk, not columns); fixed here per dataset.
    */
  private def kAnonGroups(spark: SparkSession, dir: String): Map[String, DataFrame] = Map(
    "customer" -> table(spark, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment").agg(count(lit(1)).as("csize")),
    "events" -> table(spark, dir, "events")
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("csize")))

  /** #48 anonymization_effectiveness (yaml:201-203): k-anonymity — risk =
    * fraction of records in equivalence classes smaller than k; dataset
    * passes if risk ≤ its declared threshold. One shuffle on the QI key per
    * dataset; partial aggregation makes it a single pass at scale.
    */
  val anonymizationEffectiveness = Check("anonymization_effectiveness",
    (spark, dir) => {
      // one config row per dataset, read on the driver
      val cfg = anonConfig.df(spark).collect()
        .map(r => r.getAs[String]("dataset") -> r).toMap
      val passes = kAnonGroups(spark, dir).toSeq.collect {
        case (name, grouped) if cfg.contains(name) =>
          val risk = sum(when(col("csize") < cfg(name).getAs[Int]("k"),
            col("csize")).otherwise(0L)).cast("double") / sum(col("csize"))
          grouped.agg((risk <= cfg(name).getAs[Double]("risk_threshold"))
            .as("ok"))
      }
      fractionOf("anonymization_effectiveness", passes.reduce(_ unionAll _),
        count_if(col("ok")), lit(anonConfig.rows.length.toLong))
    },
    Some {
      def riskSql(name: String, qi: String, tbl: String) =
        s"""SELECT '$name' AS dataset,
           |CAST(SUM(CASE WHEN csize < (SELECT k FROM anon_config WHERE dataset = '$name') THEN csize ELSE 0 END) AS DOUBLE) / SUM(csize) AS risk,
           |(SELECT risk_threshold FROM anon_config WHERE dataset = '$name') AS risk_threshold
           |FROM (SELECT COUNT(*) AS csize FROM $tbl GROUP BY $qi)"""
          .stripMargin.replace("\n", " ")
      val risksCte = "risks AS (" +
        riskSql("customer", "c_nationkey, c_mktsegment", "customer") +
        " UNION ALL " + riskSql("events", "event_type, user_id", "events") + ")"
      fractionSql("anonymization_effectiveness",
        "SELECT COUNT(*) FROM risks WHERE risk <= risk_threshold",
        "SELECT COUNT(*) FROM anon_config",
        Seq(anonConfig), Seq(risksCte))
    })

  val all: Seq[Check] = Seq(classification, fieldMasking, accessAuditCoverage,
    biasTestingCoverage, purposeLimitation, licenseCompliance,
    demographicRepresentation, consentCoverage, retentionPolicy,
    anonymizationEffectiveness)
}
