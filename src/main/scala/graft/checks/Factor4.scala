package graft.checks

import org.apache.spark.sql.functions._

import graft.catalog.Fixtures._
import graft.checks.CheckDsl._
import graft.checks.Source.Catalog
import graft.substrate.Graph

/** Factor 4 — Correlated: "traceable from source to every decision it
  * informs" (reference `factors/4-correlated.md:3`; stanzas
  * `factors/requirements.yaml:127-162`). Checks #30-#38 of SURVEY.md §2.A.
  *
  * The lineage checks (#31, #37) run genuine transitive closure over the
  * edge catalog (semi-naive iteration, cycle-safe — see substrate.Graph);
  * their DuckDB oracles use the equivalent recursive CTE.
  */
object Factor4 {

  private def datasetEdges(spark: org.apache.spark.sql.SparkSession) =
    lineageEdges.df(spark).filter(col("grain") === "dataset")
      .select(col("src"), col("dst"))

  /** #30 data_provenance (yaml:128-130): origin system + collection method
    * + upstream lineage all documented.
    */
  val dataProvenance = fraction("data_provenance", Catalog(assets),
    fractionSql("data_provenance",
      "SELECT COUNT(*) FROM assets a WHERE origin_system IS NOT NULL AND collection_method IS NOT NULL AND EXISTS (SELECT 1 FROM lineage_edges e WHERE e.dst = a.asset AND e.grain = 'dataset')",
      "SELECT COUNT(*) FROM assets", Seq(assets, lineageEdges))) { (spark, _) =>
    (count_if(col("origin_system").isNotNull &&
      col("collection_method").isNotNull &&
      inCatalog(col("asset"), datasetEdges(spark).select("dst"))), count(lit(1)))
  }

  /** #31 lineage_completeness (yaml:132-134): dataset-grain reachability
    * from a source-system node (transitive) AND at least one field-grain
    * edge — "dataset AND field level".
    */
  val lineageCompleteness = Check("lineage_completeness",
    (spark, _) => {
      // both right sides are unique per node: every asset stays once
      val reach = Graph.reachable(datasetEdges(spark),
        lineageSources.df(spark)).select(col("node").as("asset"),
        lit(true).as("reached"))
      val fieldDst = lineageEdges.df(spark).filter(col("grain") === "field")
        .select(col("dst").as("asset")).distinct()
        .withColumn("has_field", lit(true))
      fractionOf("lineage_completeness", assets.df(spark)
          .join(broadcast(reach), Seq("asset"), "left")
          .join(broadcast(fieldDst), Seq("asset"), "left"),
        count_if(col("reached").isNotNull && col("has_field").isNotNull),
        count(lit(1)))
    },
    Some {
      val reachCte =
        """reach(node) AS (SELECT node FROM lineage_sources
          |UNION SELECT e.dst FROM lineage_edges e JOIN reach r
          |ON e.src = r.node WHERE e.grain = 'dataset')"""
          .stripMargin.replace("\n", " ")
      fractionSql("lineage_completeness",
        "SELECT COUNT(*) FROM assets a WHERE EXISTS (SELECT 1 FROM reach r WHERE r.node = a.asset) AND EXISTS (SELECT 1 FROM lineage_edges e WHERE e.dst = a.asset AND e.grain = 'field')",
        "SELECT COUNT(*) FROM assets",
        Seq(assets, lineageEdges, lineageSources), Seq(reachCte))
    })

  /** #32 data_version_coverage (yaml:136-138): immutable version ids. */
  val dataVersionCoverage = fraction("data_version_coverage", Catalog(assets),
    fractionSql("data_version_coverage",
      "SELECT COUNT(*) FROM assets WHERE version_id IS NOT NULL AND immutable",
      "SELECT COUNT(*) FROM assets", Seq(assets))) { (_, _) =>
    (count_if(col("version_id").isNotNull && col("immutable")), count(lit(1)))
  }

  /** #33 agent_attribution (yaml:140-142): runs are the modification log. */
  val agentAttribution = fraction("agent_attribution", Catalog(pipelineRuns),
    fractionSql("agent_attribution",
      "SELECT COUNT(*) FROM pipeline_runs WHERE agent IS NOT NULL",
      "SELECT COUNT(*) FROM pipeline_runs", Seq(pipelineRuns))) { (_, _) =>
    (count_if(col("agent").isNotNull), count(lit(1)))
  }

  /** #34 pipeline_execution_audit (yaml:144-146): inputs, parameters,
    * outputs, completion status all recorded.
    */
  val pipelineExecutionAudit = fraction("pipeline_execution_audit",
    Catalog(pipelineRuns), fractionSql("pipeline_execution_audit",
      "SELECT COUNT(*) FROM pipeline_runs WHERE len(inputs) > 0 AND params IS NOT NULL AND len(outputs) > 0 AND status IS NOT NULL",
      "SELECT COUNT(*) FROM pipeline_runs", Seq(pipelineRuns))) { (_, _) =>
    (count_if(size(col("inputs")) > 0 && col("params").isNotNull &&
      size(col("outputs")) > 0 && col("status").isNotNull), count(lit(1)))
  }

  /** #35 dependency_graph_completeness (yaml:148-150): upstream AND
    * downstream fully enumerated.
    */
  val dependencyGraphCompleteness = fraction("dependency_graph_completeness",
    Catalog(assets), fractionSql("dependency_graph_completeness",
      "SELECT COUNT(*) FROM assets WHERE upstream_enumerated AND downstream_enumerated",
      "SELECT COUNT(*) FROM assets", Seq(assets))) { (_, _) =>
    (count_if(col("upstream_enumerated") && col("downstream_enumerated")),
      count(lit(1)))
  }

  /** #36 record_level_traceability (yaml:152-154): record grain on the
    * events stream — correlation id non-null AND unique. A column-pruned
    * single-pass groupBy at any scale (map-side partial agg); the records
    * are the sum of the per-id counts.
    */
  val recordLevelTraceability = Check("record_level_traceability",
    (spark, dir) => {
      val perId = table(spark, dir, "events").groupBy("event_id").count()
      fractionOf("record_level_traceability", perId,
        count_if(col("event_id").isNotNull && col("count") === 1),
        coalesce(sum("count"), lit(0L)))
    },
    Some(fractionSql("record_level_traceability",
      "SELECT COUNT(*) FROM (SELECT event_id FROM events WHERE event_id IS NOT NULL GROUP BY event_id HAVING COUNT(*) = 1)",
      "SELECT COUNT(*) FROM events", Nil)))

  /** #37 impact_analysis_capability (yaml:156-158): downstream impact is
    * automatically enumerable — the dataset participates in the lineage
    * graph (its closure is computable; cycle-guarded by construction).
    */
  val impactAnalysisCapability = fraction("impact_analysis_capability",
    Catalog(assets), fractionSql("impact_analysis_capability",
      "SELECT COUNT(*) FROM assets a WHERE EXISTS (SELECT 1 FROM (SELECT src AS node FROM lineage_edges WHERE grain = 'dataset' UNION SELECT dst FROM lineage_edges WHERE grain = 'dataset') n WHERE n.node = a.asset)",
      "SELECT COUNT(*) FROM assets", Seq(assets, lineageEdges))) { (spark, _) =>
    val de = datasetEdges(spark)
    (count_if(inCatalog(col("asset"), de.select("src"), de.select("dst"))),
      count(lit(1)))
  }

  /** #38 transformation_documentation (yaml:160-162). */
  val transformationDocumentation = fraction("transformation_documentation",
    Catalog(transformations), fractionSql("transformation_documentation",
      "SELECT COUNT(*) FROM transformations WHERE logic_doc IS NOT NULL AND len(inputs) > 0 AND len(outputs) > 0",
      "SELECT COUNT(*) FROM transformations", Seq(transformations))) { (_, _) =>
    (count_if(col("logic_doc").isNotNull && size(col("inputs")) > 0 &&
      size(col("outputs")) > 0), count(lit(1)))
  }

  /** Extension operator `lineage_impact`: the FULL downstream transitive
    * closure as (asset, downstream) pairs — what #37 scores the existence
    * of, enumerated (reference `4-correlated.md:15` "impact analysis").
    * Multi-row output; oracle = recursive CTE.
    */
  val lineageImpact = Check("lineage_impact",
    (spark, _) => {
      Graph.closure(datasetEdges(spark))
        .toDF("asset", "downstream")
        .orderBy("asset", "downstream")
    },
    Some {
      val cte =
        """closure(asset, downstream) AS (
          |SELECT src, dst FROM lineage_edges WHERE grain = 'dataset'
          |UNION SELECT c.asset, e.dst FROM closure c
          |JOIN lineage_edges e ON e.src = c.downstream
          |WHERE e.grain = 'dataset')""".stripMargin.replace("\n", " ")
      graft.catalog.Fixture.oracle(Seq(lineageEdges),
        "SELECT asset, downstream FROM closure ORDER BY asset, downstream",
        Seq(cte))
    },
    isScore = false)

  val all: Seq[Check] = Seq(dataProvenance, lineageCompleteness,
    dataVersionCoverage, agentAttribution, pipelineExecutionAudit,
    dependencyGraphCompleteness, recordLevelTraceability,
    impactAnalysisCapability, transformationDocumentation, lineageImpact)
}
