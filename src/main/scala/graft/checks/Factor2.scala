package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Fixtures._
import graft.checks.CheckDsl._
import graft.checks.Source.{Catalog, Table}

/** Factor 2 — Consumable: "served in the right format and at the right
  * latencies" (reference `factors/2-consumable.md:3`; stanzas
  * `factors/requirements.yaml:41-88`). Checks #9-#20 of SURVEY.md §2.A.
  *
  * #19 (LSH recall) lives in VectorTier with the deterministic BrpLsh
  * oracle.
  */
object Factor2 {

  /** An asset has an index artifact (a `collection`, `built_at` catalog)
    * built no earlier than its last modification.
    */
  private def freshArtifact(index: DataFrame) =
    index.where(col("collection") === col("asset").outer() &&
      col("built_at") >= col("last_modified").outer()).exists()

  /** #9 access_optimization (yaml:42-44): large tables (bytes > 1 MB here;
    * a config knob in production) must declare clustering/layout keys.
    */
  val accessOptimization = fraction("access_optimization", Catalog(assets),
    fractionSql("access_optimization",
      "SELECT COUNT(*) FROM assets WHERE bytes > 1000000 AND len(layout_keys) > 0",
      "SELECT COUNT(*) FROM assets WHERE bytes > 1000000", Seq(assets))) { (_, _) =>
    val large = col("bytes") > 1000000L
    (count_if(large && size(col("layout_keys")) > 0), count_if(large))
  }

  /** #10 search_optimization (yaml:46-48): population = text-bearing
    * tables; a hit needs the catalog flag AND a registered search-index
    * artifact at least as fresh as the asset (the load-bearing witness —
    * #15's vector_indexes precedent, VERDICT r8 #8): the flag alone no
    * longer scores, the InvertedIndex companion's catalog row must exist.
    */
  val searchOptimization = fraction("search_optimization", Catalog(assets),
    fractionSql("search_optimization",
      "SELECT COUNT(*) FROM assets a WHERE a.text_bearing AND a.search_index AND EXISTS (SELECT 1 FROM search_indexes si WHERE si.collection = a.asset AND si.built_at >= a.last_modified)",
      "SELECT COUNT(*) FROM assets WHERE text_bearing",
      Seq(assets, searchIndexes))) { (spark, _) =>
    (count_if(col("text_bearing") && col("search_index") &&
      freshArtifact(searchIndexes.df(spark))), count_if(col("text_bearing")))
  }

  /** #11 serving_latency_compliance (yaml:50-52): p99 per endpoint vs SLA.
    * p99 is EXACT and engine-portable: smallest latency whose cume_dist
    * ≥ 0.99 (`percentile_approx` would not hash-match an exact oracle).
    * Distributes as one shuffle on endpoint + window sort within partition.
    */
  val servingLatencyCompliance = Check("serving_latency_compliance",
    (spark, _) => {
      val lat = endpointsLatency.df(spark)
      val w = Window.partitionBy("endpoint").orderBy("latency_ms")
      val p99 = lat.withColumn("cd", cume_dist().over(w))
        .filter(col("cd") >= 0.99)
        .groupBy("endpoint").agg(min("latency_ms").as("p99"))
      // p99 is unique per endpoint: every SLA row stays exactly once
      fractionOf("serving_latency_compliance",
        endpointSla.df(spark).join(broadcast(p99), Seq("endpoint"), "left"),
        count_if(col("p99") <= col("sla_ms")), count(lit(1)))
    },
    Some {
      val p99Cte =
        """p99s AS (SELECT endpoint, MIN(latency_ms) AS p99 FROM (
          |SELECT endpoint, latency_ms,
          |cume_dist() OVER (PARTITION BY endpoint ORDER BY latency_ms) AS cd
          |FROM endpoints_latency) WHERE cd >= 0.99 GROUP BY endpoint)"""
          .stripMargin.replace("\n", " ")
      fractionSql("serving_latency_compliance",
        "SELECT COUNT(*) FROM p99s p JOIN endpoint_sla s ON p.endpoint = s.endpoint WHERE p.p99 <= s.sla_ms",
        "SELECT COUNT(*) FROM endpoint_sla",
        Seq(endpointsLatency, endpointSla), Seq(p99Cte))
    })

  /** #12 embedding_coverage (yaml:54-56): documents with a pre-computed
    * embedding. Data-probing: semi join documents → embeddings. At scale
    * this is the one Factor-2 check that shuffles two big tables; both
    * sides are pre-bucketable on the id.
    */
  val embeddingCoverage = fraction("embedding_coverage", Table("documents"),
    fractionSql("embedding_coverage",
      "SELECT COUNT(*) FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings)",
      "SELECT COUNT(*) FROM documents", Nil)) { (spark, dir) =>
    (count_if(col("doc_id").isin(table(spark, dir, "embeddings").select("vec_id"))),
      count(lit(1)))
  }

  /** #13 feature_materialization_coverage (yaml:58-60): features present in
    * BOTH online and offline stores.
    */
  val featureMaterializationCoverage = Check("feature_materialization_coverage",
    (spark, _) => {
      val perFeature = featureCatalog.df(spark).groupBy("feature")
        .agg(countDistinct("store").as("stores"))
      fractionOf("feature_materialization_coverage", perFeature,
        count_if(col("stores") === 2), count(lit(1)))
    },
    Some(fractionSql("feature_materialization_coverage",
      "SELECT COUNT(*) FROM (SELECT feature FROM feature_catalog GROUP BY feature HAVING COUNT(DISTINCT store) = 2)",
      "SELECT COUNT(DISTINCT feature) FROM feature_catalog",
      Seq(featureCatalog))))

  /** #14 native_format_availability (yaml:62-64; formats per
    * `2-consumable.md:17`: "Native formats (Parquet, JSON, vectors)").
    */
  val nativeFormatAvailability = fraction("native_format_availability",
    Catalog(assets), fractionSql("native_format_availability",
      "SELECT COUNT(*) FROM assets WHERE format IN ('parquet', 'json', 'vector')",
      "SELECT COUNT(*) FROM assets", Seq(assets))) { (_, _) =>
    (count_if(col("format").isin("parquet", "json", "vector")), count(lit(1)))
  }

  /** #15 vector_index_coverage (yaml:66-68): embedding collections with a
    * registered index artifact at least as fresh as the collection.
    */
  val vectorIndexCoverage = fraction("vector_index_coverage", Catalog(assets),
    fractionSql("vector_index_coverage",
      "SELECT COUNT(*) FROM assets a WHERE kind = 'collection' AND format = 'vector' AND EXISTS (SELECT 1 FROM vector_indexes vi WHERE vi.collection = a.asset AND vi.built_at >= a.last_modified)",
      "SELECT COUNT(*) FROM assets WHERE kind = 'collection' AND format = 'vector'",
      Seq(assets, vectorIndexes))) { (spark, _) =>
    val colls = col("kind") === "collection" && col("format") === "vector"
    (count_if(colls && freshArtifact(vectorIndexes.df(spark))), count_if(colls))
  }

  /** #16 chunk_readiness (yaml:70-72): documents chunked with every chunk
    * within the context window. Unchunked documents count 0 (left join from
    * documents).
    */
  val chunkReadiness = fraction("chunk_readiness", Table("documents"),
    fractionSql("chunk_readiness",
      s"SELECT COUNT(*) FROM documents WHERE doc_id IN (SELECT doc_id FROM chunks GROUP BY doc_id HAVING MAX(chunk_tokens) <= $CtxWindowTokens)",
      "SELECT COUNT(*) FROM documents", Seq(chunks))) { (spark, _) =>
    val ok = chunks.df(spark).groupBy("doc_id")
      .agg(max("chunk_tokens").as("mx"))
      .filter(col("mx") <= CtxWindowTokens)
    (count_if(inCatalog(col("doc_id"), ok.select("doc_id"))), count(lit(1)))
  }

  /** #17 batch_throughput_sufficiency (yaml:74-76): latest run's measured
    * throughput vs required ("I/O bottlenecks cause expensive GPU idle
    * time", `2-consumable.md:25`).
    */
  val batchThroughputSufficiency = Check("batch_throughput_sufficiency",
    (spark, _) => {
      val w = Window.partitionBy("pipeline").orderBy(col("start_ts").desc)
      val latest = pipelineRuns.df(spark)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("pipeline", "measured_mbps")
      val training = pipelines.df(spark)
        .filter(col("kind") === "training" && col("required_mbps").isNotNull)
      // one latest run per pipeline: every training row stays exactly once
      fractionOf("batch_throughput_sufficiency",
        training.join(broadcast(latest), Seq("pipeline"), "left"),
        count_if(col("measured_mbps") >= col("required_mbps")), count(lit(1)))
    },
    Some {
      val latestCte =
        """latest AS (SELECT pipeline, measured_mbps FROM (
          |SELECT pipeline, measured_mbps,
          |ROW_NUMBER() OVER (PARTITION BY pipeline ORDER BY start_ts DESC) AS rn
          |FROM pipeline_runs) WHERE rn = 1)""".stripMargin.replace("\n", " ")
      fractionSql("batch_throughput_sufficiency",
        "SELECT COUNT(*) FROM pipelines p JOIN latest l ON p.pipeline = l.pipeline WHERE p.kind = 'training' AND p.required_mbps IS NOT NULL AND l.measured_mbps >= p.required_mbps",
        "SELECT COUNT(*) FROM pipelines WHERE kind = 'training' AND required_mbps IS NOT NULL",
        Seq(pipelines, pipelineRuns), Seq(latestCte))
    })

  /** #18 point_lookup_availability (yaml:78-80): records of key-addressable
    * stores whose key is non-null and unique. Grain = record: one row per
    * key of either store carries its record count, so the population is
    * the sum of the counts and a hit is a key with exactly one record.
    */
  val pointLookupAvailability = Check("point_lookup_availability",
    (spark, dir) => {
      val cust = table(spark, dir, "customer").groupBy("c_custkey").count()
        .select((col("c_custkey").isNotNull && col("count") === 1).as("unique"),
          col("count"))
      val onf = onlineFeatures.df(spark).groupBy("entity_id", "feature").count()
        .select((col("count") === 1).as("unique"), col("count"))
      fractionOf("point_lookup_availability", cust.unionAll(onf),
        count_if(col("unique")), coalesce(sum("count"), lit(0L)))
    },
    Some(fractionSql("point_lookup_availability",
      "SELECT (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL GROUP BY c_custkey HAVING COUNT(*) = 1)) + (SELECT COUNT(*) FROM (SELECT entity_id, feature FROM online_features GROUP BY entity_id, feature HAVING COUNT(*) = 1))",
      "SELECT (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM online_features)",
      Seq(onlineFeatures))))

  /** #20 embedding_dimension_consistency (yaml:86-88): every collection
    * uniform-dim and matching the consuming model's dim.
    */
  val embeddingDimensionConsistency = Check("embedding_dimension_consistency",
    (spark, dir) => {
      val e = table(spark, dir, "embeddings")
        .agg(countDistinct(size(col("embedding"))).as("ndim"),
          max(size(col("embedding"))).as("dim"))
      val x = extraVectors.df(spark)
        .agg(countDistinct(size(col("embedding"))).as("ndim"),
          max(size(col("embedding"))).as("dim"))
      fractionOf("embedding_dimension_consistency", e.unionAll(x),
        count_if(col("ndim") === 1 && col("dim") === ModelDim), count(lit(1)))
    },
    Some(fractionSql("embedding_dimension_consistency",
      s"SELECT COUNT(*) FROM (SELECT COUNT(DISTINCT len(embedding)) AS ndim, MAX(len(embedding)) AS dim FROM embeddings UNION ALL SELECT COUNT(DISTINCT len(embedding)), MAX(len(embedding)) FROM extra_vectors) WHERE ndim = 1 AND dim = $ModelDim",
      "SELECT 2", // two collections by construction: embeddings + extra_vectors
      Seq(extraVectors))))

  val all: Seq[Check] = Seq(accessOptimization, searchOptimization,
    servingLatencyCompliance, embeddingCoverage,
    featureMaterializationCoverage, nativeFormatAvailability,
    vectorIndexCoverage, chunkReadiness, batchThroughputSufficiency,
    pointLookupAvailability, embeddingDimensionConsistency)
}
