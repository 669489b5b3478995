package graft.checks

import org.apache.spark.sql.functions._

import graft.catalog.Fixtures._
import graft.checks.CheckDsl._
import graft.checks.Source.Catalog

/** Factor 1 — Contextual: "Meaning is explicit and colocated with the data"
  * (reference `factors/1-contextual.md:3`; requirement stanzas
  * `factors/requirements.yaml:8-39`). Checks #1-#8 of SURVEY.md §2.A.
  *
  * All eight are metadata-coverage fractions over the asset/column catalogs
  * — broadcast-size inputs, no shuffle of fact data at any scale.
  */
object Factor1 {

  private val docCond = "description IS NOT NULL AND length(trim(description)) > 0"

  /** #1 semantic_documentation (yaml:9-11): objects = tables ∪ columns. */
  val semanticDocumentation = Check("semantic_documentation",
    (spark, _) => {
      val objects = assets.df(spark).select(col("description"))
        .unionAll(columns.df(spark).select(col("description")))
      fractionOf("semantic_documentation", catalogOnly(objects),
        count_if(expr(docCond)), count(lit(1)))
    },
    Some(fractionSql("semantic_documentation",
      s"SELECT COUNT(*) FROM (SELECT description FROM assets UNION ALL SELECT description FROM columns) WHERE $docCond",
      "SELECT (SELECT COUNT(*) FROM assets) + (SELECT COUNT(*) FROM columns)",
      Seq(assets, columns))))

  /** #2 relationship_declaration (yaml:13-15). Candidate cross-entity
    * references are discovered structurally: a column whose de-prefixed stem
    * (`l_orderkey` → `orderkey`) matches another asset's declared key stem is
    * a candidate FK; score = declared / candidates.
    */
  val relationshipDeclaration = Check("relationship_declaration",
    (spark, _) => {
      val cols = columns.df(spark)
        .select(col("asset"), col("column_name"),
          regexp_replace(col("column_name"), "^[a-z]+_", "").as("stem"))
        .filter(col("stem").endsWith("key"))
      val keys = keyDeclarations.df(spark)
        .select(col("asset").as("dst_asset"), col("key_column").as("dst_column"),
          regexp_replace(col("key_column"), "^[a-z]+_", "").as("kstem"))
      val candidates = cols
        .join(broadcast(keys), cols("stem") === keys("kstem") &&
          cols("asset") =!= keys("dst_asset"))
        .select(col("asset").as("src_asset"), col("column_name").as("src_column"),
          col("dst_asset"), col("dst_column"))
      val declared = inCatalog(struct(col("src_asset"), col("src_column"),
        col("dst_asset"), col("dst_column")), relationships.df(spark)
        .select("src_asset", "src_column", "dst_asset", "dst_column"))
      fractionOf("relationship_declaration", catalogOnly(candidates),
        count_if(declared), count(lit(1)))
    },
    Some {
      val candSql =
        """SELECT c.asset AS src_asset, c.column_name AS src_column,
          |k.asset AS dst_asset, k.key_column AS dst_column
          |FROM columns c JOIN key_declarations k
          |ON regexp_replace(c.column_name, '^[a-z]+_', '') =
          |   regexp_replace(k.key_column, '^[a-z]+_', '')
          |AND c.asset <> k.asset
          |WHERE regexp_replace(c.column_name, '^[a-z]+_', '') LIKE '%key'"""
          .stripMargin.replace("\n", " ")
      fractionSql("relationship_declaration",
        s"SELECT COUNT(*) FROM ($candSql) cand WHERE EXISTS (SELECT 1 FROM relationships r WHERE r.src_asset = cand.src_asset AND r.src_column = cand.src_column AND r.dst_asset = cand.dst_asset AND r.dst_column = cand.dst_column)",
        s"SELECT COUNT(*) FROM ($candSql) cand",
        Seq(columns, keyDeclarations, relationships))
    })

  /** #3 entity_identifier_declaration (yaml:17-19). */
  val entityIdentifierDeclaration = fraction("entity_identifier_declaration",
    Catalog(assets), fractionSql("entity_identifier_declaration",
      "SELECT COUNT(*) FROM assets a WHERE EXISTS (SELECT 1 FROM key_declarations k WHERE k.asset = a.asset)",
      "SELECT COUNT(*) FROM assets",
      Seq(assets, keyDeclarations))) { (spark, _) =>
    (count_if(inCatalog(col("asset"), keyDeclarations.df(spark).select("asset"))),
      count(lit(1)))
  }

  /** #4 temporal_scope_declaration (yaml:21-23): declared valid-time window. */
  val temporalScopeDeclaration = fraction("temporal_scope_declaration",
    Catalog(assets), fractionSql("temporal_scope_declaration",
      "SELECT COUNT(*) FROM assets WHERE valid_from IS NOT NULL",
      "SELECT COUNT(*) FROM assets", Seq(assets))) { (_, _) =>
    (count_if(col("valid_from").isNotNull), count(lit(1)))
  }

  /** #5 schema_type_coverage (yaml:25-27). */
  val schemaTypeCoverage = fraction("schema_type_coverage", Catalog(columns),
    fractionSql("schema_type_coverage",
      "SELECT COUNT(*) FROM columns WHERE declared",
      "SELECT COUNT(*) FROM columns", Seq(columns))) { (_, _) =>
    (count_if(col("declared")), count(lit(1)))
  }

  /** #6 business_glossary_linkage (yaml:29-31): link must RESOLVE (dangling
    * term ids don't count).
    */
  val businessGlossaryLinkage = fraction("business_glossary_linkage",
    Catalog(columns), fractionSql("business_glossary_linkage",
      "SELECT COUNT(*) FROM columns c WHERE EXISTS (SELECT 1 FROM glossary g WHERE g.term_id = c.glossary_term_id)",
      "SELECT COUNT(*) FROM columns", Seq(columns, glossary))) { (spark, _) =>
    (count_if(inCatalog(col("glossary_term_id"),
      glossary.df(spark).select("term_id"))),
      count(lit(1)))
  }

  /** #7 constraint_declaration (yaml:33-35): fields with ≥1 declared
    * constraint. (Constraint *validation* against data is the
    * `constraint_validation` extension query.)
    */
  val constraintDeclaration = fraction("constraint_declaration",
    Catalog(columns), fractionSql("constraint_declaration",
      "SELECT COUNT(*) FROM columns c WHERE EXISTS (SELECT 1 FROM constraints x WHERE x.asset = c.asset AND x.column_name = c.column_name)",
      "SELECT COUNT(*) FROM columns", Seq(columns, constraints))) { (spark, _) =>
    (count_if(inCatalog(struct(col("asset"), col("column_name")),
      constraints.df(spark).select("asset", "column_name"))), count(lit(1)))
  }

  /** #8 unit_of_measure_declaration (yaml:37-39): population = numeric
    * measure fields.
    */
  val unitOfMeasureDeclaration = fraction("unit_of_measure_declaration",
    Catalog(columns), fractionSql("unit_of_measure_declaration",
      "SELECT COUNT(*) FROM columns WHERE is_numeric AND unit IS NOT NULL",
      "SELECT COUNT(*) FROM columns WHERE is_numeric", Seq(columns))) { (_, _) =>
    (count_if(col("is_numeric") && col("unit").isNotNull),
      count_if(col("is_numeric")))
  }

  val all: Seq[Check] = Seq(semanticDocumentation, relationshipDeclaration,
    entityIdentifierDeclaration, temporalScopeDeclaration, schemaTypeCoverage,
    businessGlossaryLinkage, constraintDeclaration, unitOfMeasureDeclaration)
}
