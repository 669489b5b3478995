package graft.model

/** Core data model of the assessment engine.
  *
  * The reference (`/root/reference/`, a documentation-only open standard)
  * defines: data products (`definitions.md:23-25`), data assets
  * (`definitions.md:29-31`), workloads (`definitions.md:35-39`), five factors
  * (`README.md:33-37`), and 48 requirements (`factors/requirements.yaml:7-203`)
  * whose checks all "return a `value` column (float, 0-1)"
  * (`factors/requirements.yaml:3`).
  */
sealed abstract class Workload(val name: String)
object Workload {
  case object Serving extends Workload("serving")
  case object Training extends Workload("training")
  val all: Seq[Workload] = Seq(Serving, Training)
}

/** One of the five factors (reference `README.md:33-37`). */
final case class Factor(id: Int, name: String)
object Factor {
  val Contextual = Factor(1, "contextual")
  val Consumable = Factor(2, "consumable")
  val Current    = Factor(3, "current")
  val Correlated = Factor(4, "correlated")
  val Compliant  = Factor(5, "compliant")
  val all = Seq(Contextual, Consumable, Current, Correlated, Compliant)
}

/** A requirement key from `factors/requirements.yaml` ("every requirement has
  * a unique key, a description, and a `workload` tag", reference `README.md:45`).
  */
final case class Requirement(
    key: String,
    factor: Factor,
    workloads: Set[Workload],
    description: String)

/** Uniform check-output row. Contract: `value` in [0,1], higher-is-better
  * (reference `factors/requirements.yaml:3`; direction per SURVEY.md §0 —
  * the referenced `meta.yaml` is absent, every description is a
  * higher-is-better fraction).
  */
final case class CheckResult(
    requirement: String,
    factor: Int,
    scope: String,
    hits: Long,
    population: Long,
    value: Double)

/** A data product: "a named, bounded set of data assets maintained by a
  * defined owner" (reference `definitions.md:23-25`).
  */
final case class DataProduct(
    name: String,
    owner: Option[String],
    assets: Seq[String],
    workload: Option[Workload])

/** Static registry: the 48 reference requirements — compiled from
  * `factors/requirements.yaml:7-203` (the YAML list IS the spec; no runtime
  * YAML parsing needed; workload tags grep-verified per SURVEY.md §2.A) —
  * plus one clearly-marked engine-defined extension (the reference
  * explicitly invites building on the standard: `README.md:43-45`
  * "automated assessments ... on top of the framework").
  */
object Registry {
  import Workload.{Serving => S, Training => T}
  private val ST: Set[Workload] = Set(S, T)
  private val So: Set[Workload] = Set(S)
  private val To: Set[Workload] = Set(T)

  val all: Seq[Requirement] = Seq(
    // Factor 1 — Contextual (yaml:8-39)
    Requirement("semantic_documentation", Factor.Contextual, ST,
      "Fraction of objects with machine-readable semantic descriptions"),
    Requirement("relationship_declaration", Factor.Contextual, ST,
      "Fraction of cross-entity references with explicit relationship declarations"),
    Requirement("entity_identifier_declaration", Factor.Contextual, ST,
      "Fraction of entities/datasets with declared primary or natural keys"),
    Requirement("temporal_scope_declaration", Factor.Contextual, ST,
      "Fraction of datasets with declared temporal validity windows"),
    Requirement("schema_type_coverage", Factor.Contextual, ST,
      "Fraction of fields with explicitly declared machine-readable types"),
    Requirement("business_glossary_linkage", Factor.Contextual, ST,
      "Fraction of fields linked to a business glossary term"),
    Requirement("constraint_declaration", Factor.Contextual, ST,
      "Fraction of fields with declared constraints"),
    Requirement("unit_of_measure_declaration", Factor.Contextual, ST,
      "Fraction of numeric fields with explicit unit of measure"),
    // Factor 2 — Consumable (yaml:41-88)
    Requirement("access_optimization", Factor.Consumable, ST,
      "Fraction of large tables with clustering keys"),
    Requirement("search_optimization", Factor.Consumable, So,
      "Fraction of tables with search optimization enabled"),
    Requirement("serving_latency_compliance", Factor.Consumable, So,
      "Fraction of serving endpoints meeting latency SLA at p99"),
    Requirement("embedding_coverage", Factor.Consumable, So,
      "Fraction of unstructured assets with pre-computed embeddings"),
    Requirement("feature_materialization_coverage", Factor.Consumable, ST,
      "Fraction of ML features materialized in both online and offline stores"),
    Requirement("native_format_availability", Factor.Consumable, ST,
      "Fraction of datasets in consumption-ready formats"),
    Requirement("vector_index_coverage", Factor.Consumable, So,
      "Fraction of embedding collections with a maintained vector index"),
    Requirement("chunk_readiness", Factor.Consumable, So,
      "Fraction of document assets pre-chunked to context-window-aligned sizes"),
    Requirement("batch_throughput_sufficiency", Factor.Consumable, To,
      "Fraction of training pipelines whose I/O throughput avoids compute idle"),
    Requirement("point_lookup_availability", Factor.Consumable, So,
      "Fraction of entity records accessible via low-latency key point lookups"),
    Requirement("retrieval_recall_compliance", Factor.Consumable, So,
      "Fraction of vector indexes achieving target recall at required latency"),
    Requirement("embedding_dimension_consistency", Factor.Consumable, So,
      "Fraction of collections with uniform dimensionality matching the model"),
    // Factor 3 — Current (yaml:90-125)
    Requirement("change_detection", Factor.Current, ST,
      "Fraction of tables with change tracking or streams enabled"),
    Requirement("data_freshness", Factor.Current, ST,
      "Fraction of SLA-declared assets within their freshness window"),
    Requirement("propagation_latency_compliance", Factor.Current, ST,
      "Fraction of pipelines whose end-to-end propagation latency meets SLA"),
    Requirement("point_in_time_correctness", Factor.Current, To,
      "Fraction of feature datasets supporting point-in-time joins"),
    Requirement("training_serving_parity", Factor.Current, ST,
      "Fraction of features with consistent batch vs real-time computation"),
    Requirement("feature_refresh_compliance", Factor.Current, So,
      "Fraction of served features within staleness tolerance"),
    Requirement("temporal_referential_integrity", Factor.Current, ST,
      "Fraction of records with valid event timestamps traceable to origin"),
    Requirement("schema_evolution_tracking", Factor.Current, ST,
      "Fraction of assets with automated schema change detection and history"),
    Requirement("incremental_update_coverage", Factor.Current, ST,
      "Fraction of pipelines using incremental processing vs full reload"),
    // Factor 4 — Correlated (yaml:127-162)
    Requirement("data_provenance", Factor.Correlated, ST,
      "Fraction of datasets with documented provenance"),
    Requirement("lineage_completeness", Factor.Correlated, ST,
      "Fraction of datasets with end-to-end dataset- and field-level lineage"),
    Requirement("data_version_coverage", Factor.Correlated, To,
      "Fraction of datasets with immutable version identifiers"),
    Requirement("agent_attribution", Factor.Correlated, ST,
      "Fraction of data modifications with a recorded responsible agent"),
    Requirement("pipeline_execution_audit", Factor.Correlated, ST,
      "Fraction of pipeline runs with immutable audit records"),
    Requirement("dependency_graph_completeness", Factor.Correlated, ST,
      "Fraction of datasets with fully enumerated upstream and downstream deps"),
    Requirement("record_level_traceability", Factor.Correlated, ST,
      "Fraction of records with a unique correlation id traceable to source"),
    Requirement("impact_analysis_capability", Factor.Correlated, ST,
      "Fraction of datasets whose downstream impact can be enumerated"),
    Requirement("transformation_documentation", Factor.Correlated, ST,
      "Fraction of transformations with documented logic, inputs, outputs"),
    // Factor 5 — Compliant (yaml:164-203)
    Requirement("classification", Factor.Compliant, ST,
      "Fraction of objects with governance tags applied"),
    Requirement("field_masking", Factor.Compliant, ST,
      "Fraction of PII columns with masking policies applied"),
    Requirement("access_audit_coverage", Factor.Compliant, ST,
      "Fraction of AI data-access events captured in immutable audit logs"),
    Requirement("bias_testing_coverage", Factor.Compliant, To,
      "Fraction of training datasets with statistical bias testing"),
    Requirement("purpose_limitation", Factor.Compliant, ST,
      "Fraction of access paths with declared and enforced AI purposes"),
    Requirement("license_compliance", Factor.Compliant, ST,
      "Fraction of external datasets with valid licenses permitting training"),
    Requirement("demographic_representation", Factor.Compliant, To,
      "Fraction of training datasets with measured demographic distribution"),
    Requirement("consent_coverage", Factor.Compliant, ST,
      "Fraction of personal-data records with valid legal basis"),
    Requirement("retention_policy", Factor.Compliant, ST,
      "Fraction of datasets with defined and enforced retention schedules"),
    Requirement("anonymization_effectiveness", Factor.Compliant, ST,
      "Fraction of anonymized datasets with re-identification risk <= threshold"),

    // ── ENGINE-DEFINED extension (not in requirements.yaml) ───────────
    // Factor 3's value-freshness checks gate on RECENCY; nothing in the
    // 48 gates on the POPULATION still being distributed like the one
    // models were validated on — the standard pre-retrain/pre-serve
    // monitor, making the drift tier load-bearing the way the #10/#15
    // witnesses are. Scored like every other requirement
    // (fraction of monitored assets within their engine drift bar,
    // substrate.Drift.{PsiBar,MeanShiftBar} — THRESHOLDS.md).
    Requirement("distribution_currency", Factor.Current, ST,
      "Fraction of monitored assets whose distribution drift is within the engine bar"))

  val byKey: Map[String, Requirement] = all.map(r => r.key -> r).toMap
  require(all.size == 49,
    s"registry must hold the 48 reference requirements + 1 engine-defined, got ${all.size}")

  /** The engine-defined rows, named once (composing the 49th
    * requirement into the scorecards changes the reference-facing
    * denominator — tagging the row lets consumers, and the
    * `factor_rollup_reference` entry, reproduce the pure-48 numbers a
    * reference implementation would emit).
    */
  val extensionKeys: Set[String] = Set("distribution_currency")
  // a renamed/typo'd extension key would silently tag NOTHING: every row
  // keeps extension=false in BOTH engines, the NOT-extension filter keeps
  // all 49 rows, and factor_rollup_reference ships a 49-denominator
  // number as the pure-48 rollup — still hash-green, so fail here
  require(extensionKeys.subsetOf(all.map(_.key).toSet),
    s"extensionKeys must name registry rows: ${extensionKeys -- all.map(_.key).toSet} unknown")

  /** Requirements applicable to a workload, honoring additivity
    * (`definitions.md:39`): meeting a stricter workload implies meeting the
    * less strict ones — selection is simple tag membership.
    */
  def forWorkload(w: Workload): Seq[Requirement] = all.filter(_.workloads.contains(w))
}
