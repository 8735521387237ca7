package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{GoldDims, GoldFacts, SilverTransforms}
import graft.quality.Checks
import graft.sources.{Ingest, Tables}

/** Concurrent stage runner — the in-process equivalent of the reference's
  * Databricks Workflows DAG (`databricks.yml:69-205`: 4 bronze → 4 silver
  * → gold → DQ gate, each layer's tasks side by side), with tables as the
  * only handoff between stages (SURVEY §3.4).
  */
object Runner {

  final case class Stage(name: String, deps: Seq[String], run: SparkSession => Unit)
  final case class StageResult(name: String, ok: Boolean, seconds: Double, error: Option[String])

  /** Run each stage concurrently with the others, as soon as all its
    * dependencies have finished ([[TaskGraph]], one thread per stage); a
    * failed stage skips its descendants only, while independent subtrees
    * still run (fail-fast per subtree, like Workflows). Results come back
    * in input order. Each stage's Spark jobs carry the stage name as job
    * description and a `stage:<name>` job tag, so listeners and the UI
    * charge them to the right stage while stages overlap. */
  def run(spark: SparkSession, stages: Seq[Stage]): Seq[StageResult] = {
    val index = stages.map(_.name).zipWithIndex.toMap
    require(index.size == stages.size, "duplicate stage names")
    stages.foreach(s => s.deps.foreach(d =>
      require(index.contains(d), s"stage ${s.name} depends on unknown stage $d")))
    val sc = spark.sparkContext
    TaskGraph.run(sc, stages.toIndexedSeq.map { st =>
      TaskGraph.Task[StageResult](st.deps.map(index), upstream =>
        if (upstream.exists(!_.ok))
          StageResult(st.name, ok = false, 0.0, Some("skipped: upstream failure"))
        else {
          val t0 = System.nanoTime()
          try {
            sc.setJobDescription(st.name)
            sc.addJobTag(s"stage:${st.name}")
            st.run(spark)
            StageResult(st.name, ok = true, (System.nanoTime() - t0) / 1e9, None)
          } catch { case e: Throwable =>
            StageResult(st.name, ok = false, (System.nanoTime() - t0) / 1e9,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
        })
    })
  }

  /** The full medallion pipeline over a directory of raw CSVs
    * (`raw_{policies,claims,premiums,properties}.csv`), mirroring the
    * reference job DAG task-for-task. */
  def medallionStages(rawDir: String, db: String): Seq[Stage] = {
    def bronze(name: String, schema: org.apache.spark.sql.types.StructType) =
      Stage(s"bronze_$name", Nil, s => {
        Tables.ensureDatabase(s, db)
        Tables.dropTable(s, s"$db.bronze_$name")
        Ingest.ingestBatch(s, s"$rawDir/raw_$name.csv", schema, s"$db.bronze_$name")
      })
    def silver(name: String, transform: DataFrame => DataFrame) =
      Stage(s"silver_$name", Seq(s"bronze_$name"), s =>
        Tables.overwrite(transform(s.read.table(s"$db.bronze_$name")), s"$db.silver_$name"))
    Seq(
      bronze("policies", Schemas.rawPolicies),
      bronze("claims", Schemas.rawClaims),
      bronze("premiums", Schemas.rawPremiums),
      bronze("properties", Schemas.rawProperties),
      silver("policies", df => SilverTransforms.transformPolicies(df)),
      silver("claims", df => SilverTransforms.transformClaims(df)),
      silver("premiums", df => SilverTransforms.transformPremiums(df)),
      silver("properties", df => SilverTransforms.transformProperties(df)),
      Stage("gold_dim_policy", Seq("silver_policies", "silver_premiums"), s => {
        val summary = GoldDims.buildPremiumSummary(s.read.table(s"$db.silver_premiums"))
        val dim = GoldDims.buildDimPolicy(s.read.table(s"$db.silver_policies"), summary)
        Tables.scd2Apply(s, s"$db.dim_policy", dim, Seq("policy_id"), Scd2TrackedCols)
      }),
      Stage("gold_dim_property", Seq("silver_properties"), s =>
        Tables.overwrite(GoldDims.buildDimProperty(s.read.table(s"$db.silver_properties")),
          s"$db.dim_property")),
      Stage("gold_dim_coverage", Seq("silver_policies"), s =>
        Tables.overwrite(GoldDims.buildDimCoverage(s.read.table(s"$db.silver_policies")),
          s"$db.dim_coverage")),
      Stage("gold_dim_date", Nil, s =>
        Tables.overwrite(GoldDims.buildDimDate(s), s"$db.dim_date")),
      Stage("gold_fact_claims", Seq("silver_claims", "silver_policies", "silver_properties"), s =>
        Tables.overwritePartitioned(
          GoldFacts.buildFactClaims(s.read.table(s"$db.silver_claims"),
            s.read.table(s"$db.silver_policies"), s.read.table(s"$db.silver_properties")),
          s"$db.fact_claims", Seq("property_state"))),
      Stage("gold_fact_premiums", Seq("silver_premiums", "silver_policies"), s =>
        Tables.overwrite(GoldFacts.buildFactPremiums(s.read.table(s"$db.silver_premiums"),
          s.read.table(s"$db.silver_policies")), s"$db.fact_premiums")),
      Stage("dq_gate",
        Seq("gold_dim_policy", "gold_fact_claims", "gold_fact_premiums"), s => {
          val results = Checks.validatePolicies(s.read.table(s"$db.silver_policies"))
          val failed = results.filter(!_._2.passed)
          require(failed.isEmpty, s"DQ gate failed: ${failed.keys.mkString(", ")}")
        }))
  }

  private val Scd2TrackedCols = graft.operators.Scd2.policyTrackedCols
}
