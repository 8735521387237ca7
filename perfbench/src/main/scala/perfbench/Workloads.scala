package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.model.Schemas
import graft.operators.{GoldDims, Scd2, SilverTransforms}
import graft.pipeline.Runner
import graft.quality.Checks
import graft.sources.{Ingest, SampleDataGen, Tables}
import graft.tools.StressDataGen
import graft.validation.{Reconciler, TableDiff}

/** One benchmark workload. The harness times each `prepare` as a set-up
  * and each `run` as an operation; `warmUp`, `before`, `check` and `after`
  * are untimed. */
trait Workload {
  /** How many times a run builds its inputs; set-up time is the median. */
  def setups: Int
  def prepare(rep: Int): Unit
  /** Runs once after the set-ups, before the first timed operation.
    * Returns its failed checks. */
  def warmUp(): Seq[String] = Nil
  def before(op: Int): Unit = ()
  /** Timed. Returns the operation's phase times in seconds. */
  def run(op: Int): Map[String, Double]
  /** Failed output checks of the operation just run; empty when correct. */
  def check(op: Int): Seq[String]
  def after(op: Int): Unit = ()
  /** Input bytes the operation consumed, the base of write amplification. */
  def inputBytes(op: Int): Long = 0L
  /** Result fingerprints of the operation just run, by output name. */
  def outputs: Map[String, String] = Map.empty
  def facts: Map[String, Any] = Map.empty
}

object Workloads {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Columns a comparison may use: the engine's `_`-prefixed lineage and
    * clock columns (ingestion time, batch id, cleaning time, source file)
    * differ between runs by design. */
  def stableColumns(df: DataFrame): Seq[String] = df.columns.toSeq.filterNot(_.startsWith("_"))

  /** Order-independent fingerprint of a frame's rows: row count, sum and
    * xor of a 64-bit row hash. Floating columns are rounded first, so
    * summation order inside the engine cannot change the fingerprint. */
  def fingerprint(df: DataFrame): String = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0))), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.getLong(2)}"
  }

  /** Runner stages, each wrapped in a span named after it. */
  def tracedStages(tracer: Tracer, raw: String, db: String): Seq[Runner.Stage] =
    Runner.medallionStages(raw, db).map(s =>
      s.copy(run = (sp: SparkSession) => tracer.span(s"pipeline.stage.${s.name}")(s.run(sp))))

  /** Longest dependency chain of stage times: what a runner that starts
    * every stage as soon as its inputs exist could at best reach. */
  def criticalPath(stages: Seq[Runner.Stage], seconds: Map[String, Double]): Double = {
    val deps = stages.map(s => s.name -> s.deps).toMap
    val memo = mutable.Map.empty[String, Double]
    def finish(n: String): Double = memo.getOrElseUpdate(n,
      seconds.getOrElse(n, 0.0) + deps(n).map(finish).maxOption.getOrElse(0.0))
    stages.map(s => finish(s.name)).maxOption.getOrElse(0.0)
  }

  def dropDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
}

import Workloads._

/** One day of the reference's job: raw CSVs → bronze → silver → gold
  * (SCD2 first load) → DQ gate through `Runner`, a reconciliation pass of
  * silver against gold, then the day's CDC delta through streaming ingest →
  * silver → dimension build → SCD2 merge → integrity report. Each
  * operation builds a fresh database from the same inputs. */
final class DailyBatch(spark: SparkSession, tracer: Tracer, work: Path, seed: Long)
    extends Workload {

  // Sized so that a run, with its warm-up, fits the benchmark's time budget.
  private val policies = 5000
  val setups = 9

  private var raw = ""
  private var generated = Map.empty[String, Int]
  private var deltaCsv: Path = work
  private var delta = DeltaGen.Delta(0, 0, 0L, 0L)
  private var reference: Option[String] = None
  private var results: Seq[Runner.StageResult] = Nil
  private var recon: Seq[String] = Nil
  private var integrity: Option[org.apache.spark.sql.Row] = None

  private val goldTables = Seq("dim_policy", "dim_property", "dim_coverage", "dim_date",
    "fact_claims", "fact_premiums")

  private def db(tag: String) = s"daily_$tag"
  private def landing(tag: String) = work.resolve(s"landing_$tag")

  def prepare(rep: Int): Unit = {
    raw = work.resolve(s"raw_$rep").toString
    generated = SampleDataGen.generate(raw, policies, seed)
    deltaCsv = work.resolve(s"delta_$rep.csv")
    delta = DeltaGen.write(Paths.get(raw, "raw_policies.csv"), seed, deltaCsv)
  }

  /** One whole operation and its checks, so the timed operations do not
    * pay for JIT compilation and code generation. The timed operations'
    * gold tables must equal its own. */
  override def warmUp(): Seq[String] = {
    land("warm")
    operation("warm")
    try checks("warm") finally reference = Some(db("warm"))
  }

  override def before(op: Int): Unit = land(op.toString)

  def run(op: Int): Map[String, Double] = operation(op.toString)

  def check(op: Int): Seq[String] = checks(op.toString)

  private def land(tag: String): Unit =
    Files.copy(deltaCsv, Files.createDirectories(landing(tag)).resolve("policies_delta.csv"))

  private def operation(tag: String): Map[String, Double] = {
    val d = db(tag)
    val stages = tracedStages(tracer, raw, d)
    integrity = None
    val t0 = System.nanoTime()
    results = tracer.span("pipeline.batch")(Runner.run(spark, stages))
    val batch = secondsSince(t0)
    if (!results.forall(_.ok)) {
      recon = Seq("reconciliation skipped: a stage failed")
      return Map("batch_s" -> batch)
    }
    val t1 = System.nanoTime()
    recon = tracer.span("validation.reconcile")(reconcile(d))
    val t2 = System.nanoTime()
    tracer.span("cdc.increment")(increment(tag, d))
    Map("batch_s" -> batch, "reconcile_s" -> (t2 - t1) / 1e9, "increment_s" -> secondsSince(t2),
      "critical_path_s" -> criticalPath(stages, results.map(r => r.name -> r.seconds).toMap),
      "stage_sum_s" -> results.map(_.seconds).sum)
  }

  /** Silver against gold: the first load must carry every policy, claim
    * and premium through with the same sums and category mixes. */
  private def reconcile(d: String): Seq[String] = {
    def t(n: String) = spark.read.table(s"$d.$n")
    val (sp, dp, sc, fc, spr, fp) = (t("silver_policies"), t("dim_policy"),
      t("silver_claims"), t("fact_claims"), t("silver_premiums"), t("fact_premiums"))
    val counts = tracer.span("validation.row_counts")(Seq(
      Reconciler.compareRowCounts(sp, dp, "policies"),
      Reconciler.compareRowCounts(sc, fc, "claims"),
      Reconciler.compareRowCounts(spr, fp, "premiums")))
    val sums = tracer.span("validation.aggregates")(
      Reconciler.compareAggregates(sp, dp, Seq("annual_premium", "deductible", "coverage_limit")) ++
        Reconciler.compareAggregates(sc, fc, Seq("claim_amount", "approved_amount",
          "deductible_applied")))
    val dists = tracer.span("validation.distributions")(Seq(
      Reconciler.compareDistributions(sp, dp, "status"),
      Reconciler.compareDistributions(sp, dp, "channel"),
      Reconciler.compareDistributions(sc, fc, "claim_status"),
      Reconciler.compareDistributions(spr, fp, "payment_status")))
    val shared = stableColumns(sp).filter(dp.columns.contains)
    val diff = tracer.span("validation.table_diff")(TableDiff.summarize(sp, dp, shared))
    counts.filterNot(_.matched).map(c => s"row count ${c.check}: $c") ++
      sums.filterNot(_.withinTolerance).map(a => s"aggregate: $a") ++
      dists.filterNot(_.matched).map(x => s"distribution: $x") ++
      (if (diff.equal) Nil else Seq(s"silver vs dim_policy table diff: $diff"))
  }

  /** The day's delta: streaming pickup of the landed CSV, the silver
    * transform of that batch, the dimension rows it yields, and their
    * SCD2 merge into `dim_policy`. */
  private def increment(tag: String, d: String): Unit = {
    // The operation's table and checkpoint are fresh: the delta is batch 1.
    val batchId = 1L
    tracer.span("sources.ingest_streaming")(Ingest.ingestStreaming(spark, landing(tag).toString,
      Schemas.rawPolicies, s"$d.bronze_policies_cdc", work.resolve(s"checkpoint_$tag").toString,
      batchId = Some(batchId)))
    val silver = SilverTransforms.transformPolicies(
      spark.read.table(s"$d.bronze_policies_cdc").filter(col("_batch_id") === batchId))
    val dim = GoldDims.buildDimPolicy(silver,
      GoldDims.buildPremiumSummary(spark.read.table(s"$d.silver_premiums")))
    tracer.span("sources.scd2_apply")(Tables.scd2Apply(spark, s"$d.dim_policy", dim,
      Seq("policy_id"), Scd2.policyTrackedCols))
    integrity = Some(tracer.span("quality.scd2_integrity")(
      Checks.scd2IntegrityReport(spark.read.table(s"$d.dim_policy"), "policy_id").head()))
  }

  /** After the merge, `dim_policy` must be exactly what the delta implies:
    * one closed version per changed key, one current row per new key. */
  private def checkIncrement(d: String, report: org.apache.spark.sql.Row): Seq[String] = {
    def n(c: String) = report.getAs[Long](c)
    val (rows, current) = (delta.expectedRows, delta.expectedCurrent)
    val bad = Seq("keys_multi_current", "keys_no_current", "keys_overlapping")
      .filter(n(_) != 0).map(c => s"integrity $c = ${n(c)}") ++
      (if (n("n_keys") == current) Nil else Seq(s"integrity n_keys = ${n("n_keys")}, expected $current"))
    val got = spark.read.table(s"$d.dim_policy")
      .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L))).head()
    bad ++
      (if (got.getLong(0) == rows) Nil else Seq(s"dim_policy has ${got.getLong(0)} rows, expected $rows")) ++
      (if (got.getLong(1) == current) Nil
        else Seq(s"dim_policy has ${got.getLong(1)} current rows, expected $current"))
  }

  private def checks(tag: String): Seq[String] = {
    val stages = results.filterNot(_.ok).map(r => s"stage ${r.name}: ${r.error.getOrElse("")}")
    if (stages.nonEmpty) return stages
    val bronze = generated.toSeq.sorted.flatMap { case (name, n) =>
      val got = spark.read.table(s"${db(tag)}.bronze_$name").count()
      if (got == n) None else Some(s"bronze_$name has $got rows, generated $n")
    }
    val cdc = integrity.map(checkIncrement(db(tag), _)).getOrElse(Seq("no integrity report"))
    val gold = reference.toSeq.flatMap { ref =>
      goldTables.flatMap { g =>
        val (a, b) = (spark.read.table(s"$ref.$g"), spark.read.table(s"${db(tag)}.$g"))
        val s = TableDiff.summarize(a, b, stableColumns(a))
        if (s.equal) None else Some(s"$g differs from the warm-up operation's: $s")
      }
    }
    bronze ++ recon ++ cdc ++ gold
  }

  override def after(op: Int): Unit = dropDatabase(spark, db(op.toString))

  override def inputBytes(op: Int): Long = Files.size(deltaCsv)

  override def facts: Map[String, Any] = Map("policies" -> policies,
    "generated_rows" -> generated.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "),
    "delta_changed" -> delta.changed, "delta_added" -> delta.added)
}

/** One pass over the LLM dedup, clustering, ANN and tokenizer gates on the
  * stress corpus. With `warm` false the first timed pass is the first the
  * JVM runs, as in a fresh job; a warm-up pass costs as much as a cold one
  * and does not fit the benchmark's time budget. A traced run warms up, so
  * that its untraced and traced passes are equally warm. */
final class LlmDedupAnn(spark: SparkSession, tracer: Tracer, work: Path, warm: Boolean)
    extends Workload {

  // The smallest corpus StressDataGen makes: its per-table floors bind.
  private val sf = 0.01
  val setups = 2

  private val gates = Seq("llm_semantic_dedup", "llm_crossmodal_clusters", "llm_dedup_clusters",
    "llm_ivfpq_topk", "llm_ann_ivf_topk", "llm_embedding_neardup", "llm_kmeans_ivf_build",
    "llm_bpe_encode")

  private val queries = SparkEntry.queries
  private var corpus = ""
  private var reference = Map.empty[String, String]
  private var last = Map.empty[String, String]

  def prepare(rep: Int): Unit = {
    corpus = work.resolve(s"corpus_$rep").toString
    StressDataGen.generate(spark, corpus, sf)
  }

  override def warmUp(): Seq[String] = if (warm) { run(-1); check(-1) } else Nil

  def run(op: Int): Map[String, Double] = {
    last = Map.empty
    val t0 = System.nanoTime()
    last = gates.map(g =>
      g -> tracer.span(s"queries.$g")(fingerprint(queries(g)(spark, corpus)))).toMap
    Map("pass_s" -> secondsSince(t0))
  }

  def check(op: Int): Seq[String] = {
    if (reference.isEmpty) reference = last
    gates.filter(g => last(g) != reference(g))
      .map(g => s"$g fingerprint ${last(g)} differs from the first pass's ${reference(g)}")
  }

  override def outputs: Map[String, String] = last

  override def facts: Map[String, Any] = Map("stress_sf" -> sf,
    "corpus_seeded" -> false,
    "corpus_note" -> "StressDataGen takes no seed: this corpus is the same for every --seed")
}
