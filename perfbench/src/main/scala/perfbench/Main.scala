package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Measures one workload in one JVM and writes the raw samples (set-up
  * times, per-operation times and checks, spans with their listener
  * counts) to a JSON report. `run.py` builds this, starts it, and turns
  * the report into metrics.
  *
  * The load is one client in a closed loop: the next operation starts when
  * the previous one, and its untimed checks, have completed. After the
  * set-ups and the workload's warm-up, operations start until `--seconds`
  * have passed. With `--trace 1`, the measured operations record spans
  * and listener counts, and one untraced operation runs before them and
  * one after, as the base of the tracing overhead.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --report <file> --cpus <n>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val work = Files.createDirectories(Paths.get(need("work")).toAbsolutePath)
    val cpus = need("cpus").toInt
    val traced = need("trace") == "1"
    val settings = mutable.LinkedHashMap(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.warehouse.dir" -> work.resolve("warehouse").toString,
      "spark.local.dir" -> work.resolve("spark-local").toString)
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
    settings.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = Workloads.secondsSince(t0)

    val tracer = new Tracer
    val seed = need("seed").toLong
    val workload: Workload = need("workload") match {
      case "daily_batch" => new DailyBatch(spark, tracer, work, seed)
      case "llm_dedup_ann" => new LlmDedupAnn(spark, tracer, work, warm = traced)
      case other => sys.error(s"unknown workload $other")
    }
    val report = try
      new Harness(spark, tracer, workload, traced).measure(need("seconds").toDouble)
    finally spark.stop()
    report("session_s") = sessionSeconds
    report("settings") = settings
    report("workload_facts") = workload.facts
    report("cpus") = cpus
    report("spark_version") = spark.version
    report("peak_rss_mb") = peakRssMb()
    new ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(Paths.get(need("report")).toFile, toJava(report))
  }

  /** High-water resident set of this JVM (`VmHWM`), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x => x
  }
}

/** The closed loop: set-ups, then timed operations with their checks. */
final class Harness(spark: SparkSession, tracer: Tracer, workload: Workload, traced: Boolean) {

  private val sc = spark.sparkContext
  private val counters = new Counters
  private val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private var nextOp = 0

  private def runOp(traced: Boolean): Unit = {
    val op = nextOp
    nextOp += 1
    val rec = mutable.LinkedHashMap[String, Any]("op" -> op, "traced" -> traced)
    tracer.enabled = traced
    tracer.op = op
    val errors: Seq[String] = try {
      workload.before(op)
      System.gc()
      val cpu0 = Harness.processCpuNs()
      val t0 = System.nanoTime()
      val phases = try workload.run(op) finally tracer.enabled = false
      rec("seconds") = Workloads.secondsSince(t0)
      rec("process_cpu_s") = (Harness.processCpuNs() - cpu0) / 1e9
      rec("phases") = phases
      workload.check(op)
    } catch { case e: Throwable =>
      Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      try workload.after(op)
      catch { case e: Throwable => System.err.println(s"cleanup after op $op failed: $e") }
    }
    rec("input_bytes") = workload.inputBytes(op)
    rec("outputs") = workload.outputs
    rec("errors") = errors
    ops += rec
  }

  /** `workload.setups` timed repetitions of `prepare`, each building the
    * inputs afresh (the operations use the last), the workload's warm-up,
    * then operations until `seconds` have passed. */
  def measure(seconds: Double): mutable.LinkedHashMap[String, Any] = {
    val prepareSeconds = mutable.ArrayBuffer.empty[Double]
    val setupErrors = mutable.ArrayBuffer.empty[String]
    (0 until workload.setups).foreach { rep =>
      System.gc()
      val t0 = System.nanoTime()
      try {
        workload.prepare(rep)
        prepareSeconds += Workloads.secondsSince(t0)
      } catch { case e: Throwable =>
        setupErrors += s"set-up $rep: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    }
    var warmUpSeconds = 0.0
    if (setupErrors.isEmpty) {
      val t0 = System.nanoTime()
      try setupErrors ++= workload.warmUp().map(e => s"warm-up: $e")
      catch { case e: Throwable =>
        setupErrors += s"warm-up: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      warmUpSeconds = Workloads.secondsSince(t0)
    }
    if (traced && setupErrors.isEmpty) runOp(traced = false)
    if (traced) sc.addSparkListener(counters)
    val t0 = System.nanoTime()
    if (setupErrors.isEmpty)
      while (Workloads.secondsSince(t0) < seconds) runOp(traced)
    val measuredSeconds = Workloads.secondsSince(t0)
    val countsComplete = !traced || Counters.drain(sc, 60000L)
    if (traced) {
      sc.removeSparkListener(counters)
      if (setupErrors.isEmpty) runOp(traced = false)
    }
    val spans = tracer.recorded.map { s =>
      val c = counters.within(s.startMs, s.endMs)
      mutable.LinkedHashMap[String, Any]("name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "jobs" -> c.jobs, "tasks" -> c.tasks, "executor_run_s" -> c.runMs / 1e3,
        "cpu_s" -> c.cpuNs / 1e9, "shuffle_bytes" -> c.shuffleBytes,
        "output_bytes" -> c.outputBytes)
    }
    mutable.LinkedHashMap[String, Any](
      "traced" -> traced, "measure_seconds" -> seconds,
      "measured_wall_s" -> measuredSeconds,
      "prepare_s" -> prepareSeconds, "warm_up_s" -> warmUpSeconds,
      "setup_errors" -> setupErrors,
      "ops" -> ops, "spans" -> spans, "counts_complete" -> countsComplete)
  }
}

object Harness {
  /** CPU time of this JVM, all threads: driver, executor tasks, JIT, GC. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}
