package graft.tools

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Deterministic per-query execution metrics for the optimization
  * rounds: `runMain graft.tools.QueryMetrics <sfDir> <name>...` runs
  * each registry gate once under the bench's count() convention (after
  * one untimed warm-up) with a SparkListener attached and prints one
  * JSON line per query with job/stage/task counts, total shuffle
  * write/read bytes and records, and summed executor CPU time;
  * `counts_complete` is false when the listener bus did not drain in
  * time, so the counts may be short.
  *
  * Purpose: this sandbox's wall-clock is contended (probe spread up to
  * 2x within one session — see OPTIMIZATION_r14.md), so before/after
  * wall seconds alone cannot adjudicate a 20% plan win. Scheduler
  * counts and shuffle volumes are properties of the PLAN, not the
  * epoch, and executorCpuTime excludes steal time — together they are
  * the noise-robust evidence the guide's §1 "measure first" loop needs
  * here.
  */
object QueryMetrics {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryMetrics <sfDir> <name>...")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_qm_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.range(1000).count() catch { case _: Throwable => }

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufWB = new AtomicLong; val shufWRec = new AtomicLong
    val shufRB = new AtomicLong; val shufRRec = new AtomicLong
    val cpuNs = new AtomicLong; val runMs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          runMs.addAndGet(m.executorRunTime)
          shufWB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufWRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shufRB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufRRec.addAndGet(m.shuffleReadMetrics.recordsRead)
        }
      }
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case _: Throwable => } // warm-up
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(shufWB, shufWRec, shufRB, shufRRec, cpuNs, runMs).foreach(_.set(0))
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // The listener bus is async: drain it (bounded) before reading the
      // counters. A fixed sleep was a race — under load, late task-end
      // events were lost and the counters undercounted (r14 ADVICE).
      val complete = drained(ListenerBusDrain.drain(spark.sparkContext))
      spark.sparkContext.removeSparkListener(listener)
      println(f"""{"q":"$name","wall":$wall%.3f,"counts_complete":$complete,""" +
        f""""jobs":${jobs.get},""" +
        f""""stages":${stages.get},"tasks":${tasks.get},""" +
        f""""cpu_sec":${cpuNs.get / 1e9}%.3f,"run_sec":${runMs.get / 1e3}%.3f,""" +
        f""""shuf_w_mb":${shufWB.get / 1e6}%.3f,"shuf_w_rec":${shufWRec.get},""" +
        f""""shuf_r_mb":${shufRB.get / 1e6}%.3f,"shuf_r_rec":${shufRRec.get}}""")
    }
    spark.stop()
  }

  /** Runs a listener-bus drain; false when it times out. A bus that does
    * not drain in time must not end the run: the line is still printed,
    * with `counts_complete` false. */
  private[tools] def drained(drain: => Unit): Boolean =
    try { drain; true } catch { case _: TimeoutException => false }
}
