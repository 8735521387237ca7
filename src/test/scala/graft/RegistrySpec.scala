package graft

import java.util.Properties
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, ExecutionException, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler.{JobFailed, JobResult, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Registry

/** Task body for the cancellation spec: holds its executor slot until
  * Spark kills the task, or for at most `maxMillis`. */
object HoldUntilKilled {
  def apply(maxMillis: Long): Unit = {
    val ctx = TaskContext.get()
    val deadline = System.nanoTime() + maxMillis * 1000000L
    while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(20)
  }
}

class RegistrySpec extends SparkTestBase {
  import spark.implicits._

  test("decimalsToDouble rewrites top-level and NESTED decimal columns") {
    val df = Seq((1, BigDecimal("12.34"), BigDecimal("5.60"), Seq(BigDecimal("1.10"))))
      .toDF("id", "flat", "inner", "arr")
      .select(col("id"), col("flat"),
        struct(col("inner").as("amount"), lit("x").as("tag")).as("s"),
        col("arr"))
    val out = Registry.decimalsToDouble(df)
    def hasDecimal(dt: DataType): Boolean = dt match {
      case _: DecimalType => true
      case s: StructType  => s.fields.exists(f => hasDecimal(f.dataType))
      case a: ArrayType   => hasDecimal(a.elementType)
      case m: MapType     => hasDecimal(m.keyType) || hasDecimal(m.valueType)
      case _              => false
    }
    assert(!out.schema.fields.exists(f => hasDecimal(f.dataType)),
      s"decimal survived: ${out.schema.treeString}")
    // Values preserved (not just types rewritten).
    val row = out.head()
    assert(row.getAs[Double]("flat") === 12.34)
    assert(row.getAs[org.apache.spark.sql.Row]("s").getAs[Double]("amount") === 5.6)
    assert(row.getAs[Seq[Double]]("arr") === Seq(1.1))
    // Non-decimal columns pass through untouched.
    assert(out.schema("id").dataType === IntegerType)
  }

  test("T normalizes events.ts to nanos BIGINT for all on-disk flavors") {
    // The driver's events.ts flavor has changed across testdata
    // generations (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); the stress
    // corpus writes raw BIGINT. Gates do integer nanos arithmetic, so T
    // must hand back the identical long whatever the file carries.
    val dir = java.nio.file.Files.createTempDirectory("graft_ts_norm").toString
    val micros = 1704067200123456L // 2024-01-01 00:00:00.123456 UTC
    // Micros-timestamp flavor (what the r9 driver data carries).
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$dir/tsdir/events.parquet")
    val fromTs = Registry.T(spark, s"$dir/tsdir", "events")
    assert(fromTs.schema("ts").dataType === LongType)
    assert(fromTs.select("ts").head().getLong(0) === micros * 1000L)
    // TIMESTAMP_NTZ flavor (isAdjustedToUTC=false — the EXACT parquet
    // shape the r9+ driver writes via pyarrow timestamp[us]; a Spark
    // LTZ round-trip reads back as TIMESTAMP, so without this fixture
    // the NTZ branch — the one sensitive to session timezone — would be
    // the only flavor untested; r9 advice).
    Seq((1L, micros)).toDF("event_id", "us")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      .write.parquet(s"$dir/ntzdir/events.parquet")
    val ntzOnDisk = spark.read.parquet(s"$dir/ntzdir/events.parquet")
    assert(ntzOnDisk.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType,
      "fixture must actually land as TIMESTAMP_NTZ on disk")
    val fromNtz = Registry.T(spark, s"$dir/ntzdir", "events")
    assert(fromNtz.schema("ts").dataType === LongType)
    assert(fromNtz.select("ts").head().getLong(0) === micros * 1000L)
    // Raw BIGINT flavor (stress corpus) passes through untouched.
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.parquet(s"$dir/longdir/events.parquet")
    val fromLong = Registry.T(spark, s"$dir/longdir", "events")
    assert(fromLong.schema("ts").dataType === LongType)
    assert(fromLong.select("ts").head().getLong(0) === micros * 1000L)
    // Non-events tables are never rewritten even with a ts column.
    Seq((1L, micros)).toDF("id", "ts")
      .select(col("id"), timestamp_micros(col("ts")).as("ts"))
      .write.parquet(s"$dir/longdir/other.parquet")
    assert(Registry.T(spark, s"$dir/longdir", "other")
      .schema("ts").dataType !== LongType)
  }

  test("spread derives its partition count from input size, clamped, values intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    // Tiny input: the 64 KB-per-partition target must clamp UP to 1,
    // never 0, and must not lose or duplicate rows.
    spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.parquet(s"$dir/tiny.parquet")
    val tiny = Registry.spread(Registry.T(spark, dir, "tiny"))
    assert(tiny.rdd.getNumPartitions === 1)
    assert(tiny.agg(count(lit(1)), sum(col("id"))).head() ===
      org.apache.spark.sql.Row(100L, 4950L))
    // Large-estimate input: the target must clamp at 2x defaultParallelism
    // (the old constant), never beyond — production scans degrade to the
    // r13 behavior exactly.
    spark.range(200000)
      .selectExpr("id", "repeat(CAST(id AS STRING), 40) AS s")
      .write.parquet(s"$dir/big.parquet")
    val big = Registry.spread(Registry.T(spark, dir, "big"))
    val cap = spark.sparkContext.defaultParallelism * 2
    val n = big.rdd.getNumPartitions
    assert(n > 1 && n <= cap, s"expected (1, $cap] partitions, got $n")
    assert(big.count() === 200000L)
  }

  /** Runs `body` on a fresh thread and waits at most `seconds` for it.
    * Returns its value or rethrows what it threw, fatal errors included;
    * a body that hangs fails the calling test with a TimeoutException. */
  private def bounded[A](seconds: Long)(body: => A): A = {
    val out = new CompletableFuture[A]()
    val t = new Thread(() => {
      try out.complete(body) catch { case e: Throwable => out.completeExceptionally(e) }
      ()
    })
    t.setDaemon(true)
    t.start()
    try out.get(seconds, TimeUnit.SECONDS)
    catch { case e: ExecutionException => throw e.getCause }
  }

  /** The properties of every job started, and the result of every job
    * ended, while `body` runs, once the listener bus has delivered them. */
  private def jobsDuring(body: => Unit): (Seq[Properties], Seq[JobResult]) = {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[Properties]()
    val ended = new ConcurrentLinkedQueue[JobResult]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.properties)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobResult)
    }
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    (started.asScala.toSeq, ended.asScala.toSeq)
  }

  test("inParallel hands a thunk's fatal error to the caller instead of hanging") {
    val err = intercept[StackOverflowError] {
      bounded(30) {
        Registry.inParallel(() => spark.range(10).count(),
          () => throw new StackOverflowError("deep plan"))
      }
    }
    assert(err.getMessage === "deep plan")
  }

  test("inParallel thunks' jobs carry the caller's job group and description") {
    // Two calls from two threads with different labels: a pooled thread
    // that kept the first call's properties would mislabel the second.
    for (round <- Seq("first", "second")) {
      val (jobs, _) = jobsDuring(bounded(120) {
        spark.sparkContext.setJobGroup(s"group_$round", s"desc_$round")
        Registry.inParallel(() => spark.range(10).count(), () => spark.range(20).count())
      })
      assert(jobs.nonEmpty)
      jobs.foreach { p =>
        assert(p.getProperty("spark.jobGroup.id") === s"group_$round")
        assert(p.getProperty("spark.job.description") === s"desc_$round")
      }
    }
  }

  test("a failing inParallel thunk cancels the other thunks' running jobs") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val (jobs, results) = jobsDuring {
      val err = intercept[IllegalStateException] {
        bounded(45) {
          Registry.inParallel(
            // Runs for 60 s unless cancelled.
            () => sc.parallelize(0 until 2, 2).foreach(_ => HoldUntilKilled(60000L)),
            () => {
              val deadline = System.nanoTime() + 30L * 1000000000L
              while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < deadline)
                Thread.sleep(20)
              throw new IllegalStateException("sibling failed")
            })
        }
      }
      assert(err.getMessage === "sibling failed")
    }
    assert((System.nanoTime() - t0) / 1e9 < 40, "the long job ran to its end")
    assert(jobs.size === 1 && jobs.head.getProperty("spark.job.tags").split(",")
      .exists(_.startsWith("graft-taskgraph-")), "the long job carries the call's tag")
    assert(results.size === 1 && results.head.isInstanceOf[JobFailed],
      s"the long job was not cancelled: $results")
  }

  test("SparkEntry registers each gate name once") {
    // queries/oracleSql keep the LAST entry of a repeated name (toMap),
    // so an earlier one would be dead code that no gate check runs.
    val dups = SparkEntry.registry.groupBy(_._1).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"gate names registered twice: ${dups.mkString(", ")}")
  }
}
