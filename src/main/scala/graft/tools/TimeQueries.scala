package graft.tools

import org.apache.spark.sql.SparkSession

/** Time arbitrary registry gates (Bench times only the headline
  * `benchQueries` list): `runMain graft.tools.TimeQueries <sfDir>
  * <iters> <name>...` prints one JSON line with the per-query
  * median-of-iters under `count()` (same measurement convention as
  * Bench — Catalyst elides the verify-only terminal sort under count,
  * so this times the operator, not the harness ordering). Used for
  * plan-evidence comparisons in PLANS.md (e.g. window-rank o5 vs
  * heap-aggregate o8 at stress scale).
  */
object TimeQueries {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: TimeQueries <sfDir> <iters> <name>...")
    val sfDir = args(0)
    val iters = args(1).toInt
    val names = args.drop(2).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try spark.range(1000).count() catch { case _: Throwable => }
    // Same corpus-independent calibration probe as Bench.timeProbe, so a
    // subset timing on a drifting host epoch can be normalized against
    // another session's probe before reading a per-query ratio.
    def probe(): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1L << 29).selectExpr("xxhash64(id) % 1024 AS h")
          .selectExpr("sum(h) AS s").collect()
        (System.nanoTime() - t0) / 1e9
      }
      median(runs)
    }
    val probeStart = try { probe() } catch { case _: Throwable => -1.0 }
    val timed = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      name -> median(runs)
    }
    val probeEnd = try { probe() } catch { case _: Throwable => -1.0 }
    println(json(timed, probeStart, probeEnd))
    spark.stop()
  }

  /** One PURE JSON line: the probe values ride inside the object
    * (underscore-prefixed so they cannot collide with a gate name) —
    * appending `key=value` text after the closing brace broke any
    * consumer that parsed the stdout line as JSON (r14 ADVICE). One
    * fragment list joined once, so no gate matching is still an object. */
  private[tools] def json(timed: Seq[(String, Double)], probeStart: Double,
      probeEnd: Double): String =
    (timed.map { case (n, s) => f""""$n":$s%.3f""" } ++
      Seq(f""""_probe_start":$probeStart%.3f""", f""""_probe_end":$probeEnd%.3f"""))
      .mkString("{", ",", "}")
}
