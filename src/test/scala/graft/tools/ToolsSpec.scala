package graft.tools

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Output contracts of the measurement tools: valid JSON whatever the
  * gate selection, and no crash on a slow listener bus. */
class ToolsSpec extends graft.SparkTestBase {

  test("TimeQueries prints one JSON object, also when no gate matches") {
    assert(TimeQueries.json(Nil, 1.0, 2.0) === """{"_probe_start":1.000,"_probe_end":2.000}""")
    assert(TimeQueries.json(Seq("q1" -> 0.5, "q2" -> 1.25), -1.0, 2.0) ===
      """{"q1":0.500,"q2":1.250,"_probe_start":-1.000,"_probe_end":2.000}""")
  }

  test("QueryMetrics flags incomplete counts when the listener bus does not drain") {
    val sc = spark.sparkContext
    val release = new CountDownLatch(1)
    val blocking = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = release.await(30, TimeUnit.SECONDS)
    }
    sc.addSparkListener(blocking)
    try {
      spark.range(3).count()
      assert(!QueryMetrics.drained(ListenerBusDrain.drain(sc, 50L)))
    } finally {
      release.countDown()
      sc.removeSparkListener(blocking)
    }
    assert(QueryMetrics.drained(ListenerBusDrain.drain(sc)))
  }
}
