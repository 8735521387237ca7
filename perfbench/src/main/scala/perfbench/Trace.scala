package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbus.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into the engine. `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark stamps its events with, so listener
  * counts can be charged to the span they happened in. */
final case class Span(name: String, parent: String, op: Int,
    startMs: Long, endMs: Long, seconds: Double)

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written out when the run ends. While `enabled` is false a
  * span is a plain call: nothing is recorded. */
final class Tracer {
  var enabled = false
  var op = -1
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[String] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val parent = open.headOption.getOrElse("")
      open = name :: open
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val secs = (System.nanoTime() - t0) / 1e9
        open = open.tail
        spans += Span(name, parent, op, ms0, System.currentTimeMillis(), secs)
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

/** Counts gathered from Spark's listener bus at task and job granularity.
  * Each task is charged to the spans whose interval holds its launch
  * time, each job to the spans holding its submission time. The load is a
  * closed loop, so at any moment at most one span per nesting level is
  * open and the attribution is unambiguous; it also catches jobs that
  * the engine submits from its own threads (streaming, parallel chains).
  */
final class Counters extends SparkListener {
  private val jobTimes = new ConcurrentLinkedQueue[java.lang.Long]()
  // launchMs, executorRunMs, executorCpuNs, shuffleWriteBytes, outputBytes
  private val tasks = new ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobTimes.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Array(e.taskInfo.launchTime, m.executorRunTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }

  /** Totals over `[startMs, endMs]`. */
  def within(startMs: Long, endMs: Long): Counts = {
    def in(t: Long) = t >= startMs && t <= endMs
    val ts = tasks.asScala.filter(t => in(t(0)))
    Counts(
      jobs = jobTimes.asScala.count(t => in(t)).toLong,
      tasks = ts.size.toLong,
      runMs = ts.map(_(1)).sum,
      cpuNs = ts.map(_(2)).sum,
      shuffleBytes = ts.map(_(3)).sum,
      outputBytes = ts.map(_(4)).sum)
  }
}

final case class Counts(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long,
    shuffleBytes: Long, outputBytes: Long)

object Counters {
  /** Wait for queued listener events. A bus that does not drain in time
    * must not end the run: the counts are then marked incomplete. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { ListenerBusDrain.drain(sc, timeoutMs); true }
    catch { case _: TimeoutException => false }
}
