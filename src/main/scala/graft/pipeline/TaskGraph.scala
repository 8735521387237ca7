package graft.pipeline

import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future,
  ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graftbus.LocalProperties

/** Runs one call's Spark work concurrently: each task starts as soon as
  * every task it depends on has finished, and the results come back in
  * input order. Spark's scheduler runs jobs from several driver threads
  * side by side, so independent chains overlap instead of queueing.
  *
  *   - Pool: dedicated to the call, one daemon thread per task, shut
  *     down before the call returns. Nothing is shared between calls.
  *   - Labels: every task starts with a copy of the caller's
  *     SparkContext local properties (job group, description, tags),
  *     plus a job tag of its own call, whichever thread runs it.
  *   - Failure: the first task that throws, fatal errors included, stops
  *     further tasks from starting and cancels the running tasks' jobs
  *     through the call's tag. Once the running tasks have returned, the
  *     caller gets that first error.
  *   - Waiting: completions are polled with a timeout and checked
  *     against the tasks' own futures, so a lost completion signal cannot
  *     leave the caller waiting forever.
  */
object TaskGraph {

  /** One task: the indices of the tasks it waits for, and its body, which
    * receives their results in that order. */
  final case class Task[A](after: Seq[Int], body: Seq[A] => A)

  def run[A](sc: SparkContext, tasks: IndexedSeq[Task[A]]): IndexedSeq[A] = {
    val n = tasks.size
    val after = tasks.map(_.after.distinct)
    after.flatten.foreach(d => require(d >= 0 && d < n, s"dependency on unknown task $d"))
    val dependents = Array.fill(n)(List.empty[Int])
    for (i <- 0 until n; d <- after(i)) dependents(d) ::= i
    requireAcyclic(after, dependents)
    if (n == 0) return IndexedSeq.empty

    val props = LocalProperties.snapshot(sc)
    val tag = s"graft-taskgraph-${UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(n, daemonThreads)
    val completions = new ExecutorCompletionService[A](pool)
    val running = mutable.Map.empty[Future[A], Int]
    val waiting = after.map(_.size).toArray
    val results = new Array[Any](n)
    var failure: Option[Throwable] = None

    def start(i: Int): Unit = {
      val inputs = tasks(i).after.map(d => results(d).asInstanceOf[A])
      running(completions.submit { () =>
        LocalProperties.install(sc, props)
        sc.addJobTag(tag)
        tasks(i).body(inputs)
      }) = i
    }
    def settle(f: Future[A]): Unit = running.remove(f).foreach { i =>
      try {
        results(i) = f.get()
        if (failure.isEmpty) dependents(i).foreach { j =>
          waiting(j) -= 1
          if (waiting(j) == 0) start(j)
        }
      } catch { case e: ExecutionException =>
        if (failure.isEmpty) failure = Some(e.getCause)
      }
    }
    try {
      (0 until n).filter(waiting(_) == 0).foreach(start)
      while (running.nonEmpty) {
        val done = completions.poll(PollMillis, TimeUnit.MILLISECONDS)
        if (done != null) settle(done)
        else running.keys.filter(_.isDone).toList.foreach(settle)
        // Repeated, so that jobs a running task submits after the first
        // cancellation are cancelled too.
        if (failure.nonEmpty) sc.cancelJobsWithTag(tag)
      }
    } catch { case e: Throwable =>
      sc.cancelJobsWithTag(tag)
      pool.shutdownNow()
      throw e
    } finally pool.shutdown()
    failure.foreach(e => throw e)
    results.toIndexedSeq.map(_.asInstanceOf[A])
  }

  private val PollMillis = 1000L

  private val threadIds = new AtomicLong()
  private val daemonThreads: ThreadFactory = (r: Runnable) => {
    val t = new Thread(r, s"graft-taskgraph-${threadIds.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  private def requireAcyclic(after: IndexedSeq[Seq[Int]], dependents: Array[List[Int]]): Unit = {
    val left = after.map(_.size).toArray
    var ready = left.indices.filter(left(_) == 0).toList
    var seen = 0
    while (ready.nonEmpty) {
      val i = ready.head
      ready = ready.tail
      seen += 1
      dependents(i).foreach { j =>
        left(j) -= 1
        if (left(j) == 0) ready ::= j
      }
    }
    require(seen == after.size,
      s"dependency cycle: tasks ${left.indices.filter(left(_) > 0).mkString(", ")} can never start")
  }
}
