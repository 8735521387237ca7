package org.apache.spark.graftbus

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Compile-checked access to the `private[spark]` whole-set accessors of
  * a thread's SparkContext local properties (job group, description,
  * tags, scheduler pool, SQL execution ids). Spark copies them into a
  * thread only when the thread is created; a pooled thread keeps whatever
  * its creator or its previous task left behind. `graft.pipeline.TaskGraph`
  * snapshots the caller's set and installs it at the start of every task.
  * This shim lives under `org.apache.spark` solely to reach the
  * package-private members; it contains no other logic.
  */
object LocalProperties {
  /** A private copy of the calling thread's local properties. */
  def snapshot(sc: SparkContext): Properties = Utils.cloneProperties(sc.getLocalProperties)

  /** Replace the calling thread's local properties with a copy of `props`. */
  def install(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(Utils.cloneProperties(props))
}
