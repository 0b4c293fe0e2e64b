package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** The two `private[spark]` calls the benchmark needs between rows. */
object Internals {

  /** Synchronously drop every broadcast block. Broadcasts are not RDDs,
    * so unpersisting persistent RDDs leaves them to the asynchronous,
    * GC-paced ContextCleaner, and rows run in one JVM would otherwise
    * pay for their predecessors' blocks.
    */
  def dropBroadcasts(sc: SparkContext): Unit = {
    val master = sc.env.blockManager.master
    master.getMatchingBlockIds(_.isInstanceOf[BroadcastBlockId],
        askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }
      .toSet
      .foreach((id: Long) =>
        master.removeBroadcast(id, removeFromMaster = true, blocking = true))
  }

  /** Block until the listener bus has delivered every queued event. */
  def awaitListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(120000L)
}
