package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

/** The two `private[spark]` calls the benchmark needs, hence the package.
  * Neither changes what the program computes.
  */
object Internals {

  /** Blocks until every event posted so far has reached the listeners,
    * so counters read afterwards cover all finished jobs.
    */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Removes every live broadcast's blocks, blocking. Broadcast cleanup is
    * otherwise driven by garbage collection and lags a back-to-back query
    * loop, so one query's broadcasts would squeeze the next one's
    * execution memory. Callers unpersist cached data first.
    */
  def removeBroadcasts(): Unit = {
    val master = SparkEnv.get.blockManager.master
    master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.distinct
      .foreach(master.removeBroadcast(_, removeFromMaster = true, blocking = true))
  }
}
