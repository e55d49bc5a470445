package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Reaches Spark's `private[spark]` block manager (hence the package) for
  * single-JVM measurement loops. Every `broadcast()` hint leaves a
  * TorrentBroadcast whose cleanup is driven by GC and can lag behind
  * back-to-back runs; its blocks sit in unified storage memory and push
  * later runs' execution memory into spills. No operator depends on this.
  */
object BenchInternals {

  /** Drop every live broadcast's blocks (driver + executors), blocking
    * until removal completes, and return the removed ids. Safe only
    * between runs that build fresh DataFrames: a persistent RDD that is
    * still live could re-read a destroyed broadcast, so one fails here
    * with its id rather than later with broadcast-block-not-found.
    */
  def removeAllBroadcasts(): Seq[Long] = {
    val persistent =
      org.apache.spark.SparkContext.getActive.toSeq
        .flatMap(_.getPersistentRDDs.keys)
    require(persistent.isEmpty,
      s"removeAllBroadcasts() with persistent RDDs still live " +
        s"(ids ${persistent.sorted.mkString(",")}): a cached plan may " +
        "re-read a destroyed broadcast — unpersist first")
    val master = SparkEnv.get.blockManager.master
    val ids = master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.distinct.sorted
    ids.foreach(id =>
      master.removeBroadcast(id, removeFromMaster = true, blocking = true))
    ids
  }
}
