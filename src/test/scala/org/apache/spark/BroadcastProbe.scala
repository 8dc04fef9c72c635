package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the broadcast values the driver's block manager still
  * holds (the block manager is Spark-internal API).
  */
object BroadcastProbe {
  /** Each live broadcast's id and value. */
  def live(): Map[Long, Any] = {
    val bm = SparkEnv.get.blockManager
    bm.master.getMatchingBlockIds({
      case BroadcastBlockId(_, "") => true
      case _ => false
    }, askStorageEndpoints = true).collect { case b: BroadcastBlockId =>
      // draining the values releases the block's read lock
      bm.getLocalValues(b).flatMap(_.data.toList.headOption).map(b.broadcastId -> _)
    }.flatten.toMap
  }
}
