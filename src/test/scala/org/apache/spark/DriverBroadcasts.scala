package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the broadcast values the driver's block manager holds
  * (the block manager is internal to Spark, hence the package).
  */
object DriverBroadcasts {

  /** The broadcast values held in driver memory that satisfy `p`. */
  def count(p: Any => Boolean): Int = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.count(id => bm.memoryStore.getValues(id).exists(it => it.hasNext && p(it.next())))
  }
}
