package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test-side view of the block manager (`private[spark]`). */
object BlockProbe {
  /** Blocks of RDD `rddId` that the executors' block managers still hold. */
  def rddBlocks(sc: SparkContext, rddId: Int): Int =
    sc.env.blockManager.master.getMatchingBlockIds(
      _.asRDDId.exists(_.rddId == rddId), askStorageEndpoints = true).size
}
