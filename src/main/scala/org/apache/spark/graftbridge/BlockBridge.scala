package org.apache.spark.graftbridge

import org.apache.spark.rdd.RDD

/** Bridge to `SparkContext.unpersistRDD` (`private[spark]`): drops a
  * persisted RDD's blocks and its entry in the context's persistence
  * list. `RDD.unpersist` makes the same call, but first logs a WARN for
  * a locally checkpointed RDD ("its lineage has been truncated and
  * cannot be recomputed after unpersisting"). The engine frees such
  * RDDs on purpose, once nothing reads them (a finished iteration
  * round, a replaced micro-batch frame), so that warning would fire on
  * every intended release. Same package-placement pattern as
  * [[HadoopConfBridge]]. */
object BlockBridge {
  /** Frees `rdd`'s blocks without waiting for the executors to drop them. */
  def free(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
