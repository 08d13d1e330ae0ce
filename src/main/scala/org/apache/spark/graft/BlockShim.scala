package org.apache.spark.graft

import org.apache.spark.rdd.RDD

/** Bridge for releasing the blocks of a locally-checkpointed RDD.
  * `RDD.unpersist` logs a WARN for every such RDD (its truncated lineage
  * cannot be recomputed — which is the point of releasing it), so the
  * release calls `SparkContext.unpersistRDD` (`private[spark]`) directly:
  * the call `unpersist` makes after its warning, and the one the
  * ContextCleaner makes for a garbage-collected RDD. */
object BlockShim {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
