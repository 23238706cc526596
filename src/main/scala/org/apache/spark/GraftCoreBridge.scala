package org.apache.spark

import org.apache.spark.rdd.RDD

/** Bridge into the `private[spark]` block release under `RDD.unpersist`.
  *
  * `RDD.unpersist` warns, at WARN level, on every locally checkpointed RDD
  * that its lineage is truncated and cannot be recomputed. The superstep
  * driver frees each replaced state's checkpoint on purpose, once per
  * block, so that warning would fire on every iterative kernel's every
  * block. `SparkContext.unpersistRDD` is the release itself: it drops the
  * RDD from the persistent set and removes its blocks, without the
  * warning. Like [[org.apache.spark.sql.GraftSqlBridge]], this is the one
  * file of its package.
  */
object GraftCoreBridge {
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
