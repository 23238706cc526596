package org.apache.spark.linkbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; counters are read only
  * after every event posted so far has been handled. Spark exposes the
  * wait only inside its own package, hence this one-line bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
