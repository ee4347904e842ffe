package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test-only shim: the listener bus is private to Spark, and a spec that
  * counts jobs must wait for every event to be delivered before it reads
  * its listener. Lives in the spark package for access; exposes nothing
  * else. */
object GraftListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
