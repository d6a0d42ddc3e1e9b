package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the driver's listener bus, which is private to Spark. */
object ListenerBus {

  /** Blocks until every event posted so far has reached the listeners, so
    * a spec can read a `SparkListener`'s counts without racing the
    * asynchronous bus. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
