package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; its drain hook is
  * `private[spark]`, so this shim re-exports it. The benchmark drains
  * before it reads its ledger, so no job of the measured phase is
  * missing from it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
