package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this shim lives in that
  * package so the benchmark can wait for every posted listener event to be
  * delivered instead of sleeping and hoping. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
