package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private; this is the one call the
  * benchmark needs from it. */
object Bus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
