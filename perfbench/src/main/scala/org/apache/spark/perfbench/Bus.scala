package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span's Spark
  * accounting is complete only once the bus has drained. The drain call
  * is private to Spark, hence this one-line bridge inside its package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
