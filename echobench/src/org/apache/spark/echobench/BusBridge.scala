package org.apache.spark.echobench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced pass drains
  * it before attributing what it recorded. `listenerBus` is
  * package-private to Spark, hence this bridge. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
