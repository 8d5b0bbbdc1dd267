package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; counters are read only
  * after it has drained. `waitUntilEmpty` is `private[spark]`, hence this
  * accessor in Spark's package namespace. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
