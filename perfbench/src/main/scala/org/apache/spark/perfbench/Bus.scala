package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The traced run reads listener events right after each op; this waits
  * until the asynchronous listener bus has delivered everything posted so
  * far. The bus is package-private to Spark, hence the package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
