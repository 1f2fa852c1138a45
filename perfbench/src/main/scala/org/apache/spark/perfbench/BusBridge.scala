package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far,
  * so counters read after a pass include its last stages. The bus is
  * `private[spark]`, hence this package. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
