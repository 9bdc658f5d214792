package org.apache.spark

/** Listener-bus access for specs that count jobs: `listenerBus` is
  * package-private to Spark, and a listener's count is only complete
  * once every posted event has been delivered.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
