package org.apache.spark

/** Listener-bus access for the benchmark's tracer. `listenerBus` is
  * package-private to Spark; the tracer needs to wait for every event of
  * a call to be delivered before it attributes the call's jobs and tasks.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
