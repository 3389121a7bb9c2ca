package org.apache.spark

/** The one Spark-internal call the harness makes: block until the
  * listener bus has delivered every event posted so far, so a traced
  * iteration's job and trigger records are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
