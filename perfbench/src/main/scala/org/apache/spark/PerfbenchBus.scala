package org.apache.spark

/** Drains Spark's listener bus, so every job, task, SQL-execution and
  * streaming-progress event of a run is delivered to the benchmark's
  * listeners before their counters are read. The bus is
  * `private[spark]`, hence this one-method bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
