package org.apache.spark.lakebench

/** The listener bus is private[spark]: draining it lets the benchmark
  * read its counters knowing every event posted so far is counted. */
object Bus {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
