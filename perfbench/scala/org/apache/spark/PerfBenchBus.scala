package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * delivered (the bus is private to Spark), so counters read at a phase
  * boundary include every job and task of that phase.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
