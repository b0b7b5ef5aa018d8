package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, before it reads its job trace. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
