package org.apache.spark

/** Lets a test wait until every listener event posted so far has been
  * delivered, before it reads what its listener recorded. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
