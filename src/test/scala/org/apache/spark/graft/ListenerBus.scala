package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Spark keeps its listener bus package-private: specs that count jobs
  * with a `SparkListener` wait here until every queued event has been
  * delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
