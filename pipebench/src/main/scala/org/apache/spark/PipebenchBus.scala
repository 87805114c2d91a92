package org.apache.spark

/** Lets the benchmark wait until every listener has seen the events of the
  * work it just ran, before it reads their counts (the listener bus is
  * asynchronous and its drain is Spark-internal). */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
