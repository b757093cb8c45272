package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: span
  * boundaries wait until every event posted so far has reached the
  * benchmark's listeners, so the counts read there belong to the span.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
