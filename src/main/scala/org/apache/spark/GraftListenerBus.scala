package org.apache.spark

/** The one Spark-internal call graft makes: waiting until the listener
  * bus has delivered every event posted so far. Task-end events reach
  * listeners asynchronously, after the action that ran the tasks has
  * returned; `graft.TaskClock.drain` waits here before it reads.
  */
object GraftListenerBus {

  /** False when the bus was still busy when Spark's wait timed out
    * (10 s): events posted so far may reach listeners only later.
    */
  def waitUntilEmpty(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
