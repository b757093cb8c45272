package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** The executor run and CPU time of every task one session runs: one
  * `onTaskEnd` listener, read through [[drain]]. Bench sums an
  * iteration's tasks to tell a contended iteration from a clean one;
  * `Profile stages` groups them per stage.
  */
private[graft] final class TaskClock private (sc: SparkContext) extends SparkListener {
  import TaskClock.Task

  private val tasks = ArrayBuffer.empty[Task]
  private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    names.put(e.stageInfo.stageId, e.stageInfo.name.takeWhile(_ != '\n').take(60))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    synchronized {
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.writeTime)
    }
  }

  /** The tasks that ended since the last drain. Waits for the listener
    * bus first: task-end events arrive after the action that ran them
    * has returned. When the wait times out, a `BENCH WARN` line names
    * `what`: some of its tasks may be read by the next drain instead.
    */
  def drain(what: String): Seq[Task] = {
    if (!org.apache.spark.GraftListenerBus.waitUntilEmpty(sc))
      System.err.println(s"BENCH WARN: listener bus still busy after 10 s; " +
        s"task times read for $what may belong to the next read")
    synchronized { val r = tasks.toList; tasks.clear(); r }
  }

  def stageName(stageId: Int): String = names.getOrDefault(stageId, "")

  def close(): Unit = sc.removeSparkListener(this)
}

private[graft] object TaskClock {

  /** One finished task: run and shuffle-write in their metric units (ms
    * and ns), CPU in ns.
    */
  final case class Task(stageId: Int, runMs: Long, cpuNs: Long, shuffleWriteNs: Long)

  def on(sc: SparkContext): TaskClock = {
    val c = new TaskClock(sc)
    sc.addSparkListener(c)
    c
  }

  /** Summed (run, CPU) seconds of `tasks`. */
  def seconds(tasks: Seq[Task]): (Double, Double) =
    (tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9)
}
