package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from outside the engine: a SparkListener for the
  * runtime, a QueryExecutionListener for Catalyst's phase times, Spark's
  * codegen metrics for janino compiles, and the JVM's GC beans. Only the
  * traced run installs it.
  */
object Probe extends SparkListener {
  private val c = mutable.LinkedHashMap.empty[String, Double]
  /** Wall-clock intervals (ms) during which at least one job ran. */
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private var running = 0
  private var busySince = 0L

  private def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("spark.jobs", 1)
    if (running == 0) busySince = e.time
    running += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running -= 1
    if (running == 0) busy += ((busySince, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      add("spark.tasks", 1)
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_mb",
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
      add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
      add("spark.result_mb", m.resultSize / 1e6)
    }
  }

  private[graftbench] def onPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) =>
      if (phase != "parsing") add(s"catalyst.${phase}_s", s.durationMs / 1e3)
    }
  }

  /** A snapshot of every counter; [[Tracer]] subtracts two of them. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    synchronized {
      c.toMap ++ Map(
        "codegen.compiles" -> compile.getCount.toDouble,
        // the histogram keeps a sample of compile times, not their sum:
        // count times the sampled mean estimates the total
        "codegen.compile_s" -> compile.getCount * compile.getSnapshot.getMean / 1e3,
        "jvm.gc_s" -> gcMs / 1e3)
    }
  }

  /** Milliseconds of [t0, t1] during which no job was running. */
  def idleMs(t0: Long, t1: Long): Long = synchronized {
    val spans = busy.toSeq ++ (if (running > 0) Seq((busySince, t1)) else Nil)
    val covered = spans.map { case (a, b) => math.max(0L, math.min(b, t1) - math.max(a, t0)) }.sum
    math.max(0L, (t1 - t0) - covered)
  }
}

/** Named in `spark.sql.queryExecutionListeners`, so every session, the
  * fresh ones of the analytics rounds included, reports to [[Probe]].
  */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Probe.onPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Probe.onPhases(qe)
}
