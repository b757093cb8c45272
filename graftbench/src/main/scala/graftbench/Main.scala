package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a session, run one workload's operations in
  * a closed loop from one client thread, check the outputs, and print one
  * result line (`GRAFTBENCH {...}`) for run.py.
  *
  * Untraced, it reports the end-to-end metrics. Traced (`--trace 1`), the
  * first operation and every second steady one are replayed layer by layer
  * under spans; it reports each layer's self time and the listener counts,
  * and its own overhead as the traced minus the untraced operation time.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toLong
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = new File(opt("work"))

    val spark = session(work, traced)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    if (traced) spark.sparkContext.addSparkListener(Probe)

    val wl: Workload = opt("workload") match {
      case "scene" => new Scene(spark, seed, work)
      case "batch" => new Batch(spark, seed, work)
      case "analytics" => new Analytics(spark, new File(opt("tables")), work)
    }
    val on = new Tracer(spark.sparkContext, enabled = traced)
    val off = new Tracer(spark.sparkContext, enabled = false)
    var failed = 0
    var attempted = 0
    def run(t: Tracer): Double = {
      val t0 = System.nanoTime()
      val f =
        try if (t.enabled) t.operation(wl.op(t)) else wl.op(t)
        catch { case e: Exception => e.printStackTrace(); wl.items }
      val seconds = (System.nanoTime() - t0) / 1e9
      wl.settle()
      failed += f
      attempted += wl.items
      seconds
    }

    val firstS = run(on)
    // a traced run makes its steady operations in pairs, one untraced and
    // one traced, so the tracing overhead is measured in the same process
    val untracedS = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val n = if (traced) 2 * math.max(1, wl.steadyOps / 2) else wl.steadyOps
    for (i <- 0 until n)
      if (traced && i % 2 == 1) tracedS += run(on) else untracedS += run(off)

    val checksT0 = System.nanoTime()
    val checks = wl.checks()
    wl.close()
    System.err.println(f"[graftbench] output checks took ${(System.nanoTime() - checksT0) / 1e9}%.1f s")
    val metrics: Seq[(String, Double)] =
      if (traced) {
        Files.writeString(new File(opt("trace-file")).toPath, on.toJson)
        Layers.metrics(on) ++ Seq(
          "trace.op_s" -> Workload.medianOf(tracedS.toSeq),
          "trace.untraced_op_s" -> Workload.medianOf(untracedS.toSeq),
          "trace.overhead_s" -> (Workload.medianOf(tracedS.toSeq) - Workload.medianOf(untracedS.toSeq)))
      } else {
        val steady = untracedS.toSeq
        Seq(
          "setup_s" -> setupS,
          "first_op_s" -> firstS,
          "op_p50_s" -> Workload.medianOf(steady),
          "items_per_s" -> wl.items * steady.size / steady.sum,
          "retained_heap_mb" -> retainedHeapMb())
      }
    val line = Json.obj(Seq(
      "attempted" -> attempted,
      "failed" -> failed,
      "op_s" -> (firstS +: (untracedS ++ tracedS).toSeq),
      "checks" -> checks.map(c => Json.obj(Seq("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))),
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.obj(Seq("value" -> v, "unit" -> unit(k))) })))
    println(s"GRAFTBENCH $line")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  /** The session every graft entry point builds: the same confs as
    * `graft.Bench`, with Spark's scratch space inside the run's directory.
    */
  def session(work: File, traced: Boolean): SparkSession = {
    val cpus = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (traced) b.config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Live heap after full collections, once the workload has dropped its
    * sessions and results and the cache is cleared.
    */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  def unit(name: String): String =
    if (name.endsWith("_per_s")) "items/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("mpx")) "Mpx"
    else "count"
}
