package graftbench

/** The per-layer metrics of a traced run, from its spans. Each metric is
  * taken per operation; the run reports the first operation's value under
  * `first.` and the median over the traced steady operations without a
  * prefix.
  */
object Layers {
  /** Spans named after the engine call they wrap; a layer's time is the
    * self time of its spans.
    */
  val Timed: Seq[String] = Seq(
    "sources.scan", "geom.warp", "geom.resize_collect", "geom.pad", "stats.tile_stats",
    "ops.db_quantize", "api.compose", "sink.write", "registry.build", "registry.collect")

  /** Counters of the whole operation, from the listeners. */
  val OpCounters: Seq[String] = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.compiles", "codegen.compile_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.gc_s", "jvm.gc_s")

  private def perOp(t: Tracer, self: Map[Int, Double], op: Int): Seq[(String, Double)] = {
    val spans = t.spans.filter(_.op == op)
    val root = spans.find(_.name == "op").get
    def under(layer: String, counter: String) =
      spans.filter(_.name == layer).map(_.counts.getOrElse(counter, 0.0)).sum
    def counted(counter: String) = spans.map(_.counts.getOrElse(counter, 0.0)).sum
    Timed.map(l => s"${l}_s" -> spans.filter(_.name == l).map(s => self(s.id)).sum) ++
      Seq(
        "sources.mpx" -> counted("sources.mpx"),
        "geom.warp_shuffle_write_mb" -> under("geom.warp", "spark.shuffle_write_mb"),
        "api.collect_mb" -> under("geom.resize_collect", "spark.result_mb"),
        "sink.written_mb" -> counted("sink.written_mb")) ++
      OpCounters.map(c => c -> root.counts.getOrElse(c, 0.0)) ++
      Seq("spark.driver_only_s" -> Probe.idleMs(root.startMs, root.endMs) / 1e3)
  }

  def metrics(t: Tracer): Seq[(String, Double)] = {
    val self = t.selfSeconds
    val ops = t.spans.map(_.op).distinct.sorted
    val first = perOp(t, self, ops.head)
    val steady = ops.tail.map(perOp(t, self, _))
    first.map { case (k, v) => s"first.$k" -> v } ++
      first.indices.map(i => first(i)._1 -> Workload.medianOf(steady.map(_(i)._2)))
  }
}
