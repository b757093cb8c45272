package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One recorded span. `counts` holds the [[Probe]] counters' change over
  * the span.
  */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's layers. The
  * client is one thread, so open spans form a stack. A disabled tracer
  * only runs the body: the untraced path pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, mutable.Map[String, Double])]
  private var nextId = 0
  private var op = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val extra = mutable.Map.empty[String, Double]
      open.push((id, extra))
      val before = Probe.snapshot(sc)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        val after = Probe.snapshot(sc)
        open.pop()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
        done += Span(id, name, op, parent, t0, t1, ms0, ms1, delta ++ extra)
      }
    }

  /** Adds to a count of the innermost open span: work the layer did
    * that the listeners cannot see, such as pixels read or bytes written.
    */
  def count(name: String, v: Double): Unit =
    open.headOption.foreach { case (_, extra) => extra(name) = extra.getOrElse(name, 0.0) + v }

  /** Runs one operation under a root span named `op`, with its own id. */
  def operation[A](body: => A): A = {
    op += 1
    span("op")(body)
  }

  def spans: Seq[Span] = done.toSeq

  /** A span's duration minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  def toJson: String = done.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "counts" -> Json.obj(s.counts.toSeq.sortBy(_._1))))
  }.mkString("[\n", ",\n", "\n]\n")
}
