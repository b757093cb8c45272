package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.plans.GraftExtensions

/** A fresh session reuses the code an earlier session compiled: the
  * session set-up turns off per-session artifact isolation, which would
  * give each session's tasks their own classloader and so their own
  * entries in Spark's codegen cache.
  */
class FreshSessionSpec extends SparkSpec {

  private val key = GraftExtensions.ArtifactIsolationKey

  test("a fresh session compiles nothing an earlier session compiled") {
    val x1 = SparkEntry.queries("x1_shipping_priority")
    val rowsA = x1(spark.newSession(), Sf0001).collect().map(_.toString).sorted.toSeq
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val rowsB = x1(spark.newSession(), Sf0001).collect().map(_.toString).sorted.toSeq
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"the second session compiled $compiles classes")
    assert(rowsB == rowsA && rowsA.nonEmpty)
  }

  test("register turns artifact isolation off unless the caller set it") {
    val s = spark.newSession()
    GraftExtensions.register(s)
    assert(s.conf.get(key) == "false")
    val kept = spark.newSession()
    kept.conf.set(key, "true")
    GraftExtensions.register(kept)
    assert(kept.conf.get(key) == "true")
  }
}
