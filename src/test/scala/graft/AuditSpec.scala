package graft

import graft.tools.Audit

/** Drives each `tools.Audit` check to both verdicts: a cartesian, a
  * global window and a duplicated subtree are flagged exactly when the
  * query has no allowlist entry, and a persist left behind passes
  * exactly when a memo entry owns it.
  */
class AuditSpec extends SparkSpec {

  private def plan(name: String) = Audit.preparedPlan(spark)(SparkEntry.queries(name)(spark, Sf0001))

  test("plan: a crossJoin planned with broadcast joins off is a cartesian") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val crossed = try Audit.preparedPlan(spark)(spark.range(10).crossJoin(spark.range(10)))
      finally spark.conf.set(key, prior)
    assert(Audit.planCheck("crossed", crossed) == Audit.Verdict("CARTESIAN", fails = true, allowed = false))
    assert(Audit.planCheck("range", Audit.preparedPlan(spark)(spark.range(10).toDF())) ==
      Audit.Verdict("clean", fails = false, allowed = false))
  }

  test("plan: a1_stats's global window is a documented spine, UNDOC without its entry") {
    val p = plan("a1_stats")
    assert(Audit.planCheck("a1_stats", p) ==
      Audit.Verdict("global-window(documented-spine)", fails = false, allowed = true))
    assert(Audit.planCheck("a1_stats", p, Audit.GlobalWindowAllowed - "a1_stats") ==
      Audit.Verdict("global-window(UNDOC)", fails = true, allowed = false))
  }

  test("dup: a2_percentiles's two-pass histogram is allowed, FLAGGED without its entry") {
    val p = plan("a2_percentiles")
    assert(Audit.dupCheck("a2_percentiles", p) ==
      Audit.Verdict("allowed: InputAdapter(nodes=13 x2)", fails = false, allowed = true))
    assert(Audit.dupCheck("a2_percentiles", p, Map.empty) ==
      Audit.Verdict("FLAGGED: InputAdapter(nodes=13 x2)", fails = true, allowed = false))
  }

  test("persist: a bare persist left behind is UNDOCUMENTED, a memo-owned one documented") {
    spark.catalog.clearCache()
    val before = Audit.persisted(spark)
    val bare = spark.range(10).persist()
    try {
      bare.count()
      assert(Audit.persistCheck(spark, before) ==
        Audit.Verdict("leftover=1 UNDOCUMENTED", fails = true, allowed = false))
    } finally bare.unpersist(blocking = true)

    spark.catalog.clearCache()
    val beforeQuery = Audit.persisted(spark)
    Bench.checksum(SparkEntry.queries("x22_top_supplier")(spark, Sf0001)).collect()
    val owned = Audit.persistCheck(spark, beforeQuery)
    assert(!owned.fails && owned.text.matches("leftover=[1-9]\\d* documented"), owned)
    spark.catalog.clearCache()
  }
}
