package graft

/** `Bench.runSuite` at sf0.001 on one registry entry whose memo entry
  * owns persists and one whose entry owns none: the iteration count and
  * the `cold` record follow SessionMemo's record of the build.
  */
class BenchRunSuiteSpec extends SparkSpec {

  test("runSuite: 3 warm iterations and a cold record exactly when the memo entry owns persists") {
    val (owns, plain) = ("d3_minhash_lsh", "p1_db_mask")
    val r = Bench.runSuite(spark, Sf0001, Set(owns, plain))
    assert(ext.SessionMemo.persistsOf(SparkEntry.memoKey(owns, Sf0001)).nonEmpty)
    assert(ext.SessionMemo.persistsOf(SparkEntry.memoKey(plain, Sf0001)).isEmpty)
    assert(r.failed.isEmpty && r.results.map(_._1).toSet == Set(owns, plain))
    // iterations an in-place re-time added on a contended host
    val extra = r.retimed.map(t => t.name -> t.extra).toMap.withDefaultValue(0)
    val iters = r.iters.toMap
    assert(iters(owns) - extra(owns) == 3, r)
    assert(iters(plain) - extra(plain) == 2, r)
    assert(r.cold.map(_._1) == Seq(owns), r)
  }
}
