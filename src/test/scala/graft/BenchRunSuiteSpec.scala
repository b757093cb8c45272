package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** `Bench.runSuite` at sf0.001 on one registry entry whose memo entry
  * owns persists and one whose entry owns none: the iteration count and
  * the `cold` record follow SessionMemo's record of the build, and the
  * published exchanges are those of the plan the entry executes.
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

  test("runSuite: exchanges count the adaptive plan the entry executes under default confs") {
    // g1_pagerank's build persists relations, whose output partitioning
    // shapes the exchanges above them; q1_agg persists nothing. Counted
    // on g1's plan prepared with AQE off, sf0.001 reads (5, 1) where the
    // executed adaptive plan reads (7, 10).
    val names = Seq("g1_pagerank", "q1_agg")
    val r = Bench.runSuite(spark, Sf0001, names.toSet)
    val stages = new AdaptiveSparkPlanHelper {}
    names.foreach { n =>
      val d = Bench.checksum(SparkEntry.queries(n)(spark, Sf0001))
      d.collect()
      val plan = d.queryExecution.executedPlan
      val executed = (stages.collect(plan) { case e: ShuffleExchangeLike => e }.size,
        stages.collect(plan) { case e: BroadcastExchangeLike => e }.size)
      assert(r.exchanges.toMap.apply(n) == executed, n)
    }
    spark.catalog.clearCache()
  }
}
