package graft.tools

/** Construction-cost census over the whole registry (diagnostic): calls
  * each query function twice WITHOUT executing the result and reports
  * the second call's wall time — the steady-state per-action Dataset
  * construction cost a bench iteration pays before any task runs
  * (eager per-operation analysis, embedded driver actions like Grid's
  * bucket sizing; shared bases memoized on SessionMemo show ~0). Found
  * the r19 a5/a5b/d17 memoization candidates; run it when the slow
  * tail shifts. Through `rawQueries` every entry's second call is a
  * real construction — including the eleven (a4, a5, a5b, d12, d14,
  * d17, g7, s21, t34, x15, x22) that once carried their own memo and
  * showed ~0 here.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.BuildCensus [minMs]"
  */
object BuildCensus {
  def main(args: Array[String]): Unit = {
    val minMs = args.headOption.map(_.toLong).getOrElse(100L)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.buildSession(32)
    spark.sparkContext.setLogLevel("ERROR")

    // rawQueries, NOT queries (r19 ADVICE): the prepared-query memo
    // would make every second call a map hit (~0 ms) and the census
    // could no longer surface a construction-cost regression for the
    // memoized majority — the raw registry measures real construction.
    val results = graft.SparkEntry.rawQueries.toSeq.map { case (name, fn) =>
      val t0 = System.nanoTime()
      fn(spark, sfDir)
      val first = (System.nanoTime() - t0) / 1000000L
      val t1 = System.nanoTime()
      fn(spark, sfDir)
      val second = (System.nanoTime() - t1) / 1000000L
      (name, first, second)
    }
    println(f"${"query"}%-36s ${"first_ms"}%9s ${"second_ms"}%10s")
    results.filter(_._3 >= minMs).sortBy(-_._3).foreach { case (n, f, sec) =>
      println(f"$n%-36s $f%9d $sec%10d")
    }
    val total = results.map(_._3).sum
    println(s"TOTAL second-call construction: ${total}ms over ${results.size} queries (${results.count(_._3 >= minMs)} >= ${minMs}ms shown)")
    spark.catalog.clearCache()
    spark.stop()
  }
}
