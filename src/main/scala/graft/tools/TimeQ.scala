package graft.tools

import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Times named registry queries AND raster bench cases (Bench's
  * protocol: checksum-materialize every column for registry queries,
  * the E2E thunk for raster_* names; warm first iteration kept
  * separate) without paying for the full bench sweep — the
  * targeted-iteration loop for perf work, and (r12 verdict #3) the
  * isolated-validation path for the raster BASELINE comparables.
  * Usage: runMain graft.tools.TimeQ <name> [name ...]; env
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS / SPARK_GRAFT_ITERS as usual.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt
    val spark = graft.Bench.buildSession(32)
    val raster = graft.Bench.rasterCases(spark).toMap
    val unknown = args.filterNot(n =>
      graft.SparkEntry.queries.contains(n) || raster.contains(n))
    if (unknown.nonEmpty) {
      System.err.println(s"TIMEQ ERROR: unknown names (neither registry " +
        s"query nor raster case): ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    def run(name: String): Unit = raster.get(name) match {
      case Some(thunk) => thunk()
      case None =>
        val d = graft.SparkEntry.queries(name)(spark, sfDir)
        d.select(bit_xor(xxhash64(struct(d.columns.toIndexedSeq.map(col): _*)))).collect()
        ()
    }
    args.foreach { name =>
      try run(name) catch { case e: Throwable =>
        System.err.println(s"warmless first run failed $name: ${e.getMessage}") }
      spark.catalog.clearCache() // cold iteration 1, like Bench
      val times = (1 to iters).map { i =>
        val t0 = System.nanoTime()
        run(name)
        val dt = (System.nanoTime() - t0) / 1e9
        if (i == iters) spark.catalog.clearCache()
        dt
      }
      println(f"TIMEQ $name%-32s min ${times.min}%.3f  all ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
