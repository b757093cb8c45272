package graft.tools

/** Persist-lifetime audit: machine-checks the contract documented on
  * `SparkEntry.queries` — a registry fn MAY leave persisted relations
  * behind on return (shared fixtures, memoized bases; long-lived
  * callers clearCache between queries), but only the DOCUMENTED ones.
  * For each query this runs the checksum action from a clean cache,
  * then counts persisted RDDs still registered. A query that leaves
  * persists without being in the documented set (Bench.extraIters —
  * the internal/memoized-persist list — or the CC-loop set) is flagged
  * and the run exits nonzero, so an undocumented persist can't slip in
  * comment-enforced.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PersistAudit
  * [name ...]" — no names = the full registry.
  */
object PersistAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.build(8)
    // Queries allowed to leave persists alive on return: the documented
    // internal/memoized-persist set plus the CC label-propagation
    // queries (session-lifetime ccMemo labels + their edge fixtures).
    val documented = graft.Bench.extraIters ++ graft.Bench.auditSkip
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    var undocumented = List.empty[String]
    names.foreach { name =>
      spark.catalog.clearCache()
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val ok = try {
        graft.Bench.checksum(graft.SparkEntry.queries(name)(spark, sfDir)).collect()
        true
      } catch { case e: Throwable =>
        println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      if (ok) {
        val leftover = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
        val expected = documented(name)
        if (leftover.nonEmpty && !expected) undocumented ::= name
        println(s"AUDIT $name leftover=${leftover.size} " +
          s"${if (leftover.isEmpty) "clean" else if (expected) "documented" else "UNDOCUMENTED"}")
      }
    }
    spark.catalog.clearCache()
    if (undocumented.nonEmpty) {
      println(s"AUDIT FAIL undocumented persists: ${undocumented.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    println("AUDIT PASS: only documented relations stay persisted")
    spark.stop()
  }
}
