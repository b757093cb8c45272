package graft.tools

/** Persist-lifetime audit: machine-checks the contract documented on
  * `SparkEntry.queries` — a registry fn MAY leave persisted relations
  * behind on return (shared fixtures, memoized bases; long-lived
  * callers clearCache between queries), but only ones a
  * `SessionMemo` entry owns, i.e. ones persisted through
  * `persistRecorded` inside a memoized build. For each query this runs
  * the checksum action from a clean cache and counts the persisted RDDs
  * still registered; it then unpersists every relation the held memo
  * entries own. The owner need not be the query's own entry: g6 leaves
  * the shared co-purchase edge relations persisted too. Any RDD still
  * persisted after that was persisted outside the memo: the query is
  * flagged and the run exits nonzero, so an undocumented persist can't
  * slip in comment-enforced.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.PersistAudit
  * [name ...]" — no names = the full registry.
  */
object PersistAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.build(8)
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    var undocumented = List.empty[String]
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    names.foreach { name =>
      spark.catalog.clearCache()
      val before = persisted
      val ok = try {
        graft.Bench.checksum(graft.SparkEntry.queries(name)(spark, sfDir)).collect()
        true
      } catch { case e: Throwable =>
        println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
      }
      if (ok) {
        val leftover = persisted -- before
        val (_, held) = graft.ext.SessionMemo.heldEntries
        held.foreach(k => graft.ext.SessionMemo.persistsOf(k).foreach(_.unpersist(blocking = true)))
        val expected = (leftover & persisted).isEmpty
        if (!expected) undocumented ::= name
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
