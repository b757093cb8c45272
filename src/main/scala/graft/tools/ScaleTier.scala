package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.Tables

/** Opt-in larger-SF scaling tier (r21, r20 verdict #5).
  *
  * PERF_r20's scaling block showed every surviving sf0.1 entry is
  * scheduling/driver-overhead bound (sec@8 / sec@32 ratios 0.64–1.41
  * against a 4× core ratio; the 8-core sweep total was LOWER than the
  * 32-core one), so the default bench can no longer demonstrate that the
  * data path parallelizes at all. This tool builds a K×-replicated copy
  * of the sf0.1 tables (key-shifted so entity cardinalities scale, not
  * just per-key row counts), times a fixed set of scan-heavy registry
  * queries at a LOW and HIGH core count in fresh sessions, and writes
  * `scale_tier.json` with the per-query ratios — the side JSON the
  * verdict asked for, kept OUT of the driver's contract artifact.
  *
  * Honesty notes: the scaled dataset is generated fresh into a temp dir
  * on every invocation (no cross-run reuse, nothing keyed on
  * /root/testdata survives the run), is used only for this throughput
  * measurement, and never feeds Verify/the oracle gate (CLAUDE.md: the
  * correctness gate runs ONLY over the driver's testdata). Timing
  * discipline: each core count runs `Bench.runSuite` over the queries
  * in a fresh session, so every number is in the sweep's own units:
  * the published min, and the cold (the build plus the first
  * iteration) where the protocol records one. A failed query fails the
  * tier.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE_K=16 \
  *     sbt -batch "runMain graft.tools.ScaleTier"
  * Env: SPARK_GRAFT_SCALE_K (replication factor, default 16),
  *      SPARK_GRAFT_SCALE_CPUS (low,high — default "8,32").
  */
object ScaleTier {

  /** Scan-heavy, single-fact-table registry queries whose cost is the
    * data path (not plan/scheduling overhead): the TPC-H-style exact
    * DECIMAL aggregation, the rollup restructure, token-explode text
    * stats, per-doc simhash hashing, and the WAU expansion. Each reads
    * exactly one of the replicated tables.
    */
  val Queries: Seq[String] = Seq("q1_agg", "x3_revenue_rollup",
    "t6_repetition", "d4_simhash", "e13_active_users")

  /** Key shift per replica — far above any real key range so replicas
    * never collide (doc_id/user_id/orderkey are < 1e9 at sf0.1).
    */
  private val Shift = 1000000000000L

  /** K-replicate a table, shifting the named BIGINT entity keys by
    * `i * Shift` per replica so the entity population scales with K
    * (plain duplication would instead make every key K× hotter — a
    * different, skew-shaped corpus).
    */
  private def replicate(s: SparkSession, src: String, dst: String,
                        table: String, keys: Seq[String], k: Int): Long = {
    val base = Tables.parquet(s, s"$src/$table.parquet")
    val copies = (0 until k).map { i =>
      keys.foldLeft(base) { (d, c) => d.withColumn(c, col(c) + lit(i * Shift)) }
    }
    val all = copies.reduce(_ unionAll _)
    all.write.mode("overwrite").parquet(s"$dst/$table.parquet")
    Tables.parquet(s, s"$dst/$table.parquet").count()
  }

  def main(args: Array[String]): Unit = {
    // each tier's session is local[cpus] with cpus shuffle partitions;
    // SPARK_GRAFT_CPUS would override both
    require(!sys.env.contains("SPARK_GRAFT_CPUS"),
      "ScaleTier sets its own core counts (SPARK_GRAFT_SCALE_CPUS); unset SPARK_GRAFT_CPUS")
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val k = sys.env.get("SPARK_GRAFT_SCALE_K").flatMap(_.toIntOption).getOrElse(16)
    val Array(lo, hi) = sys.env.getOrElse("SPARK_GRAFT_SCALE_CPUS", "8,32")
      .split(',').map(_.trim.toInt)
    val dst = java.nio.file.Files.createTempDirectory("graft-scale").toString
    // ---- generate (one session; not timed) -------------------------
    val gen = graft.GraftSession.build(hi)
    val rows = try {
      Seq(
        "lineitem" -> replicate(gen, src, dst, "lineitem", Seq("l_orderkey"), k),
        "documents" -> replicate(gen, src, dst, "documents", Seq("doc_id"), k),
        "events" -> replicate(gen, src, dst, "events", Seq("event_id", "user_id"), k))
    } finally gen.stop()
    println(s"SCALE generated k=$k at $dst: " +
      rows.map { case (t, n) => s"$t=$n" }.mkString(", "))
    // ---- time at each core count (fresh session each) --------------
    def timeAll(cpus: Int): Map[String, Double] = {
      val s = graft.GraftSession.build(cpus)
      val r = try graft.Bench.runSuite(s, dst, Queries.toSet) finally s.stop()
      val (cold, iters) = (r.cold.toMap, r.iters.toMap)
      r.results.foreach { case (name, min) =>
        println(f"SCALE local[$cpus] $name%-22s min $min%.2f  cold " +
          cold.get(name).fold("-")(c => f"$c%.2f") + s"  iters ${iters(name)}")
      }
      // a failed entry publishes -1: no ratio or artifact is written from it
      require(r.failed.isEmpty, s"SCALE FAIL at local[$cpus]: ${r.failed.mkString(", ")}")
      r.results.toMap
    }
    // HIGH first, LOW second: both sessions share one JVM, so residual
    // JIT warmth from the first run can only make the SECOND faster.
    // With LOW second that bias lowers sec@low, i.e. lowers the
    // reported ratio — the conservative direction for a claim of
    // parallel speedup.
    val hiT = timeAll(hi)
    val loT = timeAll(lo)
    val entries = Queries.map { q =>
      val r = loT(q) / hiT(q)
      s""""$q":{"sec$lo":${f"${loT(q)}%.3f"},"sec$hi":${f"${hiT(q)}%.3f"},"ratio":${f"$r%.2f"}}"""
    }
    val json = s"""{"src":"$src","k":$k,"cpus_low":$lo,"cpus_high":$hi,""" +
      rows.map { case (t, n) => s""""rows_$t":$n""" }.mkString(",") +
      s""","queries":{${entries.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("scale_tier.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    // the scaled dataset is a per-run temp artifact; delete it so no
    // cross-run intermediate keyed on the testdata survives
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm)
      java.nio.file.Files.deleteIfExists(p)
      ()
    }
    rm(java.nio.file.Paths.get(dst))
  }
}
