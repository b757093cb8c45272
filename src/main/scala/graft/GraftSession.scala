package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up of every graft main: Bench, Verify, the Cli and
  * the tools. A caller that needs something different sets it on the
  * built session (`spark.conf.set`), as the planning-only audits do for
  * AQE. SessionBuilderSpec fails on any other session builder in the
  * main sources.
  */
object GraftSession {

  /** Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * a STATIC conf) defaults to 100 entries, while one registry query
    * compiles ~20-40 codegen units per action under AQE: a 6-query chunk
    * cycles 100+ classes per iteration, so EVERY warm iteration re-ran
    * janino (`Profile stages` janino_n 20-42 warm; x15 warm stuck at
    * 2.4-2.6 s). At 4096 entries recompiles converge to 0 and x15's warm
    * wall drops to ~1.1 s. This is the "JVM holding 130+ plans inflates
    * timings" class: capacity thrash, not metaspace. The cache is
    * per-JVM (driver AND executors at cluster scale), so the production
    * value is the same. Generated classes are ~10-30 KB of metaspace
    * each → ≤~120 MB at this size.
    */
  val CodegenCacheEntries = 4096

  /** AQE posts a plan-DESCRIPTION string per stage update, rendered and
    * regex-redacted on the driver thread; for queries whose cached
    * lineage is large (a4's ~60 grid copies, the memoized dedup/graph
    * bases) that rendering was ~0.8 s/action of pure driver CPU — the
    * warm floor itself, since task wall is ~0.3 s (`Profile phases` on
    * a4_clahe). Capping the string bounds the cost with no effect on
    * plans or results (a4 warm min 1.89 s → 1.10 s). A plan dump lifts
    * the cap on its own session (`Profile plan`).
    */
  val MaxPlanStringLength = 8192

  /** A session on `master` (default `local[n]`) with n shuffle
    * partitions, n = SPARK_GRAFT_CPUS, else `defaultCpus`. graft's
    * functions and optimizer rule are registered before anything runs
    * on it: `GraftExtensions.register` also turns artifact isolation
    * off, and Spark reads that key on a session's first query.
    */
  def build(defaultCpus: Int, master: Option[String] = None): SparkSession = {
    val n = cpus(defaultCpus)
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.maxPlanStringLength", MaxPlanStringLength.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_CPUS, else `defaultCpus`: the n of [[build]]. */
  def cpus(defaultCpus: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(defaultCpus)
}
