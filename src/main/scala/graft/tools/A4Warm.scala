package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.enhance.Clahe
import graft.ext.Tables

/** Warm-leg breakdown of a4_clahe (dev utility): after one cold run
  * populates the persists, times each warm sub-action separately.
  */
object A4Warm {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      // r21 (ADVICE r20 #2): timing sessions must carry BOTH comparability
      // confs (CLAUDE.md rule) or isolated numbers drift vs Bench/TimeQ
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[a4warm] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // cold run to populate every persist
    time("cold full")(Clahe.query(spark, dir).select(sum(col("q"))).collect())
    (1 to 2).foreach { it =>
      println(s"[a4warm] --- warm iteration $it")
      time("Grid.df construct (incl. max head job)")(graft.enhance.Grid.df(spark, dir))
      val li = Tables.parquet(spark, s"$dir/lineitem.parquet")
      time("bare max(l_orderkey) head")(li.agg(max(col("l_orderkey").cast("long"))).head())
      time("construct query()")(Clahe.query(spark, dir))
      val q = Clahe.query(spark, dir)
      if (it == 1) spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          starts.put(j.jobId, System.nanoTime())
          val desc = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
          println(s"[a4warm]   job ${j.jobId} START stages=${j.stageInfos.size} " +
            j.stageInfos.map(_.name.takeWhile(_ != '\n').take(50)).mkString("|") + " " + desc.take(60))
        }
        override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val dt = (System.nanoTime() - starts.getOrDefault(j.jobId, System.nanoTime())) / 1e9
          println(f"[a4warm]   job ${j.jobId} END ${dt}%.2f s")
        }
      })
      val agg = q.select(sum(col("q")))
      if (it == 1) {
        val p = agg.queryExecution.executedPlan.toString
        println("[a4warm] === executedPlan (truncated) ===")
        p.linesIterator.take(60).foreach(l => println("[a4warm] | " + l))
      }
      time("phase: analyzed")(agg.queryExecution.analyzed)
      time("phase: withCachedData")(agg.queryExecution.withCachedData)
      time("phase: optimizedPlan")(agg.queryExecution.optimizedPlan)
      time("phase: executedPlan")(agg.queryExecution.executedPlan)
      time("phase: execute collect")(agg.collect())
      time("full warm (sum)")(q.select(sum(col("q"))).collect())
      time("full warm count")(q.count())
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      time("full warm (sum) AQE OFF")(q.select(sum(col("q"))).collect())
      time("full warm (sum) AQE OFF 2")(q.select(sum(col("q"))).collect())
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      time("full warm (sum) WSCG OFF")(q.select(sum(col("q"))).collect())
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    spark.stop()
  }
}
