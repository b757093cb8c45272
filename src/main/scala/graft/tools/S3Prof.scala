package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ext.{Similarity, Tables}

/** Dev utility: stage-level timing of the s3 near-dup plan — isolates
  * the corpus scan and the coded-band materialization from candidate
  * generation + exact re-rank, with per-stage Spark job counts.
  * Run: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.S3Prof"
  */
object S3Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      // r21 (ADVICE r20 #2): timing sessions must carry BOTH comparability
      // confs (CLAUDE.md rule) or isolated numbers drift vs Bench/TimeQ
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    var jobs = 0
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    })
    def time[A](label: String)(f: => A): A = {
      val j0 = jobs
      val t0 = System.nanoTime()
      val r = f
      println(f"[prof] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s, jobs ${jobs - j0}")
      r
    }
    spark.range(1000000).count()
    val emb = Tables.parquet(spark, s"$dir/embeddings.parquet")
      .withColumn("nrm", Similarity.norm(col("embedding")))
    time("scan+nrm count")(emb.count())
    (1 to 2).foreach { i =>
      time(s"s3 planning only iter $i")(
        Similarity.cosineNeardup(spark, dir).queryExecution.executedPlan.hashCode())
    }
    (1 to 3).foreach { i =>
      time(s"s3 full iter $i (bands persist warm between)")(
        Similarity.cosineNeardup(spark, dir).collect().length)
    }
    spark.catalog.clearCache()
    spark.stop()
  }
}
