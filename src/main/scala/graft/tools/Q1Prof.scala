package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.Tables

/** Stage profile of q1_agg's 1.2 s warm floor at sf0.1: is it the scan,
  * the DECIMAL aggregation, or harness overhead? Diagnostic only.
  */
object Q1Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // r21 (ADVICE r20 #2): timing sessions must carry BOTH comparability
      // confs (CLAUDE.md rule) or isolated numbers drift vs Bench/TimeQ
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "4096"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(label: String)(f: => Unit): Unit = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(f"  $label%-34s min ${runs.min}%.3f  all ${runs.map(r => f"$r%.2f").mkString(" ")}")
    }
    val li = Tables.parquet(spark, s"$dir/lineitem.parquet")
    li.count() // warm FS cache
    t("count only")(li.count())
    t("raw double agg") {
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum("l_quantity"), sum("l_extendedprice"), count(lit(1)))
        .collect()
    }
    val price = col("l_extendedprice").cast(DecimalType(18, 2))
    val disc = col("l_discount").cast(DecimalType(4, 2))
    val tax = col("l_tax").cast(DecimalType(4, 2))
    val one = lit(1).cast(DecimalType(3, 2))
    val discPrice = price * (one - disc)
    t("decimal agg (q1 body)") {
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(discPrice * (one + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order")).collect()
    }
    t("full q1 via registry") {
      graft.SparkEntry.queries("q1_agg")(spark, dir).collect()
    }
    spark.stop()
  }
}
