package graft.tools

/** Flagship smoke: `SparkEntry.entry` row count and the registry and
  * oracle sizes.
  */
object EntryCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.build(4)
    println("ENTRY_ROWS=" + graft.SparkEntry.entry(spark).count())
    println("QUERIES=" + graft.SparkEntry.queries.size +
      " ORACLES=" + graft.SparkEntry.oracleSql.size)
    spark.stop()
  }
}
