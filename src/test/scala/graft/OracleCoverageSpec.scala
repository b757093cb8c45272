package graft

/** The oracle-coverage rule: every registry query has a DuckDB
  * `oracleSql` entry except the KMeans family, which embeds its own
  * fitted centroids and is not SQL-expressible; no oracle names a query
  * the registry lacks; and the flagship entry returns rows.
  */
class OracleCoverageSpec extends SparkSpec {

  test("every registry query but the KMeans family has an oracle, and every oracle a query") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("s4_ivf_ann_topk", "s9_ivf_probe_sweep", "s21_ivfpq_ann", "s22_pq_train_gain"))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet)
  }

  test("the flagship entry returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
