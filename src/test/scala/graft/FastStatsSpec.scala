package graft

import org.apache.spark.sql.{Dataset, Row}

import graft.api.{DbTile, Engine}
import graft.model.AutoscaleStrategy
import graft.stats.{FastStats, HistStats}

/** The stats path the engine runs, [[Engine.tileStats]] over dB tiles,
  * must agree with the declarative oracle-checked path [[HistStats.stats]]
  * on the tiles' valid values: percentiles and min/max bit-identical
  * (integer bin counts + the same inversion arithmetic), mean/std within
  * float-merge tolerance. [[Engine.paramsFor]] must pick the declarative
  * tables' clip window for every strategy.
  */
class FastStatsSpec extends SparkSpec {
  import spark.implicits._

  /** `vals` as 1×w DbTiles over three partitions, with pixels at or
    * below the −50 dB floor mixed in for the mask to drop.
    */
  private def tiles(vals: Seq[Double]): Dataset[DbTile] = {
    val masked = Seq(-50.0, -63.5, Double.NaN, -120.0)
    val withMasked = vals.zipWithIndex.flatMap { case (v, i) =>
      if (i % 5 == 0) Seq(masked(i / 5 % masked.length), v) else Seq(v)
    } ++ masked
    val ts = withMasked.grouped(97).zipWithIndex.map { case (g, c) =>
      DbTile(0, c, 1, g.length, g.toArray)
    }.toSeq
    spark.createDataset(spark.sparkContext.parallelize(ts, 3))
  }

  private def oracle(vals: Seq[Double]): Row = HistStats.stats(vals.toDF("db")).collect()(0)

  private def compare(vals: Seq[Double]): FastStats.FastStatsResult = {
    val ds = tiles(vals)
    assert(ds.rdd.getNumPartitions >= 2)
    val fast = Engine.tileStats(ds)
    val slow = oracle(vals)
    assert(fast.n == slow.getLong(0))
    assert(fast.min == slow.getAs[Double]("min_db"))
    assert(fast.max == slow.getAs[Double]("max_db"))
    assert(math.abs(fast.mean - slow.getAs[Double]("mean_db")) < 1e-9)
    assert(math.abs(fast.std - slow.getAs[Double]("std_db")) < 1e-9)
    HistStats.Percentiles.foreach { case (nm, _) =>
      assert(fast.percentiles(nm) == slow.getAs[Double](nm),
        s"$nm: fast=${fast.percentiles(nm)} slow=${slow.getAs[Double](nm)}")
    }
    fast
  }

  test("fast stats match declarative stats on uniform data") {
    compare((1 to 5000).map(i => -45.0 + i / 100.0))
  }

  test("fast stats match on skewed data") {
    compare((0 until 3000).map(i => -40.0 + math.pow(1.0012, i)))
  }

  test("fast stats match on degenerate inputs") {
    val flat = compare(Seq.fill(50)(-3.25))
    assert(flat.percentiles.values.forall(_ == -3.25))
    val empty = compare(Seq.empty)
    assert(empty.n == 0 && empty.percentiles.values.forall(_ == 0.0))
  }

  /** Data sets that take each of the legacy heuristic's four branches
    * (`autoscale.rs:404-429`), with the engine's stats of each.
    */
  private lazy val branchData: Seq[(String, Seq[Double], FastStats.FastStatsResult)] = {
    val rnd = new scala.util.Random(7)
    Seq(
      "range<15" -> Seq.fill(3000)(-20.0 + 12.0 * rnd.nextDouble()),
      "iqr<5" -> (Seq.fill(3000)(-15.0 + 2.0 * rnd.nextDouble()) ++ Seq(-38.0, 1.5, -2.0)),
      "range>40" -> Seq.fill(3000)(-46.0 + 45.0 * rnd.nextDouble()),
      "rest" -> Seq.fill(3000)(-30.0 + 25.0 * rnd.nextDouble() * rnd.nextDouble())
    ).map { case (branch, vals) => (branch, vals, compare(vals)) }
  }

  private def legacyBranch(st: FastStats.FastStatsResult): String = {
    val range = st.max - st.min
    if (range < 15.0) "range<15"
    else if (st.percentiles("p75") - st.percentiles("p25") < 5.0) "iqr<5"
    else if (range > 40.0) "range>40"
    else "rest"
  }

  private def assertWindow(what: String, got: (Double, Double, Double),
                           want: (Double, Double, Double), tol: Double): Unit =
    assert(math.abs(got._1 - want._1) <= tol && math.abs(got._2 - want._2) <= tol &&
      got._3 == want._3, s"$what: engine $got, declarative $want")

  test("strategy params agree with the declarative advancedParams") {
    branchData.foreach { case (branch, vals, st) =>
      val advanced = HistStats.advancedParams(HistStats.stats(vals.toDF("db"))).collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
      AutoscaleStrategy.all.filter(_ != AutoscaleStrategy.Standard).foreach { s =>
        // Adaptive reads mean/std, which agree to float-merge tolerance;
        // every other window is percentiles, bit-equal
        val tol = if (s == AutoscaleStrategy.Adaptive) 1e-9 else 0.0
        assertWindow(s"$branch ${s.name}", Engine.paramsFor(st, s), advanced(s.name), tol)
      }
    }
  }

  test("Standard's legacy params agree with the declarative legacyParams on all four branches") {
    branchData.foreach { case (branch, vals, st) =>
      assert(legacyBranch(st) == branch, s"data for $branch takes ${legacyBranch(st)}")
      val r = HistStats.legacyParams(HistStats.stats(vals.toDF("db"))).collect()(0)
      assertWindow(s"$branch standard", Engine.paramsFor(st, AutoscaleStrategy.Standard),
        (r.getDouble(0), r.getDouble(1), r.getDouble(2)), 0.0)
    }
  }
}
