package graft

import org.apache.spark.sql.functions._
import graft.enhance.LocalStats

/** Micro-fixture pins for the enhance-tier fold plans; the sf-corpus
  * hash gates (a4/a5/a5b vs DuckDB) cover the full-scale semantics.
  */
class EnhanceSpec extends SparkSpec {
  import spark.implicits._

  test("A5 fold: border shrink, invalid exclusion, phantom drop — hand-checked 3×3") {
    // db(y,x) = 3y + x; (2,2) invalid
    val g = (for (y <- 0 to 2; x <- 0 to 2)
      yield (y, x, (3 * y + x).toDouble, !(y == 2 && x == 2)))
      .toDF("y", "x", "db", "valid")
    // r21: the fold normalizes coordinates to LONG (the Grid's native
    // type — registry output schema unchanged); int fixture columns
    // come back widened
    val r = LocalStats.statsOf(g).collect()
      .map(row => (row.getLong(0), row.getLong(1)) ->
        (row.getLong(2), row.getDouble(3), row.getDouble(4), row.getDouble(5))).toMap
    // the invalid center is DROPPED (8 rows), and no phantom positions
    // (-1,*) / (3,*) appear even though border stencils touch them
    assert(r.size == 8 && !r.contains((2L, 2L)), s"rows: ${r.keys}")
    // corner (0,0): neighborhood {0,1,3,4} → n=4, upper median vals[4/2]
    // (0-based) = vals[3rd 1-based] = 3, range 4, factor 1+0.1·(0−3)/4
    assert(r((0L, 0L)) == ((4L, 3.0, 4.0, 0.925)), s"corner: ${r((0L, 0L))}")
    // center (1,1): 8 valid of 9 → sorted [0..7], median vals[5] = 4,
    // range 7, factor 1 + 0.1·(4−4)/7 = 1
    assert(r((1L, 1L)) == ((8L, 4.0, 7.0, 1.0)), s"center: ${r((1L, 1L))}")
    // edge (2,1): neighborhood {3,4,5,6,7} (8 invalid... (2,2) excluded)
    // = rows 1..2, cols 0..2 minus (2,2) → {3,4,5,6,7}, n=5,
    // median vals[5 div 2 + 1] = vals[3] = 5, range 4,
    // factor 1 + 0.1·(7−5)/4 = 1.05
    assert(r((2L, 1L)) == ((5L, 5.0, 4.0, 1.05)), s"edge: ${r((2L, 1L))}")
  }

  test("A5 fold: mixed-sign zeros — hand-checked 3×3, every emitted zero is +0.0") {
    //  -0  0  1
    //  -0 -0  2
    //   3 -0  0
    val db = Array(Array(-0.0, 0.0, 1.0), Array(-0.0, -0.0, 2.0), Array(3.0, -0.0, 0.0))
    val g = (for (y <- 0 to 2; x <- 0 to 2) yield (y, x, db(y)(x), true))
      .toDF("y", "x", "db", "valid")
    val rows = LocalStats.statsOf(g).collect()
    val r = rows.map(row => (row.getLong(0), row.getLong(1)) ->
      (row.getLong(2), row.getDouble(3), row.getDouble(4), row.getDouble(5))).toMap
    // Arrays.sort puts -0.0 before 0.0; median = sorted(n/2), 0-based
    val expected = Map(
      (0L, 0L) -> ((4L, 0.0, 0.0, 1.0)), // [-0,-0,-0,0]: median -0.0, range 0 → factor 1
      (0L, 1L) -> ((6L, 0.0, 2.0, 1.0)), // [-0,-0,-0,0,1,2]: median 0, center 0
      (0L, 2L) -> ((4L, 1.0, 2.0, 1.0)), // [-0,0,1,2]: median 1, center 1
      (1L, 0L) -> ((6L, 0.0, 3.0, 1.0)), // [-0,-0,-0,-0,0,3]: median -0.0, center -0.0
      (1L, 1L) -> ((9L, 0.0, 3.0, 1.0)), // [-0×4,0,0,1,2,3]: median 0, center -0.0
      (1L, 2L) -> ((6L, 0.0, 2.0, 1.1)), // [-0,-0,0,0,1,2]: 1 + 0.1·(2−0)/2
      (2L, 0L) -> ((4L, 0.0, 3.0, 1.1)), // [-0,-0,-0,3]: median -0.0, 1 + 0.1·(3+0)/3
      (2L, 1L) -> ((6L, 0.0, 3.0, 1.0)), // [-0,-0,-0,0,2,3]: median 0, center -0.0
      (2L, 2L) -> ((4L, 0.0, 2.0, 1.0))) // [-0,-0,0,2]: median 0, center 0
    assert(r == expected, s"cells: $r")
    // == equates -0.0 and 0.0; the bits show round(…, 6) emits +0.0 even
    // where the picked median was -0.0
    val zeros = rows.flatMap(row => Seq(row.getDouble(3), row.getDouble(4))).filter(_ == 0.0)
    assert(zeros.nonEmpty && zeros.forall(z => java.lang.Double.doubleToRawLongBits(z) == 0L),
      s"signed zeros emitted: ${zeros.mkString(", ")}")
  }

  test("A5 fold: all-invalid grid yields empty output; single-pixel grid is its own median") {
    val empty = Seq((0, 0, 1.0, false)).toDF("y", "x", "db", "valid")
    assert(LocalStats.statsOf(empty).count() == 0)
    val one = Seq((0, 0, 7.5, true)).toDF("y", "x", "db", "valid")
    val r = LocalStats.statsOf(one).collect()(0)
    // n=1, median = itself, range 0 → factor 1 (the range>0 guard)
    assert(r.getLong(2) == 1L && r.getDouble(3) == 7.5 &&
      r.getDouble(4) == 0.0 && r.getDouble(5) == 1.0)
  }
}
