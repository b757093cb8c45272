package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.enhance.{Clahe, LocalStats, SynRgbSuppressed}
import graft.ext.{Curation, Dedup, Events, Graph, Ivf, Mix, Pii, Relational, Similarity, Sketch, Tables, TextOps}
import graft.ext.SessionMemo.PersistRecorded
import graft.ops.PixelOps
import graft.sources.Multimodal
import graft.stats.HistStats

/** Driver contract — every operator of SURVEY.md §2 exposed as a named
  * query over the driver's parquet tables, with a DuckDB oracle mirror.
  *
  * Numeric-parity conventions (so the driver's hash compare passes while
  * keeping reference semantics — SURVEY §7.5):
  *  - sums/means accumulate in DECIMAL (partition-order independent),
  *    then cast back to DOUBLE;
  *  - per-row transcendental outputs (log10/pow chains) are rounded to 6
  *    decimals at the comparison boundary only;
  *  - quantized outputs stay exact INTs;
  *  - the Spark expression trees and the oracle SQL perform the same
  *    IEEE-754 operations in the same shape.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, s"$dir/$name.parquet")

  /** dB-domain pixel view of lineitem: the SAR "band" fixture per
    * FIXTURES.md §C (l_extendedprice as the pixel magnitude).
    */
  private def liPixels(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      PixelOps.toDb(col("l_extendedprice")).as("db"))

  private val liPixelsSqlBase =
    "SELECT l_orderkey, l_linenumber, 10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)) AS db FROM lineitem"

  private def statsWith(rest: String): String =
    "WITH base AS (" + liPixelsSqlBase + "),\n" +
      HistStats.statsCtesSql("SELECT db FROM base WHERE db > -50.0") + rest

  /** Quantize SQL fragment mirroring [[PixelOps.clipQuantizeMasked]]. */
  private def quantizeSql(low: String, high: String, gamma: String, maxVal: String): String =
    s"CASE WHEN db > -50.0 THEN CAST(FLOOR(LEAST(GREATEST(pow((LEAST(GREATEST(db, $low), $high) - $low) / GREATEST($high - $low, 1.0), $gamma) * $maxVal, 0.0), $maxVal)) AS INT) ELSE 0 END"

  private case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  // ------------------------------------------------------------ §2.2 pixels

  private val p1DbMask = Q("p1_db_mask",
    (s, dir) => {
      val db = PixelOps.toDb(col("l_extendedprice"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(db, 6).as("db"),
        PixelOps.validMask(db).cast("int").as("valid"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber,
      ROUND(10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)), 6) AS db,
      CASE WHEN 10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)) > -50.0 THEN 1 ELSE 0 END AS valid
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private def bandQ(name: String, aCol: String, bCol: String,
                    f: (Column, Column) => Column, sqlExpr: String): Q = Q(name,
    (s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        f(col(aCol), col(bCol)).as("v"))
        .orderBy("l_orderkey", "l_linenumber"),
    Some(s"SELECT l_orderkey, l_linenumber, $sqlExpr AS v FROM lineitem ORDER BY l_orderkey, l_linenumber"))

  private def fr(c: String) = s"CAST($c AS REAL)"
  private val p2 = bandQ("p2_band_sum", "l_extendedprice", "l_quantity", PixelOps.bandSum,
    s"${fr("l_extendedprice")} + ${fr("l_quantity")}")
  private val p3 = bandQ("p3_band_diff", "l_extendedprice", "l_quantity", PixelOps.bandDiff,
    s"${fr("l_extendedprice")} - ${fr("l_quantity")}")
  // Division runs in f64 over f32-narrowed operands on both engines
  // (DuckDB REAL/REAL would stay f32; Spark Divide is Double-only).
  private val p4 = bandQ("p4_band_ratio", "l_extendedprice", "l_tax", PixelOps.bandRatio,
    s"CASE WHEN abs(${fr("l_tax")}) > CAST(1e-10 AS REAL) THEN CAST(${fr("l_extendedprice")} AS DOUBLE) / CAST(${fr("l_tax")} AS DOUBLE) ELSE 0.0 END")
  private val p5 = bandQ("p5_band_ndiff", "l_discount", "l_tax", PixelOps.bandNormalizedDiff,
    s"CASE WHEN abs(${fr("l_discount")} + ${fr("l_tax")}) > CAST(1e-10 AS REAL) THEN CAST(${fr("l_discount")} - ${fr("l_tax")} AS DOUBLE) / CAST(${fr("l_discount")} + ${fr("l_tax")} AS DOUBLE) ELSE 0.0 END")

  /** P6: log-ratio emits the LINEAR ratio; dB applies downstream (P1 ∘ P6,
    * `ops.rs:35-44`) — both stages exposed.
    */
  private val p6 = Q("p6_band_log_ratio",
    (s, dir) => {
      val ratio = PixelOps.bandLogRatio(col("l_extendedprice"), col("l_tax"))
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        ratio.as("v_linear"),
        round(PixelOps.toDb(ratio), 6).as("v_db"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some {
      val ratio = s"CASE WHEN abs(${fr("l_tax")}) > CAST(1e-10 AS REAL) THEN CAST(${fr("l_extendedprice")} AS DOUBLE) / CAST(${fr("l_tax")} AS DOUBLE) ELSE 0.0 END"
      s"""SELECT l_orderkey, l_linenumber, $ratio AS v_linear,
        ROUND(10.0*log10(GREATEST($ratio, 1e-10)), 6) AS v_db
        FROM lineitem ORDER BY l_orderkey, l_linenumber"""
    })

  private val p7Default = Q("p7_quantize_default",
    (s, dir) => {
      val px = liPixels(s, dir)
      val st = HistStats.stats(px.filter(PixelOps.validMask(col("db"))))
      px.crossJoin(broadcast(st)).select(
        col("l_orderkey"), col("l_linenumber"),
        PixelOps.clipQuantizeMasked(col("db"), PixelOps.validMask(col("db")),
          col("p05"), col("p95"), lit(1.0), lit(65535.0)).as("q"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(statsWith(s"""
      SELECT l_orderkey, l_linenumber, ${quantizeSql("p05", "p95", "1.0", "65535.0")} AS q
      FROM base, stats ORDER BY l_orderkey, l_linenumber""")))

  private val legacyParamsSql = s"""lp AS (
    SELECT GREATEST(CASE WHEN (max_db - min_db) < 15.0 THEN median_db - GREATEST(20.0, (max_db - min_db)*0.8)/2.0
                         WHEN (p75 - p25) < 5.0 THEN p25 - 2.5*(p75 - p25)
                         WHEN (max_db - min_db) > 40.0 THEN GREATEST(p02, min_db + 0.02*(max_db - min_db))
                         ELSE p02 END, min_db) AS low_clip,
           LEAST(CASE WHEN (max_db - min_db) < 15.0 THEN median_db + GREATEST(20.0, (max_db - min_db)*0.8)/2.0
                      WHEN (p75 - p25) < 5.0 THEN p75 + 2.5*(p75 - p25)
                      WHEN (max_db - min_db) > 40.0 THEN LEAST(p98, max_db - 0.02*(max_db - min_db))
                      ELSE p98 END, max_db) AS high_clip,
           CASE WHEN (max_db - min_db) < 15.0 THEN 1.1
                WHEN (p75 - p25) < 5.0 THEN 1.0
                WHEN (max_db - min_db) > 40.0 THEN 0.9
                ELSE 1.0 END AS gamma
    FROM stats)"""

  private val p7Legacy = Q("p7_quantize_legacy",
    (s, dir) => {
      val px = liPixels(s, dir)
      val st = HistStats.stats(px.filter(PixelOps.validMask(col("db"))))
      val lp = HistStats.legacyParams(st)
      px.crossJoin(broadcast(lp)).select(
        col("l_orderkey"), col("l_linenumber"),
        PixelOps.clipQuantizeMasked(col("db"), PixelOps.validMask(col("db")),
          col("low_clip"), col("high_clip"), col("gamma"), lit(65535.0)).as("q"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(statsWith(s""",
      $legacyParamsSql
      SELECT l_orderkey, l_linenumber, ${quantizeSql("low_clip", "high_clip", "gamma", "65535.0")} AS q
      FROM base, lp ORDER BY l_orderkey, l_linenumber""")))

  private val p8U16ToU8 = Q("p8_u16_to_u8",
    (s, dir) => {
      val px = liPixels(s, dir)
      val st = HistStats.stats(px.filter(PixelOps.validMask(col("db"))))
      // q feeds BOTH the min/max agg and the final projection — without
      // the persist the scan+dB+stats+quantize subtree executes twice
      // (`tools/Audit` dup check: 90-node duplicate; the two-leg rule)
      val q = px.crossJoin(broadcast(st)).select(
        col("l_orderkey"), col("l_linenumber"),
        PixelOps.clipQuantizeMasked(col("db"), PixelOps.validMask(col("db")),
          col("p05"), col("p95"), lit(1.0), lit(255.0)).as("q"))
        .persistRecorded()
      val mm = q.agg(min(col("q")).as("mn"), max(col("q")).as("mx"))
      q.crossJoin(broadcast(mm)).select(
        col("l_orderkey"), col("l_linenumber"),
        PixelOps.u16ToU8(col("q"), col("mn"), col("mx")).as("q8"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(statsWith(s""",
      qb AS (SELECT l_orderkey, l_linenumber, ${quantizeSql("p05", "p95", "1.0", "255.0")} AS q FROM base, stats),
      mm AS (SELECT MIN(q) AS mn, MAX(q) AS mx FROM qb)
      SELECT l_orderkey, l_linenumber,
        CAST(LEAST(GREATEST(ROUND((CAST(q AS DOUBLE) - CAST(mn AS DOUBLE)) * (CASE WHEN mx > mn THEN 255.0/(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) ELSE 1.0 END), 0), 0.0), 255.0) AS INT) AS q8
      FROM qb, mm ORDER BY l_orderkey, l_linenumber""")))

  private val gammaU8Sql: (String, String) => String = (v, g) =>
    s"CAST(LEAST(GREATEST(ROUND(pow(CAST($v AS DOUBLE)/255.0, $g)*255.0, 0), 0.0), 255.0) AS INT)"

  private val p9 = Q("p9_gamma_lut",
    (s, dir) => {
      val v = col("p_partkey") % 256
      t(s, dir, "part").select(
        col("p_partkey"),
        PixelOps.gammaU8(v, 0.7).as("r"),
        PixelOps.gammaU8(v, 0.9).as("g"))
        .orderBy("p_partkey")
    },
    Some(s"""SELECT p_partkey,
      ${gammaU8Sql("p_partkey % 256", "0.7")} AS r,
      ${gammaU8Sql("p_partkey % 256", "0.9")} AS g
      FROM part ORDER BY p_partkey"""))

  private val blueSqlExpr: (String, String) => String = (b1, b2) =>
    s"""CASE WHEN $b2 = 0 THEN 0 ELSE CAST(ROUND(LEAST(GREATEST(pow(CAST(${gammaU8Sql(b1, "0.7")} AS DOUBLE)/CAST(${gammaU8Sql(b2, "0.9")} AS DOUBLE), 0.1)*255.0*0.24, 0.0), 255.0), 0) AS INT) END"""

  private val p10 = Q("p10_blue_ratio",
    (s, dir) => {
      val b1 = col("p_partkey") % 256
      val b2 = (col("p_partkey") * 7 + 3) % 256
      t(s, dir, "part").select(
        col("p_partkey"), PixelOps.blueRatio(b1, b2).as("b"))
        .orderBy("p_partkey")
    },
    Some(s"""SELECT p_partkey, ${blueSqlExpr("p_partkey % 256", "(p_partkey*7 + 3) % 256")} AS b
      FROM part ORDER BY p_partkey"""))

  private val p11 = Q("p11_rgb_compose",
    (s, dir) => {
      val b1 = col("p_partkey") % 256
      val b2 = (col("p_partkey") * 7 + 3) % 256
      t(s, dir, "part").select(
        col("p_partkey"),
        PixelOps.gammaU8(b1, 0.7).as("r"),
        PixelOps.gammaU8(b2, 0.9).as("g"),
        PixelOps.blueRatio(b1, b2).as("b"))
        .orderBy("p_partkey")
    },
    Some(s"""SELECT p_partkey,
      ${gammaU8Sql("p_partkey % 256", "0.7")} AS r,
      ${gammaU8Sql("(p_partkey*7 + 3) % 256", "0.9")} AS g,
      ${blueSqlExpr("p_partkey % 256", "(p_partkey*7 + 3) % 256")} AS b
      FROM part ORDER BY p_partkey"""))

  // Resize-dimension calc shared by p14/r1 (resize.rs:6-30): long side →
  // target, short side scaled proportionally, keep-original when target
  // exceeds the long side.
  private def resizeDims(cols: Column, rows: Column, target: Int): (Column, Column) = {
    val longSide = greatest(cols, rows)
    val shortSide = least(cols, rows)
    val newShort = round(shortSide.cast("double") * (lit(target.toDouble) / longSide.cast("double")), 0).cast("int")
    val nc = when(lit(target) > longSide, cols)
      .otherwise(when(cols > rows, lit(target)).otherwise(newShort))
    val nr = when(lit(target) > longSide, rows)
      .otherwise(when(cols > rows, newShort).otherwise(lit(target)))
    (nc, nr)
  }

  private def resizeDimsSql(cols: String, rows: String, target: Int): (String, String) = {
    val newShort = s"CAST(ROUND(CAST(LEAST($cols, $rows) AS DOUBLE) * ($target.0/CAST(GREATEST($cols, $rows) AS DOUBLE)), 0) AS INT)"
    (s"CASE WHEN $target > GREATEST($cols, $rows) THEN $cols ELSE (CASE WHEN $cols > $rows THEN $target ELSE $newShort END) END",
      s"CASE WHEN $target > GREATEST($cols, $rows) THEN $rows ELSE (CASE WHEN $cols > $rows THEN $newShort ELSE $target END) END")
  }

  private val p14 = Q("p14_geotransform",
    (s, dir) => {
      val g = t(s, dir, "supplier").select(
        col("s_suppkey"),
        (lit(1000) + col("s_suppkey") % 2000).cast("int").as("cols"),
        (lit(800) + col("s_suppkey") % 1500).cast("int").as("rows_"),
        col("s_acctbal").cast("double").as("gt0"),
        (lit(10.0) + (col("s_suppkey") % 5).cast("double")).as("gt1"),
        lit(0.0).as("gt2"),
        (lit(0.0) - col("s_acctbal").cast("double")).as("gt3"),
        lit(0.0).as("gt4"),
        (lit(0.0) - (lit(10.0) + (col("s_nationkey") % 7).cast("double"))).as("gt5"))
      val (nc, nr) = resizeDims(col("cols"), col("rows_"), 512)
      val d = g.withColumn("new_cols", nc).withColumn("new_rows", nr)
        .withColumn("fd", greatest(col("new_cols"), col("new_rows")))
        .withColumn("pad_left", ((col("fd") - col("new_cols")) / 2).cast("int"))
        .withColumn("pad_top", ((col("fd") - col("new_rows")) / 2).cast("int"))
      val out = PixelOps.geotransformRewrite(
        Seq(col("gt0"), col("gt1"), col("gt2"), col("gt3"), col("gt4"), col("gt5")),
        col("cols"), col("rows_"), col("fd"), col("fd"), col("pad_left"), col("pad_top"))
      d.select(col("s_suppkey") +: out.zipWithIndex.map { case (c, i) => c.as(s"gt${i}_out") }: _*)
        .orderBy("s_suppkey")
    },
    Some {
      val (nc, nr) = resizeDimsSql("cols", "rows_", 512)
      s"""WITH g AS (SELECT s_suppkey,
           CAST(1000 + s_suppkey % 2000 AS INT) AS cols,
           CAST(800 + s_suppkey % 1500 AS INT) AS rows_,
           CAST(s_acctbal AS DOUBLE) AS gt0,
           10.0 + CAST(s_suppkey % 5 AS DOUBLE) AS gt1,
           0.0 AS gt2,
           0.0 - CAST(s_acctbal AS DOUBLE) AS gt3,
           0.0 AS gt4,
           0.0 - (10.0 + CAST(s_nationkey % 7 AS DOUBLE)) AS gt5
         FROM supplier),
       r AS (SELECT *, $nc AS new_cols, $nr AS new_rows FROM g),
       p AS (SELECT *, GREATEST(new_cols, new_rows) AS fd,
                    (GREATEST(new_cols, new_rows) - new_cols)//2 AS pad_left,
                    (GREATEST(new_cols, new_rows) - new_rows)//2 AS pad_top FROM r)
       SELECT s_suppkey,
         gt0 - CAST(pad_left AS DOUBLE) * (gt1 * (CAST(cols AS DOUBLE)/CAST(fd AS DOUBLE))) AS gt0_out,
         gt1 * (CAST(cols AS DOUBLE)/CAST(fd AS DOUBLE)) AS gt1_out,
         gt2 AS gt2_out,
         gt3 - CAST(pad_top AS DOUBLE) * (gt5 * (CAST(rows_ AS DOUBLE)/CAST(fd AS DOUBLE))) AS gt3_out,
         gt4 AS gt4_out,
         gt5 * (CAST(rows_ AS DOUBLE)/CAST(fd AS DOUBLE)) AS gt5_out
       FROM p ORDER BY s_suppkey"""
    })

  private val p15 = Q("p15_op_label",
    (s, dir) => {
      val opName = when(col("n_nationkey") % 8 === 0, "single_band")
        .when(col("n_nationkey") % 8 === 1, "sum")
        .when(col("n_nationkey") % 8 === 2, "difference")
        .when(col("n_nationkey") % 8 === 3, "ratio")
        .when(col("n_nationkey") % 8 === 4, "normalized_diff")
        .when(col("n_nationkey") % 8 === 5, "log_ratio")
        .when(col("n_nationkey") % 8 === 6, "multiband_vv_vh")
        .otherwise("multiband_hh_hv")
      val hasVvVh = col("n_nationkey") % 2 === 0
      val hasHhHv = col("n_nationkey") % 3 === 0
      val joined = when(hasVvVh, "VV,VH").when(hasHhHv, "HH,HV").otherwise("VV")
      t(s, dir, "nation").select(
        col("n_nationkey"), opName.as("op_name"),
        PixelOps.polarizationLabel(opName, hasVvVh, hasHhHv, joined).as("polarizations"))
        .orderBy("n_nationkey")
    },
    Some("""WITH g AS (SELECT n_nationkey,
        CASE WHEN n_nationkey % 8 = 0 THEN 'single_band'
             WHEN n_nationkey % 8 = 1 THEN 'sum'
             WHEN n_nationkey % 8 = 2 THEN 'difference'
             WHEN n_nationkey % 8 = 3 THEN 'ratio'
             WHEN n_nationkey % 8 = 4 THEN 'normalized_diff'
             WHEN n_nationkey % 8 = 5 THEN 'log_ratio'
             WHEN n_nationkey % 8 = 6 THEN 'multiband_vv_vh'
             ELSE 'multiband_hh_hv' END AS op_name,
        n_nationkey % 2 = 0 AS has_vv_vh,
        n_nationkey % 3 = 0 AS has_hh_hv,
        CASE WHEN n_nationkey % 2 = 0 THEN 'VV,VH' WHEN n_nationkey % 3 = 0 THEN 'HH,HV' ELSE 'VV' END AS joined
      FROM nation)
      SELECT n_nationkey, op_name,
        CASE WHEN op_name = 'sum' THEN (CASE WHEN has_vv_vh THEN 'SUM(VV, VH)' WHEN has_hh_hv THEN 'SUM(HH, HV)' ELSE joined END)
             WHEN op_name = 'difference' THEN (CASE WHEN has_vv_vh THEN 'DIFF(VV, VH)' WHEN has_hh_hv THEN 'DIFF(HH, HV)' ELSE joined END)
             WHEN op_name = 'ratio' THEN (CASE WHEN has_vv_vh THEN 'RATIO(VV, VH)' WHEN has_hh_hv THEN 'RATIO(HH, HV)' ELSE joined END)
             WHEN op_name = 'normalized_diff' THEN (CASE WHEN has_vv_vh THEN 'NORM_DIFF(VV, VH)' WHEN has_hh_hv THEN 'NORM_DIFF(HH, HV)' ELSE joined END)
             WHEN op_name = 'log_ratio' THEN (CASE WHEN has_vv_vh THEN 'LOG_RATIO(VV, VH)' WHEN has_hh_hv THEN 'LOG_RATIO(HH, HV)' ELSE joined END)
             WHEN op_name = 'multiband_vv_vh' THEN 'MULTIBAND(VV, VH)'
             WHEN op_name = 'multiband_hh_hv' THEN 'MULTIBAND(HH, HV)'
             ELSE joined END AS polarizations
      FROM g ORDER BY n_nationkey"""))

  // ------------------------------------------------------------- §2.3 aggs

  private val a1 = Q("a1_stats",
    (s, dir) => {
      val st = HistStats.stats(liPixels(s, dir).filter(PixelOps.validMask(col("db"))))
      st.select(col("n"), round(col("min_db"), 6).as("min_db"),
        round(col("max_db"), 6).as("max_db"), round(col("mean_db"), 6).as("mean_db"),
        round(col("std_db"), 6).as("std_db"))
    },
    Some(statsWith("""
      SELECT n, ROUND(min_db, 6) AS min_db, ROUND(max_db, 6) AS max_db,
             ROUND(mean_db, 6) AS mean_db, ROUND(std_db, 6) AS std_db
      FROM stats""")))

  private val a1Grouped = Q("a1_stats_grouped",
    (s, dir) => {
      val px = t(s, dir, "lineitem").select(
        col("l_returnflag"), PixelOps.toDb(col("l_extendedprice")).as("db"))
        .filter(PixelOps.validMask(col("db")))
      val agg = px.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        min(col("db")).as("mn"), max(col("db")).as("mx"),
        sum(col("db").cast(DecimalType(28, 10))).cast("double").as("sum_db"),
        sum((col("db") * col("db")).cast(DecimalType(38, 10))).cast("double").as("sum_db2"))
      val meanDb = col("sum_db") / col("n")
      agg.select(col("l_returnflag"), col("n"),
        round(col("mn"), 6).as("min_db"), round(col("mx"), 6).as("max_db"),
        round(meanDb, 6).as("mean_db"),
        round(when(col("n") <= 1, lit(0.0))
          .otherwise(sqrt(greatest(col("sum_db2") / col("n") - meanDb * meanDb, lit(0.0)))), 6).as("std_db"))
        .orderBy("l_returnflag")
    },
    Some("""WITH px AS (SELECT l_returnflag, 10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)) AS db
        FROM lineitem WHERE 10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)) > -50.0),
      agg AS (SELECT l_returnflag, COUNT(*) AS n, MIN(db) AS mn, MAX(db) AS mx,
        CAST(SUM(CAST(db AS DECIMAL(28,10))) AS DOUBLE) AS sum_db,
        CAST(SUM(CAST(db*db AS DECIMAL(38,10))) AS DOUBLE) AS sum_db2
        FROM px GROUP BY 1)
      SELECT l_returnflag, n, ROUND(mn, 6) AS min_db, ROUND(mx, 6) AS max_db,
        ROUND(sum_db/n, 6) AS mean_db,
        ROUND(CASE WHEN n <= 1 THEN 0.0 ELSE sqrt(GREATEST(sum_db2/n - (sum_db/n)*(sum_db/n), 0.0)) END, 6) AS std_db
      FROM agg ORDER BY l_returnflag"""))

  private val a2 = Q("a2_percentiles",
    (s, dir) => {
      val st = HistStats.stats(liPixels(s, dir).filter(PixelOps.validMask(col("db"))))
      st.select(col("n") +: HistStats.Percentiles.map { case (nm, _) =>
        round(col(nm), 6).as(nm)
      }: _*)
    },
    Some(statsWith(s"""
      SELECT n, ${HistStats.Percentiles.map { case (nm, _) => s"ROUND($nm, 6) AS $nm" }.mkString(", ")}
      FROM stats""")))

  private val a3 = Q("a3_strategy_params",
    (s, dir) => {
      val st = HistStats.stats(liPixels(s, dir).filter(PixelOps.validMask(col("db"))))
      HistStats.advancedParams(st).select(
        col("strategy"), round(col("low_clip"), 6).as("low_clip"),
        round(col("high_clip"), 6).as("high_clip"), col("gamma"))
        .orderBy("strategy")
    },
    Some {
      val skew = "(mean_db - median_db)/GREATEST(abs(std_db), 1.0)"
      val tail = "(p99 - p95)/GREATEST(p95 - p75, 1.0)"
      statsWith(s"""
      SELECT strategy, ROUND(low_clip, 6) AS low_clip, ROUND(high_clip, 6) AS high_clip, gamma FROM (
        SELECT 'robust' AS strategy,
          GREATEST(GREATEST(p25 - 2.5*(p75 - p25), p01), min_db) AS low_clip,
          LEAST(LEAST(p75 + 2.5*(p75 - p25), p99), max_db) AS high_clip, 1.0 AS gamma FROM stats
        UNION ALL SELECT 'adaptive',
          CASE WHEN abs($skew) > 0.5 THEN (CASE WHEN $skew > 0.0 THEN p02 ELSE p05 END)
               WHEN $tail > 2.0 THEN p10 ELSE p05 END,
          CASE WHEN abs($skew) > 0.5 THEN (CASE WHEN $skew > 0.0 THEN p98 ELSE p95 END)
               WHEN $tail > 2.0 THEN p90 ELSE p95 END,
          CASE WHEN abs($skew) > 0.5 THEN (CASE WHEN $skew > 0.0 THEN 0.9 ELSE 1.1 END)
               WHEN $tail > 2.0 THEN 0.8 ELSE 1.0 END FROM stats
        UNION ALL SELECT 'equalized', p01, p99, 1.0 FROM stats
        UNION ALL SELECT 'clahe', p01, p99, 1.0 FROM stats
        UNION ALL SELECT 'tamed', p25, p99, 1.0 FROM stats
        UNION ALL SELECT 'standard', p05, p95, 1.0 FROM stats
        UNION ALL SELECT 'default', p05, p95, 1.0 FROM stats
      ) ORDER BY strategy""")
    })

  private val a3Legacy = Q("a3_legacy_params",
    (s, dir) => {
      val st = HistStats.stats(liPixels(s, dir).filter(PixelOps.validMask(col("db"))))
      HistStats.legacyParams(st).select(
        round(col("low_clip"), 6).as("low_clip"),
        round(col("high_clip"), 6).as("high_clip"), col("gamma"))
    },
    Some(statsWith(s""",
      $legacyParamsSql
      SELECT ROUND(low_clip, 6) AS low_clip, ROUND(high_clip, 6) AS high_clip, gamma FROM lp""")))

  private val a6 = Q("a6_hist_floor",
    (s, dir) => {
      val part = t(s, dir, "part")
      val vals = part.select((col("p_partkey") % 256).as("v"))
        .unionAll(part.select(((col("p_partkey") * 7 + 3) % 256).as("v")))
      val tot = vals.agg(count(lit(1)).as("total"))
      val hist = vals.groupBy(col("v")).agg(count(lit(1)).as("h"))
      val cum = hist.select(col("v"),
        sum(col("h")).over(Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)).as("c"))
      cum.crossJoin(broadcast(tot))
        .filter(col("c") >= round(col("total").cast("double") * 0.05, 0).cast("long"))
        .agg(min(col("v")).cast("int").as("p05_level"),
          least(min(col("v")) + 3, lit(40L)).cast("int").as("floor_value"))
    },
    Some("""WITH vals AS (SELECT p_partkey % 256 AS v FROM part UNION ALL SELECT (p_partkey*7 + 3) % 256 AS v FROM part),
      tot AS (SELECT COUNT(*) AS total FROM vals),
      hist AS (SELECT v, COUNT(*) AS h FROM vals GROUP BY 1),
      cum AS (SELECT v, SUM(h) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM hist)
      SELECT CAST(MIN(v) AS INT) AS p05_level, CAST(LEAST(MIN(v) + 3, 40) AS INT) AS floor_value
      FROM cum, tot WHERE c >= CAST(ROUND(CAST(total AS DOUBLE)*0.05, 0) AS BIGINT)"""))

  private val a7 = Q("a7_batch_report",
    (s, dir) => t(s, dir, "orders").groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n")).orderBy("o_orderstatus"),
    Some("SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1"))

  // ------------------------------------------------------------ §2.4 joins

  private val j1 = Q("j1_band_align",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice").as("va"))
      val b = li.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").as("vb"))
      a.join(b, Seq("l_orderkey", "l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          PixelOps.bandRatio(col("va"), col("vb")).as("ratio"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""SELECT l_orderkey, l_linenumber,
      CASE WHEN abs(CAST(vb AS REAL)) > CAST(1e-10 AS REAL) THEN CAST(CAST(va AS REAL) AS DOUBLE)/CAST(CAST(vb AS REAL) AS DOUBLE) ELSE 0.0 END AS ratio
      FROM (SELECT l_orderkey, l_linenumber, l_extendedprice AS va FROM lineitem) a
      JOIN (SELECT l_orderkey, l_linenumber, l_quantity AS vb FROM lineitem) b USING (l_orderkey, l_linenumber)
      ORDER BY l_orderkey, l_linenumber"""))

  // ----------------------------------------------------- §2.7 restructuring

  private val r1 = Q("r1_resize_dims",
    (s, dir) => {
      val g = t(s, dir, "part").select(
        col("p_partkey"),
        (lit(1) + col("p_partkey") % 5000).cast("int").as("cols"),
        (lit(1) + (col("p_partkey") * 13) % 4000).cast("int").as("rows_"))
      val (nc, nr) = resizeDims(col("cols"), col("rows_"), 2048)
      g.select(col("p_partkey"), col("cols"), col("rows_"), nc.as("new_cols"), nr.as("new_rows"))
        .orderBy("p_partkey")
    },
    Some {
      val (nc, nr) = resizeDimsSql("cols", "rows_", 2048)
      s"""WITH g AS (SELECT p_partkey, CAST(1 + p_partkey % 5000 AS INT) AS cols,
           CAST(1 + (p_partkey*13) % 4000 AS INT) AS rows_ FROM part)
         SELECT p_partkey, cols, rows_, $nc AS new_cols, $nr AS new_rows FROM g ORDER BY p_partkey"""
    })

  private val r4 = Q("r4_pad_square",
    (s, dir) => {
      val g = t(s, dir, "part").select(
        col("p_partkey"),
        (lit(1) + col("p_partkey") % 5000).cast("int").as("cols"),
        (lit(1) + (col("p_partkey") * 13) % 4000).cast("int").as("rows_"))
      val maxDim = greatest(col("cols"), col("rows_"))
      val padCols = ((maxDim - col("cols")) / 2).cast("int")
      val padRows = ((maxDim - col("rows_")) / 2).cast("int")
      g.select(col("p_partkey"), maxDim.as("max_dim"),
        padCols.as("pad_cols"), padRows.as("pad_rows"),
        ((col("p_partkey") % col("rows_")).cast("int") + padRows).as("ny"),
        ((col("p_partkey") % col("cols")).cast("int") + padCols).as("nx"))
        .orderBy("p_partkey")
    },
    Some("""WITH g AS (SELECT p_partkey, CAST(1 + p_partkey % 5000 AS INT) AS cols,
        CAST(1 + (p_partkey*13) % 4000 AS INT) AS rows_ FROM part)
      SELECT p_partkey, GREATEST(cols, rows_) AS max_dim,
        CAST((GREATEST(cols, rows_) - cols)//2 AS INT) AS pad_cols,
        CAST((GREATEST(cols, rows_) - rows_)//2 AS INT) AS pad_rows,
        CAST(p_partkey % rows_ AS INT) + CAST((GREATEST(cols, rows_) - rows_)//2 AS INT) AS ny,
        CAST(p_partkey % cols AS INT) + CAST((GREATEST(cols, rows_) - cols)//2 AS INT) AS nx
      FROM g ORDER BY p_partkey"""))

  // ----------------------------------------------------- §2.1 S8 warp math

  /** S8 oracle: the native warp's projection chain (UTM 32N grid →
    * lon/lat → UTM 33N) over a deterministic supplier-keyed pixel set,
    * evaluated by the PRODUCTION [[graft.geom.Proj]] instances — the
    * exact objects [[graft.api.Engine.warpTiles]] serializes into its
    * tile tasks — against a DuckDB transcription of the same public
    * Krüger n-series (Karney 2011; constants derived in-query from the
    * WGS84 defining parameters, so both engines evaluate the same IEEE
    * arithmetic). A scalar UDF is the right surface here: the math is
    * an opaque per-row double chain with no relational structure for
    * Catalyst to optimize, and the relation is supplier-sized, never
    * corpus-sized. Coordinates round at 3 decimals (mm): the two
    * engines' libm implementations agree to ~1e-8 m over this chain.
    *
    * Residual-risk note (a deliberate departure from the repo's
    * exact-integer float discipline): this gate compares transcendental
    * libm chains cross-engine, so it passes only because the ~1e-8 m
    * disagreement never straddles a 1e-3/1e-6 rounding boundary for
    * THESE inputs on THIS platform's libm pair. A platform whose
    * sin/exp/ln differs by an ulp could in principle flip a boundary
    * case — accepted here because the warp math has no exact-integer
    * reformulation and the mm quantum leaves ~5 orders of magnitude of
    * slack over the observed disagreement.
    */
  private val s8Warp = Q("s8_native_warp",
    (s, dir) => {
      val u32 = graft.geom.Proj.Utm(32, south = false)
      val u33 = graft.geom.Proj.Utm(33, south = false)
      val tf = udf((key: Long) => {
        val x = 600000.0 + (key % 1000) * 10.0
        val y = 5000000.0 - ((key * 7) % 1000) * 10.0
        val (lon, lat) = u32.inverse(x, y)
        val (e, n) = u33.forward(lon, lat)
        (lon, lat, e, n)
      })
      t(s, dir, "supplier").select(col("s_suppkey"),
          tf(col("s_suppkey").cast("long")).as("p"))
        .select(col("s_suppkey"),
          round(col("p._1"), 6).as("lon"), round(col("p._2"), 6).as("lat"),
          round(col("p._3"), 3).as("e33"), round(col("p._4"), 3).as("n33"))
        .orderBy("s_suppkey")
    },
    Some("""WITH cst AS (
        SELECT n, n*n AS n2, n*n*n AS n3,
               0.9996 * (6378137.0/(1.0+n)*(1.0+n*n/4.0+n*n*n*n/64.0)) AS k0a,
               2.0*sqrt(n)/(1.0+n) AS kconf
        FROM (SELECT (1.0/298.257223563)/(2.0-1.0/298.257223563) AS n)),
      coef AS (
        SELECT k0a, kconf,
          n/2.0 - 2.0/3.0*n2 + 5.0/16.0*n3 AS a1,
          13.0/48.0*n2 - 3.0/5.0*n3 AS a2,
          61.0/240.0*n3 AS a3,
          n/2.0 - 2.0/3.0*n2 + 37.0/96.0*n3 AS b1,
          1.0/48.0*n2 + 1.0/15.0*n3 AS b2,
          17.0/480.0*n3 AS b3,
          2.0*n - 2.0/3.0*n2 - 2.0*n3 AS d1,
          7.0/3.0*n2 - 8.0/5.0*n3 AS d2,
          56.0/15.0*n3 AS d3
        FROM cst),
      pts AS (
        SELECT s_suppkey, coef.*,
          (600000.0 + (s_suppkey % 1000) * 10.0 - 500000.0) / k0a AS eta,
          (5000000.0 - ((s_suppkey * 7) % 1000) * 10.0) / k0a AS xi
        FROM supplier, coef),
      inv AS (
        SELECT *,
          xi - b1*sin(2.0*xi)*((exp(2.0*eta)+exp(-2.0*eta))/2.0)
             - b2*sin(4.0*xi)*((exp(4.0*eta)+exp(-4.0*eta))/2.0)
             - b3*sin(6.0*xi)*((exp(6.0*eta)+exp(-6.0*eta))/2.0) AS xip,
          eta - b1*cos(2.0*xi)*((exp(2.0*eta)-exp(-2.0*eta))/2.0)
              - b2*cos(4.0*xi)*((exp(4.0*eta)-exp(-4.0*eta))/2.0)
              - b3*cos(6.0*xi)*((exp(6.0*eta)-exp(-6.0*eta))/2.0) AS etap
        FROM pts),
      ll AS (
        SELECT *,
          chi + d1*sin(2.0*chi) + d2*sin(4.0*chi) + d3*sin(6.0*chi) AS phi,
          atan2((exp(etap)-exp(-etap))/2.0, cos(xip)) AS lam
        FROM (SELECT *,
          asin(LEAST(GREATEST(sin(xip)/((exp(etap)+exp(-etap))/2.0), -1.0), 1.0)) AS chi
          FROM inv)),
      geo AS (
        SELECT s_suppkey, k0a, kconf, a1, a2, a3,
               9.0 + degrees(lam) AS lon, degrees(phi) AS lat, phi
        FROM ll),
      fwd1 AS (
        SELECT *, (exp(q) - exp(-q))/2.0 AS tt, cos(lam2) AS cl, lam2
        FROM (SELECT *, radians(lon - 15.0) AS lam2,
                0.5*ln((1.0+sin(phi))/(1.0-sin(phi))) -
                kconf*0.5*ln((1.0+kconf*sin(phi))/(1.0-kconf*sin(phi))) AS q
              FROM geo)),
      fwd2 AS (
        SELECT *, atan2(tt, cl) AS xip2, ln(sl + sqrt(sl*sl + 1.0)) AS etap2
        FROM (SELECT *, sin(lam2)/sqrt(tt*tt + cl*cl) AS sl FROM fwd1)),
      fwd3 AS (
        SELECT s_suppkey, lon, lat, k0a,
          xip2 + a1*sin(2.0*xip2)*((exp(2.0*etap2)+exp(-2.0*etap2))/2.0)
               + a2*sin(4.0*xip2)*((exp(4.0*etap2)+exp(-4.0*etap2))/2.0)
               + a3*sin(6.0*xip2)*((exp(6.0*etap2)+exp(-6.0*etap2))/2.0) AS xi2,
          etap2 + a1*cos(2.0*xip2)*((exp(2.0*etap2)-exp(-2.0*etap2))/2.0)
                + a2*cos(4.0*xip2)*((exp(4.0*etap2)-exp(-4.0*etap2))/2.0)
                + a3*cos(6.0*xip2)*((exp(6.0*etap2)-exp(-6.0*etap2))/2.0) AS eta2
        FROM fwd2)
      SELECT s_suppkey, ROUND(lon, 6) AS lon, ROUND(lat, 6) AS lat,
        ROUND(500000.0 + k0a*eta2, 3) AS e33, ROUND(k0a*xi2, 3) AS n33
      FROM fwd3 ORDER BY s_suppkey"""))

  // -------------------------------------------------- relational flagship

  private val q1 = Q("q1_agg",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      // Exact decimal domain: raw values are 2-dp, so double→DECIMAL(p,2)
      // rounds identically in Spark and DuckDB and every product/sum below
      // is exact — partition-order independent by construction.
      // Cost accounting (r17 stage probe, sf0.1 warm min; `Profile stages`): scan+count 0.11s,
      // the same agg over raw doubles 0.28s, this exact-DECIMAL body
      // 1.02s — the 3.5× is the BigDecimal-backed sum buffer
      // (DecimalType(18,2) input ⇒ (28,2) buffer > Spark's 18-digit
      // compact-long ceiling). Narrower input decimals would go compact
      // and fast but overflow the buffer at the 100 TB row count, so the
      // wide path IS the scale-correct one; exactness, not the plan, is
      // the floor here.
      val price = col("l_extendedprice").cast(DecimalType(18, 2))
      val disc = col("l_discount").cast(DecimalType(4, 2))
      val tax = col("l_tax").cast(DecimalType(4, 2))
      val one = lit(1).cast(DecimalType(3, 2))
      val discPrice = price * (one - disc)
      li.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(discPrice * (one + tax)).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty"), col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
          (col("sum_qty") / col("count_order")).as("avg_qty"),
          (col("sum_base_price") / col("count_order")).as("avg_price"),
          col("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
        sum_qty/count_order AS avg_qty, sum_base_price/count_order AS avg_price, count_order
      FROM (
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
          COUNT(*) AS count_order
        FROM lineitem GROUP BY 1, 2)
      ORDER BY l_returnflag, l_linestatus"""))

  // ------------------------------------------- extensions (SURVEY §7.2.8)

  private val enhanceQueries: Seq[Q] = Seq(
    Q("a4_clahe", Clahe.query, Some(Clahe.querySql)),
    Q("a5_local_median_range", LocalStats.query, Some(LocalStats.querySql)),
    Q("a5b_local_enhanced_quantize", LocalStats.enhancedQuantize,
      Some(LocalStats.enhancedQuantizeSql)),
    Q("p12_synrgb_suppressed", SynRgbSuppressed.query, Some(SynRgbSuppressed.querySql)))

  private val relationalQueries: Seq[Q] = Seq(
    Q("x1_shipping_priority", Relational.shippingPriority, Some(Relational.shippingPrioritySql)),
    Q("x2_local_supplier_volume", Relational.localSupplierVolume, Some(Relational.localSupplierVolumeSql)),
    Q("x3_revenue_rollup", Relational.revenueRollup, Some(Relational.revenueRollupSql)),
    Q("x4_large_orders", Relational.largeOrderCustomers, Some(Relational.largeOrderCustomersSql)),
    Q("x5_priority_pivot", Relational.priorityPivot, Some(Relational.priorityPivotSql)),
    Q("x6_monthly_revenue", Relational.monthlyRevenue, Some(Relational.monthlyRevenueSql)),
    Q("x7_volume_shipping", Relational.volumeShipping, Some(Relational.volumeShippingSql)),
    Q("x8_market_share", Relational.marketShare, Some(Relational.marketShareSql)),
    Q("x9_order_distribution", Relational.orderDistribution, Some(Relational.orderDistributionSql)),
    Q("x10_returned_items", Relational.returnedItems, Some(Relational.returnedItemsSql)),
    Q("x11_rfm_segments", Relational.rfmSegments, Some(Relational.rfmSegmentsSql)),
    Q("x12_promo_revenue", Relational.promoRevenue, Some(Relational.promoRevenueSql)),
    Q("x13_fulfillment", Relational.fulfillment, Some(Relational.fulfillmentSql)),
    Q("x14_trade_balance", Relational.tradeBalance, Some(Relational.tradeBalanceSql)),
    Q("x15_customer_concentration", Relational.customerConcentration,
      Some(Relational.customerConcentrationSql)),
    Q("x16_copurchase_pairs", Relational.copurchasePairs,
      Some(Relational.copurchasePairsSql)),
    Q("x17_waiting_suppliers", Relational.waitingSuppliers,
      Some(Relational.waitingSuppliersSql)),
    Q("x18_idle_wealthy", Relational.idleWealthy,
      Some(Relational.idleWealthySql)),
    Q("x19_small_qty_revenue", Relational.smallQtyRevenue,
      Some(Relational.smallQtyRevenueSql)),
    Q("x20_discounted_revenue", Relational.discountedRevenue,
      Some(Relational.discountedRevenueSql)),
    Q("x21_late_priority", Relational.latePriorityCount,
      Some(Relational.latePriorityCountSql)),
    Q("x22_top_supplier", Relational.topSupplier,
      Some(Relational.topSupplierSql)),
    Q("x23_product_profit", Relational.productProfit,
      Some(Relational.productProfitSql)),
    Q("x24_supplier_types", Relational.supplierTypeCount,
      Some(Relational.supplierTypeCountSql)),
    Q("x25_forecast_revenue", Relational.forecastRevenue,
      Some(Relational.forecastRevenueSql)),
    Q("g1_pagerank", Graph.pagerank, Some(Graph.pagerankSql)),
    Q("g2_degree_hist", Graph.degreeHist, Some(Graph.degreeHistSql)),
    Q("g3_triangles", Graph.triangles, Some(Graph.trianglesSql)),
    Q("g4_link_prediction", Graph.linkPrediction, Some(Graph.linkPredictionSql)),
    Q("g5_communities", Graph.communities, Some(Graph.communitiesSql)),
    Q("g6_components", Graph.components, Some(Graph.componentsSql)),
    Q("g7_kcore", Graph.kcore, Some(Graph.kcoreSql)))

  private val extQueries: Seq[Q] = Seq(
    Q("e1_sessionize", Events.sessionize, Some(Events.sessionizeSql)),
    Q("e2_tumbling_window", Events.tumbling, Some(Events.tumblingSql)),
    Q("e3_topk_per_user", Events.topkPerUser, Some(Events.topkPerUserSql)),
    Q("e4_asof_click_error", Events.asofClickBeforeError, Some(Events.asofClickBeforeErrorSql)),
    Q("e5_json_extract", Events.jsonExtract, Some(Events.jsonExtractSql)),
    Q("e6_salted_hotkey_agg", Events.saltedHotKeyAgg, Some(Events.saltedHotKeyAggSql)),
    Q("e7_conversion_funnel", Events.conversionFunnel, Some(Events.conversionFunnelSql)),
    Q("e8_cohort_retention", Events.cohortRetention, Some(Events.cohortRetentionSql)),
    Q("t1_token_stats", TextOps.tokenStats, Some(TextOps.tokenStatsSql)),
    Q("t2_quality_score", TextOps.qualityScore, Some(TextOps.qualityScoreSql)),
    Q("t3_lang_id", TextOps.langId, Some(TextOps.langIdSql)),
    Q("t4_fingerprint", TextOps.fingerprint, Some(TextOps.fingerprintSql)),
    Q("t5_bpe_token_count", TextOps.bpeTokenCount, Some(TextOps.bpeTokenCountSql)),
    Q("t6_repetition", TextOps.repetition, Some(TextOps.repetitionSql)),
    Q("t7_hash_split", TextOps.hashSplit, Some(TextOps.hashSplitSql)),
    Q("t8_vocab_topk", TextOps.vocabTopk, Some(TextOps.vocabTopkSql)),
    Q("t9_oov_rate", TextOps.oovRate, Some(TextOps.oovRateSql)),
    Q("t10_surprisal", TextOps.surprisal, Some(TextOps.surprisalSql)),
    Q("e9_user_anomaly", Events.userAnomaly, Some(Events.userAnomalySql)),
    Q("e10_session_paths", Events.sessionPaths, Some(Events.sessionPathsSql)),
    Q("e11_burst_detect", Events.burstDetect, Some(Events.burstDetectSql)),
    Q("e12_event_lift", Events.eventLift, Some(Events.eventLiftSql)),
    Q("e13_active_users", Events.activeUsers, Some(Events.activeUsersSql)),
    Q("j2_point_in_time", Events.pointInTime, Some(Events.pointInTimeSql)),
    Q("t14_source_drift", TextOps.sourceDrift, Some(TextOps.sourceDriftSql)),
    Q("t11_bigram_surprisal", TextOps.bigramSurprisal, Some(TextOps.bigramSurprisalSql)),
    Q("t12_zipf_slope", TextOps.zipfSlope, Some(TextOps.zipfSlopeSql)),
    Q("t13_lexical_diversity", TextOps.lexicalDiversity, Some(TextOps.lexicalDiversitySql)),
    Q("c1_curation_funnel", Curation.funnel, Some(Curation.funnelSql)),
    Q("c2_data_card", Curation.dataCard, Some(Curation.dataCardSql)),
    Q("c3_dedup_impact", Curation.dedupImpact, Some(Curation.dedupImpactSql)),
    Q("c4_dedup_quality", Curation.dedupQuality, Some(Curation.dedupQualitySql)),
    Q("t15_quality_winsor", TextOps.qualityWinsor, Some(TextOps.qualityWinsorSql)),
    Q("t16_bpe_exact", TextOps.bpeExact, Some(TextOps.bpeExactSql)),
    Q("t17_gopher_filter", TextOps.gopherFilter, Some(TextOps.gopherFilterSql)),
    Q("t18_c4_line_filter", TextOps.c4LineFilter, Some(TextOps.c4LineFilterSql)),
    Q("e14_markov_transitions", Events.markovTransitions, Some(Events.markovTransitionsSql)),
    Q("e15_conversion_latency", Events.conversionLatency, Some(Events.conversionLatencySql)),
    Q("e16_interarrival", Events.interarrival, Some(Events.interarrivalSql)),
    Q("e17_activity_gini", Events.activityGini, Some(Events.activityGiniSql)),
    Q("e18_hourly_profile", Events.hourlyProfile, Some(Events.hourlyProfileSql)),
    Q("t19_ccnet_buckets", TextOps.ccnetBuckets, Some(TextOps.ccnetBucketsSql)),
    Q("t20_encoding_scan", TextOps.encodingScan, Some(TextOps.encodingScanSql)),
    Q("t21_readability", TextOps.readability, Some(TextOps.readabilitySql)),
    Q("t22_langid_confusion", TextOps.langidConfusion, Some(TextOps.langidConfusionSql)),
    Q("t23_bm25_topk", TextOps.bm25Topk, Some(TextOps.bm25TopkSql)),
    Q("t23a_spine_probe", TextOps.bm25SpineProbe, Some(TextOps.bm25SpineProbeSql)),
    Q("t24_fertility", TextOps.fertility, Some(TextOps.fertilitySql)),
    Q("t25_collocations", TextOps.collocations, Some(TextOps.collocationsSql)),
    Q("t26_markup_density", TextOps.markupDensity, Some(TextOps.markupDensitySql)),
    Q("t27_vocab_coverage", TextOps.vocabCoverage, Some(TextOps.vocabCoverageSql)),
    Q("t28_length_percentiles", TextOps.lengthPercentiles, Some(TextOps.lengthPercentilesSql)),
    Q("t29_blocklist_filter", TextOps.blocklistFilter, Some(TextOps.blocklistFilterSql)),
    Q("t30_heaps_law", TextOps.heapsLaw, Some(TextOps.heapsLawSql)),
    Q("t31_tfidf_keywords", TextOps.tfidfKeywords, Some(TextOps.tfidfKeywordsSql)),
    Q("t33_sentence_stats", TextOps.sentenceStats, Some(TextOps.sentenceStatsSql)),
    Q("t34_lm_perplexity", TextOps.lmPerplexity, Some(TextOps.lmPerplexitySql)),
    Q("e19_pareto_share", Events.paretoShare, Some(Events.paretoShareSql)),
    Q("e20_transition_entropy", Events.transitionEntropy, Some(Events.transitionEntropySql)),
    Q("e21_first_touch", Events.firstTouch, Some(Events.firstTouchSql)),
    Q("e22_profile_similarity", Events.profileSimilarity, Some(Events.profileSimilaritySql)),
    Q("e23_daily_anomaly", Events.dailyAnomaly, Some(Events.dailyAnomalySql)),
    Q("j3_range_join", Events.rangeJoin, Some(Events.rangeJoinSql)),
    Q("e24_concurrency", Events.concurrency, Some(Events.concurrencySql)),
    Q("e25_dup_events", Events.dupEvents, Some(Events.dupEventsSql)),
    Q("e26_retention_curve", Events.retentionCurve, Some(Events.retentionCurveSql)),
    Q("e27_session_gaps", Events.sessionGaps, Some(Events.sessionGapsSql)),
    Q("e29_linear_attribution", Events.linearAttribution,
      Some(Events.linearAttributionSql)),
    Q("e30_activity_streaks", Events.activityStreaks,
      Some(Events.activityStreaksSql)),
    Q("e31_hll_users", Sketch.hllUsers, Some(Sketch.hllUsersSql)),
    Q("t35_cms_heavy_hitters", Sketch.cmsHeavyHitters,
      Some(Sketch.cmsHeavyHittersSql)),
    Q("d23_kmv_overlap", Sketch.kmvOverlap, Some(Sketch.kmvOverlapSql)),
    Q("w1_source_mix", Mix.sourceMix, Some(Mix.sourceMixSql)),
    Q("w2_seq_pack", Mix.seqPack, Some(Mix.seqPackSql)),
    Q("w3_pii_scan", Pii.piiScan, Some(Pii.piiScanSql)),
    Q("w12_pii_redact", Pii.piiRedact, Some(Pii.piiRedactSql)),
    Q("w4_curriculum", Mix.curriculum, Some(Mix.curriculumSql)),
    Q("w5_epoch_plan", Mix.epochPlan, Some(Mix.epochPlanSql)),
    Q("d1_exact_dedup", Dedup.exact, Some(Dedup.exactSql)),
    Q("d2_ngram_jaccard", Dedup.ngramJaccard, Some(Dedup.ngramJaccardSql)),
    Q("d3_minhash_lsh", Dedup.minhashLsh, Some(Dedup.minhashLshSql)),
    Q("d4_simhash", Dedup.simhash, Some(Dedup.simhashSql)),
    Q("d5_contamination", Dedup.contamination, Some(Dedup.contaminationSql)),
    Q("d6_paragraph_dedup", Dedup.paragraphDedup, Some(Dedup.paragraphDedupSql)),
    Q("d7_dup_clusters", Dedup.dupClusters, Some(Dedup.dupClustersSql)),
    Q("d8_para_clusters", Dedup.paraClusters, Some(Dedup.paraClustersSql)),
    Q("d9_minhash_calibration", Dedup.minhashCalibration, Some(Dedup.minhashCalibrationSql)),
    Q("d10_containment", Dedup.containment, Some(Dedup.containmentSql)),
    Q("d11_incremental_dedup", Dedup.incrementalDedup, Some(Dedup.incrementalDedupSql)),
    Q("d12_substring_spans", Dedup.substringSpans, Some(Dedup.substringSpansSql)),
    Q("d13_shingle_novelty", Dedup.shingleNovelty, Some(Dedup.shingleNoveltySql)),
    Q("d14_dedup_sweep", Dedup.dedupSweep, Some(Dedup.dedupSweepSql)),
    Q("d15_bloom_prefilter", Dedup.bloomPrefilter, Some(Dedup.bloomPrefilterSql)),
    Q("d16_url_canonical", Dedup.urlCanonical, Some(Dedup.urlCanonicalSql)),
    Q("d17_method_agreement", Dedup.methodAgreement, Some(Dedup.methodAgreementSql)),
    Q("d18_line_dedup", Dedup.lineDedup, Some(Dedup.lineDedupSql)),
    Q("d19_template_prefix", Dedup.templatePrefix, Some(Dedup.templatePrefixSql)),
    Q("d20_band_tuning", Dedup.bandTuning, Some(Dedup.bandTuningSql)),
    Q("d21_cluster_sizes", Dedup.clusterSizes, Some(Dedup.clusterSizesSql)),
    Q("d22_source_overlap", Dedup.sourceOverlap, Some(Dedup.sourceOverlapSql)),
    Q("w6_split_leakage", Mix.splitLeakage, Some(Mix.splitLeakageSql)),
    Q("w9_dedup_source_mix", Mix.dedupSourceMix, Some(Mix.dedupSourceMixSql)),
    Q("w10_pack_sweep", Mix.packSweep, Some(Mix.packSweepSql)),
    Q("w11_balanced_sample", Mix.balancedSample, Some(Mix.balancedSampleSql)),
    Q("w7_mixture_temperature", Mix.mixtureTemperature, Some(Mix.mixtureTemperatureSql)),
    Q("w13_dedup_weighted_mix", Mix.dedupWeightedMix, Some(Mix.dedupWeightedMixSql)),
    Q("w14_interleave_schedule", Mix.interleaveSchedule, Some(Mix.interleaveScheduleSql)),
    Q("w8_quality_upsample", Mix.qualityUpsample, Some(Mix.qualityUpsampleSql)),
    Q("w15_dsir_weights", Mix.dsirWeights, Some(Mix.dsirWeightsSql)),
    Q("s1_cosine_topk", Similarity.cosineTopk, Some(Similarity.cosineTopkSql)),
    Q("s2_lsh_ann_topk", Similarity.lshAnnTopk, Some(Similarity.lshAnnTopkSql)),
    Q("s3_cosine_neardup", Similarity.cosineNeardup, Some(Similarity.cosineNeardupSql)),
    // KMeans coarse quantizer — not SQL-expressible; rows-only check,
    // but the output embeds its own exact-baseline recall columns.
    Q("s4_ivf_ann_topk", Ivf.ivfTopk, None),
    // Same KMeans non-expressibility as s4; the embedded exact baseline
    // is the ground truth and ExtSpec gates curve monotonicity.
    Q("s9_ivf_probe_sweep", Ivf.probeSweep, None),
    Q("s21_ivfpq_ann", Ivf.ivfpqTopk, None),
    Q("s22_pq_train_gain", Ivf.pqTrainGain, None),
    Q("s5_centroid_outliers", Similarity.centroidOutliers, Some(Similarity.centroidOutliersSql)),
    Q("s6_quant_error", Similarity.quantError, Some(Similarity.quantErrorSql)),
    Q("s7_centroid_separation", Similarity.centroidSeparation, Some(Similarity.centroidSeparationSql)),
    Q("s10_semantic_dedup", Similarity.semanticDedup, Some(Similarity.semanticDedupSql)),
    Q("s11_pq_encode", Similarity.pqEncode, Some(Similarity.pqEncodeSql)),
    Q("s12_pq_adc_recall", Similarity.pqAdcRecall, Some(Similarity.pqAdcRecallSql)),
    Q("s13_matryoshka_recall", Similarity.matryoshkaRecall, Some(Similarity.matryoshkaRecallSql)),
    Q("s14_cosine_hist", Similarity.cosineHist, Some(Similarity.cosineHistSql)),
    Q("s15_hubness", Similarity.hubness, Some(Similarity.hubnessSql)),
    Q("s16_cell_occupancy", Similarity.cellOccupancy, Some(Similarity.cellOccupancySql)),
    Q("s17_seed_sweep", Similarity.seedSweep, Some(Similarity.seedSweepSql)),
    Q("s18_relative_contrast", Similarity.relativeContrast, Some(Similarity.relativeContrastSql)),
    Q("s19_norm_length_corr", Similarity.normLengthCorr, Some(Similarity.normLengthCorrSql)),
    Q("s20_knn_accuracy", Similarity.knnAccuracy, Some(Similarity.knnAccuracySql)),
    Q("s23_sq8_recall", Similarity.sq8Recall, Some(Similarity.sq8RecallSql)),
    Q("m1_multimodal_meta", Multimodal.meta, Some(Multimodal.metaSql)),
    // mapPartitions feature extraction — the byte-nibble histogram IS
    // SQL-expressible (hex trick, see Multimodal.featuresSql), so the
    // full hash gate applies despite the imperative decode plumbing.
    Q("m2_multimodal_features", Multimodal.features, Some(Multimodal.featuresSql)),
    Q("m3_frame_sample", Multimodal.frameSample, Some(Multimodal.frameSampleSql)),
    Q("m4_corruption_scan", Multimodal.corruptionScan, Some(Multimodal.corruptionScanSql)),
    Q("m5_payload_entropy", Multimodal.payloadEntropy, Some(Multimodal.payloadEntropySql)),
    Q("m6_frame_overlap", Multimodal.frameOverlap, Some(Multimodal.frameOverlapSql)),
    Q("m7_ahash_neardup", Multimodal.ahashNeardup, Some(Multimodal.ahashNeardupSql)),
    Q("m8_block_dedup", Multimodal.blockDedup, Some(Multimodal.blockDedupSql)),
    Q("m9_bitrate_audit", Multimodal.bitrateAudit, Some(Multimodal.bitrateAuditSql)),
    Q("m10_scene_stats", Multimodal.sceneStats, Some(Multimodal.sceneStatsSql)))

  // --------------------------------------------------------------- registry

  private val registry: Seq[Q] = Seq(
    q1, p1DbMask, p2, p3, p4, p5, p6, p7Default, p7Legacy, p8U16ToU8,
    p9, p10, p11, p14, p15,
    a1, a1Grouped, a2, a3, a3Legacy, a6, a7,
    j1, r1, r4, s8Warp) ++ enhanceQueries ++ relationalQueries ++ extQueries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Every fn
    * registers the graft extensions (`graft_db`/`graft_dot` + fuse rule)
    * on its session first — idempotent, so the registry is
    * self-contained on ANY session, not just the ones Verify/Bench/the
    * spec build.
    *
    * Persist lifetime contract: registry fns whose plans reuse a
    * relation across legs (minhash signatures, LSH bands, label-prop
    * rounds) persist it through `persistRecorded`, so the query's memo
    * entry (below) owns it and MAY leave it cached after the query
    * returns — callers running many queries in one long-lived session
    * (as Verify/Bench do) should `spark.catalog.clearCache()` between
    * queries to reclaim executor storage. `tools/Audit` checks that
    * every relation a query leaves persisted is owned by a memo entry;
    * Bench keeps an entry's persists warm between its own iterations
    * exactly when its memo entry owns some.
    *
    * Prepared-query memo (r19): registry fns are pure in
    * (session, dir) and eager per-operation analysis makes steady-state
    * CONSTRUCTION alone cost 100–600 ms for most entries
    * (`Profile build`), so every built Dataset is memoized per
    * (session, [[memoKey]]) on [[graft.ext.SessionMemo]], which re-arms
    * the persists each build recorded on every hit.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> { (s: SparkSession, dir: String) =>
      graft.plans.GraftExtensions.register(s)
      graft.ext.SessionMemo.get[DataFrame](s, memoKey(q.name, dir))(q.fn(s, dir))
    }).toMap

  /** The [[graft.ext.SessionMemo]] key of registry query `name` over `dir`. */
  private[graft] def memoKey(name: String, dir: String): String = s"registry:$name:$dir"

  /** The registry WITHOUT the prepared-query memo (r19 ADVICE item):
    * every call pays real Dataset construction. Diagnostics only —
    * `Profile build` measures steady-state construction cost, and
    * through the memoized [[queries]] a second call would measure the
    * memo hit (~0 ms), hiding a construction-cost regression for the
    * memoized majority. Production callers use [[queries]].
    */
  private[graft] def rawQueries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> { (s: SparkSession, dir: String) =>
      graft.plans.GraftExtensions.register(s)
      q.fn(s, dir)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
