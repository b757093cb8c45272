package graft.enhance

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Tables
import graft.ext.SessionMemo.PersistRecorded
import graft.ops.PixelOps
import graft.stats.HistStats

/** Shared 2-D grid fixture: lineitem rows laid out row-major into a
  * complete `rows × 250` image (ordered by (l_orderkey, l_linenumber),
  * truncated to whole rows), pixel value = dB of l_extendedprice.
  * This gives the spatial operators (CLAHE tiles, 3×3 neighborhoods) a
  * deterministic raster to chew on at any scale factor.
  */
object Grid {
  val Cols = 250

  /** Ceiling on the bucket-relation size for the two-phase global index.
    * Bucket WIDTH is derived from the data (`ceil(maxKey / TargetBuckets)`)
    * so the offsets relation stays ≤ TargetBuckets rows at ANY scale
    * factor — a fixed width would grow the relation linearly with the key
    * domain and blow past the broadcast + single-partition-window budget
    * at the 100 TB design point.
    */
  val TargetBuckets = 4096L

  /** Global row index by (l_orderkey, l_linenumber) WITHOUT a global
    * single-partition window (the textbook scale-killer): phase 1 ranks
    * rows inside coarse orderkey buckets (parallel windows, one per
    * bucket); phase 2 computes per-bucket row counts and a running offset
    * over the tiny bucket relation (≤4096 rows by construction),
    * broadcast back. idx = bucket_offset + local_rank − 1 reproduces the
    * global `row_number() OVER (ORDER BY l_orderkey, l_linenumber)`
    * exactly, because bucket = l_orderkey div B preserves the sort order
    * across buckets.
    */
  def df(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.parquet(s, s"$dir/lineitem.parquet")
    // one cheap single-column agg (driver scalar) to size the buckets;
    // max() over an empty relation is null → empty grid, bucket width 1
    val maxRow = li.agg(max(col("l_orderkey").cast("long"))).head()
    val maxKey = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val bucket = math.max(1L, (maxKey + TargetBuckets - 1) / TargetBuckets)
    val base = li
      .select(PixelOps.toDb(col("l_extendedprice")).as("db"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bkt", expr(s"l_orderkey div $bucket"))
    val wLocal = Window.partitionBy("bkt").orderBy("l_orderkey", "l_linenumber")
    val local = base.withColumn("lrk", row_number().over(wLocal))
    val wOff = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket counts come from BASE, not the windowed relation — the
    // count per bucket is window-invariant, and deriving it from `local`
    // would execute the (expensive) ranking window twice in one plan
    val offsets = base.groupBy("bkt").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum("bn").over(wOff), lit(0L)))
    val n = offsets.agg(sum("bn").as("n_total"))
    local.join(broadcast(offsets.select(col("bkt"), col("off"))), "bkt")
      .withColumn("idx", col("off") + col("lrk") - 1)
      .crossJoin(broadcast(n))
      .filter(col("idx") < expr(s"n_total div $Cols") * Cols)
      .select(col("idx"),
        expr(s"idx div $Cols").as("y"), (col("idx") % Cols).as("x"),
        col("db"), PixelOps.validMask(col("db")).as("valid"),
        expr(s"n_total div $Cols").as("rows_"))
  }

  /** Oracle CTEs `grid(idx,y,x,db,valid)` + `gmeta(rows_)`. */
  val sqlCtes: String = s"""gbase AS (
      SELECT 10.0*log10(GREATEST(CAST(l_extendedprice AS DOUBLE), 1e-10)) AS db,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
      FROM lineitem),
    gn AS (SELECT COUNT(*) AS n_total FROM gbase),
    grid AS (
      SELECT idx, idx // $Cols AS y, idx % $Cols AS x, db, db > -50.0 AS valid
      FROM gbase, gn WHERE idx < (n_total // $Cols) * $Cols),
    gmeta AS (SELECT n_total // $Cols AS rows_ FROM gn)"""
}

/** A4: CLAHE — contrast-limited adaptive histogram equalization
  * (`/root/reference/src/core/processing/autoscale.rs:220-345`, invoked
  * with 8×8 tiles, clip 2.0, 256 bins over the (p01,p99) normalized
  * window, `autoscale.rs:571-608`).
  *
  * Distributed plan (SURVEY §2.3 A4): per-tile histograms are ONE hash
  * aggregate on (tile_y, tile_x, bin); clip/redistribute/CDF run on the
  * tiny 64×256 relation; the per-pixel bilinear lookup is FOUR broadcast
  * joins of that relation back to the pixel table — pixels never shuffle.
  * At 100 TB the plan shape is unchanged: the CDF table stays ≤ tiles×bins
  * rows regardless of image size.
  *
  * Exactness notes (they are the spec, SURVEY §7.5):
  *  - `clip_threshold as u32` truncates → `floor(ct)`, while the compare
  *    `h > ct` uses the unfloored threshold;
  *  - excess terms are exact dyadic rationals (k/128), so the float sum
  *    is exact and partition-order independent;
  *  - remainder round-robin touches bins `0 until rem` (rem < 256);
  *  - bilinear weights may be negative at the image border (the reference
  *    floors THEN maxes, so dy = rf − max(floor(rf),0) < 0 on top rows) —
  *    preserved verbatim;
  *  - output quantization truncates (`as u16`).
  */
object Clahe {
  val Tiles = 8
  val NumBins = 256
  val ClipLimit = 2.0
  val TileW: Int = (Grid.Cols + Tiles - 1) / Tiles // 32

  /** A4 CLAHE over the lineitem grid. The plan embeds ~60 copies of
    * the grid lineage once the stats/corner subtrees are composed, and
    * Spark's eager per-operation checkAnalysis makes construction alone
    * cost ~1.2 s of driver time (r11; `Profile phases` build column) — the registry's
    * prepared-query memo builds it once per (session, dir).
    */
  def query(s: SparkSession, dir: String): DataFrame = {
    // The grid (global row_number) feeds the stats pass, both histograms,
    // and the sampling pass — cache it so the sort runs once, not 5×.
    val g = Grid.df(s, dir).persistRecorded()
    // the one-row stats relation is a full two-pass subtree over the
    // cached grid (agg + 4096-bin hist + CDF windows); without a persist
    // every invocation rebuilds it just to broadcast one row (~1.6 s warm
    // at sf0.1, r11; `Profile stages` shows the rebuild)
    val st = HistStats.stats(g.filter(col("valid")).select(col("db"))).persistRecorded()
    val params = st.select(col("p01").as("low"), col("p99").as("high"),
      greatest(col("p99") - col("p01"), lit(1.0)).as("rng"))

    // bin/tile assignment computed BEFORE the persist and projected
    // narrow: the cache then holds exactly what the three consumers
    // (histogram, tile counts, bilinear sampling) read, instead of
    // re-deriving norm/bin per consumer and caching dead stat columns.
    // ONE select, not a withColumn chain: every withColumn re-analyzes
    // the full lineage, and a4's construct cost was ~1.3 s of pure
    // driver analysis before this batching (r11; `Profile phases`) — the
    // composed expressions are exactly what CollapseProject produced.
    val tileH = expr(s"(rows_ + ${Tiles - 1}) div $Tiles")
    val norm = when(col("valid"),
      (least(greatest(col("db"), col("low")), col("high")) - col("low")) / col("rng"))
      .otherwise(lit(0.0))
    // the bilinear sampling coordinates (dy/dx + floored 00-corner tile
    // ids) are precomputed INTO the cache: the warm-path probe side of
    // the corner join then reads plain cached columns instead of
    // re-evaluating the floor/greatest towers per row in the join keys,
    // the null filter, AND the projection (3× per expression before)
    val rfE = col("y").cast("double") / tileH.cast("double") - lit(0.5)
    val cfE = col("x").cast("double") / lit(TileW.toDouble) - lit(0.5)
    val tyfE = greatest(floor(rfE), lit(0.0))
    val txfE = greatest(floor(cfE), lit(0.0))
    val px = g.crossJoin(broadcast(params))
      .select(col("y"), col("x"), col("valid"),
        round(least(greatest(norm, lit(0.0)), lit(1.0)) * lit(255.0), 0).cast("int").as("bin"),
        expr(s"y div ((rows_ + ${Tiles - 1}) div $Tiles)").as("ty"),
        expr(s"x div $TileW").as("tx"),
        (rfE - tyfE).as("dy"), (cfE - txfE).as("dx"),
        tyfE.cast("long").as("tyi"), txfE.cast("long").as("txi"))
      .persistRecorded()

    val hist = px.filter(col("valid"))
      .groupBy(col("ty"), col("tx"), col("bin")).agg(count(lit(1)).as("h"))

    // Complete 8×8 tile grid (empty tiles keep ct=1, excess=0, cdf=0 like
    // the reference's zero-filled cdfs). Tile pixel counts come from
    // DIMS, not a data pass: the grid is a complete rows_×Cols raster by
    // construction (truncated to whole rows), so count(tile) ≡ rowspan ×
    // colspan — the same shortcut the production Engine.claheDb takes. One
    // scalar agg over the cached grid replaces a full groupBy pass over
    // the pixel cache.
    val tileIds = s.range(Tiles).toDF("ty")
      .crossJoin(s.range(Tiles).toDF("tx"))
    val rowsDf = g.agg(coalesce(max(col("rows_")), lit(0L)).as("rows_"))
      .withColumn("tile_h", expr(s"(rows_ + ${Tiles - 1}) div $Tiles"))
    val tp =
      greatest(least((col("ty") + 1) * col("tile_h"), col("rows_")) -
        col("ty") * col("tile_h"), lit(0L)) *
      greatest(least((col("tx") + 1) * lit(TileW.toLong), lit(Grid.Cols.toLong)) -
        col("tx") * lit(TileW.toLong), lit(0L))
    val tiles = tileIds.crossJoin(broadcast(rowsDf))
      .select(col("ty"), col("tx"), tp.as("tp"),
        greatest(lit(ClipLimit) * (tp / lit(NumBins.toDouble)), lit(1.0)).as("ct"))

    val excess = tiles.join(hist, Seq("ty", "tx"), "left")
      .groupBy(col("ty"), col("tx"))
      .agg(coalesce(sum(when(col("h") > col("ct"), col("h") - col("ct")).otherwise(lit(0.0))),
        lit(0.0)).as("excess"))
    val apb = floor(col("excess") / lit(NumBins.toDouble))
    val tinfo = tiles.join(excess, Seq("ty", "tx"))
      .select(col("ty"), col("tx"), col("tp"), col("ct"), col("excess"),
        apb.as("apb"),
        round(col("excess") - apb * lit(NumBins.toDouble), 0).as("rem"))

    val bins = s.range(NumBins).toDF("bin")
    val full = tinfo.crossJoin(bins)
      .join(hist, Seq("ty", "tx", "bin"), "left")
      .withColumn("hfin",
        coalesce(when(col("h") > col("ct"), floor(col("ct"))).otherwise(col("h")), lit(0.0)) +
          col("apb") + when(col("bin") < col("rem"), lit(1.0)).otherwise(lit(0.0)))
    val wTile = Window.partitionBy("ty", "tx")
    // persist: the corner self-joins below would otherwise recompute the
    // whole histogram lineage per use
    val cdf = full.select(col("ty"), col("tx"), col("bin"),
      least(greatest(
        sum(col("hfin")).over(wTile.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)) /
          greatest(sum(col("hfin")).over(wTile), lit(1.0)), lit(0.0)), lit(1.0)).as("cdf"))
      .persistRecorded()

    // Pre-compose the FOUR corner lookups into one relation keyed by the
    // pixel's (floored tile, bin): the corner tile ids are pure functions
    // of (tyi, txi) (+1, clamped at Tiles-1), so three self-joins of the
    // ≤ Tiles²·bins-row cdf build `corner4` — and the PIXEL side then
    // pays a SINGLE broadcast join instead of four broadcast builds of a
    // renamed (hence non-reusable) exchange. Pixels still never shuffle.
    def cdfAs(tyN: String, txN: String, bN: String, cN: String): DataFrame =
      cdf.select(col("ty").as(tyN), col("tx").as(txN),
        col("bin").as(bN), col("cdf").as(cN))
    val last = lit((Tiles - 1).toLong)
    val corner4 = cdfAs("tyi", "txi", "bin", "c00")
      .join(cdfAs("ty01", "tx01", "b01", "c01"),
        col("tyi") === col("ty01") && least(col("txi") + 1, last) === col("tx01") &&
          col("bin") === col("b01"))
      .join(cdfAs("ty10", "tx10", "b10", "c10"),
        least(col("tyi") + 1, last) === col("ty10") && col("txi") === col("tx10") &&
          col("bin") === col("b10"))
      .join(cdfAs("ty11", "tx11", "b11", "c11"),
        least(col("tyi") + 1, last) === col("ty11") && least(col("txi") + 1, last) === col("tx11") &&
          col("bin") === col("b11"))
      .select(col("tyi"), col("txi"), col("bin"),
        col("c00"), col("c01"), col("c10"), col("c11"))
      // bounded Tiles²·NumBins = 16 384 rows; persisted so a warm rerun
      // broadcasts the cached corner table instead of re-running the
      // three cdf self-joins (per the registry persist-lifetime contract)
      .persistRecorded()

    // the floored tile index is already ≤ Tiles-1 for every in-grid
    // pixel (y < rows_ ≤ Tiles·tile_h), so it IS the 00-corner id —
    // dy/dx/tyi/txi come straight out of the pixel cache
    val joined = px.join(broadcast(corner4), Seq("tyi", "txi", "bin"))

    val top = col("c00") * (lit(1.0) - col("dx")) + col("c01") * col("dx")
    val bottom = col("c10") * (lit(1.0) - col("dx")) + col("c11") * col("dx")
    val out = top * (lit(1.0) - col("dy")) + bottom * col("dy")
    joined.select(col("y"), col("x"),
      when(col("valid"),
        floor(least(greatest(out, lit(0.0)), lit(1.0)) * lit(65535.0)).cast("int"))
        .otherwise(lit(0)).as("q"))
      .orderBy("y", "x")
  }

  val querySql: String = {
    val stats = HistStats.statsCtesSql("SELECT db FROM grid WHERE valid")
    s"""WITH ${Grid.sqlCtes},
    $stats,
    params AS (SELECT p01 AS low, p99 AS high, GREATEST(p99 - p01, 1.0) AS rng FROM stats),
    px AS (
      SELECT y, x, valid, (rows_ + ${Tiles - 1}) // $Tiles AS tile_h,
        CASE WHEN valid THEN (LEAST(GREATEST(db, low), high) - low) / rng ELSE 0.0 END AS norm
      FROM grid, params, gmeta),
    px2 AS (
      SELECT y, x, valid, tile_h,
        CAST(ROUND(LEAST(GREATEST(norm, 0.0), 1.0) * 255.0, 0) AS INT) AS bin,
        y // tile_h AS ty, x // $TileW AS tx
      FROM px),
    thist AS (SELECT ty, tx, bin, COUNT(*) AS h FROM px2 WHERE valid GROUP BY 1, 2, 3),
    tiles AS (
      SELECT ty, tx, tp, GREATEST($ClipLimit * (tp / ${NumBins.toDouble}), 1.0) AS ct
      FROM (
        SELECT ti.ty, ti.tx,
          GREATEST(LEAST((ti.ty + 1) * m.tile_h, m.rows_) - ti.ty * m.tile_h, 0) *
          GREATEST(LEAST((ti.tx + 1) * $TileW, ${Grid.Cols}) - ti.tx * $TileW, 0) AS tp
        FROM (SELECT a.range AS ty, b.range AS tx FROM range($Tiles) a, range($Tiles) b) ti,
             (SELECT rows_, (rows_ + ${Tiles - 1}) // $Tiles AS tile_h FROM gmeta) m)),
    exc AS (
      SELECT tiles.ty, tiles.tx,
        COALESCE(SUM(CASE WHEN h > ct THEN h - ct ELSE 0.0 END), 0.0) AS excess
      FROM tiles LEFT JOIN thist ON tiles.ty = thist.ty AND tiles.tx = thist.tx
      GROUP BY 1, 2),
    tinfo AS (
      SELECT tiles.ty, tiles.tx, ct, excess,
        FLOOR(excess / ${NumBins.toDouble}) AS apb,
        ROUND(excess - FLOOR(excess / ${NumBins.toDouble}) * ${NumBins.toDouble}, 0) AS rem
      FROM tiles JOIN exc ON tiles.ty = exc.ty AND tiles.tx = exc.tx),
    fullb AS (
      SELECT tinfo.ty, tinfo.tx, rb.range AS bin,
        COALESCE(CASE WHEN h > ct THEN FLOOR(ct) ELSE h END, 0.0) + apb +
          CASE WHEN rb.range < rem THEN 1.0 ELSE 0.0 END AS hfin
      FROM tinfo CROSS JOIN range($NumBins) rb
      LEFT JOIN thist ON tinfo.ty = thist.ty AND tinfo.tx = thist.tx AND rb.range = thist.bin),
    cdf AS (
      SELECT ty, tx, bin,
        LEAST(GREATEST(
          SUM(hfin) OVER (PARTITION BY ty, tx ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) /
          GREATEST(SUM(hfin) OVER (PARTITION BY ty, tx), 1.0), 0.0), 1.0) AS cdf
      FROM fullb),
    samp AS (
      SELECT y, x, valid, bin,
        rf - tyf AS dy, cf - txf AS dx,
        CAST(LEAST(tyf, ${Tiles - 1}.0) AS BIGINT) AS ty0,
        CAST(LEAST(txf, ${Tiles - 1}.0) AS BIGINT) AS tx0,
        CAST(LEAST(tyf + 1.0, ${Tiles - 1}.0) AS BIGINT) AS ty1,
        CAST(LEAST(txf + 1.0, ${Tiles - 1}.0) AS BIGINT) AS tx1
      FROM (
        SELECT *, GREATEST(FLOOR(rf), 0.0) AS tyf, GREATEST(FLOOR(cf), 0.0) AS txf
        FROM (
          SELECT y, x, valid, bin,
            CAST(y AS DOUBLE) / CAST(tile_h AS DOUBLE) - 0.5 AS rf,
            CAST(x AS DOUBLE) / ${TileW.toDouble} - 0.5 AS cf
          FROM px2)))
    SELECT y, x,
      CASE WHEN valid THEN CAST(FLOOR(LEAST(GREATEST(
        (c00.cdf * (1.0 - dx) + c01.cdf * dx) * (1.0 - dy) +
        (c10.cdf * (1.0 - dx) + c11.cdf * dx) * dy, 0.0), 1.0) * 65535.0) AS INT)
      ELSE 0 END AS q
    FROM samp
      JOIN cdf c00 ON samp.ty0 = c00.ty AND samp.tx0 = c00.tx AND samp.bin = c00.bin
      JOIN cdf c01 ON samp.ty0 = c01.ty AND samp.tx1 = c01.tx AND samp.bin = c01.bin
      JOIN cdf c10 ON samp.ty1 = c10.ty AND samp.tx0 = c10.tx AND samp.bin = c10.bin
      JOIN cdf c11 ON samp.ty1 = c11.ty AND samp.tx1 = c11.tx AND samp.bin = c11.bin
    ORDER BY y, x"""
  }
}

/** A5: 3×3 local median + range
  * (`/root/reference/src/core/processing/autoscale.rs:176-213`): over the
  * ≤9 VALID pixels of the neighborhood (center included), median is the
  * upper median `sorted[count/2]`, range is max−min; the consumer's local
  * factor is `1 + 0.1·(v−median)/range` (range>0) else 1
  * (`autoscale.rs:630-636`).
  *
  * Distributed plan ([[neighborhood]]): the valid pixels pack into
  * per-`y` row strips (one exchange of the grid at 1× bytes), each strip
  * replicates to its 3 target rows (a second exchange, at strip grain),
  * and one flatMap per target row sorts each cell's ≤9 values and picks
  * median, min and max. The center's own value rides along from the
  * center row, so a position is a valid output iff its own pixel
  * arrived: no join of the grid back onto the neighborhood, and
  * out-of-grid phantom positions (touched only by border pixels'
  * stencils) drop on the same predicate. dB values are rounded at the
  * comparison boundary only (libm log10 may differ in the last ulp).
  *
  * Sort invariant: the fold sorts with `java.util.Arrays.sort(double[])`
  * where the r14–r20 plan used Spark's `sort_array`. The two give the
  * same sorted values only when a neighborhood holds no NaN and no mix of
  * -0.0 and 0.0: Java's total order puts -0.0 before 0.0, Spark's
  * compares them equal and keeps arrival order, so a mixed-zero
  * neighborhood can pick a median of the other sign (the emitted
  * `round(…, 6)` turns either into +0.0; EnhanceSpec pins a mixed-sign-
  * zero 3×3 fixture). NaN is kept out like everywhere a value reaches a
  * sort. dB values of positive intensities are never NaN and never -0.0.
  */
object LocalStats {
  /** A5: [[statsOf]] over the lineitem grid. */
  def query(s: SparkSession, dir: String): DataFrame = statsOf(Grid.df(s, dir))

  /** One 9-neighbor stat cell of [[neighborhood]]: target position,
    * contributor count, upper median / min / max of the contributing
    * values, and the center's own value (None ⟺ the position is not a
    * valid center).
    */
  private[enhance] final case class NbRow(cy: Long, cx: Long, cnt: Long,
    med: Double, mn: Double, mx: Double, cdb: Option[Double])

  /** The shared 9-neighbor fold over any `grid(y, x, db, valid)`
    * relation, emitting one row per target position with ≥1 valid
    * contributor: count, upper median `sorted[cnt div 2 + 1]`, min,
    * max, and the center's own value (`cdb`; None ⟺ the position is
    * not a valid in-grid center). Both A5 consumers derive from this
    * one relation.
    *
    * Shape (r21, guide §2.3 — shuffle fewer bytes): the r14–r20 form
    * exploded every valid pixel to its 9 stencil positions and hash-
    * aggregated per position — 9× the grid through one exchange into
    * a corpus-sized agg (sort_array per cell interpreted). Now the
    * grid packs into per-`y` row strips (ONE exchange of the grid at
    * 1× bytes; ≤[[Grid.Cols]] pixels per key, provably bounded), each
    * strip replicates to its 3 target rows (a second exchange of 3×
    * the 2400-row strip relation — thousands of rows, not pixels),
    * and a per-target-row flatMap computes every cell's 9-value
    * sort/median/min/max in one tight local pass. Values, their
    * sort order, and the median index are bit-identical to the old
    * `sort_array(collect_list)` + `element_at(cnt div 2 + 1)` (the
    * fold only sorts doubles and picks — all rounding stays in the
    * downstream column expressions), so emitted cells are unchanged;
    * EnhanceSpec pins the edge semantics on the 3×3 fixture and the
    * oracle keeps the per-occurrence SQL form.
    */
  private def neighborhood(g: DataFrame): DataFrame = {
    val spark = g.sparkSession
    import spark.implicits._
    val strips = g.filter(col("valid"))
      .groupBy(col("y").cast("long").as("y"))
      .agg(collect_list(struct(col("x").cast("long").as("_1"),
        col("db").cast("double").as("_2"))).as("px"))
    val grouped = strips
      .select(col("y"), col("px"), explode(array(lit(-1L), lit(0L), lit(1L))).as("dy"))
      .select((col("y") + col("dy")).as("cy"),
        struct(col("y").as("_1"), col("px").as("_2")).as("s"))
      .groupBy(col("cy")).agg(collect_list(col("s")).as("strips"))
      .toDF("_1", "_2")
      .as[(Long, Seq[(Long, Seq[(Long, Double)])])]
    grouped.flatMap { case (cy, ss) =>
      var maxX = 0L
      ss.foreach(_._2.foreach { p => if (p._1 > maxX) maxX = p._1 })
      val width = (maxX + 3).toInt // bin = cx + 1 ∈ [0, maxX + 2]
      val cnt = new Array[Int](width)
      val vals = Array.ofDim[Double](width, 9)
      val ctr = new Array[java.lang.Double](width)
      ss.foreach { case (sy, px) =>
        val isCenterRow = sy == cy
        px.foreach { case (x, db) =>
          var dx = -1
          while (dx <= 1) {
            val b = (x + dx + 1L).toInt
            if (b >= 0 && b < width) {
              vals(b)(cnt(b)) = db
              cnt(b) += 1
              if (isCenterRow && dx == 0) ctr(b) = db
            }
            dx += 1
          }
        }
      }
      (0 until width).iterator.filter(cnt(_) > 0).map { b =>
        val n = cnt(b)
        val arr = java.util.Arrays.copyOf(vals(b), n)
        java.util.Arrays.sort(arr)
        NbRow(cy, (b - 1).toLong, n.toLong, arr(n / 2), arr(0), arr(n - 1),
          Option(ctr(b)).map(_.doubleValue))
      }
    }.toDF()
  }

  /** Upper median `sorted[count/2]`, range, and the reference's local
    * factor over a [[neighborhood]] row (`autoscale.rs:630-636`).
    */
  private val medCol = col("med")
  private val rngCol = col("mx") - col("mn")
  private val factorCol =
    when(rngCol > 0.0, lit(1.0) + lit(0.1) * (col("cdb") - medCol) / rngCol)
      .otherwise(lit(1.0))

  /** The join-free fold core over any `grid(y, x, db, valid)` relation —
    * [[query]] binds it to the lineitem Grid; EnhanceSpec pins the edge
    * semantics (border shrink, invalid exclusion, phantom drop) on a
    * hand-checked 3×3 fixture.
    */
  def statsOf(g: DataFrame): DataFrame =
    neighborhood(g).filter(col("cdb").isNotNull)
      .select(col("cy").as("y"), col("cx").as("x"), col("cnt").as("n_nb"),
        round(medCol, 6).as("median_db"),
        round(rngCol, 6).as("range_db"),
        round(factorCol, 6).as("local_factor"))
      .orderBy("y", "x")

  /** A5 consumer: the (dormant) local-enhancement quantize path
    * (`autoscale.rs:613-643`): adjusted = v·(1 + 0.1·(v−median)/range)
    * for valid pixels (every valid center has ≥1 valid neighbor —
    * itself), then the standard clip/normalize/gamma/quantize with the
    * standard-strategy window (p05, p95, γ=1).
    *
    * Same join-free fold as [[query]]; invalid centers (q=0) have no
    * self-contribution, so their membership is recovered from the grid
    * BOUNDS instead: x from the static column count, y from a 1-row
    * broadcast dims relation — out-of-grid phantom positions fail the
    * bounds check, in-grid invalid centers pass with a null `cdb`.
    */
  def enhancedQuantize(s: SparkSession, dir: String): DataFrame = {
    val g = Grid.df(s, dir).persistRecorded()
    val st = HistStats.stats(g.filter(col("valid")).select(col("db")))
    val params = st.select(col("p05").as("low"), col("p95").as("high"),
      greatest(col("p95") - col("p05"), lit(1.0)).as("rng"))
    val dims = g.agg(max(col("rows_")).as("rows_"))
    val adjusted = col("cdb") * factorCol
    val clipped = least(greatest(adjusted, col("low")), col("high"))
    val q = floor(least(greatest(
      pow((clipped - col("low")) / col("rng"), lit(1.0)) * lit(65535.0),
      lit(0.0)), lit(65535.0))).cast("int")
    neighborhood(g).crossJoin(broadcast(dims)).crossJoin(broadcast(params))
      .filter(col("cy") >= 0 && col("cy") < col("rows_") &&
        col("cx") >= 0 && col("cx") < lit(Grid.Cols))
      .select(col("cy").as("y"), col("cx").as("x"),
        when(col("cdb").isNotNull, q).otherwise(lit(0)).as("q"))
      .orderBy("y", "x")
  }

  val enhancedQuantizeSql: String = {
    val stats = HistStats.statsCtesSql("SELECT db FROM grid WHERE valid")
    s"""WITH ${Grid.sqlCtes},
    $stats,
    params AS (SELECT p05 AS low, p95 AS high, GREATEST(p95 - p05, 1.0) AS rng FROM stats),
    contrib AS (
      SELECT y + o.dy AS cy, x + o.dx AS cx, db
      FROM grid CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dy, dx)
      WHERE valid),
    nb AS (
      SELECT cy, cx, list_sort(list(db)) AS vals, COUNT(*) AS cnt,
        MIN(db) AS mn, MAX(db) AS mx
      FROM contrib GROUP BY 1, 2)
    SELECT y, x,
      CASE WHEN valid THEN CAST(FLOOR(LEAST(GREATEST(
        pow((LEAST(GREATEST(
          db * (CASE WHEN mx - mn > 0.0
                THEN 1.0 + 0.1 * (db - vals[CAST(cnt // 2 + 1 AS INT)]) / (mx - mn)
                ELSE 1.0 END), low), high) - low) / rng, 1.0) * 65535.0,
        0.0), 65535.0)) AS INT) ELSE 0 END AS q
    FROM grid JOIN nb ON grid.y = nb.cy AND grid.x = nb.cx, params
    ORDER BY y, x"""
  }

  val querySql: String = s"""WITH ${Grid.sqlCtes},
    contrib AS (
      SELECT y + o.dy AS cy, x + o.dx AS cx, db
      FROM grid CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dy, dx)
      WHERE valid),
    nb AS (
      SELECT cy, cx, list_sort(list(db)) AS vals, COUNT(*) AS cnt,
        MIN(db) AS mn, MAX(db) AS mx
      FROM contrib GROUP BY 1, 2)
    SELECT y, x, cnt AS n_nb,
      ROUND(vals[CAST(cnt // 2 + 1 AS INT)], 6) AS median_db,
      ROUND(mx - mn, 6) AS range_db,
      ROUND(CASE WHEN mx - mn > 0.0 THEN 1.0 + 0.1 * (db - vals[CAST(cnt // 2 + 1 AS INT)]) / (mx - mn)
                 ELSE 1.0 END, 6) AS local_factor
    FROM grid JOIN nb ON grid.y = nb.cy AND grid.x = nb.cx
    WHERE valid ORDER BY y, x"""
}

/** P12: suppressed synthetic RGB for maritime scenes
  * (`/root/reference/src/core/processing/synthetic_rgb.rs:88-178`):
  * combined-band p05 floor (+3, cap 40); both bands ≤ floor → (0,0,0);
  * soft floor-subtract with γR=1.15, γG=1.10; blue from the stabilized
  * ratio (r+8)/(g+8) with gain 0.18.
  *
  * The fixture reuses the u8 band pair derived from `part`
  * (p_partkey%256, (p_partkey·7+3)%256). Two-phase plan: the floor is a
  * tiny histogram aggregate broadcast back into a per-pixel projection.
  * Math runs in f64 (the reference uses f32 LUT precompute; at u8
  * granularity results agree except exact .5-boundary values — the
  * documented divergence of PixelOps).
  */
object SynRgbSuppressed {
  def query(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.parquet(s, s"$dir/part.parquet")
    val withBands = part.select(col("p_partkey"),
      (col("p_partkey") % 256).as("b1"),
      ((col("p_partkey") * 7 + 3) % 256).as("b2"))

    val vals = withBands.select(col("b1").as("v"))
      .unionAll(withBands.select(col("b2").as("v")))
    val tot = vals.agg(count(lit(1)).as("total"))
    val cum = vals.groupBy(col("v")).agg(count(lit(1)).as("h"))
      .select(col("v"), sum(col("h")).over(
        Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)).as("c"))
    val floorDf = cum.crossJoin(broadcast(tot))
      .filter(col("c") >= round(col("total").cast("double") * 0.05, 0).cast("long"))
      .agg(least(min(col("v")) + 3, lit(40L)).cast("double").as("floorv"))

    def chan(v: Column, gamma: Double): Column = {
      val denom = greatest(lit(255.0) - col("floorv"), lit(1.0))
      val shifted = (v.cast("double") - col("floorv")) / denom
      when(v.cast("double") <= col("floorv"), lit(0))
        .otherwise(round(least(greatest(
          pow(shifted, lit(gamma)) * lit(255.0), lit(0.0)), lit(255.0)), 0).cast("int"))
    }

    val out = withBands.crossJoin(broadcast(floorDf))
    val r = chan(col("b1"), 1.15)
    val gg = chan(col("b2"), 1.10)
    val blue = round(least(greatest(
      pow((r.cast("double") + lit(8.0)) / (gg.cast("double") + lit(8.0)), lit(0.1)) *
        lit(255.0) * lit(0.18), lit(0.0)), lit(255.0)), 0).cast("int")
    val water = col("b1").cast("double") <= col("floorv") &&
      col("b2").cast("double") <= col("floorv")
    out.select(col("p_partkey"),
      when(water, 0).otherwise(r).as("r"),
      when(water, 0).otherwise(gg).as("g"),
      when(water, 0).otherwise(blue).as("b"))
      .orderBy("p_partkey")
  }

  val querySql: String = {
    val chanSql: (String, String) => String = (v, g) =>
      s"""CASE WHEN CAST($v AS DOUBLE) <= floorv THEN 0
         ELSE CAST(ROUND(LEAST(GREATEST(pow((CAST($v AS DOUBLE) - floorv) / GREATEST(255.0 - floorv, 1.0), $g) * 255.0, 0.0), 255.0), 0) AS INT) END"""
    val r = chanSql("b1", "1.15")
    val gg = chanSql("b2", "1.10")
    s"""WITH bands AS (
      SELECT p_partkey, p_partkey % 256 AS b1, (p_partkey*7 + 3) % 256 AS b2 FROM part),
    vals AS (SELECT b1 AS v FROM bands UNION ALL SELECT b2 AS v FROM bands),
    tot AS (SELECT COUNT(*) AS total FROM vals),
    cum AS (SELECT v, SUM(h) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
            FROM (SELECT v, COUNT(*) AS h FROM vals GROUP BY 1)),
    fl AS (SELECT CAST(LEAST(MIN(v) + 3, 40) AS DOUBLE) AS floorv
           FROM cum, tot WHERE c >= CAST(ROUND(CAST(total AS DOUBLE)*0.05, 0) AS BIGINT))
    SELECT p_partkey,
      CASE WHEN CAST(b1 AS DOUBLE) <= floorv AND CAST(b2 AS DOUBLE) <= floorv THEN 0 ELSE $r END AS r,
      CASE WHEN CAST(b1 AS DOUBLE) <= floorv AND CAST(b2 AS DOUBLE) <= floorv THEN 0 ELSE $gg END AS g,
      CASE WHEN CAST(b1 AS DOUBLE) <= floorv AND CAST(b2 AS DOUBLE) <= floorv THEN 0
        ELSE CAST(ROUND(LEAST(GREATEST(pow((CAST($r AS DOUBLE) + 8.0) / (CAST($gg AS DOUBLE) + 8.0), 0.1) * 255.0 * 0.18, 0.0), 255.0), 0) AS INT) END AS b
    FROM bands, fl ORDER BY p_partkey"""
  }
}
