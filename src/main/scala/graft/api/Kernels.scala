package graft.api

import graft.model.PolarizationOperation
import graft.stats.FastStats.Moments

/** A tile in the dB (f64) domain — the engine's working representation
  * after P1 (mirrors the reference's `Array2<f64>` dB image).
  */
final case class DbTile(tile_row: Int, tile_col: Int, h: Int, w: Int, db: Array[Double])

/** Per-tile pixel kernels — plain Scala loops over the dense arrays
  * inside tiles, executed distributed via typed Dataset maps.
  *
  * WHY NOT Column transforms: Spark's higher-order array functions
  * (`transform`/`zip_with`) evaluate their lambda INTERPRETED (no
  * whole-stage codegen inside the lambda), which measured ~0.6 M px/s on
  * the quantize kernel. A JIT-compiled Scala loop on the same tile is
  * memory-bound (>100 M px/s). The relational/aggregation layers stay
  * DataFrames; the dense per-pixel inner loop is exactly the "genuine
  * per-partition imperative logic" case — mirroring the reference's
  * contiguous-slice fast path (`pipeline.rs:13`).
  *
  * All formulas are the PixelOps semantics (same constants, same op
  * order); `java.lang.Math` log10/pow match Spark's expression
  * implementations.
  */
object Kernels {

  @inline def db(v: Float): Double =
    10.0 * math.log10(math.max(v.toDouble, graft.ops.PixelOps.MagnitudeFloor))

  @inline def valid(dbv: Double): Boolean = dbv > graft.ops.PixelOps.ValidDbThreshold

  /** P1: materialize the dB tile once (the reference's `Array2<f64>` dB
    * image) so the stats, histogram, and quantize passes don't each pay
    * the log10.
    */
  def toDb(pixels: Array[Float]): Array[Double] = {
    val out = new Array[Double](pixels.length)
    var i = 0
    while (i < pixels.length) { out(i) = db(pixels(i)); i += 1 }
    out
  }

  /** P7 over a dB tile: mask → clip → normalize → gamma → quantize. A
    * gamma of 1.0 (Tamed synRGB, two Standard branches) skips the `pow`:
    * `Math.pow(x, 1.0)` is specified to return `x`.
    */
  def quantize(dbv: Array[Double], low: Double, high: Double,
               gamma: Double, maxVal: Double): Array[Int] = {
    val range = math.max(high - low, 1.0)
    val linear = gamma == 1.0
    val out = new Array[Int](dbv.length)
    var i = 0
    while (i < dbv.length) {
      val d = dbv(i)
      if (valid(d)) {
        val clipped = math.min(math.max(d, low), high)
        val t = (clipped - low) / range
        val normalized = if (linear) t else math.pow(t, gamma)
        out(i) = math.floor(math.min(math.max(normalized * maxVal, 0.0), maxVal)).toInt
      }
      i += 1
    }
    out
  }

  /** P8: u16 → u8 min/max rescale (`autoscale.rs:348-364`). */
  def rescaleU8(q: Array[Int], mn: Int, mx: Int): Array[Int] = {
    val scale = if (mx > mn) 255.0 / (mx.toDouble - mn.toDouble) else 1.0
    val out = new Array[Int](q.length)
    var i = 0
    while (i < q.length) {
      // .round() semantics of the reference (half away from zero; values
      // here are non-negative → floor(x + 0.5)), matching PixelOps.u16ToU8
      out(i) = math.min(math.max(math.floor((q(i).toDouble - mn.toDouble) * scale + 0.5), 0.0), 255.0).toInt
      i += 1
    }
    out
  }

  /** P2-P6 band algebra on aligned tiles (`ops.rs`). */
  def bandOp(a: Array[Float], b: Array[Float], op: PolarizationOperation): Array[Float] = {
    val out = new Array[Float](a.length)
    var i = 0
    op match {
      case PolarizationOperation.Sum =>
        while (i < a.length) { out(i) = a(i) + b(i); i += 1 }
      case PolarizationOperation.Diff =>
        while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
      case PolarizationOperation.Ratio | PolarizationOperation.LogRatio =>
        while (i < a.length) {
          out(i) = if (math.abs(b(i)) > 1e-10) (a(i).toDouble / b(i).toDouble).toFloat else 0.0f
          i += 1
        }
      case PolarizationOperation.NDiff =>
        while (i < a.length) {
          val denom = a(i) + b(i)
          out(i) = if (math.abs(denom) > 1e-10) ((a(i) - b(i)).toDouble / denom.toDouble).toFloat
          else 0.0f
          i += 1
        }
    }
    out
  }

  /** Valid-pixel Welford moments of one partition of tiles (sequential
    * update; partitions merge via Chan's formula in the reduce).
    */
  def momentsOfTiles(tiles: Iterator[DbTile]): Iterator[Moments] = {
    var n = 0L; var mean = 0.0; var m2 = 0.0
    var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
    tiles.foreach { t =>
      val px = t.db
      var i = 0
      while (i < px.length) {
        val d = px(i)
        if (valid(d)) {
          n += 1
          val delta = d - mean
          mean += delta / n
          m2 += delta * (d - mean)
          if (d < mn) mn = d
          if (d > mx) mx = d
        }
        i += 1
      }
    }
    Iterator.single(Moments(n, mean, m2, mn, mx))
  }

  /** Valid-pixel fixed-range histogram of one partition (bins merge by
    * vector add). Binning matches `autoscale.rs:112-116`.
    */
  def histOfTiles(tiles: Iterator[DbTile], mn: Double, mx: Double,
                  bins: Int): Iterator[Array[Long]] = {
    val inv = if (mx > mn) 1.0 / (mx - mn) else 0.0
    val h = new Array[Long](bins)
    tiles.foreach { t =>
      val px = t.db
      var i = 0
      while (i < px.length) {
        val d = px(i)
        if (valid(d)) {
          val tt = math.min(math.max((d - mn) * inv, 0.0), 1.0)
          h(math.min(math.floor(tt * bins).toLong, (bins - 1).toLong).toInt) += 1
        }
        i += 1
      }
    }
    Iterator.single(h)
  }

  /** CLAHE per-(tile,bin) histogram contribution of one partition:
    * flat array indexed (claheTy·nTiles + claheTx)·bins + bin.
    */
  def claheHistOfTiles(tiles: Iterator[DbTile], tileSize: Int,
                       tileH: Int, tileW: Int, nTiles: Int, bins: Int,
                       low: Double, high: Double): Iterator[Array[Long]] = {
    val rng = math.max(high - low, 1.0)
    val h = new Array[Long](nTiles * nTiles * bins)
    tiles.foreach { t =>
      val px = t.db
      val y0 = t.tile_row * tileSize
      val x0 = t.tile_col * tileSize
      var i = 0
      var ly = 0
      while (ly < t.h) {
        val ty = math.min((y0 + ly) / tileH, nTiles - 1)
        var lx = 0
        while (lx < t.w) {
          val d = px(i)
          if (valid(d)) {
            val tx = math.min((x0 + lx) / tileW, nTiles - 1)
            val clipped = math.min(math.max(d, low), high)
            val norm = (clipped - low) / rng
            val bin = clampBin(norm, bins)
            h((ty * nTiles + tx) * bins + bin) += 1
          }
          i += 1; lx += 1
        }
        ly += 1
      }
    }
    Iterator.single(h)
  }

  @inline private def clampBin(norm: Double, bins: Int): Int = {
    val b = math.round(math.min(math.max(norm, 0.0), 1.0) * (bins - 1)).toInt
    if (b < 0) 0 else if (b >= bins) bins - 1 else b
  }

  /** CLAHE per-pixel sampling (`autoscale.rs:307-345`): bilinear
    * interpolation between the 4 neighboring tile CDFs, preserving the
    * reference's floor-then-max border weights (dy may be negative).
    */
  def claheSample(t: DbTile, tileSize: Int, tileH: Int, tileW: Int,
                  nTiles: Int, bins: Int, low: Double, high: Double,
                  cdf: Array[Double], maxVal: Double): Array[Int] = {
    val rng = math.max(high - low, 1.0)
    val out = new Array[Int](t.db.length)
    val y0 = t.tile_row * tileSize
    val x0 = t.tile_col * tileSize
    var i = 0
    var ly = 0
    while (ly < t.h) {
      val gy = y0 + ly
      val rf = gy.toDouble / tileH - 0.5
      val tyf = math.max(math.floor(rf), 0.0)
      val dy = rf - tyf
      val ty0 = math.min(tyf, (nTiles - 1).toDouble).toInt
      val ty1 = math.min(tyf + 1.0, (nTiles - 1).toDouble).toInt
      var lx = 0
      while (lx < t.w) {
        val d = t.db(i)
        if (valid(d)) {
          val gx = x0 + lx
          val cfv = gx.toDouble / tileW - 0.5
          val txf = math.max(math.floor(cfv), 0.0)
          val dx = cfv - txf
          val tx0 = math.min(txf, (nTiles - 1).toDouble).toInt
          val tx1 = math.min(txf + 1.0, (nTiles - 1).toDouble).toInt
          val clipped = math.min(math.max(d, low), high)
          val bin = clampBin((clipped - low) / rng, bins)
          val c00 = cdf((ty0 * nTiles + tx0) * bins + bin)
          val c01 = cdf((ty0 * nTiles + tx1) * bins + bin)
          val c10 = cdf((ty1 * nTiles + tx0) * bins + bin)
          val c11 = cdf((ty1 * nTiles + tx1) * bins + bin)
          val top = c00 * (1.0 - dx) + c01 * dx
          val bottom = c10 * (1.0 - dx) + c11 * dx
          val res = top * (1.0 - dy) + bottom * dy
          out(i) = (math.min(math.max(res, 0.0), 1.0) * maxVal).toInt
        }
        i += 1; lx += 1
      }
      ly += 1
    }
    out
  }
}
