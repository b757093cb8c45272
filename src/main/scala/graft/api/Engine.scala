package graft.api

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Geom
import graft.meta.SafeMeta
import graft.model._
import graft.sink.{Sinks, TiffWriter}
import graft.sources.{RasterSource, Tile}
import graft.stats.FastStats

/** Result buffer of the in-memory API (E3,
  * `/root/reference/src/api/mod.rs:51-62`).
  */
final case class ProcessedImage(
    width: Int,
    height: Int,
    bitDepth: BitDepth,
    gray: Option[Array[Int]],
    rgb: Option[(Array[Int], Array[Int], Array[Int])],
    geotransform: Option[Array[Double]],
    /** multiband TIFF payload: the two AUTOSCALED bands (reference
      * `save.rs` writes raw autoscaled band1/band2 to the 2-band TIFF
      * and composes synRGB only for JPEG). */
    bands: Option[(Array[Int], Array[Int])] = None)

/** Quantized output tile: the h×w samples row-major in `q`, packed
  * little-endian at the output width — 1 byte a sample when the producing
  * stage's maxVal ≤ 255, else 2 — and read unsigned. Bytes per sample =
  * `q.length / (h·w)`.
  *
  * A byte payload is one binary column to Spark: the encoders and the
  * collect copy it whole, where an `Array[Int]` converts element by
  * element at 4 bytes a sample. At 16 bits it is also the TIFF tile row
  * layout, so [[graft.sink.TiffWriter.tileBytes]] copies rows.
  */
final case class QTile(tile_row: Int, tile_col: Int, h: Int, w: Int, q: Array[Byte]) {
  def bytesPerSample: Int = if (q.length == 0) 1 else q.length / (h * w)

  /** All samples, unpacked. */
  def samples: Array[Int] = {
    val out = new Array[Int](h * w)
    var i = 0
    if (bytesPerSample == 1) while (i < out.length) { out(i) = q(i) & 0xff; i += 1 }
    else while (i < out.length) { out(i) = (q(2 * i) & 0xff) | ((q(2 * i + 1) & 0xff) << 8); i += 1 }
    out
  }
}

object QTile {
  /** A tile of `samples` (each in 0..maxVal), packed at maxVal's width. */
  def packed(tileRow: Int, tileCol: Int, h: Int, w: Int, samples: Array[Int],
             maxVal: Double): QTile = {
    val q =
      if (maxVal <= 255) {
        val b = new Array[Byte](samples.length)
        var i = 0
        while (i < b.length) { b(i) = samples(i).toByte; i += 1 }
        b
      } else {
        val b = new Array[Byte](2 * samples.length)
        var i = 0
        while (i < samples.length) {
          b(2 * i) = samples(i).toByte; b(2 * i + 1) = (samples(i) >>> 8).toByte; i += 1
        }
        b
      }
    QTile(tileRow, tileCol, h, w, q)
  }
}

/** One source tile cropped to the source window of one warp output block:
  * the record [[Engine.warpTiles]] ships. `tile` is the id of the block's
  * output tile (the exchange key), `block` the block id, and (r0, c0) the
  * crop's origin in source pixels.
  */
final case class WarpCrop(product_id: String, band: String, tile: Int, block: Int,
                          r0: Int, c0: Int, h: Int, w: Int, pixels: Array[Float])

/** Per-product batch outcome (`api/mod.rs:452-457`). */
final case class BatchReport(processed: Int, skipped: Int, errors: Seq[(String, String)])

/** The engine's query lifecycle (E1-E3, SURVEY §3): params → one band
  * pipeline per input `scan(tiles) → stats reduce → broadcast params →
  * per-tile kernel map → [u8 rescale]`, whose final tiles go either to
  * the streamed TIFF writer (a full-resolution single-page TIFF: tasks
  * encode TIFF tiles and nothing is collected) or to a collect at target
  * size → pad → sinks.
  *
  * Execution model (SURVEY §1.3): tiles are the PRIMARY representation.
  * Aggregations run as mapPartitions+reduce over the dense arrays
  * (constant-size partial state: Welford moments, bin vectors — the
  * distributed form of the reference's streaming passes); per-pixel
  * stages are JIT-compiled tile kernels (graft.api.Kernels — Spark's
  * higher-order array lambdas are interpreted, so typed Dataset maps are
  * the idiomatic fast path). The relational pixel view remains the
  * oracle-checked surface in SparkEntry. The driver holds at most a
  * target-size output image, never a source-resolution one.
  */
object Engine {

  import RasterSource.DefaultTileSize

  private implicit val dbTileEnc: org.apache.spark.sql.Encoder[DbTile] =
    org.apache.spark.sql.Encoders.product[DbTile]

  /** P1: tiles → dB-domain tiles (materialized once, like the
    * reference's dB image; cached by the pipeline drivers).
    */
  def toDbTiles(tiles: Dataset[Tile]): Dataset[DbTile] =
    tiles.map(t => DbTile(t.tile_row, t.tile_col, t.h, t.w, Kernels.toDb(t.pixels)))

  /** A1/A2 over tiles: moments reduce, then histogram reduce, then the
    * shared CDF inversion — two jobs, partial state = one buffer per
    * partition.
    *
    * The per-partition Welford buffers fold on the driver in PARTITION
    * order: Chan's merge is not associative in floating point, and a
    * `Dataset.reduce` merges in task-completion order, so mean/std could
    * differ in their last bits from run to run. The collect ships the
    * same one row per partition the reduce did. Histogram bins are
    * integer adds, exact in any order.
    */
  def tileStats(tiles: Dataset[DbTile]): FastStats.FastStatsResult = {
    val m = tiles.mapPartitions(Kernels.momentsOfTiles)(
      org.apache.spark.sql.Encoders.product[FastStats.Moments])
      .collect().foldLeft(FastStats.Moments.zero)(FastStats.Moments.merge)
    val mr = FastStats.Moments.finish(m)
    FastStats.fromMoments(mr, () => {
      val bins = graft.stats.HistStats.NumBins
      tiles.mapPartitions(Kernels.histOfTiles(_, mr.min, mr.max, bins))(
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
        .reduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    })
  }

  /** Strategy dispatch with the reference's routing
    * (`pipeline.rs:49-63`): Standard goes through the LEGACY 4-branch
    * heuristic; every other strategy through the advanced table.
    */
  def paramsFor(st: FastStats.FastStatsResult,
                strategy: AutoscaleStrategy): (Double, Double, Double) =
    strategy match {
      case AutoscaleStrategy.Standard => FastStats.legacyParams(st)
      case s => FastStats.strategyParams(st, s.name)
    }

  // ----------------------------------------------------- tile-kernel stages

  private implicit val qTileEnc: org.apache.spark.sql.Encoder[QTile] =
    org.apache.spark.sql.Encoders.product[QTile]

  def quantizeTiles(tiles: Dataset[DbTile], low: Double, high: Double,
                    gamma: Double, maxVal: Double): Dataset[QTile] =
    tiles.map(t => QTile.packed(t.tile_row, t.tile_col, t.h, t.w,
      Kernels.quantize(t.db, low, high, gamma, maxVal), maxVal))

  /** P8: global min/max reduce + per-tile rescale. */
  def rescaleTilesU8(tq: Dataset[QTile]): Dataset[QTile] = {
    import tq.sparkSession.implicits._
    val (mn, mx) = tq.map { t =>
      val q = t.samples
      var mn = Int.MaxValue; var mx = Int.MinValue
      var i = 0
      while (i < q.length) { if (q(i) < mn) mn = q(i); if (q(i) > mx) mx = q(i); i += 1 }
      (mn, mx)
    }.reduce((a, b) => (math.min(a._1, b._1), math.max(a._2, b._2)))
    tq.map(t => QTile.packed(t.tile_row, t.tile_col, t.h, t.w,
      Kernels.rescaleU8(t.samples, mn, mx), 255.0))
  }

  /** Samples [[assembleTiles]] has stitched on the driver since the JVM
    * started; specs read it to show a path never assembles an image.
    */
  private[graft] val assembledSamples = new java.util.concurrent.atomic.AtomicLong

  /** Collect the output as TILE ARRAYS and stitch the row-major image on
    * the driver: `rows·cols` ints, so only for target-size outputs (the
    * resized, padded, two-band and JPEG paths). A full-resolution TIFF
    * never comes here; [[processToPath]] streams its tiles to the file.
    */
  def assembleTiles(tq: Dataset[QTile], rows: Int, cols: Int,
                    tileSize: Int = DefaultTileSize): Array[Int] = {
    val out = new Array[Int](rows * cols)
    tq.collect().foreach { t =>
      val y0 = t.tile_row * tileSize
      val x0 = t.tile_col * tileSize
      val q = t.samples
      var y = 0
      while (y < t.h) {
        System.arraycopy(q, y * t.w, out, (y0 + y) * cols + x0, t.w)
        y += 1
      }
    }
    assembledSamples.addAndGet(out.length.toLong)
    out
  }

  /** R2/R3 at scale: separable Lanczos3 resize as a DISTRIBUTED two-phase
    * tile pass, bit-identical to the driver-side `Geom.resizeLanczos`
    * (shared `Geom.convWindows` kernels, same accumulation order, one
    * final round+clamp).
    *
    * Phase 1 (horizontal): tiles regroup into tile-row strips
    * (≤tileSize × srcCols); each strip convolves its rows to dstCols.
    * One shuffle, keyed on tile_row. Phase 2 (vertical): each strip is
    * replicated to the output-row strips whose convolution windows
    * overlap it (bounded halo = 3·scale rows), then each output strip
    * reduces its window — a second bounded shuffle of the already-
    * narrowed (dstCols-wide) intermediate. The driver never sees
    * source-resolution data. A >10⁵-pixel-wide scene would additionally
    * chunk strips horizontally; at Sentinel-1 widths (~26k) one strip is
    * ~50 MB — comfortably inside an executor task.
    */
  def resizeTilesLanczos(tq: Dataset[QTile], srcRows: Int, srcCols: Int,
                         dstRows: Int, dstCols: Int, maxVal: Int,
                         tileSize: Int = DefaultTileSize): Dataset[QTile] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val spark = tq.sparkSession
    val sc = spark.sparkContext
    val vWin = Geom.convWindows(srcRows, dstRows)
    val bH = sc.broadcast(Geom.convWindows(srcCols, dstCols))
    val bV = sc.broadcast(vWin)

    val stripEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt,
      ExpressionEncoder[Array[Double]]())
    val hstrips = tq.groupByKey(_.tile_row)(Encoders.scalaInt)
      .mapGroups { (tr, it) =>
        val tiles = it.toArray
        val h = tiles.iterator.map(_.h).max
        val strip = new Array[Double](h * srcCols)
        tiles.foreach { t =>
          val x0 = t.tile_col * tileSize
          val q = t.samples
          var y = 0
          while (y < t.h) {
            var x = 0
            while (x < t.w) { strip(y * srcCols + x0 + x) = q(y * t.w + x).toDouble; x += 1 }
            y += 1
          }
        }
        val win = bH.value
        val out = new Array[Double](h * dstCols)
        var y = 0
        while (y < h) {
          var o = 0
          while (o < dstCols) {
            val cw = win(o)
            var acc = 0.0
            var k = 0
            while (k < cw.weights.length) {
              acc += strip(y * srcCols + cw.lo + k) * cw.weights(k); k += 1
            }
            out(y * dstCols + o) = if (cw.wsum != 0.0) acc / cw.wsum else 0.0
            o += 1
          }
          y += 1
        }
        (tr, h, out)
      }(stripEnc)

    // source-row window needed by each output-row strip (driver-side:
    // dstRows is output-size, tiny)
    val nStrips = (dstRows + tileSize - 1) / tileSize
    val ranges = Array.tabulate(nStrips) { s =>
      val o0 = s * tileSize; val o1 = math.min(dstRows, o0 + tileSize)
      var lo = Int.MaxValue; var hi = Int.MinValue
      var o = o0
      while (o < o1) {
        val cw = vWin(o)
        lo = math.min(lo, cw.lo); hi = math.max(hi, cw.lo + cw.weights.length - 1)
        o += 1
      }
      (lo, hi)
    }
    val bRanges = sc.broadcast(ranges)

    val contribEnc = Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt,
      Encoders.scalaInt, ExpressionEncoder[Array[Double]]())
    hstrips.flatMap { case (tr, h, data) =>
      val sr0 = tr * tileSize; val sr1 = sr0 + h - 1
      bRanges.value.iterator.zipWithIndex.collect {
        case ((lo, hi), s) if hi >= sr0 && lo <= sr1 => (s, tr, h, data)
      }
    }(contribEnc)
      .groupByKey(_._1)(Encoders.scalaInt)
      .mapGroups { (s, it) =>
        val parts = it.map { case (_, tr, _, d) => tr -> d }.toMap
        val o0 = s * tileSize; val o1 = math.min(dstRows, o0 + tileSize)
        val win = bV.value
        val q = new Array[Int]((o1 - o0) * dstCols)
        var o = o0
        while (o < o1) {
          val cw = win(o)
          var c = 0
          while (c < dstCols) {
            var acc = 0.0
            var k = 0
            while (k < cw.weights.length) {
              val srcRow = cw.lo + k
              val d = parts(srcRow / tileSize)
              acc += d((srcRow - (srcRow / tileSize) * tileSize) * dstCols + c) * cw.weights(k)
              k += 1
            }
            val v = if (cw.wsum != 0.0) acc / cw.wsum else 0.0
            q((o - o0) * dstCols + c) = math.max(0, math.min(maxVal, math.round(v).toInt))
            c += 1
          }
          o += 1
        }
        QTile.packed(s, 0, o1 - o0, dstCols, q, maxVal)
      }(qTileEnc)
  }

  /** Above this source-pixel count the resize runs distributed; below it
    * the image is collected and resized on the driver (IntStream-parallel
    * over local cores — no shuffle). Both paths are bit-identical
    * (EngineSpec proves it), so this is purely a cost model: 32 M px is a
    * ~128 MB driver buffer, well under any sane driver heap, while the
    * two extra shuffles of the distributed path cost more than the
    * local convolution at that size. It bounds only a RESIZED output's
    * source: a full-resolution TIFF streams at any size, and a
    * full-resolution JPEG or two-band TIFF is collected at its own size.
    */
  val DriverResizeMaxPixels: Long = 32L * 1024 * 1024

  /** Collect the output image at its FINAL (post-resize) size: when the
    * target shrinks a LARGE image, the separable Lanczos runs distributed
    * BEFORE the collect, so the driver only ever holds target-size
    * buffers (a native-res 26544² scene would otherwise collect ~2.8 GB
    * just to throw most of it away in the resize). The tiles travel
    * packed ([[QTile]]) and unpack into the returned `Array[Int]`.
    */
  def collectResized(tq: Dataset[QTile], rows: Int, cols: Int,
                     target: Option[Int], maxVal: Int,
                     tileSize: Int = DefaultTileSize): (Array[Int], Int, Int) = {
    val (nw, nh) = target.map(t => Geom.resizeDims(cols, rows, t)).getOrElse((cols, rows))
    if (nw == cols && nh == rows) (assembleTiles(tq, rows, cols, tileSize), cols, rows)
    else if (rows.toLong * cols <= DriverResizeMaxPixels) {
      val img = assembleTiles(tq, rows, cols, tileSize)
      (Geom.resizeLanczos(img, cols, rows, nw, nh, maxVal), nw, nh)
    } else {
      val rz = resizeTilesLanczos(tq, rows, cols, nh, nw, maxVal, tileSize)
      (assembleTiles(rz, nh, nw, tileSize), nw, nh)
    }
  }

  /** Scanline-approximation error bound for [[warpTiles]] in source
    * pixels — gdalwarp's default transform-approximation threshold
    * (its `-et` knob). Rows whose middle-point check exceeds this fall
    * back to exact per-pixel projection.
    */
  val WarpApproxTolPx = 0.125

  /** S8 EXECUTION: distributed inverse-projected tile resample — the
    * native counterpart of the reference's gdalwarp-on-VRT read
    * (`/root/reference/src/io/sentinel1.rs:1033-1068`: warp, then read
    * the warped raster; metadata dims/geotransform updated).
    *
    * Plan shape: each OUTPUT block inverse-projects its pixel centers
    * (dst grid → dst CRS → lon/lat → src CRS → fractional src pixel,
    * all [[graft.geom.Proj]] math inside the task closure) and samples
    * the source with [[graft.geom.Resample]] (near/bilinear/cubic —
    * gdalwarp's kernel algebra). The driver computes each block's
    * source-footprint bbox and broadcasts the bboxes with a source tile
    * → block-ids index. The map side crops every source tile to the bbox
    * of each block it touches and ships only that crop ([[WarpCrop]]), so
    * a block receives exactly the source window it reads — gdalwarp's own
    * per-chunk source window (`GDALWarpOperation::ComputeSourceWindow`).
    * ONE exchange, keyed by output tile and sorted by (tile, block) within
    * each partition, carries the crops; a task assembles one block's
    * window at a time, resamples it straight into the current output tile
    * and emits the tile when the tile id changes. Pixels are touched
    * exactly once per output sample.
    *
    * Scale properties: the shuffle carries ≈ the output's source
    * footprint (each source pixel once per block whose bbox — footprint
    * plus a 3-px margin — covers it), not whole tiles per block. Beside
    * Spark's own spillable sort buffer, a task holds one block's window
    * plus one output tile, at any shrink. Output blocks shrink
    * (`tileSize/k`, k = next pow2 ≥ the linear downscale factor, capped
    * at `tileSize/16` so blocks never drop below 16 px) so a block's
    * window stays ≈ one source tile for shrinks up to 16×; past the cap the window grows ~`16·scale` px per
    * axis (a 64× shrink reads a ≈1024² window — an extreme fused `-ts`
    * shrink is a documented edge like the 10⁷-block note below; the
    * pushdown decimation path is the right tool at those ratios, and the
    * pipeline applies it first). Footprint metadata is O(output blocks)
    * and broadcast; beyond ~10⁷ blocks (a source wider than ~10⁶ px) the
    * bbox index would become a range-join relation instead — documented
    * edge, same family as the resize strip width. Output blocks whose
    * footprint misses the source entirely are omitted: downstream
    * assembly zero-fills and a zero magnitude is below the dB valid
    * floor, matching gdalwarp's zero-initialized destination.
    */
  def warpTiles(src: Dataset[Tile], plan: graft.geom.Warp.NativeWarp,
                tileSize: Int = DefaultTileSize): Dataset[Tile] = {
    import org.apache.spark.sql.Encoders
    val sc = src.sparkSession.sparkContext
    val srcFrac = warpSrcFrac(plan)
    val alg = plan.alg
    val srcRows = plan.srcRows; val srcCols = plan.srcCols
    val dstRows = plan.dstRows; val dstCols = plan.dstCols
    val g = warpBlockEdge(plan, tileSize)
    val k = tileSize / g
    val nGr = (dstRows + g - 1) / g
    val nGc = (dstCols + g - 1) / g
    val nTc = (dstCols + tileSize - 1) / tileSize

    // Driver bbox pass: sample each block's pixel grid (5×5 incl. edges;
    // projection curvature across ≤tileSize px is far below the margin)
    // → source-footprint bbox → inverted into a (tile_row,tile_col) →
    // block-ids index so the map side finds a tile's blocks by lookup.
    val margin = 3.0
    val bboxes = new Array[Array[Int]](nGr * nGc)
    var gr = 0
    while (gr < nGr) {
      var gc = 0
      while (gc < nGc) {
        val y0 = gr * g; val y1 = math.min(dstRows, y0 + g)
        val x0 = gc * g; val x1 = math.min(dstCols, x0 + g)
        var rLo = Double.PositiveInfinity; var rHi = Double.NegativeInfinity
        var cLo = Double.PositiveInfinity; var cHi = Double.NegativeInfinity
        val steps = 4
        var sy = 0
        while (sy <= steps) {
          var sx = 0
          while (sx <= steps) {
            val py = y0 + (y1 - 1 - y0).toDouble * sy / steps
            val px = x0 + (x1 - 1 - x0).toDouble * sx / steps
            val (fr, fc) = srcFrac(py, px)
            // a non-finite sample (projection singularity, lon-wrap
            // seam) is simply skipped: the bbox comes from the FINITE
            // samples (clamped to the source extent below), so a block
            // straddling a singularity still receives the window its
            // valid pixels need instead of zero-filling wholesale; its
            // out-of-bbox pixels read 0 exactly as a dropped block
            // would have
            if (java.lang.Double.isFinite(fr) && java.lang.Double.isFinite(fc)) {
              if (fr < rLo) rLo = fr; if (fr > rHi) rHi = fr
              if (fc < cLo) cLo = fc; if (fc > cHi) cHi = fc
            }
            sx += 1
          }
          sy += 1
        }
        if (rLo <= rHi) {
          val b = Array(
            math.max(0, math.floor(rLo - margin).toInt),
            math.min(srcRows - 1, math.ceil(rHi + margin).toInt),
            math.max(0, math.floor(cLo - margin).toInt),
            math.min(srcCols - 1, math.ceil(cHi + margin).toInt))
          if (b(0) <= b(1) && b(2) <= b(3)) bboxes(gr * nGc + gc) = b
        }
        gc += 1
      }
      gr += 1
    }
    @inline def tileKey(tr: Int, tc: Int): Long = (tr.toLong << 32) | (tc.toLong & 0xffffffffL)
    val idx = scala.collection.mutable.HashMap.empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    var gid = 0
    while (gid < bboxes.length) {
      val b = bboxes(gid)
      if (b != null) {
        var tr = b(0) / tileSize
        while (tr <= b(1) / tileSize) {
          var tc = b(2) / tileSize
          while (tc <= b(3) / tileSize) {
            idx.getOrElseUpdate(tileKey(tr, tc), scala.collection.mutable.ArrayBuffer.empty) += gid
            tc += 1
          }
          tr += 1
        }
      }
      gid += 1
    }
    val bIdx = sc.broadcast(idx.view.mapValues(_.toArray).toMap)
    val bBoxes = sc.broadcast(bboxes)

    // map side: one crop per (source tile, block it feeds), keyed by the
    // block's output tile
    val crops = src.flatMap { t =>
      val boxes = bBoxes.value
      val ty0 = t.tile_row * tileSize; val tx0 = t.tile_col * tileSize
      bIdx.value.getOrElse(tileKey(t.tile_row, t.tile_col), Array.empty[Int]).iterator.map { gidv =>
        val b = boxes(gidv)
        val r0 = math.max(b(0), ty0); val h = math.min(b(1), ty0 + t.h - 1) - r0 + 1
        val c0 = math.max(b(2), tx0); val w = math.min(b(3), tx0 + t.w - 1) - c0 + 1
        val px = new Array[Float](h * w)
        var y = 0
        while (y < h) {
          System.arraycopy(t.pixels, (r0 - ty0 + y) * t.w + (c0 - tx0), px, y * w, w)
          y += 1
        }
        val bgr = gidv / nGc; val bgc = gidv % nGc
        WarpCrop(t.product_id, t.band, (bgr / k) * nTc + bgc / k, gidv, r0, c0, h, w, px)
      }
    }(Encoders.product[WarpCrop])

    crops.repartition(col("tile")).sortWithinPartitions("tile", "block")
      .mapPartitions { it =>
        val in = it.buffered
        val boxes = bBoxes.value
        new Iterator[Tile] {
          def hasNext: Boolean = in.hasNext
          def next(): Tile = {
            val first = in.head
            val tid = first.tile
            val tr = tid / nTc; val tc = tid % nTc
            val ty0 = tr * tileSize; val tx0 = tc * tileSize
            val th = math.min(tileSize, dstRows - ty0)
            val tw = math.min(tileSize, dstCols - tx0)
            // blocks of this tile that receive no crop stay zero, like
            // the assembly path's fill
            val out = new Array[Float](th * tw)
            while (in.hasNext && in.head.tile == tid) {
              val gidv = in.head.block
              val b = boxes(gidv)
              val wr0 = b(0); val wc0 = b(2)
              val wh = b(1) - wr0 + 1; val ww = b(3) - wc0 + 1
              val win = new Array[Float](wh * ww)
              while (in.hasNext && in.head.block == gidv) {
                val c = in.next()
                var y = 0
                while (y < c.h) {
                  System.arraycopy(c.pixels, y * c.w, win, (c.r0 - wr0 + y) * ww + (c.c0 - wc0), c.w)
                  y += 1
                }
              }
              val get: (Int, Int) => Float = (r, c) => {
                val y = r - wr0; val x = c - wc0
                if (y >= 0 && y < wh && x >= 0 && x < ww) win(y * ww + x) else 0.0f
              }
              val by0 = (gidv / nGc) * g; val bx0 = (gidv % nGc) * g
              warpBlock(srcFrac, alg, get, srcRows, srcCols, by0, bx0,
                math.min(g, dstRows - by0), math.min(g, dstCols - bx0),
                out, (by0 - ty0) * tw + (bx0 - tx0), tw)
            }
            Tile(first.product_id, first.band, tr, tc, th, tw, out)
          }
        }
      }(Encoders.product[Tile])
  }

  /** [[warpTiles]]' pixel map: dst pixel index (row py, col px) →
    * fractional src pixel coords (pixel-center based, Resample's
    * convention).
    */
  private[graft] def warpSrcFrac(
      plan: graft.geom.Warp.NativeWarp): (Double, Double) => (Double, Double) = {
    val srcProj = graft.geom.Proj.fromEpsg(plan.srcCrs).getOrElse(
      throw graft.model.GraftException.Processing(s"non-native source CRS: ${plan.srcCrs}"))
    val dstProj = graft.geom.Proj.fromEpsg(plan.dstCrs).getOrElse(
      throw graft.model.GraftException.Processing(s"non-native target CRS: ${plan.dstCrs}"))
    val sg = plan.srcGt
    val dg = plan.dstGt
    val det = sg(1) * sg(5) - sg(2) * sg(4)
    require(det != 0.0, "source geotransform is not invertible")
    // inverse source geotransform (2×2 solve; rotation terms included)
    val i1 = sg(5) / det; val i2 = -sg(2) / det
    val i4 = -sg(4) / det; val i5 = sg(1) / det
    val (sg0, sg3) = (sg(0), sg(3))
    val (dg0, dg1, dg2) = (dg(0), dg(1), dg(2))
    val (dg3, dg4, dg5) = (dg(3), dg(4), dg(5))
    (py, px) => {
      val dx = dg0 + (px + 0.5) * dg1 + (py + 0.5) * dg2
      val dy = dg3 + (px + 0.5) * dg4 + (py + 0.5) * dg5
      val (lon, lat) = dstProj.inverse(dx, dy)
      val (sx, sy) = srcProj.forward(lon, lat)
      val pc = i1 * (sx - sg0) + i2 * (sy - sg3)
      val pr = i4 * (sx - sg0) + i5 * (sy - sg3)
      (pr - 0.5, pc - 0.5)
    }
  }

  /** Edge of [[warpTiles]]' square output blocks: tileSize/k so a block's
    * source window stays ≈ one source tile under the fused -ts shrink. k
    * is capped at tileSize/16 (blocks never smaller than 16×16): past a
    * 16× shrink each block's window grows LINEARLY with scale/16 source
    * tiles per axis — a 64× shrink reads ≈4×4 source tiles (~16 MB of
    * float pixels) into one window. That stays far under executor memory
    * for any realistic -ts (the reference's own pipelines shrink ≤10×),
    * but a pathological 1000× single-step shrink should pre-decimate
    * (decimate=N scan pushdown) first, which resets scale here to the
    * residual factor.
    */
  private[graft] def warpBlockEdge(plan: graft.geom.Warp.NativeWarp, tileSize: Int): Int = {
    val scale = math.max(1.0, math.max(plan.srcCols.toDouble / plan.dstCols,
      plan.srcRows.toDouble / plan.dstRows))
    var k = 1
    while (k < scale && k < tileSize / 16) k *= 2
    tileSize / k
  }

  /** Resamples the output block at (y0, x0) of size h×w into `out`, row y
    * at `off + y * stride` — the per-block kernel of [[warpTiles]], pure
    * in `get` (source pixel at (row, col); 0 outside what it holds). The
    * sampling kernel is picked once per block.
    */
  private[graft] def warpBlock(srcFrac: (Double, Double) => (Double, Double), alg: String,
                               get: (Int, Int) => Float, srcRows: Int, srcCols: Int,
                               y0: Int, x0: Int, h: Int, w: Int,
                               out: Array[Float], off: Int, stride: Int): Unit = {
    val kernel = graft.geom.Resample.kernel(alg)
    var y = 0
    while (y < h) {
      val py = (y0 + y).toDouble
      // Error-controlled scanline approximation (gdalwarp's
      // approximator idea, default error threshold 0.125 px): the
      // transform is evaluated exactly at the scanline's ends and
      // middle — plus a quarter point for rows wider than 128 px,
      // which catches odd-symmetric (inflection-shaped) deviation
      // that is zero at the middle; when linear interpolation
      // reproduces every checked point within tolerance — it
      // always does for the smooth Proj family over ≤tileSize px,
      // where the true error is milli-pixels — the row
      // interpolates, cutting the per-pixel trig chain to a
      // handful of evaluations per row. A failed check falls back
      // to exact per-pixel projection. This is gdalwarp's own `-et`
      // HEURISTIC, not a certified bound: deviation vanishing at
      // all checked points could still exceed the tolerance between
      // them, for transforms far less smooth than the Proj family.
      val (fr0, fc0) = srcFrac(py, x0.toDouble)
      val (fr1, fc1) = srcFrac(py, (x0 + w - 1).toDouble)
      var interp = false
      if (w >= 3) {
        def checkAt(px: Int): Boolean = {
          val (frp, fcp) = srcFrac(py, (x0 + px).toDouble)
          val tp = px.toDouble / (w - 1)
          math.abs(fr0 + (fr1 - fr0) * tp - frp) < WarpApproxTolPx &&
            math.abs(fc0 + (fc1 - fc0) * tp - fcp) < WarpApproxTolPx
        }
        interp = checkAt((w - 1) / 2) && (w <= 128 || checkAt((w - 1) / 4))
      }
      var i = off + y * stride
      var x = 0
      while (x < w) {
        val (fr, fc) =
          if (interp) {
            val tx = x.toDouble / (w - 1)
            (fr0 + (fr1 - fr0) * tx, fc0 + (fc1 - fc0) * tx)
          } else if (x == 0) (fr0, fc0)
          else if (x == w - 1) (fr1, fc1)
          else srcFrac(py, (x0 + x).toDouble)
        out(i) = kernel(get, srcRows, srcCols, fr, fc)
        i += 1; x += 1
      }
      y += 1
    }
  }

  /** A4 CLAHE over tiles: per-(tile,bin) histogram = one mapPartitions
    * reduce (flat 64×256 buffer); clip/redistribute/CDF = the reference's
    * exact scalar loop on the driver (`autoscale.rs:271-305`); per-pixel
    * bilinear sampling = a tile kernel against the broadcast CDF array.
    * No joins, no pixel shuffle; CDF state independent of image size.
    */
  def claheTiles(tiles: Dataset[DbTile], rows: Int, cols: Int,
                 low: Double, high: Double, maxVal: Double,
                 tileSize: Int = DefaultTileSize): Dataset[QTile] = {
    val nTiles = graft.enhance.Clahe.Tiles
    val bins = graft.enhance.Clahe.NumBins
    val clipLimit = graft.enhance.Clahe.ClipLimit
    val tileH = (rows + nTiles - 1) / nTiles
    val tileW = (cols + nTiles - 1) / nTiles

    val flat = tiles.mapPartitions(
      Kernels.claheHistOfTiles(_, tileSize, tileH, tileW, nTiles, bins, low, high))(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())
      .reduce { (a, b) => var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }

    // Driver-side clip/redistribute/CDF — exact reference arithmetic;
    // tile_pixels comes from dims, not a data pass.
    val cdfFlat = new Array[Double](nTiles * nTiles * bins)
    var ty = 0
    while (ty < nTiles) {
      val r0 = ty * tileH; val r1 = math.min((ty + 1) * tileH, rows)
      var tx = 0
      while (tx < nTiles) {
        val c0 = tx * tileW; val c1 = math.min((tx + 1) * tileW, cols)
        val base = (ty * nTiles + tx) * bins
        val h = new Array[Double](bins)
        var b = 0
        while (b < bins) { h(b) = flat(base + b).toDouble; b += 1 }
        val tilePixels = math.max(r1 - r0, 0).toDouble * math.max(c1 - c0, 0)
        val ct = math.max(clipLimit * (tilePixels / bins), 1.0)
        var excess = 0.0
        b = 0
        while (b < bins) {
          if (h(b) > ct) { excess += h(b) - ct; h(b) = math.floor(ct) }
          b += 1
        }
        val apb = math.floor(excess / bins)
        var rem = math.round(excess - apb * bins).toInt
        b = 0
        while (b < bins) { h(b) += apb; b += 1 }
        b = 0
        while (rem > 0) { h(b) += 1; b = (b + 1) % bins; rem -= 1 }
        var total = 0.0
        b = 0
        while (b < bins) { total += h(b); b += 1 }
        total = math.max(total, 1.0)
        var acc = 0.0
        b = 0
        while (b < bins) {
          acc += h(b)
          cdfFlat(base + b) = math.min(math.max(acc / total, 0.0), 1.0)
          b += 1
        }
        tx += 1
      }
      ty += 1
    }

    tiles.map(t => QTile.packed(t.tile_row, t.tile_col, t.h, t.w,
      Kernels.claheSample(t, tileSize, tileH, tileW, nTiles, bins, low, high,
        cdfFlat, maxVal), maxVal))
  }

  // ------------------------------------------------------------- pipeline

  /** Single-band pipeline (K9): [[bandPipeline]] over one band, collected
    * at target size and padded.
    */
  def processBand(spark: SparkSession, productId: String, band: String,
                  rows: Int, cols: Int, params: ProcessingParams,
                  decimate: Int = 1,
                  gt: Option[Array[Double]] = None,
                  warp: Option[graft.geom.Warp.NativeWarp] = None): ProcessedImage =
    grayImage(spark, productId, OneBand(band), rows, cols, params, decimate, gt, warp)

  /** What [[bandPipeline]] reads: one band, or the VV∘VH band algebra
    * (P2-P6): both bands' tiles joined on the tile key and combined by a
    * zip kernel — positional alignment with no pixel shuffle (SURVEY
    * §2.4: bands are co-partitioned by construction).
    */
  private sealed trait Input
  private final case class OneBand(band: String) extends Input
  private final case class BandAlgebra(op: PolarizationOperation) extends Input

  /** The pipeline input of a single-image polarization (every one but
    * Multiband, which runs two [[OneBand]]s through [[processMultiband]]).
    */
  private def inputOf(p: Polarization): Input = p match {
    case Polarization.Op(op) => BandAlgebra(op)
    case one => OneBand(one.name)
  }

  /** `params.polarization`'s image at target size, padded: the one
    * polarization dispatch of [[processToPath]] and [[processToBuffer]].
    */
  private def image(spark: SparkSession, productId: String, rows: Int, cols: Int,
                    params: ProcessingParams, decimate: Int, gt: Option[Array[Double]],
                    warp: Option[graft.geom.Warp.NativeWarp]): ProcessedImage =
    if (params.polarization == Polarization.Multiband)
      processMultiband(spark, productId, ("vv", "vh"), rows, cols, params, decimate, gt, warp)
    else grayImage(spark, productId, inputOf(params.polarization), rows, cols, params,
      decimate, gt, warp)

  /** One gray image: [[bandPipeline]] over `input`, collected and padded. */
  private def grayImage(spark: SparkSession, productId: String, input: Input,
                        rows: Int, cols: Int, params: ProcessingParams, decimate: Int,
                        gt: Option[Array[Double]],
                        warp: Option[graft.geom.Warp.NativeWarp]): ProcessedImage = {
    val (img, fw, fh, newGt) = bandPipeline(spark, productId, input, rows, cols, params,
      decimate, warp)(collectPadded(params, gt, outDims(rows, cols, decimate, warp)))
    ProcessedImage(fw, fh, params.bitDepth, Some(img), None, newGt)
  }

  /** The output grid of a pipeline: the warp's, else the decimated source's. */
  private def outDims(rows: Int, cols: Int, decimate: Int,
                      warp: Option[graft.geom.Warp.NativeWarp]): (Int, Int) =
    warp.map(nw => (nw.dstRows, nw.dstCols))
      .getOrElse(((rows + decimate - 1) / decimate, (cols + decimate - 1) / decimate))

  /** A pipeline's output step when the image is not streamed: collect the
    * final tiles at target size, then pad.
    */
  private def collectPadded(params: ProcessingParams, gt: Option[Array[Double]],
                            dims: (Int, Int))(
                            q: Dataset[QTile]): (Array[Int], Int, Int, Option[Array[Double]]) = {
    val (outRows, outCols) = dims
    val (resized, nw, nh) = collectResized(
      q, outRows, outCols, params.targetSize, params.bitDepth.maxVal.toInt)
    Geom.padAndRescaleGt(resized, nw, nh, outCols, outRows, params.pad, gt)
  }

  /** The one band pipeline: read `input` → stats reduce → strategy
    * dispatch → tile kernels → [u8 rescale], then `finish` consumes the
    * final tiles while the pipeline's caches are still held.
    *
    * One band caches its FLOAT tiles (half the bytes through the columnar
    * cache) and recomputes the dB view lazily per pass — log10 is cheaper
    * than decoding a cached double column; the warp (when requested and
    * native-resolvable) applies at READ time like the reference's
    * warped-VRT read, so everything downstream sees the OUTPUT grid. The
    * band algebra caches its dB tiles ([[loadOperation]]).
    *
    * `synRgbCopol` is set for a synRGB JPEG band (co-pol or cross-pol):
    * under Tamed it takes the band-specific u8 clip
    * (`autoscale.rs:710-742`: co-pol low = min(p02,p05), cross-pol low =
    * p05; high = p99) straight to u8. Every other U8 output goes through
    * the quantize then a min-max rescale (the reference's double
    * normalization, `autoscale.rs:662-680`).
    */
  private def bandPipeline[R](spark: SparkSession, productId: String, input: Input,
                              rows: Int, cols: Int, params: ProcessingParams, decimate: Int,
                              warp: Option[graft.geom.Warp.NativeWarp],
                              synRgbCopol: Option[Boolean] = None)(
                              finish: Dataset[QTile] => R): R = {
    val (outRows, outCols) = outDims(rows, cols, decimate, warp)
    // this pipeline's own persists; a library entry point must not clear
    // the shared session's cache manager out from under unrelated
    // concurrent work
    val own = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
    def persisted[T](ds: Dataset[T]): Dataset[T] = { own += ds; ds.persist() }
    try {
      val tiles = input match {
        case OneBand(band) =>
          val scanned = RasterSource.scan(spark, productId, band, rows, cols, decimate)
          toDbTiles(persisted(warp.fold(scanned)(nw => warpTiles(scanned, nw))))
        case BandAlgebra(op) =>
          persisted(loadOperation(spark, productId, op, rows, cols, warp, decimate))
      }
      val maxVal = params.bitDepth.maxVal
      val st = tileStats(tiles)
      val tamedSynRgb = synRgbCopol.filter(_ => params.autoscale == AutoscaleStrategy.Tamed)
      val quant = params.autoscale match {
        case AutoscaleStrategy.Clahe =>
          val (low, high, _) = FastStats.strategyParams(st, "clahe")
          claheTiles(tiles, outRows, outCols, low, high, maxVal)
        case strat =>
          val (low, high, gamma) = tamedSynRgb match {
            case Some(copol) =>
              val p = st.percentiles
              (if (copol) math.min(p("p02"), p("p05")) else p("p05"), p("p99"), 1.0)
            case None => paramsFor(st, strat)
          }
          quantizeTiles(tiles, low, high, gamma, maxVal)
      }
      finish(
        if (params.bitDepth == BitDepth.U8 && tamedSynRgb.isEmpty) rescaleTilesU8(persisted(quant))
        else quant)
    } finally own.foreach(_.unpersist())
  }

  // ------------------------------------------------------------- synRGB

  /** Default synRGB compose (P9-P11, `synthetic_rgb.rs:14-66`) on
    * assembled u8 bands (output-size, driver-side LUTs like the
    * reference).
    */
  def composeSynRgb(b1: Array[Int], b2: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
    val lutR = Array.tabulate(256)(v =>
      math.min(255, math.max(0, math.round(math.pow(v / 255.0, 0.7) * 255.0))).toInt)
    val lutG = Array.tabulate(256)(v =>
      math.min(255, math.max(0, math.round(math.pow(v / 255.0, 0.9) * 255.0))).toInt)
    val lutB = synRgbBlue
    val n = b1.length
    val r = new Array[Int](n); val g = new Array[Int](n); val b = new Array[Int](n)
    var i = 0
    while (i < n) {
      r(i) = lutR(b1(i) & 0xff)
      g(i) = lutG(b2(i) & 0xff)
      b(i) = if (b2(i) == 0) 0 else lutB((r(i) << 8) | g(i)) & 0xff
      i += 1
    }
    (r, g, b)
  }

  /** 256×256 u8 table of a synRGB blue expression on (r, g), indexed
    * `r << 8 | g` — the reference's lookup-table compose (v0.2.10) in
    * place of a `pow` per pixel; the entries are the expression's own
    * values, so the output is unchanged.
    */
  private def blueTable(f: (Int, Int) => Int): Array[Byte] = {
    val t = new Array[Byte](256 * 256)
    var i = 0
    while (i < t.length) { t(i) = f(i >>> 8, i & 0xff).toByte; i += 1 }
    t
  }

  private lazy val synRgbBlue: Array[Byte] = blueTable { (r, g) =>
    val ratio = r.toDouble / g.toDouble
    val v = math.pow(ratio, 0.1) * 255.0 * 0.24
    math.round(math.min(255.0, math.max(0.0, v))).toInt
  }

  private lazy val suppressedBlue: Array[Byte] = blueTable { (rr, gg) =>
    val ratio = (rr + 8.0) / (gg + 8.0)
    math.round(math.min(math.max(math.pow(ratio, 0.1) * 255.0 * 0.18, 0.0), 255.0)).toInt
  }

  /** Suppressed synRGB compose (P12, `synthetic_rgb.rs:88-178`) on
    * assembled u8 bands: combined p05 floor (+3, cap 40), water
    * short-circuit, soft floor-subtract γR=1.15/γG=1.10, stabilized blue
    * (r+8)/(g+8) with gain 0.18.
    */
  def composeSynRgbSuppressed(b1: Array[Int], b2: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
    val hist = new Array[Long](256)
    var i = 0
    while (i < b1.length) { hist(b1(i) & 0xff) += 1; i += 1 }
    i = 0
    while (i < b2.length) { hist(b2(i) & 0xff) += 1; i += 1 }
    val total = (b1.length + b2.length).toLong
    val target = math.round(total.toDouble * 0.05)
    var cum = 0L
    var floorValue = 0
    i = 0
    var found = false
    while (i < 256 && !found) {
      cum += hist(i)
      if (cum >= target) { floorValue = i; found = true }
      i += 1
    }
    val floorC = math.min(floorValue + 3, 40)
    val floorD = floorC.toDouble
    val denom = math.max(255.0 - floorD, 1.0)
    def chan(v: Int, gamma: Double): Int =
      if (v <= floorC) 0
      else {
        val shifted = (v - floorD) / denom
        math.round(math.min(math.max(math.pow(shifted, gamma) * 255.0, 0.0), 255.0)).toInt
      }
    val lutR = Array.tabulate(256)(chan(_, 1.15))
    val lutG = Array.tabulate(256)(chan(_, 1.10))
    val lutB = suppressedBlue
    val n = b1.length
    val r = new Array[Int](n); val g = new Array[Int](n); val b = new Array[Int](n)
    i = 0
    while (i < n) {
      val v1 = b1(i) & 0xff; val v2 = b2(i) & 0xff
      if (v1 <= floorC && v2 <= floorC) { r(i) = 0; g(i) = 0; b(i) = 0 }
      else {
        val rr = lutR(v1)
        val gg = lutG(v2)
        r(i) = rr; g(i) = gg
        b(i) = lutB((rr << 8) | gg) & 0xff
      }
      i += 1
    }
    (r, g, b)
  }

  // ------------------------------------------------------------ overlap

  /** Most pipelines [[overlapped]] runs at once. Two fill the cores that
    * one pipeline leaves idle at its job barriers and through its
    * driver-side tail (collect, resize, encode) while holding at most two
    * pipelines' caches.
    */
  private val MaxInFlight = 2

  /** Runs `f` over `items` with at most two items in flight, and returns
    * the results in input order.
    *
    * Items start in input order. If an item throws, no further item
    * starts; the call waits for every item already started (so each one's
    * own `finally` unpersists run) and then rethrows the first failure in
    * input order. It also waits through an interrupt, which it restores
    * before returning.
    *
    * The lane threads are created per call, from the caller's thread, so
    * each inherits a clone of the caller's Spark local properties (job
    * group, description, scheduler pool) and active session as they are
    * at the call; a JVM-wide pool would carry whatever its first caller
    * had set. A single item runs on the caller's thread.
    */
  private[graft] def overlapped[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val in = items.toIndexedSeq
    if (in.length <= 1) return in.map(f)
    val results = new Array[Any](in.length)
    val failures = new Array[Throwable](in.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val lanes = Seq.tabulate(math.min(MaxInFlight, in.length)) { l =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < in.length && !stop.get) {
          try results(i) = f(in(i))
          catch { case e: Throwable => failures(i) = e; stop.set(true) }
          i = next.getAndIncrement()
        }
      }, s"graft-overlapped-$l")
      t.setDaemon(true)
      t
    }
    lanes.foreach(_.start())
    var interrupted = false
    lanes.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.find(_ != null).foreach(e => throw e)
    results.toSeq.map(_.asInstanceOf[B])
  }

  /** Two-band pipeline (K10): the two bands run as independent
    * [[bandPipeline]]s through [[overlapped]], so band 2's jobs fill the
    * cores band 1 leaves idle between its jobs and through its collect,
    * resize and pad. Peak memory is therefore both bands' caches at once (the
    * reference stages them one after the other, `save.rs:240-280`); each
    * band drops its own caches as it finishes. Each band is autoscaled
    * (full strategy dispatch incl. per-band CLAHE) and RESIZED first;
    * once both are done, for JPEG, synRGB composes on the final-size u8
    * bands (`save.rs` order). TIFF output carries the two autoscaled
    * bands at the requested bit depth; synRGB strategy routing mirrors
    * `synthetic_rgb.rs:182-197` (Tamed/Clahe → suppressed compose).
    */
  def processMultiband(spark: SparkSession, productId: String,
                       bands: (String, String), rows: Int, cols: Int,
                       params: ProcessingParams, decimate: Int = 1,
                       gt: Option[Array[Double]] = None,
                       warp: Option[graft.geom.Warp.NativeWarp] = None): ProcessedImage = {
    val forTiff = params.format == OutputFormat.Tiff
    // JPEG synRGB consumes u8 bands; TIFF keeps the requested bit depth.
    val bandParams = if (forTiff) params else params.copy(bitDepth = BitDepth.U8)
    val dims = outDims(rows, cols, decimate, warp)
    val done = overlapped(Seq(bands._1 -> true, bands._2 -> false)) { case (band, isCopol) =>
      // resize BEFORE compose (`save.rs` resizes each band to final dims,
      // then composes synRGB) — distributed, target-size collect
      bandPipeline(spark, productId, OneBand(band), rows, cols, bandParams, decimate, warp,
        synRgbCopol = if (forTiff) None else Some(isCopol))(collectPadded(bandParams, gt, dims))
    }
    val (b1, fw, fh, newGt) = done(0)
    val b2 = done(1)._1
    if (forTiff)
      ProcessedImage(fw, fh, params.bitDepth, None, None, newGt, Some((b1, b2)))
    else {
      val (r, g, b) = params.autoscale match {
        case AutoscaleStrategy.Tamed | AutoscaleStrategy.Clahe =>
          composeSynRgbSuppressed(b1, b2)
        case _ => composeSynRgb(b1, b2)
      }
      ProcessedImage(fw, fh, BitDepth.U8, None, Some((r, g, b)), newGt)
    }
  }

  // ------------------------------------------------------------ E1/E2 API

  /** E2: file-to-file with sidecars (`process_safe_to_path`,
    * `api/mod.rs:539-674`).
    *
    * A single-band or band-operation TIFF at full resolution (no resize,
    * no effective pad) never exists as an image on the driver: the
    * pipeline hands its final tiles to [[streamTiff]], whose tasks encode
    * TIFF tiles that the driver writes at their fixed offsets partition
    * by partition. Every other output is collected at its target size
    * and written from the array. A TIFF past 4 GiB raises before any job.
    */
  def processToPath(spark: SparkSession, productId: String, rows: Int, cols: Int,
                    outPath: String, params: ProcessingParams,
                    meta: SafeMeta = SafeMeta(), decimate: Int = 1): Unit = {
    requireSupported(meta)
    val warp = gateWarp(productId, rows, cols, params, meta, decimate)
    // a warped product carries updated CRS/geotransform/dims into its
    // sidecars (`sentinel1.rs:1066-1068`)
    val effMeta = warp.map(nw => meta.copy(crs = Some(nw.dstCrs),
      geotransform = Some(nw.dstGt.toArray),
      lines = Some(nw.dstRows), samples = Some(nw.dstCols))).getOrElse(meta)
    val gt = effMeta.geotransform
    // sidecar POLARIZATIONS prefixes per `metadata.rs:40-113` (DIFF /
    // NORM_DIFF, not the long operation labels)
    val polLabel = params.polarization match {
      case Polarization.Op(op) =>
        val prefix = op match {
          case PolarizationOperation.Sum => "SUM"
          case PolarizationOperation.Diff => "DIFF"
          case PolarizationOperation.Ratio => "RATIO"
          case PolarizationOperation.NDiff => "NORM_DIFF"
          case PolarizationOperation.LogRatio => "LOG_RATIO"
        }
        s"$prefix(VV, VH)"
      case Polarization.Multiband => "MULTIBAND(VV, VH)"
      case p => p.name.toUpperCase
    }
    val (outRows, outCols) = outDims(rows, cols, decimate, warp)
    val (nw, nh) = params.targetSize.map(Geom.resizeDims(outCols, outRows, _))
      .getOrElse((outCols, outRows))
    val multiband = params.polarization == Polarization.Multiband
    val u16 = params.bitDepth == BitDepth.U16
    val fields = Sinks.metadataFields(effMeta, polLabel)
    val padded = params.pad && nw != nh
    if (params.format == OutputFormat.Tiff) {
      val (fw, fh) = if (padded) (math.max(nw, nh), math.max(nw, nh)) else (nw, nh)
      TiffWriter.requireClassic(fw, fh, u16, if (multiband) 2 else 1)
    }
    val streams = params.format == OutputFormat.Tiff && !multiband &&
      (nw, nh) == (outCols, outRows) && !padded
    if (streams) {
      // at full size and without a pad the geotransform is unchanged
      val layout = TiffWriter.layout(outCols, outRows, u16, 1,
        Sinks.tiffFields(gt, effMeta.crs, fields))
      bandPipeline(spark, productId, inputOf(params.polarization), rows, cols, params,
        decimate, warp)(streamTiff(_, layout, outPath))
      writeSidecars(outPath, gt, effMeta, fields)
    } else writeImage(outPath, image(spark, productId, rows, cols, params, decimate, gt, warp),
      params, effMeta, polLabel)
  }

  /** Writes `q`, the final tiles of a full-resolution single-page TIFF,
    * into the file at `layout` without an image on the driver: each task
    * encodes its tiles ([[TiffWriter.tileBytes]]), and the driver writes
    * each partition's parts at their offsets as the partition's result
    * arrives, then drops them — so it holds one partition's parts at a
    * time, not the image. Spark calls the handler on its scheduler
    * thread, one call per partition: a positional write of that
    * partition's tiles (2 MB for 16 tiles at 16 bits). A failed job
    * leaves no file behind.
    */
  private def streamTiff(q: Dataset[QTile], layout: TiffWriter.Layout, path: String): Unit = {
    val bps = layout.bytesPerSample
    val parts = q.rdd.mapPartitions(_.map(t => (t.tile_row, t.tile_col, TiffWriter.tileBytes(t, bps))))
    val out = new TiffWriter.Out(path, layout)
    try {
      try q.sparkSession.sparkContext.runJob(parts,
        (it: Iterator[(Int, Int, Array[Byte])]) => it.toArray,
        (_: Int, ps: Array[(Int, Int, Array[Byte])]) => {
          streamedDeliveries.incrementAndGet()
          mostPartsHeld.accumulateAndGet(ps.length, (a, b) => math.max(a, b))
          ps.foreach { case (tr, tc, b) => out.put(0, tr, tc, b) }
        })
      finally out.close()
    } catch {
      case e: Throwable =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
        throw e
    }
  }

  /** The driver's side of [[streamTiff]] since the JVM started: the
    * partition deliveries it wrote, and the most parts one delivery held.
    * Specs read them beside [[assembledSamples]].
    */
  private[graft] val streamedDeliveries = new java.util.concurrent.atomic.AtomicLong
  private[graft] val mostPartsHeld = new java.util.concurrent.atomic.AtomicInteger

  /** S1 viability check at open (`sentinel1.rs:155-161`): only GRD
    * products are supported; a declared non-GRD type raises
    * [[graft.model.GraftException.UnsupportedProduct]], which the batch
    * path counts as SKIPPED rather than an error.
    */
  private def requireSupported(meta: SafeMeta): Unit =
    meta.productType.map(_.trim.toUpperCase).filter(_.nonEmpty).foreach {
      case t if t.startsWith("GRD") => ()
      case other => throw graft.model.GraftException.UnsupportedProduct(other)
    }

  /** S8: resolve any requested reprojection BEFORE the pixel pipeline —
    * shared by the path and buffer APIs (the reference resolves the
    * target CRS once at reader open, `sentinel1.rs:168-176`, so BOTH
    * `process_safe_to_path` and `process_safe_to_buffer` see it). A
    * source already in the target CRS short-circuits to a direct read
    * (the skip guard). A warp between [[graft.geom.Proj]]-family CRSs
    * on a georeferenced source resolves to the [[graft.geom.Warp
    * .NativeWarp]] that [[warpTiles]] executes distributed (the native
    * plan is computed against the DECIMATED grid: decimation is a scan
    * pushdown, so the warp sees the raster the pipeline sees). An
    * ABSENT/blank source CRS with a lon/lat-range geotransform executes
    * natively as EPSG:4326 ([[graft.geom.Warp.impliedSrcEpsg]] — the
    * unprojected-GRD leg, `sentinel1.rs:1017-1030`), and targeting 4326
    * from such a source takes the same skip guard as an explicit match.
    * Only a warp OUTSIDE the native family — or a blank-CRS source
    * without a lon/lat geotransform (true GCP-grid/TPS) — raises,
    * carrying the exact gdalwarp invocation the
    * reference would run. The `auto` scene center is trusted when the
    * source CRS is geographic OR ABSENT — an unprojected GRD's
    * geotransform derives from its lon/lat GCPs, which is exactly where
    * the reference's auto resolution reads its centroid
    * (`sentinel1.rs:1660-1700`, with the TPS fallback likewise
    * defaulting the GCP SRS to EPSG:4326) — but never when the source
    * is projected: those coordinates are meters, not degrees.
    */
  private def gateWarp(productId: String, rows: Int, cols: Int,
                       params: ProcessingParams, meta: SafeMeta,
                       decimate: Int = 1): Option[graft.geom.Warp.NativeWarp] =
    graft.geom.Warp.resolveTargetCrs(params.targetCrs,
      meta.geotransform
        .filter(_ => meta.crs.forall(_.trim.isEmpty) ||
          graft.geom.Warp.isGeographic(meta.crs))
        .map(g => (g(0) + g(1) * cols / 2.0, g(3) + g(5) * rows / 2.0))
    ).flatMap { dst =>
      graft.geom.Warp.resolveWarp(
        meta.crs, dst, params.resampleAlg, params.targetSize,
        srcCols = cols, srcRows = rows, input = productId) match {
        case graft.geom.Warp.NoOp => None
        case exec =>
          val dRows = (rows + decimate - 1) / decimate
          val dCols = (cols + decimate - 1) / decimate
          val dGt = meta.geotransform.map(g => Array(
            g(0), g(1) * decimate, g(2) * decimate,
            g(3), g(4) * decimate, g(5) * decimate))
          // implied-CRS skip: resolveWarp's guard only sees EXPLICIT
          // projections, so an unprojected lon/lat-gt source targeting
          // EPSG:4326 reaches here — it is already on the target's
          // grid, and warping it would be the identity resample the
          // skip guard exists to avoid
          val implied = graft.geom.Warp.impliedSrcEpsg(meta.crs, dGt, dRows, dCols)
          if (meta.crs.forall(_.trim.isEmpty) &&
              implied.exists(ic => graft.geom.Warp.parseEpsg(dst).exists(_.equalsIgnoreCase(ic))))
            None
          else graft.geom.Warp.nativePlan(meta.crs, dst, dGt, dRows, dCols,
            params.resampleAlg, params.targetSize)
            .orElse { graft.geom.Warp.execute(exec); None }
      }
    }

  /** E3: in-memory result (`process_safe_to_buffer`,
    * `api/mod.rs:65-371`) — same plan matrix as [[processToPath]], the
    * ProcessedImage buffers returned instead of written.
    */
  def processToBuffer(spark: SparkSession, productId: String, rows: Int,
                      cols: Int, params: ProcessingParams,
                      meta: SafeMeta = SafeMeta(),
                      decimate: Int = 1): ProcessedImage = {
    requireSupported(meta)
    val warp = gateWarp(productId, rows, cols, params, meta, decimate)
    val gt = warp.map(nw => nw.dstGt.toArray).orElse(meta.geotransform)
    image(spark, productId, rows, cols, params, decimate, gt, warp)
  }

  /** `load_polarization` (`api/mod.rs:859-881`): the raw band as a tile
    * Dataset — the library's typed data-access surface.
    */
  def loadPolarization(spark: SparkSession, productId: String, band: String,
                       rows: Int, cols: Int, decimate: Int = 1): Dataset[Tile] =
    RasterSource.scan(spark, productId, band, rows, cols, decimate)

  /** [[loadPolarization]] honoring the full open options: like the
    * reference's reader, a requested `target-crs` applies AT READ TIME,
    * so the returned tiles live on the warped grid (the reference opens
    * the warped VRT before any band read, `sentinel1.rs:168-176,
    * 1033-1068`). Same gate as the processing APIs: native-family warps
    * execute distributed, non-native ones raise with the gdalwarp argv.
    */
  def loadPolarization(spark: SparkSession, productId: String, band: String,
                       rows: Int, cols: Int, params: ProcessingParams,
                       meta: SafeMeta, decimate: Int): Dataset[Tile] = {
    requireSupported(meta)
    val warp = gateWarp(productId, rows, cols, params, meta, decimate)
    val scanned = RasterSource.scan(spark, productId, band, rows, cols, decimate)
    warp.fold(scanned)(nw => warpTiles(scanned, nw))
  }

  /** `load_operation` (`api/mod.rs:884-916`): band algebra result as
    * dB-domain tiles.
    */
  def loadOperation(spark: SparkSession, productId: String,
                    op: PolarizationOperation, rows: Int, cols: Int,
                    decimate: Int = 1): Dataset[DbTile] =
    loadOperation(spark, productId, op, rows, cols, None, decimate)

  /** [[loadOperation]] with an optional read-time warp: both bands warp
    * onto the SAME output grid before the positional zip, exactly as
    * the reference reads both from the one warped VRT, so the tile join
    * stays co-partitioned by construction. [[bandPipeline]] persists
    * this relation as its input.
    */
  def loadOperation(spark: SparkSession, productId: String,
                    op: PolarizationOperation, rows: Int, cols: Int,
                    warp: Option[graft.geom.Warp.NativeWarp],
                    decimate: Int): Dataset[DbTile] = {
    implicit val tileEnc: org.apache.spark.sql.Encoder[Tile] =
      org.apache.spark.sql.Encoders.product[Tile]
    val a0 = RasterSource.scan(spark, productId, "vv", rows, cols, decimate)
    val b0 = RasterSource.scan(spark, productId, "vh", rows, cols, decimate)
    val a = warp.fold(a0)(nw => warpTiles(a0, nw))
    val b = warp.fold(b0)(nw => warpTiles(b0, nw))
    a.joinWith(b, a("tile_row") === b("tile_row") && a("tile_col") === b("tile_col"))
      .map { case (ta, tb) => DbTile(ta.tile_row, ta.tile_col, ta.h, ta.w,
        Kernels.toDb(Kernels.bandOp(ta.pixels, tb.pixels, op))) }
  }

  /** `save_image`/`save_multiband_image` (`api/mod.rs:803-856`): write a
    * ProcessedImage with its sidecars.
    */
  def saveImage(outPath: String, img: ProcessedImage, params: ProcessingParams,
                meta: SafeMeta = SafeMeta(), polLabel: String = ""): Unit =
    writeImage(outPath, img, params, meta,
      if (polLabel.nonEmpty) polLabel else params.polarization.name.toUpperCase)

  private def writeImage(outPath: String, img: ProcessedImage,
                         params: ProcessingParams, meta: SafeMeta,
                         polLabel: String): Unit = {
    val fields = Sinks.metadataFields(meta, polLabel)
    (params.format, img.bands, img.rgb, img.gray) match {
      case (OutputFormat.Tiff, Some((b1, b2)), _, _) =>
        Sinks.writeTiffMultiband(outPath, b1, b2, img.width, img.height,
          params.bitDepth == BitDepth.U16)
      case (OutputFormat.Tiff, _, _, Some(gray)) =>
        // K8: embed geo + metadata as TIFF tags (skip-identity gt /
        // projection-only-with-gt rules live in Sinks.tiffFieldNodes)
        Sinks.writeTiffGrayTagged(outPath, gray, img.width, img.height,
          params.bitDepth == BitDepth.U16, img.geotransform, meta.crs, fields)
      case (OutputFormat.Jpeg, _, Some((r, g, b)), _) =>
        Sinks.writeJpegRgb(outPath, r, g, b, img.width, img.height)
      case (OutputFormat.Jpeg, _, _, Some(gray)) =>
        Sinks.writeJpegGray(outPath, gray, img.width, img.height)
      case _ => throw graft.model.GraftException.Processing("no image data")
    }
    writeSidecars(outPath, img.geotransform, meta, fields)
  }

  /** World file, .prj and JSON sidecar of an image at `outPath`. */
  private def writeSidecars(outPath: String, gt: Option[Array[Double]], meta: SafeMeta,
                            fields: Seq[(String, String)]): Unit = {
    gt.foreach(Sinks.writeWorldFile(outPath, _))
    meta.crs.foreach(Sinks.writePrj(outPath, _))
    Sinks.writeSidecar(outPath, Sinks.sidecarJson(fields, gt, meta.crs))
  }

  /** E2 batch: per-product error isolation + report
    * (`process_directory_to_path`, `api/mod.rs:474-536`).
    *
    * Products run through [[overlapped]]: at most two at once, each one
    * whole [[processToPath]] call, so one product's jobs run through the
    * other's collect, TIFF encode and sidecars. Each product's outcome is
    * its own: an empty product (zero rows or columns) is skipped with a
    * warning on stderr, an unsupported product type is skipped, and any
    * other exception is recorded and the batch goes on. The report lists
    * errors in product order, whatever order the products finished in.
    */
  def processDirectory(spark: SparkSession,
                       products: Seq[(String, Int, Int)], outDir: String,
                       params: ProcessingParams): BatchReport = {
    new java.io.File(outDir).mkdirs()
    val ext = params.format match {
      case OutputFormat.Tiff => "tiff"
      case OutputFormat.Jpeg => "jpg"
    }
    val outcomes = overlapped(products) { case (id, rows, cols) =>
      // lenient-open semantics (S2): an empty/unsupported product is
      // SKIPPED with a warning, not an error (`api/mod.rs:502-532`)
      if (rows == 0 || cols == 0) {
        System.err.println(s"[batch] skipping unsupported/empty product: $id")
        Skipped
      } else try {
        // the product type declared by the SAFE-style name (no manifest
        // for synthetic ids) feeds the same viability check the
        // reference runs at reader open (`sentinel1.rs:155-161`)
        val meta = SafeMeta(productType = SafeMeta.productTypeFromId(id))
        processToPath(spark, id, rows, cols, s"$outDir/$id.$ext", params, meta)
        Processed
      } catch {
        // an unsupported product is SKIPPED (the reference's early
        // viability check, `api/mod.rs:486-532`), any other failure is
        // recorded and the batch continues
        case _: graft.model.GraftException.UnsupportedProduct => Skipped
        case e: Exception => Failed(id, String.valueOf(e.getMessage))
      }
    }
    BatchReport(outcomes.count(_ == Processed), outcomes.count(_ == Skipped),
      outcomes.collect { case Failed(id, msg) => id -> msg })
  }

  /** One product's outcome in [[processDirectory]]. */
  private sealed trait Outcome
  private case object Processed extends Outcome
  private case object Skipped extends Outcome
  private final case class Failed(id: String, msg: String) extends Outcome
}
