package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One raster tile — the engine's primary representation (SURVEY §1.3):
  * dense Array[Float] locality inside, relational partitioning outside.
  */
final case class Tile(
    product_id: String,
    band: String,
    tile_row: Int,
    tile_col: Int,
    h: Int,
    w: Int,
    pixels: Array[Float])

/** Raster → tiled-DataFrame source (SURVEY §2.1 S3-S7 re-expressed).
  *
  * Real SAFE products carry GeoTIFF rasters; this container has no
  * geo codecs, so the bundled generator produces deterministic synthetic
  * bands — but the source CONTRACT is the production one:
  *
  *  - tiles are generated distributed (`spark.range` over the tile grid,
  *    one task per tile batch — never a driver-side array);
  *  - **decimation pushdown** (O1, the reference's 10× win
  *    `/root/reference/src/io/gdal.rs:145-177`): `decimate = n` makes the
  *    source generate/decode at 1/n resolution IN the scan, so downstream
  *    plans never see the full-res pixels;
  *  - band dispatch by polarization hint happens at plan time (plain
  *    Scala), mirroring `open_with_options`
  *    (`/root/reference/src/io/sentinel1.rs:133-400`).
  */
object RasterSource {

  val DefaultTileSize = 256

  /** Target OUTPUT pixels per scan task (r21, guide §6.1 applied to the
    * generator scan): `spark.range(nTiles)` defaulted to one slice per
    * core REGARDLESS of scene size, so a full-resolution 26544² scene
    * would read as 32 giant tasks (no elasticity, stragglers) while a
    * decimated 2500² read still paid 32 near-empty tasks per job.
    * Slices now scale with the DATA (≈0.5 M px ≈ 2 MB of floats per
    * task) but never drop below the session's default parallelism when
    * there are enough tiles — measured on local[32]: cutting the
    * decimated read to 6 slices LENGTHENED the critical path (+9% on
    * pushdown, +40% on batch_4prod) because task dispatch here is
    * sub-ms while per-task compute is tens of ms, so the floor keeps
    * the local cases at their r20 task counts and the sizing only adds
    * slices for scenes big enough to need them.
    */
  val PxPerScanTask: Long = 512L * 1024

  /** Deterministic synthetic band value at (y, x): a smooth field with
    * speckle-ish variation, strictly positive (SAR magnitude domain).
    */
  def syntheticValue(band: String, y: Long, x: Long): Float = {
    val seed = band.hashCode.toLong & 0xffffL
    val mix = (y * 7919L + x * 104729L + seed * 31L) & 0xffffL
    val speckle = 0.5f + (mix.toFloat / 65535.0f)
    val base = (2.0 + math.sin(y / 97.0) + math.cos(x / 53.0)).toFloat
    base * speckle
  }

  /** Tiled scan of a synthetic product band, with decimation pushdown:
    * the emitted raster is `ceil(rows/d) × ceil(cols/d)` and each output
    * pixel reads source pixel `(y·d, x·d)` (nearest-style decimation —
    * the decode-time analog of GDAL's resampled read).
    */
  def scan(spark: SparkSession, productId: String, band: String,
           rows: Int, cols: Int, decimate: Int = 1,
           tileSize: Int = DefaultTileSize): Dataset[Tile] = {
    require(decimate >= 1, "decimate must be >= 1")
    import spark.implicits._
    val outRows = (rows + decimate - 1) / decimate
    val outCols = (cols + decimate - 1) / decimate
    val tRows = (outRows + tileSize - 1) / tileSize
    val tCols = (outCols + tileSize - 1) / tileSize
    val d = decimate
    val nTiles = tRows.toLong * tCols
    // data-proportional slices (see PxPerScanTask) with a parallelism
    // floor: never fewer than min(nTiles, defaultParallelism) slices,
    // never more than one per tile
    val byData = (outRows.toLong * outCols + PxPerScanTask - 1) / PxPerScanTask
    val floor = math.min(nTiles, spark.sparkContext.defaultParallelism.toLong)
    val slices = math.max(1L, math.min(nTiles, math.max(byData, floor))).toInt
    spark.range(0L, nTiles, 1L, slices).map { tid =>
      val tr = (tid / tCols).toInt
      val tc = (tid % tCols).toInt
      val y0 = tr * tileSize
      val x0 = tc * tileSize
      val h = math.min(tileSize, outRows - y0)
      val w = math.min(tileSize, outCols - x0)
      val px = new Array[Float](h * w)
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          px(i) = syntheticValue(band, (y0 + y).toLong * d, (x0 + x).toLong * d)
          i += 1; x += 1
        }
        y += 1
      }
      Tile(productId, band, tr, tc, h, w, px)
    }
  }

  /** Fully-relational pixel view `[band, y, x, v]` of a tile Dataset —
    * the exploded secondary representation every SQL-expressible operator
    * (and the oracle) runs against.
    */
  def pixelView(tiles: Dataset[Tile], tileSize: Int = DefaultTileSize): DataFrame =
    tiles.toDF()
      .select(col("product_id"), col("band"), col("tile_row"), col("tile_col"),
        col("w"), posexplode(col("pixels")).as(Seq("pos", "v")))
      .select(col("product_id"), col("band"),
        (col("tile_row") * tileSize + expr("pos div w")).as("y"),
        (col("tile_col") * tileSize + col("pos") % col("w")).as("x"),
        col("v"))

  /** Polarization-hint dispatch (S1/S3 semantics): which bands a reader
    * hint loads, mirroring `identify_polarization_files` +
    * `open_with_options` dispatch.
    */
  def bandsFor(hint: String): Seq[String] = hint.toLowerCase match {
    case "vv" | "vh" | "hh" | "hv" => Seq(hint.toLowerCase)
    case "vv_vh_pair" | "multiband" => Seq("vv", "vh")
    case "hh_hv_pair" => Seq("hh", "hv")
    case "all_pairs" => Seq("vv", "vh", "hh", "hv")
    case other => Seq(other)
  }
}
