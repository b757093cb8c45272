package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Dataset

import graft.api.{BatchReport, DbTile, Engine, ProcessedImage, QTile}
import graft.geom.{Geom, Warp}
import graft.meta.SafeMeta
import graft.model._
import graft.sources.Tile
import graft.stats.FastStats

/** Calls every engine signature the benchmark (`graftbench/`, compiled
  * with `src/main/scala`) calls, in the shapes it calls them, with the
  * result types it reads, on a 256×300 product. A change that would break
  * the benchmark's build breaks this spec's compile instead.
  */
class BenchApiSpec extends SparkSpec {

  private val (rows, cols) = (256, 300)

  test("batch: processDirectory, then the replay's layer calls and saveImage") {
    val dir = Files.createTempDirectory("graft-benchapi").toFile
    try {
      val params = ProcessingParams(polarization = Polarization.Vv, format = OutputFormat.Tiff,
        bitDepth = BitDepth.U16, autoscale = AutoscaleStrategy.Standard)
      val id = "S1A_IW_GRDH_1SDV_api_1"
      val r: BatchReport = Engine.processDirectory(spark, Seq((id, rows, cols)), dir.getPath, params)
      assert(r.processed == 1 && r.skipped + r.errors.size == 0)
      assert(new File(dir, s"$id.tiff").exists)

      val scanned: Dataset[Tile] = Engine.loadPolarization(spark, id, "vv", rows, cols).persist()
      try {
        val tiles: Dataset[DbTile] = Engine.toDbTiles(scanned)
        val st: FastStats.FastStatsResult = Engine.tileStats(tiles)
        val (low, high, gamma): (Double, Double, Double) = Engine.paramsFor(st, params.autoscale)
        val q: Dataset[QTile] =
          Engine.quantizeTiles(tiles, low, high, gamma, params.bitDepth.maxVal).persist()
        try {
          val (img, w, h): (Array[Int], Int, Int) =
            Engine.collectResized(q, rows, cols, params.targetSize, params.bitDepth.maxVal.toInt)
          val (fin, fw, fh, gt): (Array[Int], Int, Int, Option[Array[Double]]) =
            Geom.padAndRescaleGt(img, w, h, cols, rows, params.pad, None)
          val path = new File(dir, s"replay_$id.tiff")
          Engine.saveImage(path.getPath, ProcessedImage(fw, fh, params.bitDepth, Some(fin), None, gt),
            params, SafeMeta(productType = SafeMeta.productTypeFromId(id)), "VV")
          val back = javax.imageio.ImageIO.read(path)
          assert((back.getWidth, back.getHeight) == ((cols, rows)))
          assert(back.getRaster.getSamples(0, 0, cols, rows, 0, null: Array[Int]).sameElements(fin))
        } finally q.unpersist()
      } finally scanned.unpersist()
    } finally Bench.deleteTree(dir.toPath)
  }

  test("scene: processToPath, then the replay's warp, quantize, compose and saveImage") {
    val dir = Files.createTempDirectory("graft-benchapi").toFile
    try {
      val meta = SafeMeta(productType = Some("GRD"), crs = Some("EPSG:32632"),
        geotransform = Some(Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)))
      val params = ProcessingParams(polarization = Polarization.Multiband,
        format = OutputFormat.Jpeg, bitDepth = BitDepth.U8, autoscale = AutoscaleStrategy.Tamed,
        targetSize = Some(128), pad = true, targetCrs = Some("EPSG:32633"))
      val id = "S1A_IW_GRDH_1SDV_apiscene"
      val out = new File(dir, "scene.jpg").getPath
      Engine.processToPath(spark, id, rows, cols, out, params, meta)
      assert(new File(out).exists)

      val nw: Warp.NativeWarp = Warp.nativePlan(meta.crs, "EPSG:32633", meta.geotransform, rows, cols,
        params.resampleAlg, params.targetSize).get
      val effMeta = meta.copy(crs = Some(nw.dstCrs), geotransform = Some(nw.dstGt.toArray),
        lines = Some(nw.dstRows), samples = Some(nw.dstCols))
      def band(name: String, copol: Boolean): (Array[Int], Int, Int, Option[Array[Double]]) = {
        val scanned = Engine.loadPolarization(spark, id, name, rows, cols).persist()
        val raw: Dataset[Tile] = Engine.warpTiles(scanned, nw).persist()
        scanned.unpersist()
        try {
          val st = Engine.tileStats(Engine.toDbTiles(raw))
          val p: Map[String, Double] = st.percentiles
          val low = if (copol) math.min(p("p02"), p("p05")) else p("p05")
          val q = Engine.quantizeTiles(Engine.toDbTiles(raw), low, p("p99"), 1.0, 255.0)
          val (resized, w, h) = Engine.collectResized(q, nw.dstRows, nw.dstCols, params.targetSize, 255)
          Geom.padAndRescaleGt(resized, w, h, nw.dstCols, nw.dstRows, params.pad, effMeta.geotransform)
        } finally raw.unpersist()
      }
      val (b1, fw, fh, gt) = band("vv", copol = true)
      val (b2, _, _, _) = band("vh", copol = false)
      val rgb: (Array[Int], Array[Int], Array[Int]) = Engine.composeSynRgbSuppressed(b1, b2)
      val path = new File(dir, "replay.jpg").getPath
      Engine.saveImage(path, ProcessedImage(fw, fh, BitDepth.U8, None, Some(rgb), gt),
        params, effMeta, "MULTIBAND(VV, VH)")
      val back = javax.imageio.ImageIO.read(new File(path))
      assert((back.getWidth, back.getHeight) == ((128, 128)))
    } finally Bench.deleteTree(dir.toPath)
  }
}
