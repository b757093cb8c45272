package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.{Engine, ProcessedImage}
import graft.geom.{Geom, Warp}
import graft.meta.SafeMeta
import graft.model._

/** `scene`: the reference's headline request at sandbox size. One
  * operation is `Engine.processToPath` on a 3072×3072 dual-band VV/VH GRD
  * product in UTM 32N, written as a Tamed synRGB JPEG of target size 2048,
  * reprojected to UTM 33N and padded square. The seed moves the
  * geotransform origin by up to a kilometre, so each seed resamples the
  * scene onto a different output grid of nearly the same size.
  */
final class Scene(spark: SparkSession, seed: Long, dir: File) extends Workload {
  import Scene._

  private val rng = new scala.util.Random(seed)
  private val productId = s"S1A_IW_GRDH_1SDV_scene$seed"
  val meta: SafeMeta = SafeMeta(productType = Some("GRD"), crs = Some(SourceCrs),
    geotransform = Some(Array(730000.0 + 10.0 * rng.nextInt(100), 10.0, 0.0,
      5000000.0 + 10.0 * rng.nextInt(100), 0.0, -10.0)))
  val params: ProcessingParams = ProcessingParams(polarization = Polarization.Multiband,
    format = OutputFormat.Jpeg, bitDepth = BitDepth.U8, autoscale = AutoscaleStrategy.Tamed,
    targetSize = Some(Target), pad = true, targetCrs = Some(TargetCrs))

  private var n = 0
  private val hashes = mutable.ArrayBuffer.empty[String]
  private def out(i: Int) = new File(dir, s"scene_$i.jpg")

  def items: Int = 1
  def steadyOps: Int = SteadyOps

  def op(t: Tracer): Int = {
    n += 1
    val path = out(n).getPath
    if (t.enabled) replay(t, path)
    else Engine.processToPath(spark, productId, Size, Size, path, params, meta)
    0
  }

  override def settle(): Unit = {
    hashes += Workload.sha256(out(n).toPath)
    // the first output is kept for the checks; later ones only by hash
    if (n > 1) sidecars(out(n)).foreach(Files.deleteIfExists)
  }

  /** The request replayed layer by layer, each call materialized in turn,
    * in `processMultiband`'s order, then `saveImage`.
    */
  private def replay(t: Tracer, path: String): Unit = {
    val nw = t.span("geom.plan") {
      Warp.nativePlan(meta.crs, TargetCrs, meta.geotransform, Size, Size,
        params.resampleAlg, params.targetSize).get
    }
    val effMeta = meta.copy(crs = Some(nw.dstCrs), geotransform = Some(nw.dstGt.toArray),
      lines = Some(nw.dstRows), samples = Some(nw.dstCols))
    def band(name: String, copol: Boolean) = t.span("band") {
      val scanned = t.span("sources.scan") {
        t.count("sources.mpx", Size.toDouble * Size / 1e6)
        val s = Engine.loadPolarization(spark, productId, name, Size, Size).persist()
        s.count(); s
      }
      val raw = t.span("geom.warp") {
        val r = Engine.warpTiles(scanned, nw).persist()
        r.count(); r
      }
      scanned.unpersist()
      try {
        val tiles = Engine.toDbTiles(raw)
        val st = t.span("stats.tile_stats")(Engine.tileStats(tiles))
        // the Tamed synRGB clip of `tamedSynrgbU8`
        val p = st.percentiles
        val low = if (copol) math.min(p("p02"), p("p05")) else p("p05")
        val q = t.span("ops.db_quantize") {
          val q = Engine.quantizeTiles(tiles, low, p("p99"), 1.0, 255.0).persist()
          q.count(); q
        }
        try {
          val (resized, w, h) = t.span("geom.resize_collect") {
            Engine.collectResized(q, nw.dstRows, nw.dstCols, params.targetSize, 255)
          }
          t.span("geom.pad") {
            Geom.padAndRescaleGt(resized, w, h, nw.dstCols, nw.dstRows, params.pad,
              effMeta.geotransform)
          }
        } finally q.unpersist()
      } finally raw.unpersist()
    }
    val (b1, fw, fh, gt) = band("vv", copol = true)
    val (b2, _, _, _) = band("vh", copol = false)
    val rgb = t.span("api.compose")(Engine.composeSynRgbSuppressed(b1, b2))
    t.span("sink.write") {
      Engine.saveImage(path, ProcessedImage(fw, fh, BitDepth.U8, None, Some(rgb), gt),
        params, effMeta, "MULTIBAND(VV, VH)")
      t.count("sink.written_mb", sidecars(new File(path)).map(_.toFile.length).sum / 1e6)
    }
  }

  def checks(): Seq[Check] = {
    val jpg = out(1)
    val img = javax.imageio.ImageIO.read(jpg)
    val side = RasterChecks.sidecar(new File(jpg.getPath + ".json"))
    val world = RasterChecks.worldFileGt(new File(jpg.getPath.replaceAll("\\.jpg$", ".jgw")))
    val gt = side.geotransform
    Seq(
      Check("scene.jpeg_decodes", img != null, s"${jpg.getName}"),
      Check("scene.padded_square_at_target",
        img != null && img.getWidth == Target && img.getHeight == Target,
        s"${Option(img).map(i => s"${i.getWidth}x${i.getHeight}")} target $Target"),
      Check("scene.size_matches_sidecar",
        img != null && side.lines.contains(img.getHeight) && side.samples.contains(img.getWidth),
        s"sidecar lines=${side.lines} samples=${side.samples}"),
      Check("scene.world_file_equals_sidecar_gt",
        gt.length == 6 && world.length == 6 && gt.indices.forall(i => math.abs(gt(i) - world(i)) <= 1e-6),
        s"sidecar ${gt.mkString(",")} world ${world.mkString(",")}"),
      RasterChecks.suppressedSynRgb(img),
      Check("scene.outputs_byte_equal", hashes.distinct.size == 1,
        s"${hashes.size} outputs, ${hashes.distinct.size} distinct"))
  }

  private def sidecars(f: File): Seq[java.nio.file.Path] = {
    val base = f.getPath.stripSuffix(".jpg")
    Seq(f.getPath, base + ".jgw", base + ".prj", f.getPath + ".json")
      .map(new File(_).toPath).filter(Files.exists(_))
  }
}

object Scene {
  val Size = 3072
  val Target = 2048
  val SteadyOps = 3
  val SourceCrs = "EPSG:32632"
  val TargetCrs = "EPSG:32633"
}
