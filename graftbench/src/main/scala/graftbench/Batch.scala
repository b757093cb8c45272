package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.api.{Engine, ProcessedImage}
import graft.geom.Geom
import graft.meta.SafeMeta
import graft.model._

/** `batch`: one operation is `Engine.processDirectory` over 2 products
  * of 2048×2048 at full resolution, each written as a Standard-autoscaled
  * u16 TIFF with sidecars. The seed picks the polarization, which changes
  * every pixel, and names the products.
  */
final class Batch(spark: SparkSession, seed: Long, dir: File) extends Workload {
  import Batch._

  private val band = Seq("vv", "vh", "hh", "hv")(Math.floorMod(seed, 4L).toInt)
  private val products = (1 to Products).map(i => (s"S1A_IW_GRDH_1SDV_b${seed}_$i", Size, Size))
  val params: ProcessingParams = ProcessingParams(polarization = Polarization.fromString(band).get,
    format = OutputFormat.Tiff, bitDepth = BitDepth.U16, autoscale = AutoscaleStrategy.Standard)

  private var n = 0
  private val hashes = mutable.ArrayBuffer.empty[String]
  private var sidecarsOk = true
  private def callDir(i: Int) = new File(dir, s"call_$i")

  def items: Int = Products
  def steadyOps: Int = SteadyOps

  def op(t: Tracer): Int = {
    n += 1
    val out = callDir(n)
    if (t.enabled) replay(t, out)
    else {
      val r = Engine.processDirectory(spark, products, out.getPath, params)
      r.skipped + r.errors.size
    }
  }

  override def settle(): Unit = {
    val out = callDir(n)
    products.foreach { case (id, _, _) =>
      val tif = new File(out, s"$id.tiff")
      if (tif.exists) hashes += Workload.sha256(tif.toPath)
      sidecarsOk &&= new File(tif.getPath + ".json").exists
    }
    // the first call's outputs are kept for the checks; later ones only by hash
    if (n > 1) Option(out.listFiles()).toSeq.flatten.foreach(_.delete())
  }

  /** The call replayed layer by layer, each call materialized in turn, in
    * `processBand`'s order, then `saveImage`, product after product.
    */
  private def replay(t: Tracer, out: File): Int = {
    out.mkdirs()
    products.count { case (id, rows, cols) =>
      try {
        t.span("product") {
          val scanned = t.span("sources.scan") {
            t.count("sources.mpx", rows.toDouble * cols / 1e6)
            val s = Engine.loadPolarization(spark, id, band, rows, cols).persist()
            s.count(); s
          }
          try {
            val tiles = Engine.toDbTiles(scanned)
            val st = t.span("stats.tile_stats")(Engine.tileStats(tiles))
            val q = t.span("ops.db_quantize") {
              val (low, high, gamma) = Engine.paramsFor(st, params.autoscale)
              val q = Engine.quantizeTiles(tiles, low, high, gamma, params.bitDepth.maxVal).persist()
              q.count(); q
            }
            try {
              val (img, w, h) = t.span("geom.resize_collect") {
                Engine.collectResized(q, rows, cols, params.targetSize, params.bitDepth.maxVal.toInt)
              }
              val (fin, fw, fh, gt) = t.span("geom.pad")(Geom.padAndRescaleGt(img, w, h, cols, rows, params.pad, None))
              val path = new File(out, s"$id.tiff")
              t.span("sink.write") {
                Engine.saveImage(path.getPath, ProcessedImage(fw, fh, params.bitDepth, Some(fin), None, gt),
                  params, SafeMeta(productType = SafeMeta.productTypeFromId(id)), band.toUpperCase)
                t.count("sink.written_mb", Workload.bytesWritten(out, id) / 1e6)
              }
            } finally q.unpersist()
          } finally scanned.unpersist()
        }
        false
      } catch { case _: Exception => true }
    }
  }

  def checks(): Seq[Check] = Seq(
    RasterChecks.standardU16(new File(callDir(1), s"${products.head._1}.tiff"), band, Size, Size),
    Check("batch.sidecars_written", sidecarsOk, "a .json sidecar beside every TIFF"),
    Check("batch.outputs_byte_equal",
      hashes.size == n * Products && hashes.distinct.size == 1,
      s"${hashes.size} TIFFs over $n calls, ${hashes.distinct.size} distinct"))
}

object Batch {
  val Products = 2
  val Size = 2048
  val SteadyOps = 4
}
