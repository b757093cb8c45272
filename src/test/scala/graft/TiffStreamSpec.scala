package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.api.Engine
import graft.geom.Warp
import graft.meta.SafeMeta
import graft.model._
import graft.sink.Sinks
import graft.sources.RasterSource

/** A full-resolution `processToPath` TIFF streams: it never assembles
  * the image on the driver, the driver holds one partition's tiles at a
  * time, and the file equals, byte for byte, the one the array-fed path
  * writes for the same product (so its decoded pixels and tags do too).
  */
class TiffStreamSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft-stream").toString
  private def bytes(path: String) = Files.readAllBytes(Paths.get(path))

  private val utm = SafeMeta(productType = Some("GRD"), platform = Some("SENTINEL-1A"),
    crs = Some("EPSG:32632"), geotransform = Some(Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)))

  /** (name, rows, cols, params, meta, sidecar polarization label, whether
    * the final tiles keep the scan's partitions — no exchange in the plan).
    */
  private val cases = Seq(
    ("u16 standard", 600, 700,
      ProcessingParams(format = OutputFormat.Tiff, bitDepth = BitDepth.U16,
        autoscale = AutoscaleStrategy.Standard), utm, "VV", true),
    ("u16 clahe, target past the long side, square pad", 400, 400,
      ProcessingParams(format = OutputFormat.Tiff, bitDepth = BitDepth.U16,
        autoscale = AutoscaleStrategy.Clahe, targetSize = Some(1000), pad = true),
      SafeMeta(), "VV", true),
    ("u8 band ratio", 300, 517,
      ProcessingParams(polarization = Polarization.Op(PolarizationOperation.Ratio),
        format = OutputFormat.Tiff, bitDepth = BitDepth.U8, autoscale = AutoscaleStrategy.Robust),
      utm, "RATIO(VV, VH)", false),
    ("u8 warped to UTM 33N", 300, 300,
      ProcessingParams(format = OutputFormat.Tiff, bitDepth = BitDepth.U8,
        autoscale = AutoscaleStrategy.Standard, targetCrs = Some("EPSG:32633")), utm, "VV", false))

  /** The array-fed path for the same product: collected by
    * `processToBuffer`, written by `saveImage` with the metadata
    * `processToPath` gives it.
    */
  private def arrayFed(path: String, id: String, rows: Int, cols: Int, params: ProcessingParams,
                       meta: SafeMeta, label: String): Unit = {
    val img = Engine.processToBuffer(spark, id, rows, cols, params, meta)
    val effMeta = params.targetCrs
      .flatMap(Warp.nativePlan(meta.crs, _, meta.geotransform, rows, cols,
        params.resampleAlg, params.targetSize))
      .map(nw => meta.copy(crs = Some(nw.dstCrs), geotransform = Some(nw.dstGt.toArray),
        lines = Some(nw.dstRows), samples = Some(nw.dstCols)))
      .getOrElse(meta)
    Engine.saveImage(path, img, params, effMeta, label)
  }

  for (((name, rows, cols, params, meta, label, scanPartitions), i) <- cases.zipWithIndex) {
    test(s"streamed TIFF equals the array-fed one and never assembles: $name") {
      val dir = tmpDir
      val id = s"p$i"
      val streamed = s"$dir/$id.tiff"
      val assembled = Engine.assembledSamples.get
      val delivered = Engine.streamedDeliveries.get
      Engine.mostPartsHeld.set(0)
      Engine.processToPath(spark, id, rows, cols, streamed, params, meta)
      assert(Engine.assembledSamples.get == assembled, "the streamed path assembled an image")
      val deliveries = Engine.streamedDeliveries.get - delivered
      assert(deliveries >= 1, "nothing was streamed")
      if (scanPartitions) {
        val scan = RasterSource.scan(spark, id, "vv", rows, cols)
        assert(scan.rdd.getNumPartitions > 1)
        assert(deliveries == scan.rdd.getNumPartitions, "one delivery per partition")
        assert(Engine.mostPartsHeld.get < scan.count(), "the driver held every tile at once")
      }

      val fed = s"$dir/fed/$id.tiff"
      Files.createDirectories(Paths.get(fed).getParent)
      arrayFed(fed, id, rows, cols, params, meta, label)
      assert(Engine.assembledSamples.get > assembled, "the reference did not go through the array")
      val decoded = javax.imageio.ImageIO.read(new java.io.File(streamed))
      assert(decoded.getRaster.getSamples(0, 0, decoded.getWidth, decoded.getHeight, 0,
        null: Array[Int]).exists(_ > 0))
      assert(Sinks.readTiffTags(streamed) == Sinks.readTiffTags(fed))
      assert(bytes(streamed).sameElements(bytes(fed)))
      for (side <- Seq((p: String) => p + ".json", (p: String) => p.replaceAll("\\.tiff$", ".tfw"),
                       (p: String) => p.replaceAll("\\.tiff$", ".prj"))) {
        assert(Files.exists(Paths.get(side(streamed))) == Files.exists(Paths.get(side(fed))))
        if (Files.exists(Paths.get(side(fed))))
          assert(bytes(side(streamed)).sameElements(bytes(side(fed))), side(streamed))
      }
    }
  }

  test("a TIFF past 4 GiB raises before any job runs") {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drainListeners()
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = intercept[GraftException.Processing](Engine.processToPath(spark, "huge", 70000, 70000,
        s"$tmpDir/huge.tiff", ProcessingParams(format = OutputFormat.Tiff, bitDepth = BitDepth.U16)))
      assert(e.getMessage.contains("4 GiB"))
      drainListeners()
      // the drain's own marker job is the only one
      assert(jobs.get == 1, s"${jobs.get} jobs started")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
