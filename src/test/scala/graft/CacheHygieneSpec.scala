package graft

import java.nio.file.Files

import graft.api.Engine
import graft.meta.SafeMeta
import graft.model._

/** Every request releases exactly the caches its band pipelines took:
  * the session's persistent RDDs after a call are the ones before it,
  * whatever the polarization, format, bit depth or strategy, and also
  * when the pipeline's output step throws.
  */
class CacheHygieneSpec extends SparkSpec {

  private val meta = SafeMeta(productType = Some("GRD"), crs = Some("EPSG:32632"),
    geotransform = Some(Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)))

  private def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val pols = Seq(Polarization.Vv, Polarization.Op(PolarizationOperation.Diff),
    Polarization.Multiband)

  test("every processToBuffer plan leaves the persistent RDDs as it found them") {
    val plans = for {
      pol <- pols
      (format, depth) <- Seq((OutputFormat.Tiff, BitDepth.U8), (OutputFormat.Tiff, BitDepth.U16),
        (OutputFormat.Jpeg, BitDepth.U8))
      strategy <- Seq(AutoscaleStrategy.Standard, AutoscaleStrategy.Clahe, AutoscaleStrategy.Tamed)
    } yield ProcessingParams(polarization = pol, format = format, bitDepth = depth,
      autoscale = strategy)
    val warped = ProcessingParams(polarization = Polarization.Multiband,
      format = OutputFormat.Jpeg, autoscale = AutoscaleStrategy.Tamed,
      targetCrs = Some("EPSG:32633"))
    (plans :+ warped).foreach { params =>
      val before = persistent
      val img = Engine.processToBuffer(spark, "S1A_IW_GRDH_1SDV_hygiene", 90, 70, params, meta)
      assert(img.width > 0 && img.height > 0)
      assert(persistent == before, s"$params left a cache behind")
    }
  }

  test("a pipeline whose output step throws leaves the persistent RDDs as it found them") {
    // a full-resolution TIFF streams: the output step opens the file,
    // which fails in a missing directory after the stats, quantize and
    // u8 rescale jobs have run with the pipeline's caches held
    val missing = Files.createTempDirectory("graft-test").resolve("missing")
    for (pol <- pols.filter(_ != Polarization.Multiband); depth <- Seq(BitDepth.U8, BitDepth.U16)) {
      val params = ProcessingParams(polarization = pol, format = OutputFormat.Tiff,
        bitDepth = depth, autoscale = AutoscaleStrategy.Standard)
      val before = persistent
      intercept[java.nio.file.NoSuchFileException] {
        Engine.processToPath(spark, "S1A_IW_GRDH_1SDV_hygiene", 90, 70,
          missing.resolve("out.tiff").toString, params, meta)
      }
      assert(persistent == before, s"$params left a cache behind")
    }
  }
}
