package graftbench

import java.awt.image.BufferedImage
import java.io.File
import java.nio.file.Files

/** Output checks of the raster workloads, written apart from the engine:
  * they decode the files with the JDK's own readers and recompute the
  * expected pixels from the generator formula, without calling graft.
  */
object RasterChecks {

  /** The generator formula of the synthetic GRD bands, restated. */
  def syntheticValue(band: String, y: Long, x: Long): Float = {
    val seed = band.hashCode.toLong & 0xffffL
    val mix = (y * 7919L + x * 104729L + seed * 31L) & 0xffffL
    val speckle = 0.5f + (mix.toFloat / 65535.0f)
    val base = (2.0 + math.sin(y / 97.0) + math.cos(x / 53.0)).toFloat
    base * speckle
  }

  final case class Sidecar(lines: Option[Int], samples: Option[Int], geotransform: Seq[Double])

  def sidecar(f: File): Sidecar = {
    val s = if (f.exists) Files.readString(f.toPath) else ""
    def int(key: String) = s""""$key":\\s*(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    val gt = """"geotransform":\s*\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1).split(',').map(_.trim.toDouble).toSeq).getOrElse(Nil)
    Sidecar(int("lines"), int("samples"), gt)
  }

  /** A world file (A, D, B, E, C, F at pixel centres) as a GDAL
    * geotransform (corner origin).
    */
  def worldFileGt(f: File): Seq[Double] =
    if (!f.exists) Nil
    else Files.readAllLines(f.toPath).toArray.map(_.toString.trim).filter(_.nonEmpty).map(_.toDouble) match {
      case Array(a, d, b, e, c, ff) => Seq(c - 0.5 * a - 0.5 * b, a, b, ff - 0.5 * d - 0.5 * e, d, e)
      case _ => Nil
    }

  /** Properties the suppressed synRGB compose gives every pixel, as far
    * as JPEG's lossy coding keeps them: blue is the stabilized ratio
    * (((r+8)/(g+8))^0.1 · 0.18 · 255, so 32 to 66) wherever the pixel is
    * not blacked out, so the lit pixels' median blue lies in that range
    * and blue stays low everywhere but at a few ringing edges; the p05
    * floor blacks out at least a few percent of the pixels.
    */
  def suppressedSynRgb(img: BufferedImage): Check = {
    if (img == null) return Check("scene.synrgb_properties", ok = false, "no image")
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var dark = 0L
    val blueAll = new Array[Long](256)
    val blueLit = new Array[Long](256)
    px.foreach { v =>
      val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
      if (math.max(r, math.max(g, b)) <= 8) dark += 1
      blueAll(b) += 1
      if (math.max(r, g) >= 64) blueLit(b) += 1
    }
    def quantile(hist: Array[Long], q: Double): Int = {
      val target = q * hist.sum
      var acc = 0L; var v = 0
      while (v < 255 && acc + hist(v) <= target) { acc += hist(v); v += 1 }
      v
    }
    val med = quantile(blueLit, 0.5)
    val p99 = quantile(blueAll, 0.99)
    val darkShare = dark / px.length.toDouble
    val ok = blueLit.sum > 0 && med >= 32 && med <= 66 && p99 <= 80 && darkShare >= 0.02
    Check("scene.synrgb_properties", ok,
      f"median blue of lit pixels $med, p99 blue $p99, dark share $darkShare%.4f")
  }

  /** Recomputes a Standard-autoscaled u16 product independently: dB of
    * the generator values, the legacy clip from an exact sort of the valid
    * pixels, then the u16 quantize. The engine reads its percentiles off a
    * 4096-bin histogram, which can move each clip bound by up to one bin;
    * the tolerance is what that moves a quantized value by, plus one for
    * the floor.
    */
  def standardU16(tiff: File, band: String, rows: Int, cols: Int): Check = {
    val name = "batch.tiff_matches_recomputation"
    val img = javax.imageio.ImageIO.read(tiff)
    if (img == null || img.getWidth != cols || img.getHeight != rows)
      return Check(name, ok = false, s"${tiff.getName}: not a ${cols}x$rows image")
    val got = img.getRaster.getSamples(0, 0, cols, rows, 0, null: Array[Int])
    val db = new Array[Double](rows * cols)
    var i = 0
    while (i < db.length) {
      db(i) = 10.0 * math.log10(math.max(syntheticValue(band, i / cols, i % cols).toDouble, 1e-10))
      i += 1
    }
    val valid = db.filter(_ > -50.0)
    java.util.Arrays.sort(valid)
    val nValid = valid.length.toLong
    val mn = valid.head; val mx = valid.last
    def pct(p: Double) = valid(math.min(math.floor(p * nValid).toLong, nValid - 1).toInt)
    val range0 = mx - mn
    val iqr = pct(0.75) - pct(0.25)
    val (lo0, hi0, gamma) =
      if (range0 < 15.0) (pct(0.5) - math.max(20.0, range0 * 0.8) / 2, pct(0.5) + math.max(20.0, range0 * 0.8) / 2, 1.1)
      else if (iqr < 5.0) (pct(0.25) - 2.5 * iqr, pct(0.75) + 2.5 * iqr, 1.0)
      else if (range0 > 40.0) (math.max(pct(0.02), mn + 0.02 * range0), math.min(pct(0.98), mx - 0.02 * range0), 0.9)
      else (pct(0.02), pct(0.98), 1.0)
    val low = math.max(lo0, mn); val high = math.min(hi0, mx)
    val range = math.max(high - low, 1.0)
    val maxVal = 65535.0
    val e = 3.0 * (range0 / 4096.0) / range
    val tol = math.ceil(maxVal * (if (gamma < 1.0) math.pow(e, gamma) else gamma * e)).toInt + 1
    var worst = 0; var sumDiff = 0L
    i = 0
    while (i < db.length) {
      val d = db(i)
      val want =
        if (d > -50.0) {
          val norm = math.pow((math.min(math.max(d, low), high) - low) / range, gamma)
          math.floor(math.min(math.max(norm * maxVal, 0.0), maxVal)).toInt
        } else 0
      val diff = math.abs(want - got(i))
      worst = math.max(worst, diff); sumDiff += diff
      i += 1
    }
    Check(name, worst <= tol,
      f"${tiff.getName}: max |diff| $worst, mean ${sumDiff.toDouble / db.length}%.2f, tolerance $tol (gamma $gamma)")
  }
}
