package graft.geom

/** Pure-JVM projection math for the CRS family the S9 auto-resolver can
  * emit (`graft.meta.SafeMeta.lonlatToEpsg`): WGS84 lon/lat (EPSG:4326),
  * UTM zones (EPSG:326xx/327xx, Transverse Mercator) and UPS
  * (EPSG:32661/32761, polar stereographic). This is what lets
  * [[graft.geom.Warp]] EXECUTE reprojections natively instead of
  * delegating to gdalwarp (the reference shells out,
  * `/root/reference/src/io/sentinel1.rs:1033-1041`; GDAL does not exist
  * in this environment, and a distributed engine wants the transform
  * inside the tile tasks anyway, not behind a subprocess).
  *
  * Transverse Mercator uses the Krüger n-series (3rd order in the third
  * flattening, the public formulation in Karney 2011 "Transverse
  * Mercator with an accuracy of a few nanometers" as popularized for
  * UTM) — ≤1 mm round-trip error within a UTM zone's extent, far below
  * a SAR ground-range pixel (10 m). Polar stereographic follows EPSG
  * guidance note 7-2 (method 9810, variant A). All formulas are public
  * textbook math; no GDAL/proj code is referenced.
  *
  * Instances are tiny immutable case classes — serialized into Spark
  * task closures, so the per-pixel inverse transform runs inside
  * executor tile kernels with zero driver involvement.
  */
sealed trait Proj extends Serializable {
  /** (lon°, lat°) → projected (x, y) in CRS units. */
  def forward(lon: Double, lat: Double): (Double, Double)
  /** projected (x, y) → (lon°, lat°). */
  def inverse(x: Double, y: Double): (Double, Double)
}

object Proj {

  /** WGS84 ellipsoid. */
  val SemiMajor = 6378137.0
  val Flattening = 1.0 / 298.257223563
  private val E2 = Flattening * (2.0 - Flattening)
  private val E = math.sqrt(E2)

  private val Deg2Rad = math.Pi / 180.0
  private val Rad2Deg = 180.0 / math.Pi

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = math.log(x + math.sqrt(x * x + 1.0))

  // ---- Krüger series constants (third flattening n, 3rd order) ----
  private val N3 = Flattening / (2.0 - Flattening)
  private val N3_2 = N3 * N3
  private val N3_3 = N3_2 * N3
  /** Rectifying radius. */
  private val AHat = SemiMajor / (1.0 + N3) * (1.0 + N3_2 / 4.0 + N3_2 * N3_2 / 64.0)
  private val Alpha = Array(
    N3 / 2.0 - 2.0 / 3.0 * N3_2 + 5.0 / 16.0 * N3_3,
    13.0 / 48.0 * N3_2 - 3.0 / 5.0 * N3_3,
    61.0 / 240.0 * N3_3)
  private val Beta = Array(
    N3 / 2.0 - 2.0 / 3.0 * N3_2 + 37.0 / 96.0 * N3_3,
    1.0 / 48.0 * N3_2 + 1.0 / 15.0 * N3_3,
    17.0 / 480.0 * N3_3)
  private val Delta = Array(
    2.0 * N3 - 2.0 / 3.0 * N3_2 - 2.0 * N3_3,
    7.0 / 3.0 * N3_2 - 8.0 / 5.0 * N3_3,
    56.0 / 15.0 * N3_3)
  /** Conformal-latitude coefficient 2√n/(1+n). */
  private val KConf = 2.0 * math.sqrt(N3) / (1.0 + N3)

  /** EPSG:4326 — the identity in degrees (axis order lon, lat as GDAL
    * geotransforms use it).
    */
  case object LonLat extends Proj {
    def forward(lon: Double, lat: Double): (Double, Double) = (lon, lat)
    def inverse(x: Double, y: Double): (Double, Double) = (x, y)
  }

  /** UTM zone (Transverse Mercator, k0 = 0.9996, FE = 500 000,
    * FN = 0 north / 10 000 000 south).
    */
  final case class Utm(zone: Int, south: Boolean) extends Proj {
    private val lon0 = (zone * 6 - 183).toDouble
    private val fn = if (south) 1.0e7 else 0.0
    private val K0A = 0.9996 * AHat

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val phi = lat * Deg2Rad
      var dLon = lon - lon0
      if (dLon > 180.0) dLon -= 360.0
      if (dLon < -180.0) dLon += 360.0
      val lam = dLon * Deg2Rad
      val s = math.sin(phi)
      val t = math.sinh(atanh(s) - KConf * atanh(KConf * s))
      val cl = math.cos(lam)
      val xiP = math.atan2(t, cl)
      val etaP = asinh(math.sin(lam) / math.sqrt(t * t + cl * cl))
      var xi = xiP
      var eta = etaP
      var j = 1
      while (j <= 3) {
        xi += Alpha(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
        eta += Alpha(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
        j += 1
      }
      (500000.0 + K0A * eta, fn + K0A * xi)
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val xi = (y - fn) / K0A
      val eta = (x - 500000.0) / K0A
      var xiP = xi
      var etaP = eta
      var j = 1
      while (j <= 3) {
        xiP -= Beta(j - 1) * math.sin(2.0 * j * xi) * math.cosh(2.0 * j * eta)
        etaP -= Beta(j - 1) * math.cos(2.0 * j * xi) * math.sinh(2.0 * j * eta)
        j += 1
      }
      val chi = math.asin(math.min(1.0, math.max(-1.0,
        math.sin(xiP) / math.cosh(etaP))))
      var phi = chi
      j = 1
      while (j <= 3) { phi += Delta(j - 1) * math.sin(2.0 * j * chi); j += 1 }
      val lam = math.atan2(math.sinh(etaP), math.cos(xiP))
      (lon0 + lam * Rad2Deg, phi * Rad2Deg)
    }
  }

  // ---- polar stereographic (EPSG 9810 variant A; UPS: k0 = 0.994,
  //      FE = FN = 2 000 000, lon0 = 0) ----
  private val UpsK0 = 0.994
  private val UpsFE = 2.0e6
  private val UpsFN = 2.0e6
  private val RhoDenom =
    math.sqrt(math.pow(1.0 + E, 1.0 + E) * math.pow(1.0 - E, 1.0 - E))
  // χ → φ series (EPSG guidance note 7-2, method 9810)
  private val C2 = E2 / 2.0 + 5.0 * E2 * E2 / 24.0 + E2 * E2 * E2 / 12.0 +
    13.0 * math.pow(E2, 4) / 360.0
  private val C4 = 7.0 * E2 * E2 / 48.0 + 29.0 * E2 * E2 * E2 / 240.0 +
    811.0 * math.pow(E2, 4) / 11520.0
  private val C6 = 7.0 * E2 * E2 * E2 / 120.0 + 81.0 * math.pow(E2, 4) / 1120.0
  private val C8 = 4279.0 * math.pow(E2, 4) / 161280.0

  private def upsForwardNorth(lon: Double, lat: Double): (Double, Double) = {
    val phi = lat * Deg2Rad
    val lam = lon * Deg2Rad
    val es = E * math.sin(phi)
    val t = math.tan(math.Pi / 4.0 - phi / 2.0) *
      math.pow((1.0 + es) / (1.0 - es), E / 2.0)
    val rho = 2.0 * SemiMajor * UpsK0 * t / RhoDenom
    (UpsFE + rho * math.sin(lam), UpsFN - rho * math.cos(lam))
  }

  private def upsInverseNorth(x: Double, y: Double): (Double, Double) = {
    val dx = x - UpsFE
    val dy = y - UpsFN
    val rho = math.sqrt(dx * dx + dy * dy)
    val t = rho * RhoDenom / (2.0 * SemiMajor * UpsK0)
    val chi = math.Pi / 2.0 - 2.0 * math.atan(t)
    val phi = chi + C2 * math.sin(2.0 * chi) + C4 * math.sin(4.0 * chi) +
      C6 * math.sin(6.0 * chi) + C8 * math.sin(8.0 * chi)
    val lam = if (rho == 0.0) 0.0 else math.atan2(dx, -dy)
    (lam * Rad2Deg, phi * Rad2Deg)
  }

  /** UPS north/south. The south aspect is the exact mirror of the north
    * one (t_south(φ) = t_north(−φ), N_south = 2·FN − N_north), so it
    * delegates through the mirror rather than duplicating the series.
    */
  final case class Ups(south: Boolean) extends Proj {
    def forward(lon: Double, lat: Double): (Double, Double) =
      if (!south) upsForwardNorth(lon, lat)
      else {
        val (x, yN) = upsForwardNorth(lon, -lat)
        (x, 2.0 * UpsFN - yN)
      }
    def inverse(x: Double, y: Double): (Double, Double) =
      if (!south) upsInverseNorth(x, y)
      else {
        val (lon, latN) = upsInverseNorth(x, 2.0 * UpsFN - y)
        (lon, -latN)
      }
  }

  /** The natively projectable CRS set: exactly what S9 can emit, plus
    * plain WGS84 lon/lat. Anything else (other datums, web mercator,
    * WKT without an EPSG authority) is NOT claimed — the warp resolver
    * falls back to the documented gdalwarp raise for those.
    */
  def fromEpsg(crs: String): Option[Proj] =
    Warp.parseEpsg(crs).flatMap(_.stripPrefix("EPSG:").toIntOption).collect {
      case 4326 => LonLat
      case c if c >= 32601 && c <= 32660 => Utm(c - 32600, south = false)
      case c if c >= 32701 && c <= 32760 => Utm(c - 32700, south = true)
      case 32661 => Ups(south = false)
      case 32761 => Ups(south = true)
    }
}

/** Pixel-sampling kernels for the inverse-projected warp — the same
  * algebra GDAL's warper applies for near/bilinear/cubic (cubic =
  * cubic convolution, a = −0.5). Fractional coordinates are PIXEL
  * CENTER based: (0,0) is the center of the top-left pixel. A point
  * outside the source extent samples 0 (gdalwarp's zero-initialized
  * destination); neighbors of an in-extent point clamp at the border.
  */
object Resample extends Serializable {

  private def cubicW(t: Double): Double = {
    val a = -0.5
    val at = math.abs(t)
    if (at <= 1.0) (a + 2.0) * at * at * at - (a + 3.0) * at * at + 1.0
    else if (at < 2.0) a * at * at * at - 5.0 * a * at * at + 8.0 * a * at - 4.0 * a
    else 0.0
  }

  @inline private def clamp(i: Int, n: Int): Int = math.max(0, math.min(n - 1, i))

  /** One sampling algorithm: `get(row, col)` sampled at fractional (fr,
    * fc) of a `rows × cols` source, 0 outside the source extent. Picked
    * once by [[kernel]], so a caller sampling many points does not match
    * the algorithm name per point.
    */
  sealed abstract class Kernel extends Serializable {
    final def apply(get: (Int, Int) => Float, rows: Int, cols: Int,
                    fr: Double, fc: Double): Float =
      if (fr < -0.5 || fr > rows - 0.5 || fc < -0.5 || fc > cols - 0.5) 0.0f
      else inside(get, rows, cols, fr, fc)
    protected def inside(get: (Int, Int) => Float, rows: Int, cols: Int,
                         fr: Double, fc: Double): Float
  }

  private object Near extends Kernel {
    protected def inside(get: (Int, Int) => Float, rows: Int, cols: Int,
                         fr: Double, fc: Double): Float =
      get(clamp(math.floor(fr + 0.5).toInt, rows), clamp(math.floor(fc + 0.5).toInt, cols))
  }

  private object Cubic extends Kernel {
    protected def inside(get: (Int, Int) => Float, rows: Int, cols: Int,
                         fr: Double, fc: Double): Float = {
      val r0 = math.floor(fr).toInt
      val c0 = math.floor(fc).toInt
      var acc = 0.0
      var dr = -1
      while (dr <= 2) {
        val wr = cubicW(fr - (r0 + dr))
        if (wr != 0.0) {
          var dc = -1
          while (dc <= 2) {
            val wc = cubicW(fc - (c0 + dc))
            if (wc != 0.0) acc += wr * wc * get(clamp(r0 + dr, rows), clamp(c0 + dc, cols))
            dc += 1
          }
        }
        dr += 1
      }
      acc.toFloat
    }
  }

  private object Bilinear extends Kernel {
    protected def inside(get: (Int, Int) => Float, rows: Int, cols: Int,
                         fr: Double, fc: Double): Float = {
      val r0 = math.floor(fr).toInt
      val c0 = math.floor(fc).toInt
      val wr = fr - r0
      val wc = fc - c0
      val v00 = get(clamp(r0, rows), clamp(c0, cols))
      val v01 = get(clamp(r0, rows), clamp(c0 + 1, cols))
      val v10 = get(clamp(r0 + 1, rows), clamp(c0, cols))
      val v11 = get(clamp(r0 + 1, rows), clamp(c0 + 1, cols))
      ((v00 * (1.0 - wc) + v01 * wc) * (1.0 - wr) +
        (v10 * (1.0 - wc) + v11 * wc) * wr).toFloat
    }
  }

  /** The kernel of a warp algorithm name; any name other than near and
    * cubic is bilinear, the reference's default warp alg.
    */
  def kernel(alg: String): Kernel = alg match {
    case "near" => Near
    case "cubic" => Cubic
    case _ => Bilinear
  }

  /** Sample `get(row, col)` at fractional (fr, fc). */
  def sample(alg: String, get: (Int, Int) => Float, rows: Int, cols: Int,
             fr: Double, fc: Double): Float =
    kernel(alg)(get, rows, cols, fr, fc)
}
