package graft.sink

import java.awt.image.{BufferedImage, DataBufferByte, DataBufferUShort}
import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, Paths}
import javax.imageio.ImageIO

import graft.meta.SafeMeta

/** Sinks (SURVEY §2.8 K1-K8): quantized image buffers → TIFF/JPEG, plus
  * the text sidecars: world file (pixel-center convention), .prj, and the
  * JSON metadata sidecar with numeric-string inference.
  *
  * Every TIFF the engine writes goes through [[TiffWriter]] (tiled,
  * tags from [[tiffFields]]); a full-resolution `Engine.processToPath`
  * TIFF streams its tiles there without a driver-side image. JPEG, and
  * the strip-layout fixture writers [[writeTiffGray]] /
  * [[writeTiffGrayLayout]] the decode specs use, stay on javax.imageio.
  */
object Sinks {

  // --------------------------------------------------------------- images

  // Pixels go straight into the image's backing array: per-pixel
  // setSample/setRGB converts through the sample and colour models on
  // every pixel, about half of a 2048² JPEG sink's time. SinksSpec pins
  // the encoded bytes to those of the per-pixel path.
  private def grayU8(img: Array[Int], w: Int, h: Int): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val buf = bi.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    var i = 0
    while (i < w * h) { buf(i) = img(i).toByte; i += 1 }
    bi
  }

  private def grayU16(img: Array[Int], w: Int, h: Int): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_USHORT_GRAY)
    val buf = bi.getRaster.getDataBuffer.asInstanceOf[DataBufferUShort].getData
    var i = 0
    while (i < img.length) { buf(i) = (img(i) & 0xffff).toShort; i += 1 }
    bi
  }

  private def rgb(r: Array[Int], g: Array[Int], b: Array[Int], w: Int, h: Int): BufferedImage = {
    val bi = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val buf = bi.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData
    var i = 0
    while (i < w * h) {
      buf(3 * i) = b(i).toByte
      buf(3 * i + 1) = g(i).toByte
      buf(3 * i + 2) = r(i).toByte
      i += 1
    }
    bi
  }

  /** K1: gray TIFF (u8 or u16). */
  def writeTiffGray(path: String, img: Array[Int], w: Int, h: Int, u16: Boolean): Unit = {
    val bi = if (u16) grayU16(img, w, h) else grayU8(img, w, h)
    require(ImageIO.write(bi, "TIFF", new File(path)), s"no TIFF writer for $path")
  }

  /** Gray TIFF with an explicit on-disk layout — real Sentinel-1
    * measurement rasters are tiled and/or compressed GeoTIFFs
    * (`/root/reference/src/io/sentinel1.rs:183-389` reads them through
    * GDAL), so the source-side decode must handle those layouts too.
    * Used to build such fixtures for the decode round-trip specs.
    *
    * @param compression TIFF compression type name (e.g. "Deflate",
    *                    "LZW", "PackBits"), or null for uncompressed
    * @param tile        tile edge (multiple of 16), or 0 for strips
    */
  def writeTiffGrayLayout(path: String, img: Array[Int], w: Int, h: Int, u16: Boolean,
                          compression: String, tile: Int): Unit = {
    val bi = if (u16) grayU16(img, w, h) else grayU8(img, w, h)
    val writer = ImageIO.getImageWritersByFormatName("TIFF").next()
    val out = ImageIO.createImageOutputStream(new File(path))
    try {
      writer.setOutput(out)
      val p = writer.getDefaultWriteParam
      if (compression != null) {
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionType(compression)
      }
      if (tile > 0) {
        p.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setTiling(tile, tile, 0, 0)
      }
      writer.write(null, new javax.imageio.IIOImage(bi, null, null), p)
    } finally {
      out.close()
      writer.dispose()
    }
  }

  /** K2: two-band gray TIFF (multiband) as a two-page tiled TIFF
    * ([[TiffWriter]]) — the analog of the reference's 2×GrayIndex-band
    * GTiff (`tiff.rs:34-78`).
    */
  def writeTiffMultiband(path: String, b1: Array[Int], b2: Array[Int],
                         w: Int, h: Int, u16: Boolean): Unit =
    TiffWriter.write(path, Seq(b1, b2), w, h, u16, Nil)

  // ------------------------------------------------------ K8: TIFF tags

  /** GeoTIFF/GDAL tag numbers used by the embed (public TIFF registry). */
  object TiffTags {
    val ModelPixelScale = 33550
    val ModelTiepoint = 33922
    val ModelTransformation = 34264
    val GeoKeyDirectory = 34735
    val GeoAsciiParams = 34737
    val GdalMetadata = 42112
  }

  /** K8: the tag set for one image
    * (`/root/reference/src/io/writers/metadata.rs:297-341` semantics):
    *  - geotransform → ModelPixelScale+ModelTiepoint (axis-aligned) or
    *    ModelTransformation (rotated), SKIPPED when gt is the identity
    *    `[0,1,0,0,0,1]`;
    *  - projection → GeoKeyDirectory + GeoAsciiParams citation, written
    *    ONLY if a (non-identity) geotransform was set;
    *  - metadata pairs → GDAL_METADATA XML items (tag 42112, the GDAL
    *    convention; needs a custom TIFFTag since it's not in the JDK's
    *    baseline/geo tag sets).
    */
  def tiffFields(gt: Option[Array[Double]], projection: Option[String],
                 fields: Seq[(String, String)]): Seq[javax.imageio.plugins.tiff.TIFFField] = {
    import javax.imageio.plugins.tiff.{GeoTIFFTagSet, TIFFField, TIFFTag}
    val geo = GeoTIFFTagSet.getInstance()
    def doubles(tagNum: Int, vs: Array[Double]) =
      new TIFFField(geo.getTag(tagNum), TIFFTag.TIFF_DOUBLE, vs.length, vs)
    val isIdentity = gt.exists(g =>
      g(0) == 0 && g(1) == 1 && g(2) == 0 && g(3) == 0 && g(4) == 0 && g(5) == 1)
    val geoGt = gt.filter(_ => !isIdentity)
    val gtFields = geoGt.toSeq.flatMap { g =>
      if (g(2) == 0 && g(4) == 0)
        Seq(
          doubles(TiffTags.ModelPixelScale, Array(g(1), -g(5), 0.0)),
          doubles(TiffTags.ModelTiepoint, Array(0.0, 0.0, 0.0, g(0), g(3), 0.0)))
      else
        // rotated affine: full 4×4 model transformation row-major
        Seq(doubles(TiffTags.ModelTransformation, Array(
          g(1), g(2), 0.0, g(0), g(4), g(5), 0.0, g(3),
          0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)))
    }
    // projection only rides along when a geotransform was embedded
    val projFields = projection.filter(_.nonEmpty).filter(_ => geoGt.nonEmpty).toSeq.flatMap { p =>
      val ascii = p + "|"
      // Self-describing GeoTIFF: for an EPSG:NNNN projection emit
      // GTModelTypeGeoKey (1024) plus the CRS code key — GeographicType
      // (2048) for EPSG:4326, ProjectedCSType (3072) otherwise (the
      // reference's auto-CRS only ever emits 4326/UTM/UPS, all of which
      // standard consumers recover from these two keys). The citation
      // (1026) stays as the fallback for non-EPSG strings.
      val epsg = {
        val up = p.trim.toUpperCase
        if (up.startsWith("EPSG:")) up.stripPrefix("EPSG:").toIntOption else None
      }
      // (keyId, tagLocation, count, value) — keyIds must be ascending.
      // EPSG 4000-4999 is the geographic-CRS code block (4326, 4269, 4258,
      // …) → GTModelType=Geographic + GeographicTypeGeoKey (2048); other
      // codes → GTModelType=Projected + ProjectedCSTypeGeoKey (3072);
      // classification of the block's projected/geocentric interlopers
      // is centralized in graft.meta.Epsg. Geocentric/3D codes fit NO 2D
      // GeoKey → citation-only. GeoKey values are unsigned shorts — a
      // code that doesn't fit in 16 bits can't be represented, so fall
      // back to the citation (1026) only rather than silently
      // truncating via toChar.
      val crsKeys: Seq[(Int, Int, Int, Int)] = epsg match {
        case Some(code) if code < 0 || code > 65535 => Nil
        case Some(code) if graft.meta.Epsg.isNonPlanar(code) => Nil
        case Some(code) if graft.meta.Epsg.isGeographic2D(code) =>
          Seq((1024, 0, 1, 2), (2048, 0, 1, code))
        case Some(code) => Seq((1024, 0, 1, 1), (3072, 0, 1, code))
        case None => Nil
      }
      val keys = (crsKeys :+ ((1026, TiffTags.GeoAsciiParams, ascii.length, 0)))
        .sortBy(_._1)
      val dirShorts = Array[Char](1, 1, 0, keys.length.toChar) ++
        keys.flatMap { case (id, loc, cnt, v) =>
          Array(id.toChar, loc.toChar, cnt.toChar, v.toChar)
        }
      Seq(
        new TIFFField(geo.getTag(TiffTags.GeoKeyDirectory), TIFFTag.TIFF_SHORT,
          dirShorts.length, dirShorts),
        new TIFFField(geo.getTag(TiffTags.GeoAsciiParams), TIFFTag.TIFF_ASCII, 1, Array(ascii)))
    }
    val mdFields = if (fields.isEmpty) Nil else {
      val items = fields.map { case (k, v) =>
        s"""  <Item name="${xmlEsc(k)}">${xmlEsc(v)}</Item>"""
      }.mkString("\n")
      val gdalTag = new TIFFTag("GDAL_METADATA", TiffTags.GdalMetadata, 1 << TIFFTag.TIFF_ASCII)
      Seq(new TIFFField(gdalTag, TIFFTag.TIFF_ASCII, 1,
        Array(s"<GDALMetadata>\n$items\n</GDALMetadata>")))
    }
    gtFields ++ projFields ++ mdFields
  }

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** K1+K8: gray TIFF with embedded geo/metadata tags, written from the
    * array by [[TiffWriter]]. A full-resolution `Engine.processToPath`
    * streams the same file from executor-encoded tiles instead.
    */
  def writeTiffGrayTagged(path: String, img: Array[Int], w: Int, h: Int, u16: Boolean,
                          gt: Option[Array[Double]], projection: Option[String],
                          fields: Seq[(String, String)]): Unit =
    TiffWriter.write(path, Seq(img), w, h, u16, tiffFields(gt, projection, fields))

  /** Read back TIFF tag values (for specs + downstream consumers):
    * tag number → flattened value strings.
    */
  def readTiffTags(path: String): Map[Int, Seq[String]] = {
    import javax.imageio.plugins.tiff.{TIFFDirectory, TIFFImageReadParam, TIFFTag}
    val iis = ImageIO.createImageInputStream(new File(path))
    try {
      val reader = ImageIO.getImageReaders(iis).next()
      try {
        reader.setInput(iis)
        // readUnknownTags: keep non-baseline tags (e.g. GDAL_METADATA)
        val param = new TIFFImageReadParam()
        param.setReadUnknownTags(true)
        val all = reader.readAll(0, param)
        val dir = TIFFDirectory.createFromMetadata(all.getMetadata)
        dir.getTIFFFields.map { f =>
          val vals = (0 until f.getCount).map { i =>
            f.getType match {
              case TIFFTag.TIFF_ASCII => f.getAsString(i)
              case TIFFTag.TIFF_DOUBLE | TIFFTag.TIFF_FLOAT |
                   TIFFTag.TIFF_RATIONAL | TIFFTag.TIFF_SRATIONAL =>
                f.getAsDouble(i).toString
              case _ => f.getAsLong(i).toString
            }
          }
          f.getTagNumber -> vals.toSeq
        }.toMap
      } finally reader.dispose()
    } finally iis.close()
  }

  /** K3: gray or RGB JPEG (quality via default writer ~ reference uses
    * q=100; ImageIO default is high-quality baseline).
    */
  def writeJpegGray(path: String, img: Array[Int], w: Int, h: Int): Unit =
    require(ImageIO.write(grayU8(img, w, h), "JPEG", new File(path)), s"no JPEG writer for $path")

  def writeJpegRgb(path: String, r: Array[Int], g: Array[Int], b: Array[Int], w: Int, h: Int): Unit =
    require(ImageIO.write(rgb(r, g, b, w, h), "JPEG", new File(path)), s"no JPEG writer for $path")

  /** In-memory encode (the to-buffer API path, E3). */
  def encode(format: String, bi: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(bi, format, bos), s"no $format writer")
    bos.toByteArray
  }

  def bufferGrayU8(img: Array[Int], w: Int, h: Int): BufferedImage = grayU8(img, w, h)
  def bufferGrayU16(img: Array[Int], w: Int, h: Int): BufferedImage = grayU16(img, w, h)
  def bufferRgb(r: Array[Int], g: Array[Int], b: Array[Int], w: Int, h: Int): BufferedImage =
    rgb(r, g, b, w, h)

  // -------------------------------------------------------------- sidecars

  /** K4: world file — affine in PIXEL-CENTER convention
    * (`worldfile.rs:7-54`): A,D,B,E then C = gt0+0.5A+0.5B,
    * F = gt3+0.5D+0.5E; extension by image type (.jgw/.tfw/.wld).
    */
  def writeWorldFile(imagePath: String, gt: Array[Double]): String = {
    val ext = imagePath.split('.').lastOption.map(_.toLowerCase).getOrElse("")
    val worldExt = ext match {
      case "jpg" | "jpeg" => "jgw"
      case "png" => "pgw"
      case "tif" | "tiff" => "tfw"
      case e if e.nonEmpty => e.head.toString + "w"
      case _ => "wld"
    }
    val a = gt(1); val d = gt(4); val b = gt(2); val e = gt(5)
    val c = gt(0) + 0.5 * a + 0.5 * b
    val f = gt(3) + 0.5 * d + 0.5 * e
    val p = replaceExt(imagePath, worldExt)
    val body = Seq(a, d, b, e, c, f).map(v => f"$v%.12f").mkString("", "\n", "\n")
    Files.writeString(Paths.get(p), body)
    p
  }

  /** K5: .prj sidecar (raw WKT/EPSG). */
  def writePrj(imagePath: String, projection: String): String = {
    val p = replaceExt(imagePath, "prj")
    Files.writeString(Paths.get(p), projection)
    p
  }

  private def replaceExt(path: String, ext: String): String = {
    val i = path.lastIndexOf('.')
    (if (i < 0) path else path.substring(0, i)) + "." + ext
  }

  // ---------------------------------------------------------- JSON sidecar

  /** K6: metadata key/value extraction (subset of
    * `metadata.rs:20-229`): field pairs incl. the operation-rewritten
    * POLARIZATIONS label.
    */
  def metadataFields(meta: SafeMeta, polarizationLabel: String): Seq[(String, String)] = {
    def opt[A](k: String, v: Option[A]): Seq[(String, String)] =
      v.map(x => k -> x.toString).toSeq
    opt("PLATFORM", meta.platform) ++
      opt("INSTRUMENT", meta.instrument) ++
      opt("ACQUISITION_START", meta.acquisitionStart) ++
      opt("ACQUISITION_STOP", meta.acquisitionStop) ++
      opt("ORBIT_NUMBER", meta.orbitNumber) ++
      opt("PASS_DIRECTION", meta.passDirection) ++
      opt("PRODUCT_TYPE", meta.productType) ++
      Seq("POLARIZATIONS" -> polarizationLabel) ++
      opt("PRF", meta.prf) ++
      opt("RADAR_FREQUENCY", meta.radarFrequency) ++
      opt("RANGE_PIXEL_SPACING", meta.rangePixelSpacing) ++
      opt("AZIMUTH_PIXEL_SPACING", meta.azimuthPixelSpacing) ++
      opt("VELOCITY", meta.velocity) ++
      opt("SLANT_RANGE_NEAR", meta.slantRangeNear) ++
      opt("LINES", meta.lines) ++
      opt("SAMPLES", meta.samples)
  }

  /** K7: JSON sidecar — lowercase keys, numeric-string → JSON number
    * inference, geotransform as array, crs string
    * (`metadata.rs:232-294`).
    */
  def sidecarJson(fields: Seq[(String, String)], gt: Option[Array[Double]],
                  crs: Option[String], extras: Seq[(String, String)] = Nil): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def render(v: String): String =
      v.toDoubleOption match {
        case Some(d) if !d.isNaN && !d.isInfinity => {
          // integers render without decimal point, like serde_json
          if (d == math.rint(d) && math.abs(d) < 1e15 && !v.contains('.') && !v.toLowerCase.contains('e'))
            d.toLong.toString
          else d.toString
        }
        case _ => "\"" + esc(v) + "\""
      }
    val base = fields.map { case (k, v) => "\"" + esc(k.toLowerCase) + "\": " + render(v) }
    val gtPart = gt.map(g => "\"geotransform\": [" + g.mkString(", ") + "]").toSeq
    val crsPart = crs.filter(_.nonEmpty).map(c => "\"crs\": \"" + esc(c) + "\"").toSeq
    val extraPart = extras.map { case (k, v) => "\"" + esc(k.toLowerCase) + "\": \"" + esc(v) + "\"" }
    (base ++ gtPart ++ crsPart ++ extraPart).mkString("{\n  ", ",\n  ", "\n}")
  }

  def writeSidecar(imagePath: String, json: String): String = {
    val p = imagePath + ".json"
    Files.writeString(Paths.get(p), json)
    p
  }
}
