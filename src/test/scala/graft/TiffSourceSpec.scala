package graft

import java.nio.file.Files

import graft.sink.Sinks
import graft.sources.{RasterSource, TiffSource}

/** Round-trip specs for the real TIFF read path (S4/S5), the S3 file
  * discovery semantics, and the K8 tag embed: everything written by the
  * sinks must come back pixel-exact / tag-exact through the source.
  */
class TiffSourceSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft-tiff").toString

  private def ramp(w: Int, h: Int, maxVal: Int): Array[Int] =
    Array.tabulate(h * w)(i => (i * 37) % (maxVal + 1))

  test("u8 gray TIFF round-trips pixel-exact through the tiled scan") {
    val dir = tmpDir
    val (w, h) = (300, 200)
    val img = ramp(w, h, 255)
    val path = s"$dir/band_vv.tiff"
    Sinks.writeTiffGrayLayout(path, img, w, h, u16 = false, null, 0)
    val tiles = TiffSource.scan(spark, path, "vv", tileSize = 128).collect()
    assert(tiles.map(t => t.h.toLong * t.w).sum == h.toLong * w)
    assert(tiles.forall(_.product_id == "band_vv"))
    tiles.foreach { t =>
      for (y <- 0 until t.h; x <- 0 until t.w) {
        val gy = t.tile_row * 128 + y
        val gx = t.tile_col * 128 + x
        assert(t.pixels(y * t.w + x) == img(gy * w + gx).toFloat,
          s"pixel mismatch at ($gy,$gx)")
      }
    }
  }

  test("u16 gray TIFF round-trips full 16-bit values") {
    val dir = tmpDir
    val (w, h) = (64, 48)
    val img = ramp(w, h, 65535)
    val path = s"$dir/band_vh.tif"
    Sinks.writeTiffGrayLayout(path, img, w, h, u16 = true, null, 0)
    val (dh, dw, px) = TiffSource.decode(Files.readAllBytes(java.nio.file.Paths.get(path)), 1, 0)
    assert((dh, dw) == (h, w))
    for (i <- img.indices) assert(px(i) == img(i).toFloat)
  }

  test("decode-time decimation picks source pixel (y*d, x*d)") {
    val dir = tmpDir
    val (w, h) = (101, 67) // odd dims exercise the ceil edges
    val img = ramp(w, h, 255)
    val path = s"$dir/d.tiff"
    Sinks.writeTiffGrayLayout(path, img, w, h, u16 = false, null, 0)
    val d = 3
    val (dh, dw, px) = TiffSource.decode(Files.readAllBytes(java.nio.file.Paths.get(path)), d, 0)
    assert(dh == (h + d - 1) / d && dw == (w + d - 1) / d)
    for (y <- 0 until dh; x <- 0 until dw)
      assert(px(y * dw + x) == img(y * d * w + x * d).toFloat,
        s"decimated pixel ($y,$x) must read source (${y * d},${x * d})")
  }

  test("multi-page multiband TIFF: page selects the band") {
    val dir = tmpDir
    val (w, h) = (40, 30)
    val b1 = ramp(w, h, 255)
    val b2 = b1.map(v => 255 - v)
    val path = s"$dir/mb.tiff"
    Sinks.writeTiffMultiband(path, b1, b2, w, h, u16 = false)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
    val (_, _, p0) = TiffSource.decode(bytes, 1, 0)
    val (_, _, p1) = TiffSource.decode(bytes, 1, 1)
    for (i <- b1.indices) {
      assert(p0(i) == b1(i).toFloat)
      assert(p1(i) == b2(i).toFloat)
    }
  }

  test("tiled and compressed TIFF layouts decode pixel-exact (S1 real-product shapes)") {
    // Sentinel-1 measurement rasters are tiled/compressed GeoTIFFs — the
    // decode path must not assume baseline strips
    val (w, h) = (300, 200) // not a tile multiple: exercises partial tiles
    val img = ramp(w, h, 65535)
    for ((comp, tile) <- Seq(("Deflate", 0), ("LZW", 0), ("PackBits", 0),
                             (null, 64), ("Deflate", 64), ("LZW", 128))) {
      val dir = tmpDir
      val path = s"$dir/layout.tiff"
      Sinks.writeTiffGrayLayout(path, img, w, h, u16 = true, comp, tile)
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
      val (dh, dw, px) = TiffSource.decode(bytes, 1, 0)
      assert((dh, dw) == (h, w), s"dims under comp=$comp tile=$tile")
      for (i <- img.indices)
        assert(px(i) == img(i).toFloat, s"pixel $i under comp=$comp tile=$tile")
      // decimation pushdown must hold on non-baseline layouts too
      val (sh2, sw2, px2) = TiffSource.decode(bytes, 3, 0)
      assert(sh2 == (h + 2) / 3 && sw2 == (w + 2) / 3)
      for (y <- 0 until sh2; x <- 0 until sw2)
        assert(px2(y * sw2 + x) == img(y * 3 * w + x * 3).toFloat,
          s"decimated pixel ($y,$x) under comp=$comp tile=$tile")
    }
  }

  test("engine pipeline runs end-to-end on a TiffSource scan") {
    // write a synthetic band as a real file, re-open through the real
    // source, and push it through the tile stats + quantize kernels
    val dir = tmpDir
    val (w, h) = (512, 384)
    val img = Array.tabulate(h * w) { i =>
      (RasterSource.syntheticValue("vv", i / w, i % w) * 1000).toInt.min(65535)
    }
    val path = s"$dir/s1a_test_vv_0001.tiff"
    Sinks.writeTiffGrayLayout(path, img, w, h, u16 = true, null, 0)
    val tiles = TiffSource.scan(spark, path, "vv")
    import graft.api.Engine
    val st = Engine.tileStats(Engine.toDbTiles(tiles))
    assert(st.n == h.toLong * w)
    assert(st.max > st.min)
  }

  // ------------------------------------------------------- S3 discovery

  test("polarization discovery classifies, skips _warped, falls back to metadata") {
    val dir = tmpDir
    val (w, h) = (8, 8)
    val img = ramp(w, h, 255)
    Sinks.writeTiffGrayLayout(s"$dir/s1a-iw-grd-vv-0001.tiff", img, w, h, u16 = false, null, 0)
    Sinks.writeTiffGrayLayout(s"$dir/s1a-iw-grd-vh-0001.tiff", img, w, h, u16 = false, null, 0)
    Sinks.writeTiffGrayLayout(s"$dir/s1a-iw-grd-vv-0001_warped.tiff", img, w, h, u16 = false, null, 0)
    Sinks.writeTiffGrayLayout(s"$dir/notes.txt.bak", img, w, h, u16 = false, null, 0) // non-tif ignored
    val pf = TiffSource.identifyPolarizationFiles(dir)
    assert(pf.vv.exists(p => p.endsWith("vv-0001.tiff") && !p.contains("_warped")))
    assert(pf.vh.exists(_.endsWith("vh-0001.tiff")))
    assert(pf.hh.isEmpty && pf.hv.isEmpty)

    // unlabeled single file + declared polarization → metadata fallback
    val dir2 = tmpDir
    Sinks.writeTiffGrayLayout(s"$dir2/measurement-0001.tiff", img, w, h, u16 = false, null, 0)
    val pf2 = TiffSource.identifyPolarizationFiles(dir2, declaredPols = Seq("HH"))
    assert(pf2.hh.exists(_.endsWith("measurement-0001.tiff")))
    assert(pf2.vv.isEmpty)

    // fallback iterates ALL declared polarizations: an unknown lead entry
    // must not mask a recognized one later in the list
    val pf3 = TiffSource.identifyPolarizationFiles(dir2, declaredPols = Seq("XX", "VV"))
    assert(pf3.vv.exists(_.endsWith("measurement-0001.tiff")))
    assert(pf3.hh.isEmpty && pf3.vh.isEmpty && pf3.hv.isEmpty)
  }

  test("openProduct dispatches the polarization hint over discovered files") {
    val dir = tmpDir
    val (w, h) = (16, 16)
    val img = ramp(w, h, 255)
    Sinks.writeTiffGrayLayout(s"$dir/p-vv.tiff", img, w, h, u16 = false, null, 0)
    Sinks.writeTiffGrayLayout(s"$dir/p-vh.tiff", img, w, h, u16 = false, null, 0)
    val bands = TiffSource.openProduct(spark, dir, "multiband")
    assert(bands.keySet == Set("vv", "vh"))
    assert(bands("vv").collect().map(t => t.h.toLong * t.w).sum == h.toLong * w)
    val e = intercept[graft.model.GraftException.IncompleteDataPair] {
      TiffSource.openProduct(spark, dir, "hh_hv_pair")
    }
    // message template matches the reference's thiserror format
    assert(e.getMessage ==
      "No complete polarization data available for operation: hh_hv_pair. Available: vv, vh")
  }

  // ------------------------------------------------------------ K8 tags

  /** Parse a GeoKeyDirectory short vector into keyId -> value (inline
    * SHORT values only, i.e. tagLocation == 0).
    */
  private def geoKeys(dir: Seq[String]): Map[Int, Int] =
    dir.map(_.toInt).drop(4).grouped(4).collect {
      case Seq(id, 0, 1, v) => id -> v
    }.toMap

  test("K8: geo + metadata tags embed and read back") {
    val dir = tmpDir
    val (w, h) = (10, 10)
    val gt = Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0)
    val path = s"$dir/tagged.tiff"
    Sinks.writeTiffGrayTagged(path, ramp(w, h, 255), w, h, u16 = false,
      Some(gt), Some("EPSG:32633"), Seq("PLATFORM" -> "S1A", "ORBIT_NUMBER" -> "42"))
    val tags = Sinks.readTiffTags(path)
    assert(tags(Sinks.TiffTags.ModelPixelScale).map(_.toDouble) == Seq(10.0, 10.0, 0.0))
    assert(tags(Sinks.TiffTags.ModelTiepoint).map(_.toDouble) ==
      Seq(0.0, 0.0, 0.0, 500000.0, 4100000.0, 0.0))
    assert(tags(Sinks.TiffTags.GeoAsciiParams).exists(_.contains("EPSG:32633")))
    // self-describing CRS: header says 3 keys (GTModelType + citation +
    // ProjectedCSType), and the model-type/code entries round-trip
    val keys = geoKeys(tags(Sinks.TiffTags.GeoKeyDirectory))
    assert(tags(Sinks.TiffTags.GeoKeyDirectory).take(4).map(_.toInt) == Seq(1, 1, 0, 3))
    assert(keys(1024) == 1, "GTModelTypeGeoKey must be Projected for EPSG:32633")
    assert(keys(3072) == 32633, "ProjectedCSTypeGeoKey must carry the EPSG code")
    val md = tags(Sinks.TiffTags.GdalMetadata).mkString
    assert(md.contains("""name="PLATFORM""""), md)
    assert(md.contains("S1A") && md.contains("42"))
    // pixels still intact under the tagged writer
    val (dh, dw, _) = TiffSource.decode(Files.readAllBytes(java.nio.file.Paths.get(path)), 1, 0)
    assert((dh, dw) == (h, w))
  }

  test("K8: geographic CRS block and oversize codes classified correctly") {
    val dir = tmpDir
    val (w, h) = (6, 6)
    val gt = Array(10.0, 0.01, 0.0, 50.0, 0.0, -0.01)
    def keysFor(proj: String, name: String): (Seq[String], Map[Int, Int]) = {
      val p = s"$dir/$name.tiff"
      Sinks.writeTiffGrayTagged(p, ramp(w, h, 255), w, h, u16 = false, Some(gt), Some(proj), Nil)
      val t = Sinks.readTiffTags(p)
      (t(Sinks.TiffTags.GeoKeyDirectory), geoKeys(t(Sinks.TiffTags.GeoKeyDirectory)))
    }
    // EPSG:4326 and any 4000-4999 code → geographic model + GeographicType
    val (_, k4326) = keysFor("EPSG:4326", "g4326")
    assert(k4326(1024) == 2 && k4326(2048) == 4326)
    val (_, k4269) = keysFor("EPSG:4269", "g4269")
    assert(k4269(1024) == 2 && k4269(2048) == 4269)
    // projected code outside the geographic block
    val (_, k32633) = keysFor("EPSG:32633", "p32633")
    assert(k32633(1024) == 1 && k32633(3072) == 32633)
    // a code that can't fit in an unsigned short: citation-only, no
    // truncated CRS keys
    val (raw, kBig) = keysFor("EPSG:104903", "big")
    assert(raw.take(4).map(_.toInt) == Seq(1, 1, 0, 1), "citation key only")
    assert(!kBig.contains(1024) && !kBig.contains(3072) && !kBig.contains(2048))
    // interlopers inside the 4000-4999 block: 4087 is PROJECTED (World
    // Equidistant Cylindrical), 4978 is geocentric (neither 2D model)
    val (_, k4087) = keysFor("EPSG:4087", "p4087")
    assert(k4087(1024) == 1 && k4087(3072) == 4087,
      "EPSG:4087 is projected despite its code block")
    val (raw4978, k4978) = keysFor("EPSG:4978", "g4978")
    assert(raw4978.take(4).map(_.toInt) == Seq(1, 1, 0, 1), "citation only")
    assert(!k4978.contains(1024) && !k4978.contains(2048) && !k4978.contains(3072))
  }

  test("K8: identity geotransform skipped; projection only rides with a gt") {
    val dir = tmpDir
    val identity = Array(0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    val p1 = s"$dir/id.tiff"
    Sinks.writeTiffGrayTagged(p1, ramp(4, 4, 255), 4, 4, u16 = false,
      Some(identity), Some("EPSG:4326"), Nil)
    val t1 = Sinks.readTiffTags(p1)
    assert(!t1.contains(Sinks.TiffTags.ModelPixelScale), "identity gt must be skipped")
    assert(!t1.contains(Sinks.TiffTags.GeoAsciiParams), "projection requires a non-identity gt")

    val p2 = s"$dir/nogt.tiff"
    Sinks.writeTiffGrayTagged(p2, ramp(4, 4, 255), 4, 4, u16 = false,
      None, Some("EPSG:4326"), Seq("K" -> "V"))
    val t2 = Sinks.readTiffTags(p2)
    assert(!t2.contains(Sinks.TiffTags.GeoAsciiParams))
    assert(t2(Sinks.TiffTags.GdalMetadata).mkString.contains("K"))
  }
}
