package graft

import java.nio.file.{Files, Paths}

import graft.api.Engine
import graft.geom.Geom
import graft.meta.SafeMeta
import graft.model._
import graft.sink.Sinks
import graft.sources.RasterSource

/** End-to-end engine specs: synthetic raster → full pipeline → real
  * image files + sidecars, plus the pure geometry/metadata functions.
  */
class EngineSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("graft-test").toString

  test("resizeDims: long side to target, proportional short side, no upscale") {
    assert(Geom.resizeDims(1000, 500, 500) == (500, 250))
    assert(Geom.resizeDims(500, 1000, 500) == (250, 500))
    assert(Geom.resizeDims(100, 50, 2048) == (100, 50), "no-op when target > long side")
    assert(Geom.resizeDims(1000, 333, 100) == (100, 33))
  }

  test("padToSquare centers with zero border") {
    val (out, dim, padLeft, padTop) = Geom.padToSquare(Array(1, 2, 3, 4, 5, 6), 3, 2)
    assert(dim == 3 && padLeft == 0 && padTop == 0)
    assert(out.take(3).toSeq == Seq(1, 2, 3))
    assert(out.slice(6, 9).toSeq == Seq(0, 0, 0), "pad row is zeros")
  }

  test("lanczos resize preserves constant images") {
    val src = Array.fill(64 * 64)(100)
    val out = Geom.resizeLanczos(src, 64, 64, 16, 16, 255)
    assert(out.length == 256)
    assert(out.forall(v => math.abs(v - 100) <= 1), s"got ${out.distinct.toSeq}")
  }

  test("lonlatToEpsg: zones, hemispheres, and exceptions") {
    assert(SafeMeta.lonlatToEpsg(0.5, 45.0) == "EPSG:32631")
    assert(SafeMeta.lonlatToEpsg(0.5, -45.0) == "EPSG:32731")
    assert(SafeMeta.lonlatToEpsg(-180.0, 10.0) == "EPSG:32601")
    assert(SafeMeta.lonlatToEpsg(179.9, 10.0) == "EPSG:32660")
    assert(SafeMeta.lonlatToEpsg(10.0, 85.0) == "EPSG:32661", "north UPS")
    assert(SafeMeta.lonlatToEpsg(10.0, -81.0) == "EPSG:32761", "south UPS")
    assert(SafeMeta.lonlatToEpsg(6.0, 60.0) == "EPSG:32632", "Norway exception")
    assert(SafeMeta.lonlatToEpsg(10.0, 75.0) == "EPSG:32633", "Svalbard band")
    assert(SafeMeta.lonlatToEpsg(200.0, 10.0) == SafeMeta.lonlatToEpsg(-160.0, 10.0), "lon wrap")
  }

  test("manifest XML parse extracts platform and polarisations") {
    val xml = """<manifest>
      <platform><familyName>SENTINEL-1</familyName><number>A</number></platform>
      <startTime>2024-01-01T00:00:00Z</startTime>
      <stopTime>2024-01-01T00:00:25Z</stopTime>
      <orbitNumber>12345</orbitNumber>
      <pass>ASCENDING</pass>
      <productType>GRD</productType>
      <transmitterReceiverPolarisation>VV</transmitterReceiverPolarisation>
      <transmitterReceiverPolarisation>VH</transmitterReceiverPolarisation>
    </manifest>"""
    val m = SafeMeta.parseManifest(xml)
    assert(m.platform.contains("SENTINEL-1A"))
    assert(m.orbitNumber.contains(12345L))
    assert(m.passDirection.contains("ASCENDING"))
    assert(m.productType.contains("GRD"))
    assert(m.polarizations == Seq("VV", "VH"))
  }

  test("annotation XML derives velocity and slant range") {
    val xml = """<product>
      <prf>1717.13</prf>
      <radarFrequency>5405000454.33435</radarFrequency>
      <numberOfLines>16709</numberOfLines>
      <numberOfSamples>25976</numberOfSamples>
      <slantRangeTime>5.3e-3</slantRangeTime>
      <orbit><velocity><vx>3.0</vx><vy>4.0</vy><vz>0.0</vz></velocity></orbit>
    </product>"""
    val m = SafeMeta.parseAnnotation(xml)
    assert(m.prf.contains(1717.13))
    assert(m.velocity.contains(5.0), "mid state vector norm")
    assert(m.slantRangeNear.contains(5.3e-3 * 299792458.0 / 2.0))
    assert(m.lines.contains(16709) && m.samples.contains(25976))
  }

  test("world file uses pixel-center convention") {
    val dir = tmpDir
    val img = s"$dir/x.tiff"
    val p = Sinks.writeWorldFile(img, Array(100.0, 10.0, 0.0, 200.0, 0.0, -10.0))
    assert(p.endsWith(".tfw"))
    val lines = Files.readAllLines(Paths.get(p))
    assert(lines.get(0).toDouble == 10.0)
    assert(lines.get(4).toDouble == 105.0, "C = gt0 + 0.5*A")
    assert(lines.get(5).toDouble == 195.0, "F = gt3 + 0.5*E")
  }

  test("sidecar JSON infers numbers and lowercases keys") {
    val json = Sinks.sidecarJson(
      Seq("PLATFORM" -> "SENTINEL-1A", "ORBIT_NUMBER" -> "12345", "PRF" -> "1717.13"),
      Some(Array(1.0, 2.0, 0.0, 3.0, 0.0, -2.0)), Some("EPSG:32633"))
    assert(json.contains("\"platform\": \"SENTINEL-1A\""))
    assert(json.contains("\"orbit_number\": 12345"))
    assert(json.contains("\"prf\": 1717.13"))
    assert(json.contains("\"geotransform\": [1.0, 2.0, 0.0, 3.0, 0.0, -2.0]"))
    assert(json.contains("\"crs\": \"EPSG:32633\""))
  }

  test("distributed Lanczos resize is bit-identical to the driver-side resize") {
    import spark.implicits._
    // odd dims exercise edge tiles + windows; exact-tile dims the clean
    // path; tall/near-unit scales the vertical halo ranges
    for ((w, h, target) <- Seq((613, 487, 200), (512, 256, 100),
                               (100, 700, 333), (300, 200, 299))) {
      val (dw, dh) = Geom.resizeDims(w, h, target)
      val src = Array.tabulate(h * w)(i => (i * 2654435761L % 256).toInt)
      // driver path
      val want = Geom.resizeLanczos(src, w, h, dw, dh, 255)
      // distributed path: same pixels as QTiles
      val ts = 256
      val tiles = (for {
        tr <- 0 until (h + ts - 1) / ts
        tc <- 0 until (w + ts - 1) / ts
      } yield {
        val th = math.min(ts, h - tr * ts); val tw = math.min(ts, w - tc * ts)
        val q = Array.tabulate(th * tw)(i =>
          src((tr * ts + i / tw) * w + tc * ts + i % tw))
        graft.api.QTile(tr, tc, th, tw, q)
      }).toDS()
      val got = Engine.assembleTiles(
        Engine.resizeTilesLanczos(tiles, h, w, dh, dw, 255), dh, dw)
      assert(got.length == want.length, s"case ($w,$h,$target)")
      val mismatch = got.indices.find(i => got(i) != want(i))
      assert(mismatch.isEmpty, mismatch.map(i =>
        s"case ($w,$h,$target): first mismatch at $i: ${got(i)} vs ${want(i)}").getOrElse(""))
    }
  }

  test("native-res pipeline collects only target-size buffers (8192² → 1024)") {
    val img = Engine.processBand(spark, "big", "vv", 8192, 8192,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard, targetSize = Some(1024)))
    assert(img.width == 1024 && img.height == 1024)
    assert(img.gray.exists(_.length == 1024 * 1024),
      "driver-held buffer must be target-size, not source-size")
    assert(img.gray.exists(g => g.max > g.min), "image must be non-degenerate")
  }

  test("S8: processToPath skips a warp to the source CRS, raises outside the native family") {
    val dir = tmpDir
    val meta = SafeMeta(crs = Some("EPSG:32633"),
      geotransform = Some(Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0)))
    // already in the target CRS: the skip guard lets the pipeline run
    Engine.processToPath(spark, "w1", 64, 64, s"$dir/ok.tiff",
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("EPSG:32633")), meta)
    assert(Files.exists(Paths.get(s"$dir/ok.tiff")))
    // a CRS outside the Proj family (web mercator) is unsupported here
    // and must say so with the exact gdalwarp invocation
    val e = intercept[graft.model.GraftException.External] {
      Engine.processToPath(spark, "w2", 64, 64, s"$dir/no.tiff",
        ProcessingParams(autoscale = AutoscaleStrategy.Standard,
          targetCrs = Some("EPSG:3857")), meta)
    }
    assert(e.getMessage.contains("gdalwarp") && e.getMessage.contains("-t_srs EPSG:3857"))
    // targetCrs "none" disables entirely
    Engine.processToPath(spark, "w3", 64, 64, s"$dir/none.tiff",
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("none")), meta)
    assert(Files.exists(Paths.get(s"$dir/none.tiff")))
  }

  test("S8: native warp E2E — UTM→UTM path API updates image, geotransform, and .prj") {
    val dir = tmpDir
    val gt = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    val meta = SafeMeta(crs = Some("EPSG:32632"), geotransform = Some(gt))
    val plan = graft.geom.Warp.nativePlan(
      Some("EPSG:32632"), "EPSG:32633", Some(gt), 128, 128).get
    Engine.processToPath(spark, "nw1", 128, 128, s"$dir/warped.tiff",
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("EPSG:32633")), meta)
    assert(Files.exists(Paths.get(s"$dir/warped.tiff")))
    // sidecar CRS follows the warp (`sentinel1.rs:1066-1068`)
    val prj = new String(Files.readAllBytes(Paths.get(s"$dir/warped.prj")))
    assert(prj.contains("EPSG:32633"), prj)
    // world file carries the WARPED grid origin (pixel-center convention)
    val wld = new String(Files.readAllBytes(Paths.get(s"$dir/warped.tfw"))).split("\n")
    assert(math.abs(wld(4).trim.toDouble - (plan.dstGt(0) + 0.5 * plan.dstGt(1))) < 1e-3)
    // buffer API: same plan, warped dims, non-degenerate image
    val img = Engine.processToBuffer(spark, "nw1", 128, 128,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("EPSG:32633")), meta)
    assert(img.width == plan.dstCols && img.height == plan.dstRows)
    assert(img.gray.exists(g => g.max > g.min), "warped image must be non-degenerate")
  }

  test("S8: polar scene + auto resolves to UPS and warps natively") {
    // scene center ~ (40.3°E, 85.8°N) → S9's polar branch → EPSG:32661,
    // exercising the Ups projection inside the distributed resample
    val gt = Array(40.0, 0.02, 0.0, 86.0, 0.0, -0.01)
    val meta = SafeMeta(crs = Some("EPSG:4326"), geotransform = Some(gt))
    val plan = graft.geom.Warp.nativePlan(
      Some("EPSG:4326"), "EPSG:32661", Some(gt), 32, 32).get
    val img = Engine.processToBuffer(spark, "ups1", 32, 32,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("auto")), meta)
    assert(img.width == plan.dstCols && img.height == plan.dstRows,
      s"UPS warp dims ${img.width}×${img.height} vs plan ${plan.dstCols}×${plan.dstRows}")
    assert(img.gray.exists(g => g.max > g.min))
  }

  test("S8: loadPolarization with open options returns tiles on the warped grid") {
    val gt = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    val meta = SafeMeta(crs = Some("EPSG:32632"), geotransform = Some(gt))
    val plan = graft.geom.Warp.nativePlan(
      Some("EPSG:32632"), "EPSG:32633", Some(gt), 96, 96).get
    val tiles = Engine.loadPolarization(spark, "lp1", "vv", 96, 96,
      ProcessingParams(targetCrs = Some("EPSG:32633")), meta, 1).collect()
    assert(tiles.nonEmpty)
    val maxRow = tiles.map(t => t.tile_row * 256 + t.h).max
    val maxCol = tiles.map(t => t.tile_col * 256 + t.w).max
    assert(maxRow == plan.dstRows && maxCol == plan.dstCols,
      s"warped tile grid must cover ${plan.dstRows}×${plan.dstCols}, got $maxRow×$maxCol")
    // and without a target CRS the raw grid comes back unchanged
    val raw = Engine.loadPolarization(spark, "lp1", "vv", 96, 96,
      ProcessingParams(), meta, 1).collect()
    assert(raw.map(t => t.tile_row * 256 + t.h).max == 96)
  }

  test("S8: auto target CRS only trusts a geographic scene center") {
    // projected source: geotransform coords are meters, NOT lon/lat —
    // auto must resolve to no warp rather than a garbage UPS zone
    val projMeta = SafeMeta(crs = Some("EPSG:32633"),
      geotransform = Some(Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0)))
    val img = Engine.processToBuffer(spark, "wa1", 32, 32,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("auto")), projMeta)
    assert(img.width == 32, "projected source + auto: no warp, pipeline runs")
    // geographic source: center (10.16, 49.84) → UTM 32N — a real warp,
    // executed NATIVELY (4326 and 32632 are both in the Proj family)
    val geoGt = Array(10.0, 0.01, 0.0, 50.0, 0.0, -0.01)
    val geoMeta = SafeMeta(crs = Some("EPSG:4326"), geotransform = Some(geoGt))
    val plan = graft.geom.Warp.nativePlan(
      Some("EPSG:4326"), "EPSG:32632", Some(geoGt), 32, 32).get
    val warped = Engine.processToBuffer(spark, "wa2", 32, 32,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("auto")), geoMeta)
    assert(warped.width == plan.dstCols && warped.height == plan.dstRows,
      s"native 4326→UTM warp dims: ${warped.width}×${warped.height}")
    assert(warped.gray.exists(g => g.max > g.min))
    // ABSENT source CRS with a lon/lat-range geotransform: the
    // unprojected-GRD case real Sentinel-1 products hit — reads as
    // EPSG:4326 (Warp.impliedSrcEpsg) and warps NATIVELY, producing the
    // same output grid as the explicit-4326 source above
    val noCrsMeta = SafeMeta(
      geotransform = Some(Array(10.0, 0.01, 0.0, 50.0, 0.0, -0.01)))
    val warpedNoCrs = Engine.processToBuffer(spark, "wa3", 32, 32,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("auto")), noCrsMeta)
    assert(warpedNoCrs.width == plan.dstCols && warpedNoCrs.height == plan.dstRows,
      s"unprojected native warp dims: ${warpedNoCrs.width}×${warpedNoCrs.height}")
    assert(warpedNoCrs.gray.exists(g => g.max > g.min))
    // absent-CRS source targeting its own implied CRS: skip guard, no warp
    val identity = Engine.processToBuffer(spark, "wa5", 32, 32,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetCrs = Some("EPSG:4326")), noCrsMeta)
    assert(identity.width == 32, "implied-4326 → 4326: direct read, no warp")
    // blank CRS whose geotransform is NOT lon/lat-plausible (meters):
    // the true GCP-grid/TPS leg keeps the honest gdalwarp raise
    val gcpMeta = SafeMeta(
      geotransform = Some(Array(500000.0, 10.0, 0.0, 4100000.0, 0.0, -10.0)))
    val e2 = intercept[graft.model.GraftException.External] {
      Engine.processToBuffer(spark, "wa4", 32, 32,
        ProcessingParams(autoscale = AutoscaleStrategy.Standard,
          targetCrs = Some("EPSG:32632")), gcpMeta)
    }
    assert(e2.getMessage.contains("-t_srs EPSG:32632") &&
      e2.getMessage.contains("-tps"), e2.getMessage)
  }

  /** The per-pixel synRGB compose the lookup tables replace, kept as the
    * reference: default compose, then the suppressed one with its floor.
    */
  private def synRgbByFormula(b1: Array[Int], b2: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
    val lutR = Array.tabulate(256)(v =>
      math.min(255, math.max(0, math.round(math.pow(v / 255.0, 0.7) * 255.0))).toInt)
    val lutG = Array.tabulate(256)(v =>
      math.min(255, math.max(0, math.round(math.pow(v / 255.0, 0.9) * 255.0))).toInt)
    val r = b1.map(v => lutR(v & 0xff)); val g = b2.map(v => lutG(v & 0xff))
    val b = b2.indices.map { i =>
      if (b2(i) == 0) 0
      else {
        val ratio = r(i).toDouble / g(i).toDouble
        val v = math.pow(ratio, 0.1) * 255.0 * 0.24
        math.round(math.min(255.0, math.max(0.0, v))).toInt
      }
    }.toArray
    (r, g, b)
  }

  private def suppressedByFormula(b1: Array[Int], b2: Array[Int])
      : ((Array[Int], Array[Int], Array[Int]), Int) = {
    val hist = new Array[Long](256)
    b1.foreach(v => hist(v & 0xff) += 1)
    b2.foreach(v => hist(v & 0xff) += 1)
    val target = math.round((b1.length + b2.length).toDouble * 0.05)
    val floorValue = hist.scanLeft(0L)(_ + _).tail.indexWhere(_ >= target) max 0
    val floorC = math.min(floorValue + 3, 40)
    val floorD = floorC.toDouble
    val denom = math.max(255.0 - floorD, 1.0)
    def chan(v: Int, gamma: Double): Int =
      if (v <= floorC) 0
      else {
        val shifted = (v - floorD) / denom
        math.round(math.min(math.max(math.pow(shifted, gamma) * 255.0, 0.0), 255.0)).toInt
      }
    val px = b1.indices.map { i =>
      val v1 = b1(i) & 0xff; val v2 = b2(i) & 0xff
      if (v1 <= floorC && v2 <= floorC) (0, 0, 0)
      else {
        val rr = chan(v1, 1.15); val gg = chan(v2, 1.10)
        val ratio = (rr + 8.0) / (gg + 8.0)
        (rr, gg, math.round(math.min(math.max(
          math.pow(ratio, 0.1) * 255.0 * 0.18, 0.0), 255.0)).toInt)
      }
    }
    ((px.map(_._1).toArray, px.map(_._2).toArray, px.map(_._3).toArray), floorC)
  }

  test("synRGB compose by lookup table equals the per-pixel formula on every (v1, v2)") {
    val v1 = Array.tabulate(65536)(_ >>> 8); val v2 = Array.tabulate(65536)(_ & 0xff)
    def same(a: (Array[Int], Array[Int], Array[Int]), b: (Array[Int], Array[Int], Array[Int])) =
      a._1.sameElements(b._1) && a._2.sameElements(b._2) && a._3.sameElements(b._3)
    assert(same(Engine.composeSynRgb(v1, v2), synRgbByFormula(v1, v2)), "default compose")
    // every pair once, plus `pad` pixels at value f in both bands, which
    // moves the combined p05 — and so the suppression floor — to f
    for ((f, pad, floorC) <- Seq((0, 10000, 3), (20, 150000, 23), (37, 200000, 40), (60, 400000, 40))) {
      val b1 = v1 ++ Array.fill(pad)(f); val b2 = v2 ++ Array.fill(pad)(f)
      val (ref, refFloor) = suppressedByFormula(b1, b2)
      assert(refFloor == floorC, s"pad $pad at $f gives floor $refFloor")
      assert(same(Engine.composeSynRgbSuppressed(b1, b2), ref), s"suppressed compose at floor $floorC")
    }
  }

  test("E2E single band: synthetic raster → TIFF + sidecars") {
    val dir = tmpDir
    val out = s"$dir/prod.tiff"
    val meta = SafeMeta(platform = Some("SENTINEL-1A"),
      geotransform = Some(Array(500000.0, 10.0, 0.0, 6000000.0, 0.0, -10.0)),
      crs = Some("EPSG:32633"))
    Engine.processToPath(spark, "prodA", rows = 200, cols = 300, out,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard,
        targetSize = Some(128), pad = true), meta)
    assert(Files.exists(Paths.get(out)), "tiff written")
    assert(Files.exists(Paths.get(s"$dir/prod.tfw")), "world file written")
    assert(Files.exists(Paths.get(s"$dir/prod.prj")), "prj written")
    assert(Files.exists(Paths.get(s"$dir/prod.tiff.json")), "sidecar written")
    val img = javax.imageio.ImageIO.read(new java.io.File(out))
    assert(img.getWidth == 128 && img.getHeight == 128, "resized + padded to square")
  }

  test("E2E CLAHE default path produces a nonzero image") {
    val img = Engine.processBand(spark, "prodB", "vv", 100, 100,
      ProcessingParams(autoscale = AutoscaleStrategy.Clahe, bitDepth = BitDepth.U8))
    assert(img.gray.exists(_.exists(_ > 0)))
    assert(img.gray.get.forall(v => v >= 0 && v <= 255))
  }

  test("E2E multiband TIFF carries the two autoscaled bands (2 pages, u16 capable)") {
    val dir = tmpDir
    val out = s"$dir/mb16.tiff"
    Engine.processToPath(spark, "prodT", 100, 120, out,
      ProcessingParams(polarization = Polarization.Multiband,
        format = OutputFormat.Tiff, bitDepth = BitDepth.U16,
        autoscale = AutoscaleStrategy.Robust))
    val in = javax.imageio.ImageIO.createImageInputStream(new java.io.File(out))
    val reader = javax.imageio.ImageIO.getImageReaders(in).next()
    reader.setInput(in)
    assert(reader.getNumImages(true) == 2, "two autoscaled bands as pages")
    val img0 = reader.read(0)
    assert(img0.getColorModel.getPixelSize == 16, "u16 band depth")
    reader.dispose(); in.close()
  }

  test("E2E multiband synRGB JPEG") {
    val dir = tmpDir
    val out = s"$dir/mb.jpg"
    Engine.processToPath(spark, "prodC", 120, 160, out,
      ProcessingParams(polarization = Polarization.Multiband,
        format = OutputFormat.Jpeg, autoscale = AutoscaleStrategy.Tamed,
        targetSize = Some(64)))
    val img = javax.imageio.ImageIO.read(new java.io.File(out))
    assert(img.getWidth == 64)
  }

  test("decimation pushdown shrinks the scan output") {
    val full = RasterSource.scan(spark, "p", "vv", 512, 512, decimate = 1)
    val dec = RasterSource.scan(spark, "p", "vv", 512, 512, decimate = 4)
    assert(RasterSource.pixelView(dec).count() == 128L * 128)
    assert(RasterSource.pixelView(full).count() == 512L * 512)
  }

  test("batch isolates per-product failures") {
    val dir = tmpDir
    val report = Engine.processDirectory(spark,
      Seq(("ok1", 50, 50), ("bad", -5, 50), ("ok2", 40, 60)), dir,
      ProcessingParams(autoscale = AutoscaleStrategy.Standard))
    assert(report.processed == 2)
    assert(report.errors.map(_._1) == Seq("bad"))
  }

  test("CLI parse round-trips the reference flag surface") {
    import graft.cli.Cli
    val r = Cli.parse(Seq("-i", "p:100:100", "-o", "/tmp/x.tiff",
      "--polarization", "ratio", "--autoscale", "robust",
      "--bit-depth", "u16", "--format", "tiff", "--size", "512", "--pad"))
    assert(r.isRight)
    val a = r.toOption.get
    assert(a.params.polarization == Polarization.Op(PolarizationOperation.Ratio))
    assert(a.params.autoscale == AutoscaleStrategy.Robust)
    assert(a.params.bitDepth == BitDepth.U16)
    assert(a.params.targetSize.contains(512) && a.params.pad)
    assert(Cli.parse(Seq("-i", "x")).isLeft, "missing output rejected")
    assert(Cli.parse(Seq("--size", "nope", "-i", "a:1:1", "-o", "b")).isLeft)
    assert(Cli.parse(Seq("--batch", "-i", "a:1:1", "-o", "b")).isLeft,
      "batch requires dirs")
  }
}
