package graft

import graft.api.Engine
import graft.geom.{Proj, Resample, Warp}
import graft.model._
import graft.sources.{RasterSource, Tile}

/** S8 warp resolution AND native execution
  * (`/root/reference/src/io/sentinel1.rs:913-1072` decision semantics):
  * skip guard, argv construction, fused -ts, TPS fallback, CLI/preset
  * plumbing of the CRS flags — plus the Proj golden points (published
  * UTM/UPS coordinates), round-trip bounds, nativePlan golden-corner
  * output grids, and the linear-field warpTiles gate.
  */
class WarpSpec extends SparkSpec {

  private val utm33Wkt =
    """PROJCS["WGS 84 / UTM zone 33N",GEOGCS["WGS 84",DATUM["WGS_1984",
      |AUTHORITY["EPSG","6326"]],AUTHORITY["EPSG","4326"]],
      |AUTHORITY["EPSG","32633"]]""".stripMargin.replace("\n", "")

  test("parseEpsg takes the LAST authority (outermost CRS) and bare EPSG strings") {
    assert(Warp.parseEpsg(utm33Wkt).contains("EPSG:32633"))
    assert(Warp.parseEpsg("EPSG:4326").contains("EPSG:4326"))
    assert(Warp.parseEpsg("not a wkt").isEmpty)
  }

  test("target-CRS argument semantics: none disables, auto derives from scene center") {
    assert(Warp.resolveTargetCrs(Some("none"), Some((15.0, 45.0))).isEmpty)
    assert(Warp.resolveTargetCrs(Some("NONE"), Some((15.0, 45.0))).isEmpty)
    assert(Warp.resolveTargetCrs(None, Some((15.0, 45.0))).isEmpty)
    assert(Warp.resolveTargetCrs(Some("auto"), Some((15.0, 45.0)))
      .contains("EPSG:32633"), "auto must route through S9 lonlatToEpsg")
    assert(Warp.resolveTargetCrs(Some("auto"), None).isEmpty)
    assert(Warp.resolveTargetCrs(Some("EPSG:3857"), None).contains("EPSG:3857"))
  }

  test("skip guard: source already in the target CRS is a NoOp") {
    assert(Warp.resolveWarp(Some(utm33Wkt), "EPSG:32633") == Warp.NoOp)
    assert(Warp.resolveWarp(Some("EPSG:4326"), "epsg:4326") == Warp.NoOp)
    Warp.execute(Warp.NoOp) // must not throw
  }

  test("warp argv: bilinear default, fused -ts never upscales, TPS for unprojected") {
    // projected source, different target: plain warp, no -tps
    val p = Warp.resolveWarp(Some(utm33Wkt), "EPSG:4326",
      targetSize = Some(2048), srcCols = 26000, srcRows = 16000)
    val args = p match { case Warp.Exec(a) => a; case _ => fail("expected Exec") }
    assert(args.containsSlice(Seq("-r", "bilinear")), "bilinear is the default")
    assert(args.containsSlice(Seq("-ts", "2048", "1260")),
      "long side to target, aspect preserved, round half up")
    assert(!args.contains("-tps"))
    assert(args.containsSlice(Seq("-t_srs", "EPSG:4326")))
    // lanczos is NOT a warp alg in the reference: falls back to bilinear
    val pl = Warp.resolveWarp(Some(utm33Wkt), "EPSG:4326", resampleAlg = Some("lanczos"))
    assert(pl match { case Warp.Exec(a) => a.containsSlice(Seq("-r", "bilinear")); case _ => false })
    assert(Warp.warpResampleAlg(Some("nearest")) == "near")
    assert(Warp.warpResampleAlg(Some("cubic")) == "cubic")
    // -ts with target larger than the source: scale capped at 1.0
    val pBig = Warp.resolveWarp(Some(utm33Wkt), "EPSG:4326",
      targetSize = Some(99999), srcCols = 100, srcRows = 50)
    assert(pBig match { case Warp.Exec(a) => a.containsSlice(Seq("-ts", "100", "50")); case _ => false })
    // unprojected GRD raster: TPS + source SRS fallback
    val pt = Warp.resolveWarp(None, "EPSG:32633")
    assert(pt match { case Warp.Exec(a) => a.containsSlice(Seq("-tps", "-s_srs", "EPSG:4326")); case _ => false })
    // whitespace-only projection is absent too (same reading as the
    // Engine warp gate)
    val pw = Warp.resolveWarp(Some("  "), "EPSG:32633")
    assert(pw match { case Warp.Exec(a) => a.containsSlice(Seq("-tps", "-s_srs", "EPSG:4326")); case _ => false })
  }

  test("isGeographic accepts lon/lat CRSs only") {
    assert(Warp.isGeographic(Some("EPSG:4326")))
    assert(Warp.isGeographic(Some("EPSG:4269")))
    assert(Warp.isGeographic(
      Some("GEOGCS[\"WGS 84\",AUTHORITY[\"EPSG\",\"4326\"]]")))
    assert(Warp.isGeographic(Some("GEOGCRS[\"WGS 84\",ID[\"EPSG\",4326]]")),
      "WKT2 geographic")
    assert(!Warp.isGeographic(Some("PROJCRS[\"x\",BASEGEOGCRS[\"WGS 84\"]]")),
      "WKT2 projected")
    assert(Warp.isGeographic(Some(
      "GEODCRS[\"WGS 84\",CS[ellipsoidal,2],AXIS[\"lat\",north]]")),
      "WKT2:2015 geographic (ellipsoidal CS)")
    assert(!Warp.isGeographic(Some(
      "GEODCRS[\"WGS 84\",CS[Cartesian,3],AXIS[\"X\",geocentricX]]")),
      "WKT2:2015 geocentric (Cartesian CS)")
    assert(!Warp.isGeographic(Some("EPSG:32633")))
    assert(!Warp.isGeographic(Some(utm33Wkt)),
      "a PROJCS embedding a GEOGCS member is NOT geographic")
    assert(!Warp.isGeographic(Some("EPSG:4087")), "projected interloper")
    assert(!Warp.isGeographic(None), "absent CRS: center coords untrusted")
  }

  test("executing a real warp reports itself unsupported with the gdalwarp argv") {
    val e = intercept[graft.model.GraftException.External] {
      Warp.execute(Warp.resolveWarp(Some(utm33Wkt), "EPSG:4326"))
    }
    assert(e.getMessage.contains("gdalwarp") && e.getMessage.contains("-t_srs EPSG:4326"))
  }

  // ---------------------------------------------------- native execution

  test("Proj golden points: published UTM/UPS coordinates") {
    // CN Tower (Toronto), WGS84 43.642567°N 79.387139°W → UTM 17N.
    // Published: ~(630084.3 E, 4833438.6 N); Krüger n-series is mm-exact.
    val (e17, n17) = Proj.Utm(17, south = false).forward(-79.387139, 43.642567)
    assert(math.abs(e17 - 630084.3) < 1.5, s"easting $e17")
    assert(math.abs(n17 - 4833438.6) < 1.5, s"northing $n17")
    // inverse of the same point returns the lon/lat
    val (lonB, latB) = Proj.Utm(17, south = false).inverse(e17, n17)
    assert(math.abs(lonB - -79.387139) < 1e-8 && math.abs(latB - 43.642567) < 1e-8)
    // central-meridian identity: easting is exactly FE, equator N = 0
    val (eCm, nCm) = Proj.Utm(33, south = false).forward(15.0, 0.0)
    assert(math.abs(eCm - 500000.0) < 1e-6 && math.abs(nCm) < 1e-6)
    // southern hemisphere is the FN = 10⁷ mirror
    val (eS, nS) = Proj.Utm(33, south = true).forward(15.4, -30.0)
    val (eN, nN) = Proj.Utm(33, south = false).forward(15.4, 30.0)
    assert(math.abs(eS - eN) < 1e-6 && math.abs(nS - (1.0e7 - nN)) < 1e-6)
    // UPS North golden point (EPSG guidance note 7-2, method 9810
    // example: 73°N 44°E → E 3320416.75, N 632668.43)
    val (eU, nU) = Proj.Ups(south = false).forward(44.0, 73.0)
    assert(math.abs(eU - 3320416.75) < 0.02, s"UPS easting $eU")
    assert(math.abs(nU - 632668.43) < 0.02, s"UPS northing $nU")
    // UPS South is the exact FN-mirror of North
    val (eUs, nUs) = Proj.Ups(south = true).forward(44.0, -73.0)
    assert(math.abs(eUs - eU) < 1e-9 && math.abs(nUs - (4.0e6 - nU)) < 1e-9)
  }

  test("Proj round-trips: forward∘inverse is the identity to sub-mm") {
    val utm = Proj.Utm(33, south = false)
    for (lon <- Seq(12.0, 14.7, 15.0, 17.9); lat <- Seq(-79.5, -30.0, 0.0, 45.3, 83.9)) {
      val (x, y) = utm.forward(lon, lat)
      val (lon2, lat2) = utm.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"UTM round-trip at ($lon, $lat)")
    }
    val ups = Proj.Ups(south = false)
    for (lon <- Seq(-170.0, -44.0, 0.0, 44.0, 135.0); lat <- Seq(75.0, 80.1, 88.9)) {
      val (x, y) = ups.forward(lon, lat)
      val (lon2, lat2) = ups.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-8 && math.abs(lat2 - lat) < 1e-8,
        s"UPS round-trip at ($lon, $lat)")
    }
    // lon/lat is the identity, and fromEpsg maps the S9-emittable set
    assert(Proj.fromEpsg("EPSG:4326").contains(Proj.LonLat))
    assert(Proj.fromEpsg("EPSG:32617").contains(Proj.Utm(17, south = false)))
    assert(Proj.fromEpsg("EPSG:32733").contains(Proj.Utm(33, south = true)))
    assert(Proj.fromEpsg("EPSG:32661").contains(Proj.Ups(south = false)))
    assert(Proj.fromEpsg("EPSG:3857").isEmpty, "web mercator is NOT claimed")
  }

  test("nativePlan: skip guard, native-family gate, golden-corner output grid") {
    val gt = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    // skip guard: src == dst would be a needless identity resample
    assert(Warp.nativePlan(Some("EPSG:32632"), "EPSG:32632", Some(gt), 100, 100).isEmpty)
    // outside the native family / missing geotransform → None (argv raise path)
    assert(Warp.nativePlan(Some("EPSG:3857"), "EPSG:32633", Some(gt), 100, 100).isEmpty)
    assert(Warp.nativePlan(Some("EPSG:32632"), "EPSG:3857", Some(gt), 100, 100).isEmpty)
    // absent CRS + METERS geotransform: not lon/lat-plausible → the
    // true GCP-grid/TPS case stays on the argv raise path
    assert(Warp.nativePlan(None, "EPSG:32633", Some(gt), 100, 100).isEmpty)
    assert(Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", None, 100, 100).isEmpty)

    // absent CRS + lon/lat-range geotransform: the unprojected-GRD
    // convention — the plan is EXACTLY the explicit-4326 plan
    val llGt = Array(10.0, 0.01, 0.0, 50.0, 0.0, -0.01)
    val implied = Warp.nativePlan(None, "EPSG:32632", Some(llGt), 64, 64)
    val explicit = Warp.nativePlan(Some("EPSG:4326"), "EPSG:32632", Some(llGt), 64, 64)
    assert(implied.nonEmpty && implied == explicit,
      s"implied-4326 plan must equal the explicit-4326 plan: $implied vs $explicit")
    // blank (whitespace) CRS gets the same treatment as absent
    assert(Warp.nativePlan(Some("  "), "EPSG:32632", Some(llGt), 64, 64) == explicit)
    // lat just past the pole is not lon/lat-plausible
    val badLat = Array(10.0, 0.01, 0.0, 91.0, 0.0, -0.01)
    assert(Warp.nativePlan(None, "EPSG:32632", Some(badLat), 64, 64).isEmpty)

    // fused -ts: output dims are EXACTLY the argv's numbers
    val ts = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt),
      srcRows = 4000, srcCols = 6000, targetSize = Some(2048)).get
    assert(ts.dstCols == 2048 && ts.dstRows == math.round(4000 * (2048.0 / 6000)).toInt)
    assert(ts.alg == "bilinear" && ts.srcRows == 4000 && ts.srcCols == 6000)

    // golden corners: the output grid's origin/extent equal the projected
    // source-corner extremes (extremes of a near-rectangle lie on its
    // corners; the resolver samples the full border)
    val rows = 200; val cols = 300
    val plan = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt), rows, cols).get
    val src = Proj.Utm(32, south = false); val dst = Proj.Utm(33, south = false)
    val corners = for ((py, px) <- Seq((0, 0), (0, cols), (rows, 0), (rows, cols))) yield {
      val (lon, lat) = src.inverse(gt(0) + px * gt(1), gt(3) + py * gt(5))
      dst.forward(lon, lat)
    }
    val minX = corners.map(_._1).min; val maxX = corners.map(_._1).max
    val minY = corners.map(_._2).min; val maxY = corners.map(_._2).max
    assert(math.abs(plan.dstGt(0) - minX) < 1e-6, "grid origin X = min projected corner X")
    assert(math.abs(plan.dstGt(3) - maxY) < 1e-6, "grid origin Y = max projected corner Y")
    assert(math.abs((plan.dstGt(0) + plan.dstCols * plan.dstGt(1)) - maxX) < math.abs(plan.dstGt(1)) + 1e-6)
    assert(math.abs((plan.dstGt(3) + plan.dstRows * plan.dstGt(5)) - minY) < math.abs(plan.dstGt(5)) + 1e-6)
    // resolution rule: same-datum zone change keeps ~the source pixel size
    assert(math.abs(plan.dstGt(1) - 10.0) < 0.5 && math.abs(plan.dstGt(5) + 10.0) < 0.5)
    // value semantics: identical plans compare equal (Vector, not Array)
    val plan2 = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt), rows, cols).get
    assert(plan == plan2)
  }

  test("warpTiles: a linear field warps to the linear field; constants survive nearest") {
    import org.apache.spark.sql.Encoders
    implicit val tileEnc: org.apache.spark.sql.Encoder[graft.sources.Tile] =
      Encoders.product[graft.sources.Tile]
    val tileSize = 64
    val rows = 192; val cols = 192
    val gt = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    def field(xc: Double, yc: Double): Double =
      ((xc - 730000.0) + 2.0 * (5000000.0 - yc)) / 100.0
    val tiles = spark.createDataset((for {
      tr <- 0 until rows / tileSize; tc <- 0 until cols / tileSize
    } yield {
      val px = new Array[Float](tileSize * tileSize)
      var i = 0
      for (y <- 0 until tileSize; x <- 0 until tileSize) {
        val gx = gt(0) + (tc * tileSize + x + 0.5) * gt(1)
        val gy = gt(3) + (tr * tileSize + y + 0.5) * gt(5)
        px(i) = field(gx, gy).toFloat; i += 1
      }
      graft.sources.Tile("lin", "vv", tr, tc, tileSize, tileSize, px)
    }).toSeq)
    val plan = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633",
      Some(gt), rows, cols).get
    val out = graft.api.Engine.warpTiles(tiles, plan, tileSize).collect()
    assert(out.nonEmpty)
    val src = Proj.Utm(32, south = false); val dst = Proj.Utm(33, south = false)
    var checked = 0
    out.foreach { t =>
      for (y <- 0 until t.h by 7; x <- 0 until t.w by 7) {
        val dx = plan.dstGt(0) + (t.tile_col * tileSize + x + 0.5) * plan.dstGt(1)
        val dy = plan.dstGt(3) + (t.tile_row * tileSize + y + 0.5) * plan.dstGt(5)
        val (lon, lat) = dst.inverse(dx, dy)
        val (sx, sy) = src.forward(lon, lat)
        val fc = (sx - gt(0)) / gt(1) - 0.5
        val fr = (sy - gt(3)) / gt(5) - 0.5
        // interior only: border pixels blend with the zero outside
        if (fr > 1.5 && fr < rows - 2.5 && fc > 1.5 && fc < cols - 2.5) {
          val expected = field(sx, sy)
          val got = t.pixels(y * t.w + x)
          assert(math.abs(got - expected) < 0.05,
            s"tile (${t.tile_row},${t.tile_col}) px ($y,$x): $got vs $expected")
          checked += 1
        }
      }
    }
    assert(checked > 300, s"only $checked interior samples checked")

    // nearest-neighbor warp of a constant field is exactly the constant
    val const = tiles.map(t => t.copy(pixels = t.pixels.map(_ => 7.5f)))
    val planN = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633",
      Some(gt), rows, cols, resampleAlg = Some("nearest")).get
    assert(planN.alg == "near")
    val outN = graft.api.Engine.warpTiles(const, planN, tileSize).collect()
    val interior = outN.flatMap { t =>
      for {
        y <- 0 until t.h; x <- 0 until t.w
        dx = planN.dstGt(0) + (t.tile_col * tileSize + x + 0.5) * planN.dstGt(1)
        dy = planN.dstGt(3) + (t.tile_row * tileSize + y + 0.5) * planN.dstGt(5)
        (lon, lat) = dst.inverse(dx, dy)
        (sx, sy) = src.forward(lon, lat)
        fc = (sx - gt(0)) / gt(1) - 0.5
        fr = (sy - gt(3)) / gt(5) - 0.5
        if fr > 0.5 && fr < rows - 1.5 && fc > 0.5 && fc < cols - 1.5
      } yield t.pixels(y * t.w + x)
    }
    assert(interior.nonEmpty && interior.forall(_ == 7.5f))
  }

  test("warpTiles inverts a ROTATED source geotransform (gt2/gt4 ≠ 0)") {
    import org.apache.spark.sql.Encoders
    implicit val tileEnc: org.apache.spark.sql.Encoder[graft.sources.Tile] =
      Encoders.product[graft.sources.Tile]
    // ~5° grid rotation: X/Y both depend on row AND col, exercising the
    // full 2×2 geotransform solve in the inverse mapping
    val c = math.cos(math.toRadians(5.0)); val s = math.sin(math.toRadians(5.0))
    val gt = Array(730000.0, 10.0 * c, 10.0 * s, 5000000.0, 10.0 * s, -10.0 * c)
    val tileSize = 64
    val rows = 128; val cols = 128
    val tiles = spark.createDataset((for {
      tr <- 0 until rows / tileSize; tc <- 0 until cols / tileSize
    } yield graft.sources.Tile("rot", "vv", tr, tc, tileSize, tileSize,
      Array.fill(tileSize * tileSize)(3.25f))).toSeq)
    val plan = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt), rows, cols).get
    val out = graft.api.Engine.warpTiles(tiles, plan, tileSize).collect()
    assert(out.nonEmpty)
    // a constant field warps to the constant wherever the source covers
    // the output pixel; border pixels blend with the outside zeros
    val vals = out.flatMap(_.pixels)
    assert(vals.exists(_ == 3.25f), "interior samples must hit the constant")
    assert(vals.forall(v => v >= 0.0f && v <= 3.25f + 1e-4f))
  }

  /** Driver-side warp reference: every block of [[Engine.warpTiles]]'
    * output grid resampled by the same per-block kernel, reading the full
    * source image instead of the shipped windows.
    */
  private def warpReference(src: Array[Float], plan: Warp.NativeWarp,
                            tileSize: Int): Array[Float] = {
    val g = Engine.warpBlockEdge(plan, tileSize)
    val srcFrac = Engine.warpSrcFrac(plan)
    val get: (Int, Int) => Float = (r, c) => src(r * plan.srcCols + c)
    val out = new Array[Float](plan.dstRows * plan.dstCols)
    for (y0 <- 0 until plan.dstRows by g; x0 <- 0 until plan.dstCols by g)
      Engine.warpBlock(srcFrac, plan.alg, get, plan.srcRows, plan.srcCols, y0, x0,
        math.min(g, plan.dstRows - y0), math.min(g, plan.dstCols - x0),
        out, y0 * plan.dstCols + x0, plan.dstCols)
    out
  }

  /** Row-major image of a tile set; absent tiles stay zero. */
  private def assemble(tiles: Array[Tile], rows: Int, cols: Int, tileSize: Int): Array[Float] = {
    val img = new Array[Float](rows * cols)
    tiles.foreach { t =>
      for (y <- 0 until t.h)
        System.arraycopy(t.pixels, y * t.w, img,
          (t.tile_row * tileSize + y) * cols + t.tile_col * tileSize, t.w)
    }
    img
  }

  test("warpTiles equals the full-source reference float for float (near/bilinear/cubic, k = 1/2/4, rotated)") {
    val tileSize = 64
    val rows = 200; val cols = 260
    val north = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    val c = math.cos(math.toRadians(5.0)); val s = math.sin(math.toRadians(5.0))
    val rotated = Array(730000.0, 10.0 * c, 10.0 * s, 5000000.0, 10.0 * s, -10.0 * c)
    // speckled synthetic band; 200×260 leaves partial edge tiles
    val tiles = RasterSource.scan(spark, "exact", "vv", rows, cols, tileSize = tileSize)
    val src = assemble(tiles.collect(), rows, cols, tileSize)
    // target size → block factor k: none keeps k = 1, 1.5× gives 2, 3× gives 4
    val shrinks = Seq(None -> 1, Some(173) -> 2, Some(87) -> 4)
    val algs = Seq("nearest", "bilinear", "cubic")
    // every alg at every k north-up; the rotated grid once per k
    val cases = (for (alg <- algs; (ts, k) <- shrinks) yield ("north", north, alg, ts, k)) ++
      shrinks.zip(algs).map { case ((ts, k), alg) => ("rotated", rotated, alg, ts, k) }
    cases.foreach { case (name, gt, alg, ts, k) =>
      val plan = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt), rows, cols,
        resampleAlg = Some(alg), targetSize = ts).get
      val what = s"$name ${plan.alg} k=$k"
      assert(Engine.warpBlockEdge(plan, tileSize) == tileSize / k, what)
      val ref = warpReference(src, plan, tileSize)
      val out = Engine.warpTiles(tiles, plan, tileSize).collect()
      assert(out.map(t => (t.tile_row, t.tile_col)).distinct.length == out.length,
        s"$what: one record per output tile")
      val got = assemble(out, plan.dstRows, plan.dstCols, tileSize)
      val bad = got.indices.filter(i =>
        java.lang.Float.floatToRawIntBits(got(i)) != java.lang.Float.floatToRawIntBits(ref(i)))
      assert(bad.isEmpty, s"$what: ${bad.length} pixels differ, first at ${bad.headOption
        .map(i => (i / plan.dstCols, i % plan.dstCols, got(i), ref(i)))}")
      // the output grid bounds the projected source, so its corner block
      // straddles the source edge: that block's window is clipped there
      val corner = for (y <- 0 until tileSize / k; x <- 0 until tileSize / k)
        yield ref(y * plan.dstCols + x)
      assert(corner.contains(0.0f) && corner.exists(_ != 0.0f), s"$what: corner block not clipped")
    }
  }

  test("warpTiles ships each block only its source window, in one exchange") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val rows = 768; val cols = 768
    val gt = Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)
    val src = RasterSource.scan(spark, "guard", "vv", rows, cols)
    // 768² → 512: 1.5× shrink, 128-px blocks
    val plan = Warp.nativePlan(Some("EPSG:32632"), "EPSG:32633", Some(gt), rows, cols,
      targetSize = Some(512)).get
    val group = "warp-shuffle-guard"
    val ours = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          ours.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (ours.contains(e.stageInfo.stageId))
          written.put(e.stageInfo.stageId, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "warp shuffle guard")
      try Engine.warpTiles(src, plan).collect() finally sc.clearJobGroup()
      // listener events arrive in order: once a later job's end is seen,
      // every stage of the warp has been reported
      val marker = sc.parallelize(Seq(1), 1).countAsync()
      scala.concurrent.Await.result(marker, scala.concurrent.duration.Duration(60, "s"))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!marker.jobIds.forall(ended.contains) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marker.jobIds.forall(ended.contains), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    val shuffles = written.values().toArray.map(_.asInstanceOf[Long]).filter(_ > 0)
    val srcBytes = rows.toLong * cols * 4
    assert(shuffles.length == 1, s"shuffle stages: ${shuffles.toSeq}")
    assert(shuffles.sum <= srcBytes * 3 / 2,
      s"shuffle wrote ${shuffles.sum} B for $srcBytes B of source floats")
  }

  test("Resample kernels: outside → 0, bilinear/cubic reproduce linear data") {
    val data = Array.tabulate(4, 5)((r, c) => (1.0 + 2.0 * r + 3.0 * c).toFloat)
    val get: (Int, Int) => Float = (r, c) => data(r)(c)
    assert(Resample.sample("near", get, 4, 5, -1.0, 2.0) == 0.0f)
    assert(Resample.sample("bilinear", get, 4, 5, 1.0, 4.6) == 0.0f, "past right edge center")
    assert(Resample.sample("near", get, 4, 5, 1.4, 2.6) == data(1)(3))
    val bl = Resample.sample("bilinear", get, 4, 5, 1.5, 2.25)
    assert(math.abs(bl - (1.0 + 2.0 * 1.5 + 3.0 * 2.25)) < 1e-5)
    val cu = Resample.sample("cubic", get, 4, 5, 1.5, 2.0)
    assert(math.abs(cu - (1.0 + 2.0 * 1.5 + 3.0 * 2.0)) < 1e-4,
      "cubic convolution (a=-0.5) reproduces linear fields in the interior")
  }

  test("CLI parses --target-crs/--resample-alg; presets round-trip them") {
    val parsed = graft.cli.Cli.parse(Seq("-i", "a:8:8", "-o", "/tmp/x.tiff",
      "--target-crs", "EPSG:32633", "--resample-alg", "cubic"))
    assert(parsed.exists(_.params.targetCrs.contains("EPSG:32633")))
    assert(parsed.exists(_.params.resampleAlg.contains("cubic")))
    assert(graft.cli.Cli.parse(Seq("-i", "a:8:8", "-o", "/tmp/x",
      "--resample-alg", "boxcar")).isLeft)

    val p = ProcessingParams(targetCrs = Some("EPSG:32633"), resampleAlg = Some("cubic"))
    val rt = graft.cli.Presets.fromJson(graft.cli.Presets.toJson(p))
    assert(rt.exists(q => q.targetCrs == p.targetCrs && q.resampleAlg == p.resampleAlg))
    val rtNone = graft.cli.Presets.fromJson(graft.cli.Presets.toJson(ProcessingParams()))
    assert(rtNone.exists(q => q.targetCrs.isEmpty && q.resampleAlg.isEmpty))
    val cmd = graft.cli.Presets.generateCliCommand(p, "in", "out")
    assert(cmd.contains("--target-crs EPSG:32633") && cmd.contains("--resample-alg cubic"))
  }
}
