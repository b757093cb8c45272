package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Kernels
import graft.geom.Geom
import graft.meta.SafeMeta

/** Property-based invariants (SURVEY §5.4): quantization monotonicity and
  * bounds, resize dimension algebra, geotransform rewrite round-trips,
  * histogram-percentile accuracy vs exact sort. Uses raw ScalaCheck
  * generators with a deterministic seed sweep (the scalatest bridge
  * artifact is not in the offline cache).
  */
class PropertySpec extends AnyFunSuite {

  private val Trials = 100

  private def forAll[A](g: Gen[A])(f: A => Unit): Unit =
    (0 until Trials).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => f(t._1, t._2, t._3))

  private def forAll[A, B, C, D, E](ga: Gen[A], gb: Gen[B], gc: Gen[C], gd: Gen[D], ge: Gen[E])(
      f: (A, B, C, D, E) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc, gd, ge))(t => f(t._1, t._2, t._3, t._4, t._5))

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val dbGen = Gen.chooseNum(-60.0, 60.0)

  test("quantize kernel: output within [0, maxVal], invalid → 0, monotone") {
    forAll(Gen.listOfN(64, dbGen), Gen.chooseNum(-30.0, 0.0), Gen.chooseNum(0.5, 30.0)) {
      (dbs, low, width) =>
        val high = low + width
        val q = Kernels.quantize(dbs.toArray, low, high, 1.0, 255.0)
        q.foreach(v => assert(v >= 0 && v <= 255))
        dbs.zip(q).foreach { case (d, v) => if (d <= -50.0) assert(v == 0) }
        val sortedValid = dbs.zip(q).filter(_._1 > -50.0).sortBy(_._1)
        sortedValid.sliding(2).foreach {
          case Seq((_, q1), (_, q2)) => assert(q1 <= q2)
          case _ =>
        }
    }
  }

  test("quantize at gamma 1.0 equals the pow path, clip edges and invalid pixels included") {
    // the kernel as it was before gamma 1.0 skipped the pow
    def viaPow(dbv: Array[Double], low: Double, high: Double, gamma: Double,
               maxVal: Double): Array[Int] = {
      val range = math.max(high - low, 1.0)
      dbv.map { d =>
        if (!Kernels.valid(d)) 0
        else {
          val normalized = math.pow((math.min(math.max(d, low), high) - low) / range, gamma)
          math.floor(math.min(math.max(normalized * maxVal, 0.0), maxVal)).toInt
        }
      }
    }
    forAll(Gen.zip(Gen.listOfN(64, dbGen), Gen.chooseNum(-30.0, 0.0), Gen.chooseNum(0.0, 30.0),
        Gen.oneOf(255.0, 65535.0))) { case (dbs, low, width, maxVal) =>
      val high = low + width
      val edges = Seq(low, high, math.nextDown(low), math.nextUp(high), -50.0,
        math.nextUp(-50.0), Double.NaN, Double.NegativeInfinity, Double.PositiveInfinity)
      val in = (dbs ++ edges).toArray
      assert(Kernels.quantize(in, low, high, 1.0, maxVal).sameElements(
        viaPow(in, low, high, 1.0, maxVal)), s"low $low high $high max $maxVal")
    }
  }

  test("rescaleU8 maps min→0 and max→255 when distinct") {
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(0, 65535))) { qs =>
      val arr = qs.toArray
      val out = Kernels.rescaleU8(arr, arr.min, arr.max)
      out.foreach(v => assert(v >= 0 && v <= 255))
      if (arr.min != arr.max) {
        assert(out(arr.indexOf(arr.min)) == 0)
        assert(out(arr.indexOf(arr.max)) == 255)
      }
    }
  }

  test("resizeDims: long side == min(target, longest); aspect preserved within rounding") {
    forAll(Gen.chooseNum(1, 30000), Gen.chooseNum(1, 30000), Gen.chooseNum(1, 8192)) {
      (cols, rows, target) =>
        val (nc, nr) = Geom.resizeDims(cols, rows, target)
        if (target > math.max(cols, rows)) assert((nc, nr) == (cols, rows))
        else {
          assert(math.max(nc, nr) == target)
          val origRatio = cols.toDouble / rows
          val newRatio = nc.toDouble / nr
          // rounding the short side perturbs the ratio at most by 1 unit
          assert(math.abs(newRatio - origRatio) <= origRatio / math.min(nc, nr) + 1e-9)
        }
    }
  }

  test("geotransform rewrite preserves image-center world coordinates under resize") {
    forAll(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0.1, 100.0),
      Gen.chooseNum(64, 512), Gen.chooseNum(64, 512), Gen.chooseNum(32, 512)) {
      (origin, px, w, h, target) =>
        val gt = Array(origin, px, 0.0, -origin, 0.0, -px)
        val src = Array.fill(w * h)(0)
        val (_, fw, fh, Some(ngt)) = Geom.resizeAndPad(src, w, h, Some(target),
          pad = false, 255, Some(gt)): @unchecked
        // center of the image in world coords must be invariant:
        // origin + (w/2)·px == newOrigin + (fw/2)·newPx
        val cOld = gt(0) + (w / 2.0) * gt(1)
        val cNew = ngt(0) + (fw / 2.0) * ngt(1)
        assert(math.abs(cOld - cNew) < 1e-6 * math.max(1.0, math.abs(cOld)),
          s"center drift: $cOld vs $cNew (w=$w fw=$fw)")
        val rOld = gt(3) + (h / 2.0) * gt(5)
        val rNew = ngt(3) + (fh / 2.0) * ngt(5)
        assert(math.abs(rOld - rNew) < 1e-6 * math.max(1.0, math.abs(rOld)))
    }
  }

  test("histogram percentiles within one bin width of exact-sort percentiles") {
    forAll(Gen.listOfN(2000, dbGen)) { vals =>
      whenever(vals.nonEmpty && vals.distinct.size > 1) {
        val arr = vals.toArray
        val mn = arr.min; val mx = arr.max
        val hist = new Array[Long](4096)
        val inv = 1.0 / (mx - mn)
        arr.foreach { d =>
          val t = math.min(math.max((d - mn) * inv, 0.0), 1.0)
          hist(math.min(math.floor(t * 4096).toLong, 4095L).toInt) += 1
        }
        val sorted = arr.sorted
        val binWidth = (mx - mn) / 4096
        val cum = hist.scanLeft(0L)(_ + _)
        Seq(0.05, 0.5, 0.95).foreach { p =>
          val target = math.min(math.floor(p * arr.length).toLong, arr.length - 1)
          val bin = cum.indexWhere(_ > target) - 1
          val v = (mn + bin * binWidth) +
            ((target - cum(bin)).toDouble / hist(bin)) * binWidth
          val exact = sorted(target.toInt)
          assert(math.abs(v - exact) <= binWidth + 1e-9)
        }
      }
    }
  }

  test("lonlatToEpsg always yields a valid UTM/UPS code") {
    forAll(Gen.chooseNum(-400.0, 400.0), Gen.chooseNum(-90.0, 90.0)) { (lon, lat) =>
      val epsg = SafeMeta.lonlatToEpsg(lon, lat)
      assert(epsg.startsWith("EPSG:32"))
      val code = epsg.drop(5).toInt
      assert((code >= 32601 && code <= 32660) || (code >= 32701 && code <= 32760) ||
        code == 32661 || code == 32761)
    }
  }

  test("band ratio kernel: zero-denominator guard and sign") {
    forAll(Gen.listOfN(32, Gen.chooseNum(-100.0f, 100.0f)),
      Gen.listOfN(32, Gen.oneOf(Gen.const(0.0f), Gen.chooseNum(-100.0f, 100.0f)))) {
      (a, b) =>
        val r = Kernels.bandOp(a.toArray, b.toArray,
          graft.model.PolarizationOperation.Ratio)
        b.zipWithIndex.foreach { case (bv, i) =>
          if (math.abs(bv) <= 1e-10) assert(r(i) == 0.0f)
          else assert(!r(i).isNaN)
        }
    }
  }

  test("preset JSON round-trips any target CRS string") {
    val crsGen = Gen.listOfN(24, Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('"', '\\', '\n', '\t', '[', ']', ',', ' ', '/')))
      .map(_.mkString)
    forAll(crsGen) { crs =>
      // "none" is the reserved absent-marker, anything else must survive
      whenever(!crs.equalsIgnoreCase("none")) {
        val p = graft.model.ProcessingParams(targetCrs = Some(crs))
        assert(graft.cli.Presets.fromJson(graft.cli.Presets.toJson(p)) == Right(p),
          s"crs=${crs.map(_.toInt).mkString(",")}")
      }
    }
  }

  test("isGeographic: PROJCS WKTs never classify geographic; 4xxx codes do") {
    import graft.geom.Warp
    import graft.meta.Epsg
    // INDEPENDENT restatement of the classification (not a call back
    // into Epsg) so a regression in either the range check or the
    // exclusion lists fails here rather than passing tautologically
    val projected = Set(4087, 4088, 4647, 4839)
    val nonPlanar = Set(4327, 4328, 4329, 4896, 4897, 4936, 4937, 4956,
      4957, 4978, 4979, 4984, 4985) ++ (4910 to 4921)
    val codeGen = Gen.chooseNum(1, 65535)
    forAll(codeGen) { code =>
      val expected = code >= 4000 && code <= 4999 &&
        !projected(code) && !nonPlanar(code)
      assert(Warp.isGeographic(Some(s"EPSG:$code")) == expected, s"EPSG:$code")
      assert(Epsg.isGeographic2D(code) == expected, s"Epsg $code")
      assert(Epsg.isNonPlanar(code) == nonPlanar(code), s"nonplanar $code")
      // wrapping the same code in a PROJCS authority is never geographic
      assert(!Warp.isGeographic(
        Some(s"""PROJCS["x",GEOGCS["WGS 84"],AUTHORITY["EPSG","$code"]]""")))
    }
    // block boundaries
    assert(!Epsg.isGeographic2D(3999) && Epsg.isGeographic2D(4000) &&
      Epsg.isGeographic2D(4999) && !Epsg.isGeographic2D(5000))
  }

  // ------------------------------------------ float-boundary protocol

  // Cross-engine ROUND models (the r12 t23 lesson as a regression gate):
  // Spark's Round is BigDecimal HALF_UP over the double's EXACT binary
  // value; a scaled C-library implementation (DuckDB-style) multiplies
  // by 10^k first — both half-away (std::round) and half-even
  // (nearbyint) variants exist across builds.
  private def sparkRound(x: Double, k: Int): Double =
    BigDecimal(x).setScale(k, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def scaledAway(x: Double, k: Int): Double = {
    val s = math.pow(10, k); math.floor(x * s + 0.5) / s // positive x
  }
  private def scaledEven(x: Double, k: Int): Double = {
    val s = math.pow(10, k); math.rint(x * s) / s
  }

  test("s23 SQ8 quantize chain: codes bounded and monotone, integer dot exact in double") {
    // model of Similarity.sq8RecallFrom's per-dim code:
    // floor(((x - mn) / (mx - mn)) * 255) over float inputs widened to
    // double — the identical IEEE chain both engines state
    def code(x: Float, mn: Float, mx: Float): Double =
      if (mx == mn) 0.0
      else math.floor((x.toDouble - mn.toDouble) / (mx.toDouble - mn.toDouble) * 255.0)
    val gF = Gen.chooseNum(-1000f, 1000f)
    forAll(Gen.zip(gF, gF, gF, gF)) { case (a, b, x1r, x2r) =>
      val (mn, mx) = (math.min(a, b), math.max(a, b))
      def clamp(v: Float) = math.max(mn, math.min(mx, v))
      val (x1, x2) = (clamp(x1r), clamp(x2r))
      val (c1, c2) = (code(x1, mn, mx), code(x2, mn, mx))
      // range: codes live in [0, 255] for in-range x
      assert(c1 >= 0.0 && c1 <= 255.0 && c1 == math.rint(c1))
      // monotone: division by a positive constant and floor preserve order
      if (x1 <= x2) assert(c1 <= c2)
      // exactness: any 64-term sum of code products is an exact integer
      // in double (each product <= 255^2, sum < 2^53)
      val dot = (1 to 64).map(_ => c1 * c2).sum
      assert(dot == math.rint(dot) && dot <= 64.0 * 255 * 255)
    }
  }

  test("t23 ln-free emission: rational idf is exact and the rank key preserves BM25 order") {
    // model of TextOps.bm25TopkFrom's r14 emission chain: ZERO
    // transcendentals reach the cells. The idf argument is exactly
    // rational — (N−df+0.5)/(df+0.5)+1 = (2N+2)/(2df+1) — and within a
    // term idf is a constant positive factor, so ranking by the ln-free
    // integer key tfdl_e9 is the BM25 ranking. This test pins BOTH: the
    // rational identity (vs the double ln it replaced, r13 verdict: the
    // 1e9 ln grid flips under a ~1.4e-10 relative libm error at
    // sf0.001) and the order-preservation of the emitted key.
    val gN = Gen.chooseNum(100L, 10000000L)
    val gDf = Gen.chooseNum(1L, 100L)
    val gTf = Gen.chooseNum(1L, 1000L)
    val gDl = Gen.chooseNum(1L, 100000L)
    val gT = Gen.chooseNum(100000L, 1000000000000L)
    def tfdlE9(tf: Long, dl: Long, n: Long, tt: Long): BigInt =
      (BigInt(22) * tf * tt * 1000000000L) /
        (BigInt(10) * tf * tt + BigInt(3) * tt + BigInt(9) * dl * n)
    forAll(Gen.zip(gN, gDf, gTf, gDl, gT)) { case (n, df, tf, dl, tt) =>
      whenever(df <= n) {
        // rational identity: (N−df+0.5)/(df+0.5)+1 == (2N+2)/(2df+1)
        val lhs = ((n - df).toDouble + 0.5) / (df.toDouble + 0.5) + 1.0
        val rhs = (2.0 * n + 2.0) / (2.0 * df + 1.0)
        assert(math.abs(lhs - rhs) <= 4 * Math.ulp(lhs))
        // emitted cells are exact integers — no round model exists
        assert(2 * n + 2 > 0 && 2 * df + 1 > 0)
        val key = tfdlE9(tf, dl, n, tt)
        assert(key.isValidLong && key >= 0)
        // order preservation vs the TRUE pre-floor tf/dl rational (r14
        // ADVICE: comparing idf·k1 vs idf·k2 was a tautology). The
        // exact factor is num/den with num = 22·tf·T,
        // den = 10·tf·T + 3·T + 9·dl·N; compare two docs by BigInt
        // cross-multiplication — no floats anywhere.
        val dl2 = dl + 7; val tf2 = math.max(1L, tf - 1)
        val k1 = tfdlE9(tf, dl, n, tt); val k2 = tfdlE9(tf2, dl2, n, tt)
        def num(tf: Long) = BigInt(22) * tf * tt
        def den(tf: Long, dl: Long) =
          BigInt(10) * tf * tt + BigInt(3) * tt + BigInt(9) * dl * n
        val (n1, d1) = (num(tf), den(tf, dl))
        val (n2, d2) = (num(tf2), den(tf2, dl2))
        val cross = (n1 * d2) compare (n2 * d1) // sign of r1 − r2, exact
        // floor(r·1e9) is monotone: the key NEVER inverts the true order
        if (cross > 0) assert(k1 >= k2)
        if (cross < 0) assert(k1 <= k2)
        if (cross == 0) assert(k1 == k2)
        // and whenever the true scores differ by more than the floor's
        // 1e-9 resolution — (r1−r2)·1e9 > 1, cross-multiplied — the
        // keys MUST strictly disagree (floor(a)−floor(b) > a−b−1)
        val gap = (n1 * d2 - n2 * d1) * 1000000000L
        if (gap > d1 * d2) assert(k1 > k2)
        if (-gap > d1 * d2) assert(k2 > k1)
      }
    }
  }

  test("raw round(double, 6) emissions DO diverge across round models — why the grid rule exists") {
    // the pre-r13 t23 emission class: round a computed double at 6 and
    // emit. On the X.xxxxxx5 boundary family the exact-decimal HALF_UP
    // and the scaled half-even models disagree — this is the documented
    // cross-engine fragility (CLAUDE.md gate-of-record rule), not a bug
    // in either engine
    val diverged = (0 until 1000).count { m =>
      val x = (2 * m + 1) * 0.5e-6
      sparkRound(x, 6) != scaledEven(x, 6)
    }
    assert(diverged > 0, "boundary family failed to exhibit divergence")
    // off-boundary, all three models agree (sanity for ratio emissions)
    forAll(Gen.zip(Gen.chooseNum(1L, 1000000L), Gen.chooseNum(1L, 1000000L))) {
      case (a, b) =>
        val x = a.toDouble / (a + b).toDouble
        val s = sparkRound(x, 6)
        whenever(math.abs(x * 1e6 - math.floor(x * 1e6) - 0.5) > 1e-9) {
          assert(s == scaledAway(x, 6) && s == scaledEven(x, 6))
        }
    }
  }

  test("g4 aa_score chain: 1e-9-grid weights survive DECIMAL accumulation round-model free") {
    // model of Graph.linkPredictionCore: w = round(1/ln(deg), 9) per
    // neighbor (positive → HALF_UP == half-away), summed EXACTLY in
    // DECIMAL; the final round(·, 6) sees an exact 1e-9-grid value, so
    // both positive-half models agree unless the sum lands exactly on
    // the half grid (measure ~1e-3 per cell; the integer-grid rule is
    // the escape hatch if the driver gate ever flags it)
    val gDegs = Gen.listOfN(8, Gen.chooseNum(2, 64))
    forAll(gDegs) { degs =>
      val ws = degs.map(d => sparkRound(1.0 / math.log(d.toDouble), 9))
      val sum = ws.map(BigDecimal(_)).sum // exact: each w has ≤9 decimals
      assert(sum.scale <= 9)
      val d = sum.toDouble
      val frac = d * 1e6 - math.floor(d * 1e6)
      whenever(math.abs(frac - 0.5) > 1e-6) {
        assert(sparkRound(d, 6) == scaledAway(d, 6))
      }
    }
  }

  // ------------------------------- emission-site enumeration (r13 ask #4)

  private val OracleEmissionSites: Map[String, Map[String, Int]] = Map(
    "a1_stats" -> Map("log10" -> 1, "round" -> 4, "sqrt" -> 1),
    "a1_stats_grouped" -> Map("log10" -> 2, "round" -> 4, "sqrt" -> 1),
    "a2_percentiles" -> Map("log10" -> 1, "round" -> 11, "sqrt" -> 1),
    "a3_legacy_params" -> Map("log10" -> 1, "round" -> 2, "sqrt" -> 1),
    "a3_strategy_params" -> Map("log10" -> 1, "round" -> 2, "sqrt" -> 1),
    "a4_clahe" -> Map("log10" -> 1, "round" -> 2, "sqrt" -> 1),
    "a5_local_median_range" -> Map("log10" -> 1, "round" -> 3),
    "a5b_local_enhanced_quantize" -> Map("log10" -> 1, "sqrt" -> 1),
    "a6_hist_floor" -> Map("round" -> 1),
    "c1_curation_funnel" -> Map("round" -> 1),
    "c2_data_card" -> Map("round" -> 3),
    "c3_dedup_impact" -> Map("round" -> 2),
    "c4_dedup_quality" -> Map("round" -> 3),
    "d12_substring_spans" -> Map("round" -> 1),
    "d13_shingle_novelty" -> Map("round" -> 1),
    "d14_dedup_sweep" -> Map("round" -> 1),
    "d15_bloom_prefilter" -> Map("round" -> 1),
    "d17_method_agreement" -> Map("round" -> 1),
    "d18_line_dedup" -> Map("round" -> 2),
    "d19_template_prefix" -> Map("round" -> 1),
    "d20_band_tuning" -> Map("round" -> 1),
    "d22_source_overlap" -> Map("round" -> 1),
    // d23: pattern (b) twice — both Jaccards are single IEEE divisions
    // of exact integer counts, round(x, 6) stated identically both sides
    "d23_kmv_overlap" -> Map("round" -> 2),
    "d5_contamination" -> Map("round" -> 1),
    "d6_paragraph_dedup" -> Map("round" -> 1),
    "d9_minhash_calibration" -> Map("round" -> 3),
    "e12_event_lift" -> Map("round" -> 1),
    "e13_active_users" -> Map("round" -> 1),
    "e14_markov_transitions" -> Map("round" -> 1),
    "e15_conversion_latency" -> Map("round" -> 1),
    "e16_interarrival" -> Map("round" -> 3),
    "e17_activity_gini" -> Map("round" -> 1),
    "e18_hourly_profile" -> Map("round" -> 1),
    "e19_pareto_share" -> Map("round" -> 2),
    "e20_transition_entropy" -> Map("ln" -> 2, "round" -> 3),
    "e21_first_touch" -> Map("round" -> 2),
    "e22_profile_similarity" -> Map("round" -> 1, "sqrt" -> 1),
    "e23_daily_anomaly" -> Map("round" -> 3, "sqrt" -> 3),
    "e25_dup_events" -> Map("round" -> 1),
    "e26_retention_curve" -> Map("round" -> 1),
    "e27_session_gaps" -> Map("round" -> 2),
    // e31 (r18): NO emission sites — the estimator is restated as exact
    // BIGINT floor-divisions (HllNumE6 // s_scaled, |diff| // n_exact);
    // the r17 float form's decimal→double cast was the t23 risk class
    // (r17 ADVICE) and is gone
    "e7_conversion_funnel" -> Map("round" -> 1),
    "e8_cohort_retention" -> Map("round" -> 1),
    "e9_user_anomaly" -> Map("round" -> 4, "sqrt" -> 4),
    "g1_pagerank" -> Map("round" -> 7),
    "g2_degree_hist" -> Map("round" -> 2),
    "g3_triangles" -> Map("round" -> 1),
    "g4_link_prediction" -> Map("ln" -> 1, "round" -> 2),
    "g6_components" -> Map("round" -> 2),
    "j3_range_join" -> Map("round" -> 1),
    "m4_corruption_scan" -> Map("round" -> 1),
    "m5_payload_entropy" -> Map("ln" -> 16, "round" -> 17),
    "m6_frame_overlap" -> Map("round" -> 1),
    "m8_block_dedup" -> Map("round" -> 2),
    "m9_bitrate_audit" -> Map("round" -> 2),
    "p10_blue_ratio" -> Map("round" -> 3),
    "p11_rgb_compose" -> Map("round" -> 5),
    "p12_synrgb_suppressed" -> Map("round" -> 6),
    "p14_geotransform" -> Map("round" -> 2),
    "p1_db_mask" -> Map("log10" -> 2, "round" -> 1),
    "p6_band_log_ratio" -> Map("log10" -> 1, "round" -> 1),
    "p7_quantize_default" -> Map("log10" -> 1, "sqrt" -> 1),
    "p7_quantize_legacy" -> Map("log10" -> 1, "sqrt" -> 1),
    "p8_u16_to_u8" -> Map("log10" -> 1, "round" -> 1, "sqrt" -> 1),
    "p9_gamma_lut" -> Map("round" -> 2),
    "r1_resize_dims" -> Map("round" -> 2),
    "s10_semantic_dedup" -> Map("round" -> 1, "sqrt" -> 1),
    "s11_pq_encode" -> Map("round" -> 2),
    "s12_pq_adc_recall" -> Map("round" -> 1),
    "s13_matryoshka_recall" -> Map("round" -> 1, "sqrt" -> 4),
    "s14_cosine_hist" -> Map("round" -> 2, "sqrt" -> 1),
    "s15_hubness" -> Map("sqrt" -> 1),
    "s16_cell_occupancy" -> Map("round" -> 4, "sqrt" -> 1),
    "s17_seed_sweep" -> Map("round" -> 2, "sqrt" -> 1),
    "s18_relative_contrast" -> Map("round" -> 5, "sqrt" -> 1),
    "s19_norm_length_corr" -> Map("ln" -> 1, "round" -> 4, "sqrt" -> 2),
    "s1_cosine_topk" -> Map("sqrt" -> 1),
    "s20_knn_accuracy" -> Map("round" -> 1, "sqrt" -> 1),
    // s23: codes are floor() of engine-identical IEEE chains (not in the
    // risky family); the one sqrt is the shared norm CTE (pattern c)
    "s23_sq8_recall" -> Map("sqrt" -> 1),
    "s2_lsh_ann_topk" -> Map("sqrt" -> 1),
    "s3_cosine_neardup" -> Map("sqrt" -> 1),
    "s5_centroid_outliers" -> Map("sqrt" -> 2),
    "s6_quant_error" -> Map("round" -> 2),
    "s7_centroid_separation" -> Map("sqrt" -> 2),
    "s8_native_warp" -> Map("exp" -> 30, "ln" -> 3, "round" -> 4, "sqrt" -> 3),
    "t10_surprisal" -> Map("ln" -> 2, "round" -> 2),
    "t11_bigram_surprisal" -> Map("ln" -> 2, "round" -> 2),
    "t12_zipf_slope" -> Map("ln" -> 2, "round" -> 4),
    "t13_lexical_diversity" -> Map("round" -> 3),
    "t14_source_drift" -> Map("ln" -> 1, "round" -> 4),
    "t15_quality_winsor" -> Map("round" -> 2),
    "t16_bpe_exact" -> Map("round" -> 1),
    "t17_gopher_filter" -> Map("round" -> 6),
    "t18_c4_line_filter" -> Map("round" -> 1),
    "t19_ccnet_buckets" -> Map("ln" -> 2, "round" -> 2),
    "t20_encoding_scan" -> Map("round" -> 2),
    "t21_readability" -> Map("round" -> 2),
    "t22_langid_confusion" -> Map("round" -> 1),
    "t24_fertility" -> Map("round" -> 2),
    "t25_collocations" -> Map("ln" -> 5, "round" -> 1),
    "t26_markup_density" -> Map("round" -> 4),
    "t27_vocab_coverage" -> Map("round" -> 2),
    "t28_length_percentiles" -> Map("round" -> 1),
    "t29_blocklist_filter" -> Map("round" -> 2),
    "t2_quality_score" -> Map("round" -> 10),
    "t30_heaps_law" -> Map("ln" -> 2, "round" -> 1),
    "t31_tfidf_keywords" -> Map("ln" -> 1, "round" -> 2),
    "t33_sentence_stats" -> Map("round" -> 2),
    // r16: t34's one ln is −ln(stupid-backoff score) computed once per
    // DISTINCT scored trigram at vocab grain, round(…, 9), DECIMAL
    // accumulation (a); the second round is the per-doc mean — a single
    // IEEE division of the exact DECIMAL total by the integer count,
    // round(x, 6) stated identically on both sides (b). The tercile
    // rank key is floor(mean·1e6) of that identical double — integer.
    "t34_lm_perplexity" -> Map("ln" -> 1, "round" -> 2),
    "t5_bpe_token_count" -> Map("round" -> 1),
    "t6_repetition" -> Map("round" -> 2),
    "t9_oov_rate" -> Map("round" -> 1),
    "w10_pack_sweep" -> Map("round" -> 1),
    // r16: w15's one ln is the per-bucket smoothed log-ratio computed
    // once on the ≤4096-row bucket relation, round(…, 9), DECIMAL
    // accumulation (a); the emitted logw is round(exact-DECIMAL cast, 6)
    // stated identically on both sides (b).
    "w15_dsir_weights" -> Map("ln" -> 1, "round" -> 2),
    "w11_balanced_sample" -> Map("round" -> 2),
    // r14: W7's audited pattern over pre/post-dedup token counts — √p is
    // IEEE-correctly-rounded (no libm risk), w9 = round(√p, 9) per
    // distinct source, Σ in DECIMAL, final single divisions at 6 (b)
    "w13_dedup_weighted_mix" -> Map("round" -> 7, "sqrt" -> 2),
    "w2_seq_pack" -> Map("round" -> 1),
    "w4_curriculum" -> Map("round" -> 1),
    "w5_epoch_plan" -> Map("round" -> 1),
    "w6_split_leakage" -> Map("round" -> 1),
    "w7_mixture_temperature" -> Map("round" -> 4, "sqrt" -> 1),
    "w8_quality_upsample" -> Map("round" -> 2),
    "w9_dedup_source_mix" -> Map("round" -> 6),
    "x11_rfm_segments" -> Map("round" -> 1),
    "x12_promo_revenue" -> Map("round" -> 1),
    "x13_fulfillment" -> Map("round" -> 2),
    "x15_customer_concentration" -> Map("round" -> 2),
    // x25: pattern (c) — the round is PREDICATE-only (whole-cent
    // discount grid ·100 rounded to an exact integer band compare),
    // never an emitted cell; emissions are a DECIMAL sum + BIGINT count
    "x25_forecast_revenue" -> Map("round" -> 1),
    "x6_monthly_revenue" -> Map("round" -> 1),
    "x8_market_share" -> Map("round" -> 1)
  )


  test("oracle emission sites: every ROUND/ln/exp/log/sqrt site is enumerated and audited") {
    // Mechanical gate for the t23 failure class: a transcendental or a
    // float ROUND in an oracle's EMITTED cells is the one construct that
    // can hash-diverge between engines (CLAUDE.md float contract). This
    // test greps every registered oracle SQL string for the risky
    // function family and asserts the per-(query, function) counts
    // EXACTLY match the audited snapshot above — so a new emission site
    // cannot land unnoticed. A site may be added to the snapshot only
    // if it follows one of the audited patterns:
    //   (a) round-once-per-distinct-key at vocab grain, accumulated in
    //       DECIMAL (T10/T11 rule),
    //   (b) an end-of-chain single IEEE division of exact integers with
    //       round(x, 6) stated identically on both sides, or
    //   (c) plan-resolution-only math whose result is NOT hash-compared
    //       cell-by-cell at float precision (s8's projection chain
    //       emits integer pixel grids; a-family round on 1e-6 grids of
    //       exact histogram counts).
    // ln-free restatements (t23's rational idf) are always preferred.
    val re = "(?i)\\b(round|ln|exp|log|log2|log10|sqrt|power)\\s*\\(".r
    val actual: Map[String, Map[String, Int]] = SparkEntry.oracleSql.toSeq
      .flatMap { case (name, sql) =>
        re.findAllMatchIn(sql).map(m => (name, m.group(1).toLowerCase))
      }
      .groupBy(_._1)
      .map { case (n, hits) =>
        n -> hits.groupBy(_._2).map { case (f, xs) => f -> xs.size }
      }
    val allQ = actual.keySet ++ OracleEmissionSites.keySet
    val diffs = allQ.toSeq.sorted.flatMap { q =>
      val a = actual.getOrElse(q, Map.empty)
      val e = OracleEmissionSites.getOrElse(q, Map.empty)
      if (a == e) None
      else Some(s"$q: actual=$a snapshot=$e")
    }
    assert(diffs.isEmpty,
      "un-audited oracle emission sites (update OracleEmissionSites ONLY " +
        "after verifying pattern (a)/(b)/(c) — see comment):\n" +
        diffs.mkString("\n"))
    // the t23 lesson, held forever: its oracle emits ZERO transcendentals
    assert(!OracleEmissionSites.contains("t23_bm25_topk"))
    assert(!"(?i)\\b(ln|exp|log|log2|log10)\\s*\\(".r
      .findFirstIn(SparkEntry.oracleSql("t23_bm25_topk")).isDefined)
  }
}
