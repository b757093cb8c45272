package graft.stats

/** The driver-side half of the tile stats path
  * ([[graft.api.Engine.tileStats]]), the optimization tier of SURVEY
  * §2.10/§7.4 (the oracle-checked tier is the declarative two-pass
  * formulation in [[HistStats]]): the tasks reduce their tiles to one
  * Welford buffer and one 4096-bin histogram per partition — constant
  * state, the property the reference chose the streaming histogram for
  * (32 KB constant memory, `CHANGELOG.md:219-229`) — and
  * this object merges the buffers, inverts the CDF and picks the
  * strategy's clip window.
  */
object FastStats {

  /** Welford/Chan mergeable moments buffer. */
  final case class Moments(n: Long, mean: Double, m2: Double, mn: Double, mx: Double)

  /** Chan's parallel merge of per-partition Welford buffers — the
    * distributed form of the reference's sequential Welford update
    * (`autoscale.rs:35-78`).
    */
  object Moments {
    val zero: Moments = Moments(0L, 0.0, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)

    def merge(a: Moments, b: Moments): Moments =
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val delta = b.mean - a.mean
        Moments(n,
          a.mean + delta * b.n / n,
          a.m2 + b.m2 + delta * delta * a.n * b.n / n,
          math.min(a.mn, b.mn), math.max(a.mx, b.mx))
      }

    def finish(r: Moments): MomentsResult =
      if (r.n == 0) MomentsResult(0, 0.0, 0.0, 0.0, 0.0)
      else MomentsResult(r.n, r.mn, r.mx, r.mean,
        if (r.n <= 1) 0.0 else math.sqrt(r.m2 / r.n))
  }

  final case class MomentsResult(n: Long, min: Double, max: Double, mean: Double, std: Double)

  final case class FastStatsResult(
      n: Long, min: Double, max: Double, mean: Double, std: Double,
      percentiles: Map[String, Double])

  /** Degenerate handling + CDF inversion on the 4096-bin array (same
    * arithmetic as `HistStats.statsCtesSql`: target = min(floor(p·n),
    * n−1), intra-bin linear interpolation), so percentiles are
    * bit-identical to the declarative path. `histProvider` is only
    * invoked when a histogram is needed.
    */
  def fromMoments(m: MomentsResult, histProvider: () => Array[Long]): FastStatsResult = {
    if (m.n == 0)
      return FastStatsResult(0, 0.0, 0.0, 0.0, 0.0,
        HistStats.Percentiles.map { case (nm, _) => nm -> 0.0 }.toMap)
    if (m.max == m.min)
      return FastStatsResult(m.n, m.min, m.max, m.mean, m.std,
        HistStats.Percentiles.map { case (nm, _) => nm -> m.min }.toMap)
    val hist = histProvider()
    val numBins = HistStats.NumBins
    val binWidth = (m.max - m.min) / numBins.toDouble
    val cum = new Array[Long](numBins + 1)
    var i = 0
    while (i < numBins) { cum(i + 1) = cum(i) + hist(i); i += 1 }
    val pcts = HistStats.Percentiles.map { case (nm, p) =>
      val target = math.min(math.floor(p * m.n).toLong, m.n - 1)
      var bin = 0
      while (bin < numBins && !(target >= cum(bin) && target < cum(bin + 1))) bin += 1
      val cb = cum(bin); val h = hist(bin)
      val v = (m.min + bin * binWidth) + ((target - cb).toDouble / h.toDouble) * binWidth
      nm -> v
    }.toMap
    FastStatsResult(m.n, m.min, m.max, m.mean, m.std, pcts)
  }

  /** Legacy 4-branch autoscale params (`autoscale.rs:404-429`) — the
    * path the reference routes strategy=Standard through
    * (`pipeline.rs:49-52`).
    */
  def legacyParams(st: FastStatsResult): (Double, Double, Double) = {
    val p = st.percentiles
    val dynamicRange = st.max - st.min
    val iqr = p("p75") - p("p25")
    val medRange = math.max(20.0, dynamicRange * 0.8)
    val (low, high, gamma) =
      if (dynamicRange < 15.0)
        (p("median_db") - medRange / 2.0, p("median_db") + medRange / 2.0, 1.1)
      else if (iqr < 5.0)
        (p("p25") - 2.5 * iqr, p("p75") + 2.5 * iqr, 1.0)
      else if (dynamicRange > 40.0)
        (math.max(p("p02"), st.min + 0.02 * dynamicRange),
          math.min(p("p98"), st.max - 0.02 * dynamicRange), 0.9)
      else (p("p02"), p("p98"), 1.0)
    (math.max(low, st.min), math.min(high, st.max), gamma)
  }

  /** A3 strategy selection on the driver-side stats row (same branch
    * logic as [[HistStats.advancedParams]] / `autoscale.rs:491-562`).
    */
  def strategyParams(st: FastStatsResult, strategy: String): (Double, Double, Double) = {
    val p = st.percentiles
    strategy match {
      case "robust" =>
        val iqr = p("p75") - p("p25")
        (math.max(math.max(p("p25") - 2.5 * iqr, p("p01")), st.min),
          math.min(math.min(p("p75") + 2.5 * iqr, p("p99")), st.max), 1.0)
      case "adaptive" =>
        val skew = (st.mean - p("median_db")) / math.max(math.abs(st.std), 1.0)
        val tail = (p("p99") - p("p95")) / math.max(p("p95") - p("p75"), 1.0)
        if (math.abs(skew) > 0.5) {
          if (skew > 0.0) (p("p02"), p("p98"), 0.9) else (p("p05"), p("p95"), 1.1)
        } else if (tail > 2.0) (p("p10"), p("p90"), 0.8)
        else (p("p05"), p("p95"), 1.0)
      case "equalized" | "clahe" => (p("p01"), p("p99"), 1.0)
      case "tamed" => (p("p25"), p("p99"), 1.0)
      case _ => (p("p05"), p("p95"), 1.0)
    }
  }
}
