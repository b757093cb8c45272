package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's pure decisions: the in-place re-time loop, the
  * compact contract line and the sweep fallback. No Spark session.
  */
class BenchSelectionSpec extends AnyFunSuite {
  import Bench.Iter

  private val Slots = 4
  private def clean(wall: Double): Iter = Iter(wall, taskRun = wall, taskCpu = wall)
  private def contended(wall: Double): Iter =
    Iter(wall, taskRun = wall * (1 + 2 * Bench.InflatedOffCpuPerSlot * Slots), taskCpu = wall)

  /** `retime` over `base`, with `again` answering from `more` in order
    * and counting its calls.
    */
  private def retimeWith(base: Seq[Option[Iter]], more: Seq[Option[Iter]]) = {
    val it = more.iterator
    var calls = 0
    val (all, still) = Bench.retime(base, () => { calls += 1; it.next() }, Slots)
    (all, still, calls)
  }

  test("inflated: off-CPU task seconds per slot-second above the constant") {
    val k = Bench.InflatedOffCpuPerSlot
    assert(!Bench.inflated(1.0, taskRun = 3.0, taskCpu = 2.9, slots = 4))
    assert(Bench.inflated(1.0, taskRun = 3.0, taskCpu = 3.0 - 1.01 * k * 4, slots = 4))
    assert(!Bench.inflated(1.0, taskRun = 3.0, taskCpu = 3.0 - 0.99 * k * 4, slots = 4))
    // the same off-CPU seconds spread over 8x the slots read 8x lower
    assert(!Bench.inflated(1.0, taskRun = 3.0, taskCpu = 3.0 - 1.01 * k * 4, slots = 32))
    assert(Bench.inflated(1.0, taskRun = 40.0, taskCpu = 40.0 - 1.01 * k * 32, slots = 32))
    // an iteration that ran no tasks (driver-only) is never inflated
    assert(!Bench.inflated(0.5, taskRun = 0.0, taskCpu = 0.0, slots = 4))
    assert(!Bench.inflated(0.0, taskRun = 0.0, taskCpu = 0.0, slots = 4))
    val c = contended(2.0)
    assert(Bench.inflated(c.wall, c.taskRun, c.taskCpu, Slots))
  }

  test("retime: a clean fastest iteration runs nothing more") {
    // the slower iteration is inflated, the fastest is clean
    val base = Seq(Some(contended(3.0)), Some(clean(1.0)))
    val (all, still, calls) = retimeWith(base, Nil)
    assert(calls == 0 && all == base && !still)
    assert(Bench.published(all) == 1.0)
  }

  test("retime: the cap holds when every extra iteration is inflated") {
    val base = Seq(Some(contended(2.0)), Some(contended(2.5)))
    val (all, still, calls) = retimeWith(base, Seq.fill(10)(Some(contended(1.8))))
    assert(calls == Bench.MaxRetimes)
    assert(all.length == base.length + Bench.MaxRetimes)
    assert(still)
    // the min estimator still publishes the fastest valid iteration
    assert(Bench.published(all) == 1.8)
  }

  test("retime: stops at the first clean iteration and publishes the min") {
    val base = Seq(Some(contended(2.0)), Some(contended(2.2)))
    // the clean iteration is slower than the inflated base min: the loop
    // stops there, and the published number is still the min
    val (all, still, calls) = retimeWith(base,
      Seq(Some(contended(1.9)), Some(clean(2.1)), Some(clean(0.1))))
    assert(calls == 2 && !still)
    assert(Bench.published(all) == 1.9)
  }

  test("retime: a failed iteration never publishes and never stops the loop") {
    val base = Seq(None, Some(contended(2.0)))
    val (all, still, calls) = retimeWith(base, Seq(None, None, Some(clean(1.5))))
    assert(calls == 3 && !still)
    assert(Bench.published(all) == 1.5)
    // an entry with no valid iteration is failed, not re-timed
    val (dead, deadStill, deadCalls) = retimeWith(Seq(None, None), Seq(Some(clean(0.1))))
    assert(deadCalls == 0 && !deadStill && Bench.published(dead) == -1.0)
  }

  test("compact line: driver-contract keys, valid JSON, fits the stdout tail") {
    // r17: BENCH_r10..r16 all show "parsed": null — the driver's tail
    // window only ever saw the v2 cs-int line, whose private keys its
    // parser does not recognize. The last stdout line must now (a) be
    // valid JSON, (b) carry the contract keys with seconds, (c) stay
    // under 1900 chars even at 300 registry entries + failures, and
    // (d) always list raster_* comparables individually.
    val qs = (1 to 300).map(i => (f"query_with_a_long_name_$i%03d", 0.6 + i * 0.01)) ++
      Seq(("raster_pushdown_400mp", 0.43), ("raster_warp_utm_16mp", 0.81),
        ("dead_query", -1.0))
    val line = Bench.compactContractLine(qs, failed = Seq("dead_query"),
      flaky = Nil, sentinel = 0.15, nChunks = 34, sfDir = "/root/testdata/sf0.1")
    assert(line.length <= 1900)
    val om = new com.fasterxml.jackson.databind.ObjectMapper // on the Spark classpath
    val node = om.readTree(line)
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
    assert(math.abs(node.get("value").asDouble -
      qs.map(_._2).filter(_ >= 0).sum) < 0.02)
    assert(node.get("sf").asText == "sf0.1")
    assert(node.get("queries").has("raster_pushdown_400mp"))
    assert(node.get("queries").has("raster_warp_utm_16mp"))
    assert(node.get("failed").get(0).asText == "dead_query")
    // r17 ADVICE: a failure is carried by NAME in "failed" only — never
    // as negative seconds inside the {name: sec} queries map, which a
    // schema-validating driver could reject or missum.
    assert(!node.get("queries").has("dead_query"))
    val qVals = node.get("queries").elements()
    while (qVals.hasNext) assert(qVals.next().asDouble >= 0.0)
    // listed + aggregated remainder partitions the TIMED suite exactly
    // (the one failed entry is excluded from both sides)
    assert(node.get("queries").size + node.get("fast_n").asInt == qs.length - 1)
    // a small suite lists everything by name at the base threshold
    val small = Bench.compactContractLine(Seq(("q1", 1.23), ("q2", 0.1)),
      Nil, Nil, 0.1, 1, "sf0.01")
    val smallNode = om.readTree(small)
    assert(smallNode.get("queries").get("q1").asDouble == 1.23)
    assert(smallNode.get("fast_n").asInt == 1)
  }

  test("compact line states the total both ways and lists per-entry cold (r21)") {
    val qs = Seq(("q_heavy", 1.5), ("q_fast", 0.1), ("raster_x", 0.4))
    val cold = Map("q_heavy" -> 4.0) // extraIters-style first iteration
    val line = Bench.compactContractLine(qs, Nil, Nil, 0.1, 1, "sf0.1",
      Bench.HarnessStats(), cold)
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val node = om.readTree(line)
    // value = published warm mins; cold_value substitutes recorded colds
    assert(math.abs(node.get("value").asDouble - 2.0) < 0.02)
    assert(math.abs(node.get("cold_value").asDouble - 4.5) < 0.02)
    assert(node.get("cold").get("q_heavy").asDouble == 4.0)
    // entries without a cold record don't appear in the cold map
    assert(!node.get("cold").has("raster_x"))
    // a cold below the published value never DEFLATES cold_value
    val weird = Bench.compactContractLine(Seq(("q", 2.0)), Nil, Nil, 0.1, 1,
      "sf0.1", Bench.HarnessStats(), Map("q" -> 1.0))
    assert(om.readTree(weird).get("cold_value").asDouble >= 2.0)
  }

  test("sweep fallback: first fleet always forks; then pace-projection decides") {
    // no measurement yet -> never bail before the first fleet
    assert(!Bench.sweepGoInProcess(0, 0.0, 200, 10.0))
    // 36 queries took 360s (10s/q); 100 remain; 500s budget -> in-process
    assert(Bench.sweepGoInProcess(36, 360.0, 100, 500.0))
    // same pace with a 1500s budget -> keep forking
    assert(!Bench.sweepGoInProcess(36, 360.0, 100, 1500.0))
  }

  test("compact line carries the harness self-description keys (r19 verdict #3)") {
    val stats = Bench.HarnessStats(harnessSec = 1234.5, sweepSec = 1000.0,
      revalSec = 234.5, revalDropped = Seq("a4_clahe", "g7_kcore"),
      skipped = Seq("m6_frame_overlap"))
    val line = Bench.compactContractLine(Seq(("q1", 1.0)), Nil, Nil,
      0.1, 35, "/root/testdata/sf0.1", stats)
    val om = new com.fasterxml.jackson.databind.ObjectMapper
    val node = om.readTree(line)
    assert(node.get("harness_sec").asDouble == 1234.5)
    assert(node.get("sweep_sec").asDouble == 1000.0)
    assert(node.get("reval_sec").asDouble == 234.5)
    // counts in the compact line (names live in bench_full.json — the
    // line must stay under the driver's 2000-char stdout tail)
    assert(node.get("reval_dropped").asInt == 2)
    assert(node.get("skipped_n").asInt == 1)
    assert(!node.has("partial"))
    // the shutdown-hook emission marks itself partial
    val partial = Bench.compactContractLine(Seq(("q1", 1.0)), Nil, Nil,
      0.1, 35, "/root/testdata/sf0.1", stats.copy(partial = true))
    assert(om.readTree(partial).get("partial").asBoolean)
    // contract keys still intact alongside the new ones
    assert(node.get("metric").asText == "total")
    assert(node.get("unit").asText == "sec")
  }
}
