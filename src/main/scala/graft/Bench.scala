package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Benchmark main. Two modes:
  *
  *  - **parent** (default, what the driver runs): partitions the full
  *    suite (registry queries + raster cases) into chunks of
  *    [[Bench.ChunkSize]], groups chunks into fleets of
  *    [[Bench.ChunksPerJvm]], and runs each fleet in ONE forked JVM
  *    (fresh SparkSession per chunk), then merges the per-chunk results
  *    into the single round artifact. Rationale (r11 judge finding):
  *    one JVM accumulating 133 query plans inflates individual timings
  *    up to 5× vs isolated runs (codegen cache / metaspace / GC state
  *    the load sentinel cannot see) — judge-measured d10 7.20 s
  *    in-sweep vs 1.42 s isolated with identical plans. Chunking bounds
  *    per-session plan state; fleets bound the fixed JVM+Spark boot cost
  *    to ~6 boots instead of 35. An entry whose fastest iteration shows
  *    contention in its own task record is re-timed in place
  *    ([[Bench.retime]]). The whole parent run is DEADLINE-BOUNDED
  *    (r20, see [[Bench.DeadlineSec]]): sweep forking, then whole chunks
  *    shed in that order as the budget tightens, and a shutdown hook
  *    prints a best-effort contract line even on SIGTERM — BENCH_r19
  *    died rc=124/"parsed":null with the artifact never printed.
  *  - **fleet child** (`SPARK_GRAFT_BENCH_OUT` and
  *    `SPARK_GRAFT_BENCH_MULTI` set): runs the '|'-separated chunks with
  *    a session restart between them, in-process, and writes one
  *    line-based protocol file per chunk to OUT instead of printing
  *    artifacts.
  *
  * A `SPARK_GRAFT_BENCH_ONLY` subset runs the parent mode over its
  * names; `tools/Profile time` runs [[Bench.runSuite]] in one session.
  */
object Bench {
  import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

  /** Queries per forked chunk. Small enough that per-JVM plan state
    * stays small (judge target: artifact within ~1.3× of an isolated
    * Profile time run), large enough that the ~10 s JVM+session startup
    * amortizes across the suite. r12 calibration at the 170-query
    * registry: chunks of 12 still inflated state-sensitive plans (a4
    * sweep 7.4 s vs 3.0 isolated); chunks of 6 REDUCED it (r12 judge
    * re-measures: w8 3.14 in-sweep vs 0.55 isolated, a4 7.23 vs 2.4).
    */
  val ChunkSize: Int = 6

  /** Chunks per child JVM (r20). A fresh JVM per 6-query chunk paid 35
    * boots/sweep — ~10+ min of pure JVM+Spark+classload on a quiet host
    * and far more under steal. One child runs several consecutive
    * chunks, RESTARTING its SparkSession (new SparkContext) between
    * chunks: session state (cached plans, AQE listeners, catalog) drops
    * per chunk, while paying ~6 boots instead of 35. Codegen-cache/
    * metaspace/JIT state DOES survive a session restart; the min
    * estimator and the in-place re-time absorb what it inflates. Each
    * chunk's protocol file is written as the chunk completes, so a
    * fleet killed mid-run still yields its finished chunks.
    */
  val ChunksPerJvm: Int = 6

  // ------------------------------------------------ wall-clock budget
  // r20 (r19 verdict #1): BENCH_r19 was rc=124/"parsed":null because
  // nothing bounded the sweep wall time and the contract line printed
  // only after everything finished. The harness now runs against a
  // deadline measured from main() entry; sweep forking, then whole
  // chunks, degrade in that order, and a shutdown hook prints a
  // best-effort contract line even on SIGTERM.

  /** Harness deadline in seconds from main() entry. Default 2400 s:
    * the driver kills the bench near ~3,600 s (r19: rc 124), and sbt
    * boot/compile before main() plus artifact emit must fit inside
    * that window with real headroom.
    */
  private[graft] val DeadlineSec: Double =
    sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_S").flatMap(_.toDoubleOption)
      .getOrElse(2400.0)

  /** Reserved for merging + artifact emit at the very end. */
  private[graft] val EmitReserveSec = 30.0

  /** How long past the deadline the watchdog waits for the artifact. */
  private val WatchdogGraceSec = 30.0

  /** Elapsed/remaining tracker from main() entry. */
  private[graft] final class Budget(startNanos: Long, deadlineSec: Double) {
    def elapsedSec: Double = (System.nanoTime() - startNanos) / 1e9
    def remainingSec: Double = deadlineSec - elapsedSec
  }

  /** Harness self-description carried in the artifact (r19 verdict #3:
    * the r19 failure was diagnosable only from stderr chunk lines the
    * driver happened to tail; the artifact now records its own timing).
    * `revalSec` = seconds spent on in-place re-time iterations;
    * `revalDropped` = entries still inflated after [[MaxRetimes]] of
    * them; `skipped` = queries never measured at all (fully degraded
    * path); `partial` marks a shutdown-hook emission.
    */
  private[graft] final case class HarnessStats(
    harnessSec: Double = -1.0,
    sweepSec: Double = -1.0,
    revalSec: Double = -1.0,
    revalDropped: Seq[String] = Nil,
    skipped: Seq[String] = Nil,
    partial: Boolean = false)

  private def statsOf(r: SuiteResult, harnessSec: Double, sweepSec: Double,
                      skipped: Seq[String] = Nil): HarnessStats =
    HarnessStats(harnessSec, sweepSec, revalSec = r.retimed.map(_.sec).sum,
      revalDropped = r.retimed.filter(_.inflated).map(_.name), skipped = skipped)

  /** True once the normal artifact printed — disarms the hook. */
  private val contractEmitted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Latest best-effort contract-line renderer, updated as results
    * merge; the shutdown hook prints it if the JVM dies before
    * [[emitArtifacts]] ran (SIGTERM from the driver's timeout). A
    * SIGKILL defeats this — the deadline logic exists so it never
    * comes to that.
    */
  @volatile private var bestEffortLine: Option[() => String] = None

  private def updateBestEffort(r: SuiteResult, nChunks: Int, sfDir: String,
                               stats: => HarnessStats): Unit = {
    val snapshot = r // immutable
    bestEffortLine = Some(() => compactContractLine(
      snapshot.results, snapshot.failed, snapshot.flaky,
      if (snapshot.sentinels.isEmpty) -1.0 else snapshot.sentinels.max,
      nChunks, sfDir, stats.copy(partial = true), snapshot.cold.toMap))
  }

  private def armShutdownHook(): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!contractEmitted.getAndSet(true)) bestEffortLine.foreach { f =>
        // last line of stdout = the driver's parse target
        println(f())
        System.out.flush()
      }
    }))

  /** Live child processes, so the deadline watchdog can reap them
    * before halting (an orphaned fleet would keep burning the host).
    */
  private val liveChildren =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Process]()

  /** Last-resort internal deadline (r20): if the contract line has not
    * printed by deadline + [[WatchdogGraceSec]], print the best-effort
    * line and `halt(0)`. Halting with exit code ZERO is the point — sbt
    * appends an "[error] Nonzero exit code" footer to STDOUT after a
    * nonzero runner exit (measured in the r20 SIGTERM smoke), which
    * would become the driver's last line and leave the round at
    * parsed:null; a clean exit with `Global/showSuccess := false` leaves
    * our JSON as the literal final stdout line. The budget logic in the
    * phases should always finish first — this fires only if something
    * hung (a child ignoring destroy, a wedged Spark shutdown).
    */
  private def armWatchdog(budget: Budget): Unit = {
    val t = new Thread(() => {
      while (!contractEmitted.get() && budget.remainingSec > -WatchdogGraceSec)
        Thread.sleep(1000)
      if (!contractEmitted.getAndSet(true)) {
        System.err.println("BENCH WATCHDOG: deadline lapsed with no artifact; " +
          "printing best-effort contract line and halting 0")
        liveChildren.forEach(p => { p.destroyForcibly(); () })
        bestEffortLine.foreach { f => println(f()); System.out.flush() }
        Runtime.getRuntime.halt(0)
      }
    })
    t.setDaemon(true)
    t.setName("bench-deadline-watchdog")
    t.start()
  }

  /** One row that depends on EVERY output column (checksum aggregate):
    * collecting it materializes the whole result, where a bare count()
    * would let Catalyst prune the benchmarked projections. bit_xor (not
    * sum): summing full-range xxhash64 longs overflows under Spark 4's
    * default ANSI mode and aborts the query.
    */
  private[graft] def checksum(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    d.select(bit_xor(xxhash64(struct(d.columns.toIndexedSeq.map(col): _*))))

  /** Shuffle and broadcast exchanges of an executed adaptive plan, over
    * the final plan and its query stages. Counted by node class, not by
    * plan-string grep, which counts a shared subtree once per rendering;
    * a reused exchange is neither class. Subqueries are not walked.
    */
  private def exchangesOf(plan: SparkPlan): (Int, Int) = {
    var shuffle = 0
    var bcast = 0
    new AdaptiveSparkPlanHelper {}.foreach(plan) {
      case _: ShuffleExchangeLike => shuffle += 1
      case _: BroadcastExchangeLike => bcast += 1
      case _ => ()
    }
    (shuffle, bcast)
  }

  private[graft] def deleteTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      val all = java.nio.file.Files.walk(path)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally all.close()
    }

  // ------------------------------------------------ iteration protocol
  // min of several timed iterations: a single pass is one scheduler
  // hiccup away from recording noise as a regression — round 3's bench
  // artifact was exactly that. The count follows what the entry
  // measures. A registry entry whose memo entry owns persists
  // (`persistRecorded` inside its build, or a shared base it consumed)
  // runs 3 iterations with those persists kept warm BETWEEN its own
  // iterations — at min-of-2 those multi-job plans swung ±1.5-5 s across
  // rounds with no code change (a4 in r7, a5 in r8) — and records its
  // first, cold-cache iteration under `cold`, so fixture-materialization
  // regressions stay visible. Every other registry entry runs 2
  // iterations with a clearCache after each. Rasters run 4: the
  // BASELINE.md comparables swung 0.46↔0.78 s run-to-run at min-of-2.
  // A registry entry is built once at the timed scale factor, under the
  // session's own confs, just before its iterations. The build is timed
  // on its own: it joins `cold` where the entry records one and never
  // enters a published min, so every iteration that can be published
  // runs a built entry. `exchanges` counts the plan the first iteration
  // executed.

  /** One timed iteration: wall seconds, and the summed executor run and
    * CPU seconds of the tasks it ran.
    */
  private[graft] final case class Iter(wall: Double, taskRun: Double, taskCpu: Double)

  /** Off-CPU task seconds per slot-second above which an iteration
    * counts as inflated: (taskRun − taskCpu) / (wall × slots), the mean
    * number of the session's task slots holding a task that was running
    * but off the CPU. A task that is runnable but not running (host
    * steal, a GC pause) accrues run time without CPU time; `Profile
    * stages` found the a4/g7 warm 4× class to be exactly that (12.5 s
    * run / 8.7 s CPU on a 5.0 s iteration), though at ≥ 4 slots that
    * reads ≤ 0.19, under this constant. Per slot, because a sum over
    * concurrent tasks grows with the slot count: the same per-slot
    * efficiency reads the same at local[4] and local[32]. Set above the
    * tail of a quiet sweep: at sf0.1 on a 4-core host (local[4]), over
    * the 202 entries whose chunk sentinel read ≤ 0.3 s, each entry's
    * fastest iteration read p50 0.012, p90 0.086, p99 0.17, max 0.20,
    * and all 488 iterations p99 0.25, max 0.33. Not yet measured at 32
    * slots.
    */
  private[graft] val InflatedOffCpuPerSlot = 0.3

  /** Re-time iterations an inflated entry may add. */
  private[graft] val MaxRetimes = 3

  private[graft] def inflated(wall: Double, taskRun: Double, taskCpu: Double,
                              slots: Int): Boolean =
    wall > 0 && taskRun - taskCpu > InflatedOffCpuPerSlot * wall * slots

  /** The in-place re-time (None = a failed iteration). When the fastest
    * valid iteration of `base` is inflated, runs `again` up to
    * [[MaxRetimes]] times, stopping at the first clean iteration.
    * Returns every iteration and whether the entry is still inflated at
    * the cap; the entry publishes [[published]] of them.
    */
  private[graft] def retime(base: Seq[Option[Iter]], again: () => Option[Iter],
                            slots: Int): (Seq[Option[Iter]], Boolean) = {
    def clean(i: Iter) = !inflated(i.wall, i.taskRun, i.taskCpu, slots)
    val valid = base.flatten
    if (valid.isEmpty || clean(valid.minBy(_.wall))) (base, false)
    else {
      var extra = Vector.empty[Option[Iter]]
      while (extra.length < MaxRetimes && !extra.lastOption.flatten.exists(clean))
        extra :+= again()
      (base ++ extra, !extra.flatten.exists(clean))
    }
  }

  /** The min wall of the valid iterations; -1 when none is valid. */
  private[graft] def published(iters: Seq[Option[Iter]]): Double = {
    val valid = iters.flatten
    if (valid.isEmpty) -1.0 else valid.map(_.wall).min
  }

  /** An entry [[retime]] re-timed: base min, published min, how many
    * iterations and seconds the re-time added, still inflated at the cap.
    */
  private[graft] final case class Retime(name: String, base: Double, published: Double,
                                         extra: Int, sec: Double, inflated: Boolean)

  /** Raster-pipeline E2E cases — the direct comparables to the
    * reference's published numbers (BASELINE.md: single-product
    * SAFE→synRGB/TIFF wall times).
    */
  private[graft] val rasterCases: Seq[(String, SparkSession => Unit)] = {
    import graft.api.Engine
    import graft.model._
    Seq[(String, SparkSession => Unit)](
      "raster_standard_16mp" -> (spark => { Engine.processBand(spark, "b", "vv", 4096, 4096,
        ProcessingParams(autoscale = AutoscaleStrategy.Standard, targetSize = Some(2048))); () }),
      "raster_clahe_16mp" -> (spark => { Engine.processBand(spark, "b", "vv", 4096, 4096,
        ProcessingParams(autoscale = AutoscaleStrategy.Clahe, targetSize = Some(2048))); () }),
      "raster_synrgb_tamed_16mp" -> (spark => { Engine.processMultiband(spark, "b", ("vv", "vh"),
        4096, 4096, ProcessingParams(autoscale = AutoscaleStrategy.Tamed, targetSize = Some(2048))); () }),
      "raster_pushdown_400mp" -> (spark => { Engine.processBand(spark, "b", "vv", 20000, 20000,
        ProcessingParams(autoscale = AutoscaleStrategy.Standard, targetSize = Some(2048)),
        decimate = 8); () }),
      // native warp E2E (S8): UTM zone change fused with the -ts resize
      // — the distributed inverse-projected resample incl. the block
      // regroup (k=2 at this shrink)
      "raster_warp_utm_16mp" -> (spark => { Engine.processToBuffer(spark, "b", 4096, 4096,
        ProcessingParams(autoscale = AutoscaleStrategy.Standard, targetSize = Some(2048),
          targetCrs = Some("EPSG:32633")),
        graft.meta.SafeMeta(crs = Some("EPSG:32632"),
          geotransform = Some(Array(730000.0, 10.0, 0.0, 5000000.0, 0.0, -10.0)))); () }),
      // per-product batch E2E mirroring the reference's lenient
      // directory loop (`api/mod.rs:474-536`): N products end-to-end
      // through processToPath with error isolation — surfaces the
      // scheduling overhead a single-product number hides
      "raster_batch_4prod" -> (spark => {
        val out = java.nio.file.Files.createTempDirectory("graft-bench-batch")
        try {
          val report = Engine.processDirectory(spark,
            (1 to 4).map(i => (s"S1A_IW_GRDH_bench$i", 2048, 2048)), out.toString,
            ProcessingParams(autoscale = AutoscaleStrategy.Standard, targetSize = Some(1024)))
          require(report.processed == 4 && report.errors.isEmpty,
            s"batch bench must process cleanly: $report")
        } finally deleteTree(out)
        () }))
  }

  /** The scale factor every entry is built and run at once before the
    * timed pass: codegen compilation and JIT for each plan shape land
    * there, not in the timed iterations.
    */
  private val WarmDir = "/root/testdata/sf0.001"

  /** Everything one suite pass produces, mergeable across chunks. */
  final case class SuiteResult(
    results: Seq[(String, Double)],
    cold: Seq[(String, Double)],
    iters: Seq[(String, Int)],
    exchanges: Seq[(String, (Int, Int))],
    failed: Seq[String],
    flaky: Seq[String],
    sentinels: Seq[Double],
    retimed: Seq[Retime] = Nil)

  /** Runs the named subset (registry + raster) in THIS JVM with the
    * per-entry protocol above: warmup at [[WarmDir]], sentinel, then
    * each entry's build at `sfDir` and its timed iterations. `cold`,
    * where recorded, is the build plus the first iteration; a published
    * min never includes the build. An entry's `exchanges` are
    * [[exchangesOf]] the adaptive plan the first iteration that
    * completed executed: (-1, -1) when none did.
    */
  def runSuite(spark: SparkSession, sfDir: String,
               names: String => Boolean): SuiteResult = {
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => names(q._1))
    ordered.foreach { case (_, fn) =>
      try checksum(fn(spark, WarmDir)).collect() catch { case _: Throwable => }
      spark.catalog.clearCache()
    }
    // Contention sentinel: a fixed trivial job timed AFTER warmup. Its
    // wall time depends only on machine load, never on query code, so a
    // poisoned run (contended sandbox, as in round 3's invalid bench) is
    // detectable by gate consumers: sentinel >> its idle-machine value
    // (~0.1-0.3s at local[32]) means discard the whole measurement.
    val sentinel = {
      spark.range(100000000L).selectExpr("count(*)").collect() // warm the shape
      val t0 = System.nanoTime()
      spark.range(100000000L).selectExpr("count(*)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val flaky = scala.collection.mutable.ArrayBuffer.empty[String]
    val coldTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val iterCounts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val retimed = scala.collection.mutable.ArrayBuffer.empty[Retime]
    val clock = TaskClock.on(spark.sparkContext)
    val slots = spark.sparkContext.defaultParallelism
    def once(name: String, f: () => Unit): Option[Iter] = {
      clock.drain(s"the iteration before $name's")
      val t0 = System.nanoTime()
      val ok = try { f(); true } catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val (taskRun, taskCpu) = TaskClock.seconds(clock.drain(s"an iteration of $name"))
      if (ok) Some(Iter(wall, taskRun, taskCpu)) else None
    }
    // per-query caches (grid/signature persists) must never bleed into
    // the NEXT query's timings; an entry that owns persists keeps them
    // warm between its OWN iterations (see the protocol note above).
    def timed(name: String, f: () => Unit, raster: Boolean, buildSec: Double = 0.0): Double = {
      val first = once(name, f)
      val keep = !raster && ext.SessionMemo.persistsOf(SparkEntry.memoKey(name, sfDir)).nonEmpty
      if (keep) first.foreach(i => coldTimes(name) = buildSec + i.wall)
      else spark.catalog.clearCache()
      val iterate = () => {
        val r = once(name, f)
        if (!keep) spark.catalog.clearCache()
        r
      }
      val base = first +: Seq.fill((if (raster) 4 else if (keep) 3 else 2) - 1)(iterate())
      val t0 = System.nanoTime()
      val (all, stillInflated) = retime(base, iterate, slots)
      if (keep) spark.catalog.clearCache()
      val pub = published(all)
      if (all.length > base.length) {
        val rt = Retime(name, published(base), pub, all.length - base.length,
          (System.nanoTime() - t0) / 1e9, stillInflated)
        System.err.println(f"BENCH retime $name: ${rt.base}%.2f -> ${rt.published}%.2f " +
          s"in ${rt.extra} more iterations${if (stillInflated) " (still inflated)" else ""}")
        retimed += rt
      }
      iterCounts(name) = all.length
      if (pub < 0) failed += name
      else if (all.exists(_.isEmpty)) flaky += name
      pub
    }
    try {
      val (results, exchanges) = ordered.map { case (name, fn) =>
        val build = once(name, () => { fn(spark, sfDir); () })
        // counted inside the iteration: a tree walk, and the plan is not
        // held past it
        var counted: Option[(Int, Int)] = None
        val pub = timed(name, () => {
          val d = checksum(fn(spark, sfDir))
          d.collect()
          if (counted.isEmpty) counted = Some(exchangesOf(d.queryExecution.executedPlan))
        }, raster = false, buildSec = build.fold(0.0)(_.wall))
        (name -> pub, name -> counted.getOrElse((-1, -1)))
      }.unzip
      val rasterResults = rasterCases.filter(c => names(c._1)).map { case (name, f) =>
        try { f(spark) } catch { case _: Throwable => } // warm
        name -> timed(name, () => f(spark), raster = true)
      }
      SuiteResult(results ++ rasterResults, coldTimes.toSeq, iterCounts.toSeq,
        exchanges, failed.distinct.toSeq, flaky.distinct.toSeq, Seq(sentinel), retimed.toSeq)
    } finally clock.close()
  }

  private def merge(rs: Seq[SuiteResult]): SuiteResult =
    SuiteResult(rs.flatMap(_.results), rs.flatMap(_.cold), rs.flatMap(_.iters),
      rs.flatMap(_.exchanges), rs.flatMap(_.failed), rs.flatMap(_.flaky),
      rs.flatMap(_.sentinels), rs.flatMap(_.retimed))

  // ---------------------------------------------------- child protocol

  /** One record per line, space-separated, locale-free doubles:
    * `S <sentinel>` / `Q <name> <min> <iters>` / `C <name> <cold>` /
    * `E <name> <shuffle> <bcast>` / `F <name>` / `K <name>` /
    * `R <name> <base> <published> <extra> <sec> <inflated 0|1>`.
    * A trailing `DONE` line marks a complete file — a child killed
    * mid-write is detected by its absence.
    */
  private def writeProtocol(path: String, r: SuiteResult): Unit = {
    val sb = new StringBuilder
    r.sentinels.foreach(s => sb.append(s"S $s\n"))
    val it = r.iters.toMap
    r.results.foreach { case (n, v) => sb.append(s"Q $n $v ${it.getOrElse(n, 0)}\n") }
    r.cold.foreach { case (n, v) => sb.append(s"C $n $v\n") }
    r.exchanges.foreach { case (n, (sh, bc)) => sb.append(s"E $n $sh $bc\n") }
    r.failed.foreach(n => sb.append(s"F $n\n"))
    r.flaky.foreach(n => sb.append(s"K $n\n"))
    r.retimed.foreach(t => sb.append(
      s"R ${t.name} ${t.base} ${t.published} ${t.extra} ${t.sec} ${if (t.inflated) 1 else 0}\n"))
    sb.append("DONE\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
    ()
  }

  private def readProtocol(path: String): Option[SuiteResult] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) return None
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(f)).asScala.toSeq
    if (!lines.lastOption.contains("DONE")) return None
    val records = lines.map(_.split(' ').toSeq)
    def of(tag: String): Seq[Seq[String]] = records.collect { case t +: fields if t == tag => fields }
    // a malformed record reads as a missing chunk, like a truncated file
    scala.util.Try(SuiteResult(
      of("Q").map(q => q(0) -> q(1).toDouble),
      of("C").map(c => c(0) -> c(1).toDouble),
      of("Q").map(q => q(0) -> q(2).toInt),
      of("E").map(e => e(0) -> (e(1).toInt, e(2).toInt)),
      of("F").map(_(0)),
      of("K").map(_(0)),
      of("S").map(_(0).toDouble),
      of("R").map(t => Retime(t(0), t(1).toDouble, t(2).toDouble, t(3).toInt,
        t(4).toDouble, t(5) == "1")))).toOption
  }

  // ------------------------------------------------------- parent mode

  /** Starts one child JVM with `env` added, output to `log`. The
    * classpath and JVM flags are this process's own (`run / fork :=
    * true` in build.sbt means `java.class.path` is the real application
    * classpath and the RuntimeMXBean input arguments carry the add-opens
    * + -Xmx set); the parent's stdout stays clean for the artifact lines
    * the driver tails.
    */
  private def spawnChild(env: Map[String, String], log: String): Process = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
    val pb = new ProcessBuilder(cmd)
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectOutput(new java.io.File(log))
    pb.redirectErrorStream(true)
    val p = pb.start()
    liveChildren.add(p)
    p
  }

  /** waitFor with the watchdog registry kept in sync; kills the child
    * on timeout. Returns true when the child finished by itself.
    */
  private def awaitChild(proc: Process, timeoutSec: Double): Boolean = {
    val finished = proc.waitFor(math.max(1000L, (timeoutSec * 1000).toLong),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    if (!finished) proc.destroyForcibly().waitFor()
    liveChildren.remove(proc)
    finished
  }

  /** Forks ONE child JVM over several consecutive chunks (r20, see
    * [[ChunksPerJvm]]). The child restarts its SparkSession between
    * chunks and writes `OUT.i` per chunk AS IT COMPLETES, so on
    * timeout/death the finished chunks are still harvested — the
    * returned seq has one entry per input chunk, None where the
    * protocol file is missing or truncated.
    */
  private def forkFleet(tmp: String, tag: String, chunks: Seq[Seq[String]],
                        timeoutSec: Double): Seq[Option[SuiteResult]] = {
    val out = s"$tmp/$tag.tsv"
    val env = Map(
      "SPARK_GRAFT_BENCH_MULTI" -> chunks.map(_.mkString(",")).mkString("|"),
      "SPARK_GRAFT_BENCH_OUT" -> out)
    val proc = spawnChild(env, s"$tmp/$tag.log")
    if (!awaitChild(proc, timeoutSec))
      System.err.println(f"BENCH WARN: fleet $tag exceeded its $timeoutSec%.0f s " +
        s"window; killed (completed chunk protocols are still harvested)")
    chunks.indices.map(i => readProtocol(s"$out.$i"))
  }

  /** Pure sweep-degradation decision (spec-pinned): after at least one
    * forked fleet has been measured, project the remaining forked sweep
    * at the measured per-query pace; if it would not fit the remaining
    * sweep budget, the rest of the sweep runs in-process (one JVM, no
    * boots — the r19-verdict fallback). The first fleet always forks:
    * with no measurement a projection would be a guess, and a healthy
    * host must keep the accuracy-preferred forked protocol.
    */
  private[graft] def sweepGoInProcess(measuredQueries: Int, measuredSec: Double,
      remainingQueries: Int, remainingBudgetSec: Double): Boolean =
    measuredQueries > 0 &&
      measuredSec / measuredQueries * remainingQueries > remainingBudgetSec

  /** Deadline-aware chunked sweep (r20). Fleets of [[ChunksPerJvm]]
    * chunks fork while the measured pace fits the budget (reserving
    * [[EmitReserveSec]]); once it would not, the remaining chunks run
    * IN-PROCESS in this JVM (no boot cost), chunk-by-chunk with a budget
    * check before each — chunks that cannot fit at all are returned as
    * `skipped` (never measured; listed in the artifact rather than
    * silently absent). Failed fleet chunks (child death / truncated
    * protocol) join the in-process queue. Every merge updates the
    * shutdown hook's best-effort line. The children's protocol and log
    * files are deleted at the end unless a warning named a log.
    */
  private def runChunked(sfDir: String, allNames: Seq[String],
                         budget: Budget): (SuiteResult, Seq[String]) = {
    val tmpPath = java.nio.file.Files.createTempDirectory("graft-bench")
    val tmp = tmpPath.toString
    var keepLogs = false
    val chunks = allNames.grouped(ChunkSize).toSeq
    val fleets = chunks.grouped(ChunksPerJvm).toSeq
    val done = scala.collection.mutable.ArrayBuffer.empty[SuiteResult]
    val inprocQueue = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var measuredQueries = 0
    var measuredSec = 0.0
    var fi = 0
    var bailed = false
    def noteProgress(): Unit = {
      val r = merge(done.toSeq)
      updateBestEffort(r, chunks.length, sfDir, statsOf(r, budget.elapsedSec,
        budget.elapsedSec, skipped = inprocQueue.flatten.toSeq))
    }
    while (fi < fleets.length && !bailed) {
      val fleet = fleets(fi)
      val remainingQ = fleets.drop(fi).map(_.map(_.length).sum).sum
      val sweepBudget = budget.remainingSec - EmitReserveSec
      if (sweepGoInProcess(measuredQueries, measuredSec, remainingQ, sweepBudget)) {
        System.err.println(f"BENCH DEADLINE: forked pace " +
          f"(${measuredSec / math.max(1, measuredQueries)}%.1f s/query) cannot " +
          f"fit $remainingQ remaining queries in $sweepBudget%.0f s; " +
          "switching to the in-process fallback for the rest of the sweep")
        inprocQueue ++= fleets.drop(fi).flatten
        bailed = true
      } else {
        val t0 = System.nanoTime()
        val rs = forkFleet(tmp, s"fleet$fi", fleet,
          timeoutSec = math.max(60.0, sweepBudget))
        val dt = (System.nanoTime() - t0) / 1e9
        val log = s"$tmp/fleet$fi.log"
        val childWarns = scala.util.Using.resource(scala.io.Source.fromFile(log, "ISO-8859-1"))(
          _.getLines().filter(_.startsWith("BENCH WARN")).toList)
        childWarns.foreach(w => System.err.println(s"$w (log: $log)"))
        keepLogs ||= childWarns.nonEmpty
        val okN = rs.count(_.isDefined)
        System.err.println(f"BENCH fleet ${fi + 1}/${fleets.length} " +
          f"(${fleet.length} chunks, ${fleet.map(_.length).sum} queries) " +
          f"$okN/${fleet.length} chunks ok in $dt%.0f s")
        fleet.zip(rs).zipWithIndex.foreach { case ((chunk, r), ci) =>
          r match {
            case Some(sr) => done += sr
            case None =>
              System.err.println(s"BENCH WARN: fleet$fi chunk $ci " +
                s"(${chunk.mkString(",")}) missing from child protocol " +
                s"(log: $log); queued for in-process fallback")
              keepLogs = true
              inprocQueue += chunk
          }
        }
        measuredSec += dt
        measuredQueries += fleet.zip(rs).collect { case (c, Some(_)) => c.length }.sum
        noteProgress()
        fi += 1
      }
    }
    // In-process fallback: chunk-by-chunk in THIS JVM with a budget
    // check before each (the per-query pace estimate still carries the
    // boot cost the forked pace included, so it over-reserves if
    // anything). A FRESH SparkSession per chunk — exactly the fleet
    // child's semantics, differing only by the skipped JVM boot: the
    // first r20 run shared one session across ~170 queries and
    // session-memoized family entries published their MARGINAL cost
    // (d7_dup_clusters 0.13 s vs ~1.3 s standalone — a 10x DEFLATION
    // the min estimator cannot catch). Surviving JVM-level codegen/JIT
    // state remains, as in a fleet; the sentinel records the contention
    // that forced this path.
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    if (inprocQueue.nonEmpty) {
      val perQ = if (measuredQueries > 0) measuredSec / measuredQueries else 5.0
      inprocQueue.foreach { chunk =>
        if (budget.remainingSec - EmitReserveSec < perQ * chunk.length) {
          skipped ++= chunk
        } else {
          val t0 = System.nanoTime()
          val spark = GraftSession.build(4)
          try done += runSuite(spark, sfDir, chunk.toSet)
          finally { spark.catalog.clearCache(); spark.stop() }
          System.err.println(f"BENCH in-process chunk (${chunk.length} queries) " +
            f"in ${(System.nanoTime() - t0) / 1e9}%.0f s")
          noteProgress()
        }
      }
    }
    if (skipped.nonEmpty)
      System.err.println(s"BENCH DEADLINE: ${skipped.length} queries never " +
        s"measured (budget exhausted): ${skipped.sorted.mkString(", ")}")
    if (!keepLogs) deleteTree(tmpPath)
    (merge(done.toSeq), skipped.toSeq)
  }

  // ---------------------------------------------------------- artifact

  /** What the artifact's fields mean under this protocol. */
  private def notes(nChunks: Int): String =
    s"$nChunks chunks of <=$ChunkSize entries, a fresh session per chunk, " +
      s"$ChunksPerJvm chunks per forked JVM. Each entry publishes the min of its " +
      "valid timed iterations under 'queries'; 'value' sums them. A registry entry " +
      "whose memo entry owns persists runs 3 iterations with them kept warm and " +
      "records its first under 'cold'; other registry entries run 2 with a " +
      "clearCache after each; raster cases run 4. A registry entry is built once, " +
      "timed on its own, before its iterations: 'cold' is the build plus the first " +
      "iteration, and no published min includes the build. 'exchanges' counts the " +
      "shuffle and broadcast exchanges of the adaptive plan its first completed " +
      "iteration executed. " +
      "'cold_value' sums each entry's cold where one is recorded. When the " +
      "fastest iteration's tasks spent more " +
      s"than $InflatedOffCpuPerSlot off-CPU s per slot-second, the entry re-runs in " +
      s"place, up to $MaxRetimes more iterations, stopping at the first clean one; " +
      "'revalidated' maps each such entry to its base and published min, and " +
      "'iters' counts every timed iteration. 'sentinels' holds each chunk's " +
      "fixed-job time: ~0.1-0.3 s on an idle host."

  private def jsonArr(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def jsonObj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private[graft] def emitArtifacts(r: SuiteResult, sfDir: String, nChunks: Int,
                    fullSuite: Boolean = true,
                    stats: HarnessStats = HarnessStats()): Unit = {
    val all = r.results
    val qs = jsonObj(all)
    val total = all.map(_._2).filter(_ >= 0).sum
    val failedJson = jsonArr(r.failed)
    val flakyJson = jsonArr(r.flaky)
    val coldJson = jsonObj(r.cold)
    val itersJson = jsonObj(r.iters)
    val exchJson = jsonObj(r.exchanges.map { case (k, (sh, bc)) =>
      k -> s"""{"shuffle":$sh,"broadcast":$bc}""" })
    val sentinel = if (r.sentinels.isEmpty) -1.0 else r.sentinels.max
    val sentinelsJson = r.sentinels.mkString("[", ",", "]")
    val revalJson = jsonObj(r.retimed.map(t =>
      t.name -> s"""{"base":${t.base},"published":${t.published}}"""))
    val droppedJson = jsonArr(stats.revalDropped)
    val skippedJson = jsonArr(stats.skipped)
    val harnessJson = s""""harness_sec":${f"${stats.harnessSec}%.1f"},""" +
      s""""sweep_sec":${f"${stats.sweepSec}%.1f"},"reval_sec":${f"${stats.revalSec}%.1f"},""" +
      s""""reval_dropped":$droppedJson,"skipped":$skippedJson"""
    // r21: the sweep total stated both ways — `value` sums the published
    // (warm-min) numbers, `cold_value` substitutes each entry's recorded
    // first-iteration cost where one exists, i.e. the fresh-construction
    // estimate optimization claims must cite.
    val coldMap = r.cold.toMap
    val coldValue = all.filter(_._2 >= 0)
      .map { case (k, v) => math.max(coldMap.getOrElse(k, v), v) }.sum
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","cold_value":$coldValue,"queries":$qs,"cold":$coldJson,"iters":$itersJson,"exchanges":$exchJson,"failed":$failedJson,"flaky":$flakyJson,"sentinel":$sentinel,"sentinels":$sentinelsJson,"chunks":$nChunks,"revalidated":$revalJson,$harnessJson,"notes":"${notes(nChunks)}","cpus":${GraftSession.cpus(4)},"sf":"$sfDir"}"""
    println(fullLine)
    // The driver keeps only the last 2 000 chars of stdout: round 9's
    // ~6 KB detail line lost its HEAD (all per-query timings) to that
    // tail window and the round's perf grading died with it. Two
    // mitigations: (1) the full artifact is persisted to bench_full.json
    // in the repo, where cold/iters/exchange-audit detail survives any
    // stdout truncation; (2) the LAST stdout line is a compact artifact
    // (same documented schema, per-query mins rounded to ms) sized well
    // under the tail window, so the driver always captures timings.
    // Full-suite runs only: a manual SPARK_GRAFT_BENCH_ONLY subset must
    // not clobber the complete per-query baseline.
    val sfClash = fullSuite && previousArtifactSf().exists(_ != sfDir) &&
      !sys.env.contains("SPARK_GRAFT_BENCH_FORCE_WRITE")
    if (sfClash)
      System.err.println("BENCH WARN: bench_full.json holds a different-sf " +
        s"baseline; NOT overwritten by this '$sfDir' run " +
        "(set SPARK_GRAFT_BENCH_FORCE_WRITE=1 to rebase)")
    else if (fullSuite && stats.skipped.nonEmpty)
      // r20: a deadline-degraded sweep that never measured some queries
      // must not replace the complete baseline.
      System.err.println(s"BENCH WARN: ${stats.skipped.length} queries were " +
        "skipped (deadline); bench_full.json NOT overwritten by this partial sweep")
    else if (fullSuite)
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"BENCH WARN: bench_full.json not written: ${e.getMessage}") }
    else
      System.err.println("BENCH: subset run — bench_full.json NOT updated " +
        "(the baseline is full-suite only)")
    println(compactContractLine(all, r.failed, r.flaky, sentinel, nChunks, sfDir,
      stats, coldMap))
    contractEmitted.set(true)
  }

  /** The `"sf"` field of the tracked bench_full.json, if present — the
    * artifact overwrite refuses to clobber a baseline recorded at
    * another scale factor (r13 ADVICE: an sf0.01 sweep overwrote the
    * sf0.1 baseline).
    */
  private def previousArtifactSf(): Option[String] = {
    val p = java.nio.file.Paths.get("bench_full.json")
    if (!java.nio.file.Files.exists(p)) return None
    try {
      val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      "\"sf\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Compact last-stdout-line renderer (schema v3, r17) — pure and
    * spec-pinned (BenchSelectionSpec). Emits the DRIVER CONTRACT keys
    * — `{"metric","value","unit":"sec","queries":{name:sec},"sf"}` —
    * with per-query seconds at 10 ms resolution, plus auxiliary keys
    * (fast_n/fast_sec remainder, sentinel_sec, chunks, failed/flaky
    * LAST so tail truncation can't eat the failure signal). WHY v3:
    * every BENCH_r{10..16}.json shows "parsed": null — the only line
    * carrying the contract's "metric" key was the full detail line,
    * which at 200 queries exceeds the driver's ~2000-char stdout tail
    * and loses its HEAD (the exact round-9 failure), while the v2
    * compact line that DID survive the tail used private keys
    * (u/tcs/qcs) the driver's parser does not recognize. Listing
    * policy unchanged from v2: individually only (a) queries at/above
    * the 0.5 s floor (the ones perf grading can distinguish from job
    * overhead), (b) every raster_* case (the BASELINE comparables),
    * and (c) failures; the fast remainder collapses to a count + sum,
    * and a fast query that regresses past the threshold automatically
    * surfaces by name on the next run. Degrade, never overflow (r10
    * ADVICE): if the line would risk the 2000-char tail window, the
    * listing threshold doubles until it fits (raster_* and failures
    * always stay listed). Full per-query detail always lands in
    * bench_full.json (git-tracked).
    */
  private[graft] def compactContractLine(
      all: Seq[(String, Double)], failed: Seq[String], flaky: Seq[String],
      sentinel: Double, nChunks: Int, sfDir: String,
      stats: HarnessStats = HarnessStats(),
      cold: Map[String, Double] = Map.empty): String = {
    def cs(v: Double): Long = math.round(v * 100.0)
    def sec2(v: Double): Double = cs(v) / 100.0
    // Failed queries arrive as v = -1.0 sentinels; they are carried by
    // name in the "failed" array and must NOT surface as negative
    // seconds inside "queries" — a driver that sums or validates the
    // {name: sec} map per the contract schema would miscount (r17
    // ADVICE). Spec-pinned by BenchSelectionSpec.
    val timed = all.filter(_._2 >= 0)
    val total = timed.map(_._2).sum
    // r21 (r20 verdict #1, measurement honesty): the published warm min
    // measures warm-steady-state-with-caches for entries whose memo
    // entry owns persists; a
    // fresh one-shot construction costs their recorded FIRST (cold)
    // iteration. The line states the sweep total BOTH ways
    // (value = warm mins, cold_value = cold-where-recorded) and lists
    // per-entry cold for every individually-listed entry that has one;
    // the complete per-entry cold map is in bench_full.json ("cold").
    val coldTotal = timed.map { case (k, v) => math.max(cold.getOrElse(k, v), v) }.sum
    val failedJson = jsonArr(failed)
    val flakyJson = jsonArr(flaky)
    val FastCs = 50L
    def render(threshold: Long): String = {
      val (listed, fast) = timed.partition { case (k, v) =>
        cs(v) >= threshold || k.startsWith("raster_") }
      val qsCompact = jsonObj(listed.map { case (k, v) => k -> sec2(v) })
      val coldCompact = jsonObj(listed.flatMap { case (k, _) => cold.get(k).map(c => k -> sec2(c)) })
      val issues = (if (failed.isEmpty) "" else s""","failed":$failedJson""") +
        (if (flaky.isEmpty) "" else s""","flaky":$flakyJson""")
      val sfShort = sfDir.split('/').last
      // r20 harness self-description (r19 verdict #3): wall-clock split +
      // degradation counts so a slow-host round is diagnosable from the
      // parsed artifact alone. Counts (not name lists) here — the names
      // live in bench_full.json; this line must fit the 2000-char tail.
      val harness = s""","harness_sec":${sec2(stats.harnessSec)},""" +
        s""""sweep_sec":${sec2(stats.sweepSec)},"reval_sec":${sec2(stats.revalSec)},""" +
        s""""reval_dropped":${stats.revalDropped.length},"skipped_n":${stats.skipped.length}""" +
        (if (stats.partial) ""","partial":true""" else "")
      s"""{"metric":"total","value":${sec2(total)},"unit":"sec","queries":$qsCompact,""" +
        s""""cold_value":${sec2(coldTotal)},"cold":$coldCompact,""" +
        s""""fast_n":${fast.length},"fast_sec":${sec2(fast.map(_._2).sum)},""" +
        s""""sentinel_sec":${sec2(sentinel)},"chunks":$nChunks$harness,"sf":"$sfShort"$issues}"""
    }
    LazyList.iterate(FastCs)(_ * 2).take(12)
      .map(render).find(_.length <= 1900)
      .getOrElse {
        System.err.println("BENCH WARN: compact line irreducible below 1900 chars")
        render(Long.MaxValue / 2)
      }
  }

  // --------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=<comma-list> restricts the run to matching
    // query names (registry and raster cases), under the same forked
    // protocol — perf iteration on a subset without paying the full
    // sweep. The driver never sets it, so round artifacts always carry
    // the complete suite.
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // Diagnostic registry entries excluded from the DEFAULT sweep
    // (r15 verdict #4): they stay in Verify's correctness gate and can
    // still be named explicitly via SPARK_GRAFT_BENCH_ONLY, but a
    // 190+-entry sweep shouldn't spend timing budget on a layer probe
    // whose only job is localizing a driver-gate failure (t23a exists
    // to split t23's plan if BM25 ever hash-fails again).
    val demoted = Set("t23a_spine_probe")
    val allNames = (SparkEntry.queries.keys.toSeq.sorted
      .filterNot(n => demoted(n) && !only.exists(_.contains(n)))) ++ rasterCases.map(_._1)
    // r11 ADVICE: an ONLY name matching nothing silently yielded an
    // empty/partial run that could be mistaken for a real measurement.
    only.foreach { o =>
      val unmatched = o -- allNames.toSet
      if (unmatched.nonEmpty)
        System.err.println(s"BENCH WARN: SPARK_GRAFT_BENCH_ONLY names match " +
          s"nothing: ${unmatched.toSeq.sorted.mkString(", ")}")
    }
    val selected = allNames.filter(n => only.forall(_.contains(n)))
    val nChunks = (selected.size + ChunkSize - 1) / ChunkSize
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(out) =>
        // fleet child (r20): several consecutive chunks in ONE JVM, a
        // fresh SparkSession (new SparkContext) per chunk, each chunk's
        // protocol file written as it completes so a killed fleet still
        // yields its finished chunks.
        sys.env("SPARK_GRAFT_BENCH_MULTI").split('|').toSeq.zipWithIndex.foreach {
          case (chunk, i) =>
            val spark = GraftSession.build(4)
            writeProtocol(s"$out.$i", runSuite(spark, sfDir,
              chunk.split(',').map(_.trim).filter(_.nonEmpty).toSet))
            spark.stop()
        }
      case None =>
        // parent: forked chunked sweep (the driver's round artifact).
        // r20: the whole run is deadline-bounded (see DeadlineSec) and a
        // shutdown hook prints a best-effort contract line on SIGTERM —
        // BENCH_r19 died rc=124/"parsed":null with the artifact unprinted.
        val budget = new Budget(System.nanoTime(), DeadlineSec)
        // arm an EMPTY best-effort line immediately: a SIGTERM before
        // the first fleet completes still publishes a parseable
        // contract line ({"queries":{},... ,"partial":true}) that tells
        // the driver the run started and died, instead of parsed:null
        updateBestEffort(SuiteResult(Nil, Nil, Nil, Nil, Nil, Nil, Nil), nChunks, sfDir,
          HarnessStats(harnessSec = budget.elapsedSec, skipped = selected))
        armShutdownHook()
        armWatchdog(budget)
        System.err.println(f"BENCH deadline: ${DeadlineSec}%.0f s " +
          f"(emit reserve ${EmitReserveSec}%.0f s)")
        val (r, skipped) = runChunked(sfDir, selected, budget)
        val el = budget.elapsedSec
        emitArtifacts(r, sfDir, nChunks, fullSuite = only.isEmpty,
          stats = statsOf(r, el, el, skipped))
        // a fallback chunk may have started a session in this JVM
        org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    }
  }
}
