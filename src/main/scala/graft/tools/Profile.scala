package graft.tools

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The profiler for registry queries and raster cases, one mode per
  * question. Every mode runs in one session (`GraftSession.build`),
  * resolves names the same way (a registry query, or a `raster_*` case
  * of `Bench.rasterCases` where the mode can run one) and materializes a
  * registry query through the bench's checksum (`Bench.checksum`).
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Profile <mode> <name ...>"
  * }}}
  *
  *  - `time <name ...>` — the bench protocol without the sweep: one
  *    untimed run, ONE clearCache, then N timed iterations (iteration 1
  *    is the cold rebuild, the rest run against the query's own warm
  *    persists); prints min and every iteration. Registry queries and
  *    raster cases. The isolated-validation path for a sweep number.
  *  - `phases <query ...>` — per iteration, the driver-side split of one
  *    action: Dataset construction (the registry fn), analysis of the
  *    checksum wrapper, cache substitution + optimization, physical
  *    planning, execution; plus the `main` thread's stack sampled every
  *    20 ms during execution. Found a4's warm floor: ~1.6 s of main-thread
  *    CPU against ~0.1–0.3 s of task time was AQE rendering and
  *    redacting the full plan description per stage update (the
  *    `GraftSession.MaxPlanStringLength` cap, a4 warm min 1.89 → 1.10 s).
  *  - `stages <name ...>` — per iteration: wall, GC, JIT, janino
  *    compiles, process CPU, task run / shuffle-write, the top-3 stages by
  *    run time (with their CPU), per-thread-family CPU and host steal /
  *    iowait from /proc/stat. Tells JIT compile-lag (high jit_ms),
  *    codegen-cache thrash (janino_n > 0 warm; found the
  *    `GraftSession.CodegenCacheEntries` size on x15) and host steal
  *    apart. Finding on a4_clahe at sf0.1 (3 runs): the a4/g7 warm 4×
  *    class is HOST STEAL — warm janino_n = 0, jit_ms ≤ 1.6 s, flat
  *    per-stage CPU ~1.5–2.3 s, while inflated iterations pair task run
  *    ≫ task CPU (12.5 s run / 8.7 s cpu) with a steal delta of the same
  *    order (4.5 s on a 5.0 s iteration). Guest thread-CPU inflates under
  *    steal too, so the steal column is the ground truth. The bench
  *    reads the same task record (`TaskClock`) but re-times only above
  *    `Bench.InflatedOffCpuPerSlot` off-CPU seconds per slot-second;
  *    the iteration above reads at most 0.19 there (3.8 s over 5.0 s ×
  *    ≥ 4 slots), so the min estimator is what absorbs it.
  *  - `recon <query ...>` — `cold` (first construct + collect, arms the
  *    query's persists), `warm` (min re-collect of the SAME DataFrame:
  *    AQE stages and shuffle files reused, the floor), `recon` (min of a
  *    fresh construct + collect with the persists armed: what a bench
  *    iteration after the first measures) and `constr` (construction
  *    alone). recon ≫ warm means the number is re-run stages DOWNSTREAM
  *    of the persist boundary; move the persist toward the output (m6:
  *    per-doc sizes attached to the postings before the self-join,
  *    2.7 → 0.65 s).
  *  - `build [query ...]` — construction cost without any action: each
  *    query fn of `SparkEntry.rawQueries` called twice, both calls
  *    timed, the second being the steady per-iteration cost (eager
  *    analysis, embedded driver actions such as Grid's bucket sizing).
  *    `rawQueries`, not `queries`: the prepared-query memo would turn
  *    every second call into a map hit. No names = the whole registry.
  *  - `plan <outDir> [query ...]` — the formatted physical plan of each
  *    query to `<outDir>/<query>.txt` (`plans/` holds dumps made at
  *    sf0.01 with SPARK_GRAFT_CPUS=4). The session's plan-string cap is
  *    lifted for the dumps: most registry plans are longer than 8192
  *    characters. No names = the whole registry.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * 32), SPARK_GRAFT_ITERS (timed iterations: time 3, phases 6, stages 10).
  */
object Profile {

  private val Modes: Seq[String] = Seq("time", "phases", "stages", "recon", "build", "plan")

  private val DefaultIters = Map("time" -> 3, "phases" -> 6, "stages" -> 10)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    if (!Modes.contains(mode)) {
      System.err.println(s"usage: Profile <${Modes.mkString("|")}> <name ...>")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val iters = sys.env.get("SPARK_GRAFT_ITERS").flatMap(_.toIntOption)
      .getOrElse(DefaultIters.getOrElse(mode, 1))
    val spark = graft.GraftSession.build(32)
    try run(spark, mode, args.toSeq.tail, sfDir, iters)
    catch { case e: IllegalArgumentException =>
      System.err.println(s"PROFILE ERROR: ${e.getMessage}")
      spark.stop()
      sys.exit(2)
    }
    spark.stop()
  }

  /** Runs one mode on `spark`, printing to `Console.out`. */
  def run(spark: SparkSession, mode: String, args: Seq[String], sfDir: String,
          iters: Int): Unit = {
    // plan strings are capped by the conf of the thread's active session
    SparkSession.setActiveSession(spark)
    mode match {
      case "time" => time(spark, work(spark, sfDir, args), iters)
      case "phases" => named(args).foreach { case (n, fn) => phases(spark, n, fn, sfDir, iters) }
      case "stages" => stages(spark, work(spark, sfDir, args), iters)
      case "recon" => recon(spark, named(args), sfDir)
      case "build" => build(spark, sfDir, args)
      case "plan" =>
        require(args.nonEmpty, "plan needs an output directory")
        plan(spark, sfDir, args.head, args.tail)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  // ---- name lookup ------------------------------------------------------

  private type QueryFn = (SparkSession, String) => DataFrame

  private def query(name: String): QueryFn =
    graft.SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"$name is not a registry query (this mode needs a plan)"))

  private def named(names: Seq[String]): Seq[(String, QueryFn)] = {
    require(names.nonEmpty, "no names given")
    names.map(n => n -> query(n))
  }

  private def registryOr(names: Seq[String]): Seq[String] =
    if (names.nonEmpty) { names.foreach(query); names }
    else graft.SparkEntry.queries.keys.toSeq.sorted

  /** Each name's unit of work: a raster case's end-to-end thunk, or a
    * registry query built and checksum-materialized.
    */
  private def work(spark: SparkSession, sfDir: String,
                   names: Seq[String]): Seq[(String, () => Unit)] = {
    require(names.nonEmpty, "no names given")
    val raster = graft.Bench.rasterCases(spark).toMap
    val unknown = names.filterNot(n => graft.SparkEntry.queries.contains(n) || raster.contains(n))
    require(unknown.isEmpty,
      s"unknown names (neither registry query nor raster case): ${unknown.mkString(", ")}")
    names.map(n => n -> raster.getOrElse(n, () => {
      graft.Bench.checksum(graft.SparkEntry.queries(n)(spark, sfDir)).collect(); ()
    }))
  }

  private def sec[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def ms(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** One untimed run, then ONE clearCache: iteration 1 is the cold
    * rebuild, later ones run against the query's own warm persists.
    */
  private def untimedThenClear(spark: SparkSession, name: String, f: () => Unit): Unit = {
    try f() catch { case e: Throwable =>
      System.err.println(s"untimed first run failed $name: ${e.getMessage}") }
    spark.catalog.clearCache()
  }

  // ---- time ---------------------------------------------------------------

  private def time(spark: SparkSession, items: Seq[(String, () => Unit)], iters: Int): Unit = {
    println(f"${"name"}%-32s ${"min_s"}%9s  all_s")
    items.foreach { case (name, f) =>
      untimedThenClear(spark, name, f)
      val times = (1 to iters).map(_ => sec(f()))
      spark.catalog.clearCache()
      println(f"$name%-32s min ${times.min}%.3f  all ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
  }

  // ---- phases -------------------------------------------------------------

  private def phases(spark: SparkSession, name: String, fn: QueryFn, sfDir: String,
                     iters: Int): Unit = {
    untimedThenClear(spark, name, () => { graft.Bench.checksum(fn(spark, sfDir)).collect(); () })
    println(s"phases $name")
    println(f"${"iter"}%4s ${"build"}%7s ${"analyze"}%8s ${"optimize"}%9s ${"physical"}%9s ${"execute"}%8s ${"total"}%7s  (ms)")
    (1 to iters).foreach { i =>
      val tAll = System.nanoTime()
      var t0 = System.nanoTime()
      val d = fn(spark, sfDir)
      val tBuild = ms(t0)

      t0 = System.nanoTime()
      val wrapped = graft.Bench.checksum(d)
      val qe = wrapped.queryExecution
      qe.assertAnalyzed()
      val tAna = ms(t0)

      t0 = System.nanoTime()
      qe.optimizedPlan // forces withCachedData + optimizer
      val tOpt = ms(t0)

      t0 = System.nanoTime()
      qe.executedPlan // physical planning + AQE prep
      val tPhy = ms(t0)

      // sample the driver thread's stack during execution: names the
      // main-thread CPU consumer the phase split can't see (AQE loop,
      // broadcast wait, result decode, ...)
      val mainThread = Thread.currentThread()
      val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          mainThread.getStackTrace.find(f => !f.getClassName.startsWith("java.lang.Thread"))
            .foreach { f =>
              val top = s"${f.getClassName.split('.').takeRight(2).mkString(".")}.${f.getMethodName}"
              samples.merge(top, 1, (a, b) => a + b)
            }
          Thread.sleep(20)
        }
      })
      sampler.setDaemon(true)
      t0 = System.nanoTime()
      sampler.start()
      try wrapped.collect() finally sampling = false
      val tExe = ms(t0)
      val hot = samples.asScala.toList.sortBy(-_._2).take(4)
        .map { case (f, n) => s"$f=${n * 20}ms" }.mkString(" ")
      println(f"$i%4d $tBuild%7d $tAna%8d $tOpt%9d $tPhy%9d $tExe%8d ${ms(tAll)}%7d")
      println(s"      main-stack: $hot")
    }
    spark.catalog.clearCache()
  }

  // ---- stages -------------------------------------------------------------

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Whole-process CPU (all threads): an inflated iteration that is
    * computing shows procCpu ≈ inflation × busy cores; one that is
    * blocked or descheduled shows procCpu ≪ wall.
    */
  private def procCpuMs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1000000L
    case _ => -1L
  }

  /** Janino whole-stage-codegen compilations this JVM has run. Compiles
    * land in neither jit_ms (janino is ordinary app code) nor stage run
    * time (they run on driver/AQE threads); a warm iteration of an
    * unchanged query should show 0.
    */
  private def janinoN: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** CPU by thread-name family (digits stripped): task threads, the AQE
    * stage pool, the broadcast pool and GC/JIT threads carry distinct
    * prefixes, which names the off-stage consumer when procCpu ≫ run.
    */
  private def threadCpu(): Map[String, Long] = {
    val mx = ManagementFactory.getThreadMXBean
    val out = mutable.Map.empty[String, Long]
    mx.getAllThreadIds.foreach { id =>
      val info = mx.getThreadInfo(id)
      val cpu = mx.getThreadCpuTime(id)
      if (info != null && cpu > 0) {
        val fam = info.getThreadName.replaceAll("[0-9]+", "#")
        out(fam) = out.getOrElse(fam, 0L) + cpu / 1000000L
      }
    }
    out.toMap
  }

  /** Milliseconds per /proc/stat tick, from the kernel's CLK_TCK (100 Hz
    * if getconf fails).
    */
  private lazy val tickMs: Long = try {
    val p = new ProcessBuilder("getconf", "CLK_TCK").start()
    val out = new String(p.getInputStream.readAllBytes, "UTF-8").trim
    p.waitFor()
    1000L / math.max(1L, out.toLong)
  } catch { case _: Exception => 10L }

  /** Host interference from /proc/stat's aggregate cpu line: steal
    * (ticks the hypervisor ran someone else while this guest was
    * runnable) and iowait. Flat per-stage CPU with a steal spike is host
    * contention, not engine work.
    */
  private def stealIowaitTicks(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val cols = src.getLines().next().trim.split("\\s+")
      (if (cols.length > 8) cols(8).toLong else 0L, if (cols.length > 5) cols(5).toLong else 0L)
    } finally src.close()
  } catch { case _: Exception => (0L, 0L) }

  private def stages(spark: SparkSession, items: Seq[(String, () => Unit)], iters: Int): Unit = {
    val clock = graft.TaskClock.on(spark.sparkContext)
    try items.foreach { case (name, f) =>
      untimedThenClear(spark, name, f)
      println(s"stages $name")
      println(f"${"iter"}%4s ${"wall_s"}%8s ${"gc_ms"}%7s ${"jit_ms"}%7s ${"janino_n"}%8s ${"procCpu_ms"}%11s ${"execRun_ms"}%11s ${"shufWr_ms"}%10s  stages top-3 execRun")
      (1 to iters).foreach { i =>
        clock.drain(s"$name before iteration $i")
        val (gc0, jit0, jan0, tc0, cpu0) = (gcMs, jitMs, janinoN, threadCpu(), procCpuMs)
        val (st0, io0) = stealIowaitTicks()
        val wall = sec(f())
        val (gcd, jitd, jand) = (gcMs - gc0, jitMs - jit0, janinoN - jan0)
        val cpud = if (cpu0 < 0) -1L else procCpuMs - cpu0
        val tasks = clock.drain(s"$name iteration $i")
        val top = tasks.groupBy(_.stageId).toSeq
          .map { case (id, ts) => (id, ts.map(_.runMs).sum, ts.map(_.cpuNs).sum / 1000000L) }
          .sortBy(-_._2).take(3)
          .map { case (id, r, cpu) => s"s$id:${r}ms(cpu${cpu}ms,${clock.stageName(id)})" }.mkString(" ")
        println(f"$i%4d $wall%8.3f $gcd%7d $jitd%7d $jand%8d $cpud%11d ${tasks.map(_.runMs).sum}%11d ${tasks.map(_.shuffleWriteNs).sum / 1000000L}%10d  $top")
        val (st1, io1) = stealIowaitTicks()
        val byFam = threadCpu().map { case (fam, v) => fam -> (v - tc0.getOrElse(fam, 0L)) }
          .filter(_._2 > 50).toList.sortBy(-_._2).take(5)
        println("      thread-cpu: " + byFam.map { case (fam, t) => s"$fam=${t}ms" }.mkString(" ") +
          s"  steal=${(st1 - st0) * tickMs}ms iowait=${(io1 - io0) * tickMs}ms")
      }
      spark.catalog.clearCache()
    } finally clock.close()
  }

  // ---- recon --------------------------------------------------------------

  private def recon(spark: SparkSession, queries: Seq[(String, QueryFn)], sfDir: String): Unit = {
    println(f"${"query"}%-36s ${"cold"}%6s ${"warm"}%6s ${"recon"}%6s ${"constr"}%6s  ratio")
    queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val cold = sec(df.collect())
      val warm = (1 to 3).map(_ => sec(df.collect())).min
      val re = (1 to 3).map(_ => sec(fn(spark, sfDir).collect())).min
      val constr = (1 to 3).map(_ => sec(fn(spark, sfDir))).min
      println(f"$name%-36s $cold%6.2f $warm%6.2f $re%6.2f $constr%6.2f  ${re / math.max(warm, 0.005)}%5.1fx")
      spark.catalog.clearCache()
    }
  }

  // ---- build --------------------------------------------------------------

  private def build(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val raw = graft.SparkEntry.rawQueries
    val results = registryOr(names).map { name =>
      val fn = raw(name)
      val first = (sec(fn(spark, sfDir)) * 1000).round
      val second = (sec(fn(spark, sfDir)) * 1000).round
      (name, first, second)
    }
    println(f"${"query"}%-36s ${"first_ms"}%9s ${"second_ms"}%10s")
    results.sortBy(-_._3).foreach { case (n, f, s) => println(f"$n%-36s $f%9d $s%10d") }
    println(s"TOTAL second-call construction: ${results.map(_._3).sum}ms over ${results.size} queries")
    spark.catalog.clearCache()
  }

  // ---- plan ---------------------------------------------------------------

  private def plan(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    val key = "spark.sql.maxPlanStringLength"
    val capped = spark.conf.getOption(key)
    spark.conf.set(key, org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toString)
    try {
      Files.createDirectories(Paths.get(outDir))
      println(f"${"query"}%-36s ${"chars"}%8s  file")
      registryOr(names).foreach { name =>
        try {
          val text = query(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val file = Paths.get(outDir, s"$name.txt")
          Files.writeString(file, text)
          println(f"$name%-36s ${text.length}%8d  $file")
        } catch { case e: Exception => System.err.println(s"$name: ${e.getMessage}") }
      }
    } finally capped match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
