package graft.tools

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.WindowExec

import graft.ext.SessionMemo

/** Registry audit: machine-checks the registry's scale rules on every
  * query, building each query once.
  *
  *  1. `plan` — two scale invariants of the physical plan:
  *     (a) NO `CartesianProductExec` anywhere. The legitimate
  *         "broadcast a provably-bounded relation into every row" shapes
  *         (recall guards, one-row stat joins) plan as
  *         BroadcastNestedLoopJoin, never as a cartesian; an actual
  *         cartesian means two unbounded sides multiplied — a 100 TB
  *         scale-killer by construction.
  *     (b) Global-order windows (a `WindowExec` whose partitionSpec is
  *         EMPTY — everything funnels through ONE task) only over
  *         provably bounded inputs. Two accepted proofs: a limit node
  *         that dominates the window input (machine-verified, the D2
  *         "TakeOrdered then rank the survivors" shape), or an entry in
  *         [[GlobalWindowAllowed]] for bin-/stat-spine windows whose
  *         bound lives in the GROUPING key domain, invisible to a plan
  *         walk. A new global window with neither proof fails until it
  *         is re-shaped (the W1/W4/T15 two-phase rank) or documented.
  *  2. `dup` — the most recurring perf-bug class: one relation consumed
  *     by 2+ plan legs whose shared subtree therefore EXECUTES once per
  *     leg (t11's bigram pre-agg 3.9→1.4 s, x22's rev pre-agg, d23's
  *     sketch arrays 1.2→0.65 s; the CLAUDE.md two-leg persist rule).
  *     Any canonicalized subtree of ≥ [[MinDupNodes]] nodes that contains
  *     a file scan and still appears ≥2 times after the reuse rules ran
  *     is work the engine runs per occurrence; accepted duplicates go in
  *     [[DupSubtreeAllowed]].
  *  3. `persist` — the contract on `SparkEntry.queries`: a query MAY
  *     leave persisted relations behind, but only ones a `SessionMemo`
  *     entry owns (persisted through `persistRecorded` inside a memoized
  *     build). The owner need not be the query's own entry: g6 leaves the
  *     shared co-purchase edge relations persisted too.
  *
  * Checks 1 and 2 read the query's AQE-off prepared plan
  * ([[preparedPlan]]: the whole tree before AQE splits it into stages)
  * and execute nothing of its output plan; check 3 then materializes
  * the same built query through `Bench.checksum` under the session's
  * default AQE. Builder-side driver actions run at construction: the
  * s4/s9/s21/s22 builds fit KMeans, and memo holders persist shared
  * builds.
  *
  * Prints one line per query with its three verdicts, a WARN for every
  * allowlist entry whose query showed no such finding in a full-registry
  * run (so the lists can't rot), and one PASS/FAIL line; exits nonzero on
  * any violation, a query that fails to build or run included.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.Audit
  * [name ...]" — no names = the full registry.
  */
object Audit {

  /** One check's verdict on one query: the text printed for it, whether
    * it fails the gate, and whether the finding was accepted through the
    * query's allowlist entry.
    */
  final case class Verdict(text: String, fails: Boolean, allowed: Boolean)

  /** Queries allowed to carry a global-order (empty-partition) window,
    * with the boundedness argument for each. The window input bound is
    * what matters — the CORPUS-sized part of these plans never crosses
    * the single-task window.
    */
  private[graft] val GlobalWindowAllowed: Map[String, String] = Map(
    // 4096-bin histogram / CDF spines (the A-family's aggregated bin
    // relation — the window input is the post-groupBy bin domain)
    "a1_stats" -> "4096-bin histogram spine",
    "a2_percentiles" -> "4096-bin histogram spine",
    "a3_strategy_params" -> "4096-bin histogram spine",
    "a3_legacy_params" -> "4096-bin histogram spine",
    "a6_hist_floor" -> "combined 4096-bin spine",
    "p7_quantize_default" -> "4096-bin CDF spine",
    "p7_quantize_legacy" -> "4096-bin CDF spine",
    "p12_synrgb_suppressed" -> "≤256-value CDF spine",
    "a5_local_median_range" -> "data-derived grid-bucket spine (≤4096)",
    "a5b_local_enhanced_quantize" -> "data-derived grid-bucket spine (≤4096)",
    // two-phase-rank bucket-offset spines (≤64-row exclusive sums)
    "w4_curriculum" -> "bucket-offset spine, ≤64 rows",
    "x11_rfm_segments" -> "value-bucket offset spine, ≤64 rows",
    "x15_customer_concentration" -> "value-bucket spine, ≤64 rows",
    // other bounded key-domain spines
    "e19_pareto_share" -> "decile spine, ≤10 rows",
    "t27_vocab_coverage" -> "coverage-bucket spine, ≤64 rows",
    "t30_heaps_law" -> "≤64-checkpoint spine",
    "x6_monthly_revenue" -> "calendar-month spine (dataset spans ~7y)",
    "s7_centroid_separation" -> "label×label relation (≤ labels² rows)",
    // the seed spine is a ≤SemSeeds-row relation, but its bound lives in
    // seedRel's LIMIT inside a JOIN leg — dominating for this left join
    // (the spine is the preserved side), invisible to the unary-spine walk
    "s16_cell_occupancy" -> "seed spine, ≤ SemSeeds rows (limit in the preserved join leg)")

  /** Minimum subtree node count for a duplicate to matter — below this
    * the duplicate is a bare re-scan of a pruned file (scan + project +
    * filter + a first-level agg), the class CLAUDE.md's x22 note
    * explicitly accepts, rather than recomputed derivation work.
    */
  val MinDupNodes = 12

  /** Accepted duplicated subtrees, with the reason each is cheap. */
  private[graft] val DupSubtreeAllowed: Map[String, String] = Map(
    // The A-family histogram is inherently TWO passes over the pixel
    // relation: pass-2 binning needs pass-1 min/max (HistStats.stats —
    // the reference streams the same two passes, autoscale.rs:112).
    // The duplicated subtree is the fixture scan + fused dB projection;
    // caching the dB relation was measured a wash at this width (the
    // r12 dB-recompute-vs-cache note on Engine).
    "a2_percentiles" -> "two-pass histogram (pass 2 needs pass 1 min/max)",
    "a3_legacy_params" -> "two-pass histogram (pass 2 needs pass 1 min/max)",
    "a3_strategy_params" -> "two-pass histogram (pass 2 needs pass 1 min/max)",
    "p7_quantize_default" -> "two-pass histogram feeding the quantize params",
    "p7_quantize_legacy" -> "two-pass histogram feeding the quantize params")

  /** Nodes of the tree as it EXECUTES: a `ReusedExchangeExec` leg is not
    * re-run, so it is dropped rather than counted.
    */
  private def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: ReusedExchangeExec => Seq.empty
    case _ => p +: p.children.flatMap(executedNodes)
  }

  /** Check 1: cartesian products and unproven global-order windows. */
  def planCheck(name: String, plan: SparkPlan,
                allowed: Map[String, String] = GlobalWindowAllowed): Verdict = {
    // The limit must DOMINATE the window input: walk only the unary
    // child spine (projections, filters, sorts, exchanges — none
    // increase cardinality) and stop at anything that can (joins: 2
    // children; Generate/Expand: row-multiplying unary). A limit merely
    // inside one leg of a join below the window does NOT bound the
    // window input.
    @scala.annotation.tailrec
    def boundedByLimit(p: SparkPlan): Boolean = {
      val c = p.getClass.getSimpleName
      if (c == "TakeOrderedAndProjectExec" || c == "GlobalLimitExec" ||
          c == "CollectLimitExec") true
      else if (p.children.length != 1 ||
          c == "GenerateExec" || c == "ExpandExec") false
      else boundedByLimit(p.children.head)
    }
    val nodes = executedNodes(plan)
    val cartesian = nodes.exists(_.isInstanceOf[CartesianProductExec])
    val (postLimit, unbounded) = nodes.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.partition(w => boundedByLimit(w.child))
    val documented = allowed.contains(name)
    val findings =
      (if (cartesian) Seq("CARTESIAN") else Nil) ++
      (if (postLimit.nonEmpty) Seq("global-window(post-limit)") else Nil) ++
      (if (unbounded.nonEmpty)
        Seq(s"global-window${if (documented) "(documented-spine)" else "(UNDOC)"}") else Nil)
    Verdict(if (findings.isEmpty) "clean" else findings.mkString(" "),
      fails = cartesian || (unbounded.nonEmpty && !documented),
      allowed = unbounded.nonEmpty && documented)
  }

  /** Check 2: maximal duplicated subtrees over a file scan. */
  def dupCheck(name: String, plan: SparkPlan,
               allowed: Map[String, String] = DupSubtreeAllowed): Verdict = {
    def size(p: SparkPlan): Int = executedNodes(p).length
    // only FILE scans count: a duplicate above an InMemoryTableScan is
    // the post-persist residue (cache-scan + bounded projection), which
    // is by design; the bug class is a duplicated CORPUS scan plus the
    // derivation work above it
    def hasScan(p: SparkPlan): Boolean =
      executedNodes(p).exists(_.isInstanceOf[FileSourceScanExec])
    val nodes = executedNodes(plan)
    val byCanon = nodes.groupBy(_.canonicalized)
    val dupKeys = byCanon.filter { case (k, vs) =>
      vs.length >= 2 && size(k) >= MinDupNodes && hasScan(k)
    }.keySet
    // report only MAXIMAL duplicated subtrees: skip one whose EVERY
    // parent occurrence is itself a duplicated subtree. A canonical
    // child can appear under DIFFERENT parents (one occurrence inside a
    // duplicated join leg, another under a unique aggregate), so the
    // parents are a set per child.
    val parentsOf = nodes
      .flatMap(n => n.children.map(c => c.canonicalized -> n.canonicalized))
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    val maximal = dupKeys.filterNot { k =>
      val ps = parentsOf.getOrElse(k, Set.empty)
      ps.nonEmpty && ps.forall(dupKeys.contains)
    }
    if (maximal.isEmpty) Verdict("clean", fails = false, allowed = false)
    else {
      val desc = maximal.toSeq.map(k =>
        s"${k.getClass.getSimpleName}(nodes=${size(k)} x${byCanon(k).length})")
        .sorted.mkString("; ")
      val documented = allowed.contains(name)
      Verdict(s"${if (documented) "allowed" else "FLAGGED"}: $desc",
        fails = !documented, allowed = documented)
    }
  }

  /** `d`'s physical plan as EnsureRequirements prepares it, with AQE
    * off in `spark` while `d` is built and planned: under AQE the tree
    * hides inside a childless AdaptiveSparkPlanExec, and `sparkPlan` has
    * no exchanges yet. Building `d` off AQE matters too: the relations
    * a build persists report a different output partitioning, and so
    * change the exchanges above them (g1_pagerank plans 5 shuffles
    * built off AQE, 8 built on it). Nothing of `d`'s plan executes.
    */
  private[graft] def preparedPlan(spark: SparkSession)(d: => DataFrame): SparkPlan = {
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try d.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
  }

  /** Ids of the RDDs persisted in `spark` right now. */
  def persisted(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Check 3: what a query left persisted since `before` was taken. It
    * unpersists every relation the held memo entries own; whatever is
    * still persisted after that was persisted outside the memo.
    */
  def persistCheck(spark: SparkSession, before: Set[Int]): Verdict = {
    val leftover = persisted(spark) -- before
    SessionMemo.heldEntries._2.foreach(k =>
      SessionMemo.persistsOf(k).foreach(_.unpersist(blocking = true)))
    val documented = (leftover & persisted(spark)).isEmpty
    Verdict(s"leftover=${leftover.size} " +
      (if (leftover.isEmpty) "clean" else if (documented) "documented" else "UNDOCUMENTED"),
      fails = !documented, allowed = false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.build(8)
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val failing = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    val allowedUsed = mutable.Map.empty[String, Set[String]].withDefaultValue(Set.empty)
    names.foreach { name =>
      spark.catalog.clearCache()
      val before = persisted(spark)
      try {
        // built inside preparedPlan's AQE-off window
        lazy val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = preparedPlan(spark)(df)
        val plannedChecks = Seq("plan" -> planCheck(name, plan), "dup" -> dupCheck(name, plan))
        graft.Bench.checksum(df).collect()
        val verdicts = plannedChecks :+ ("persist" -> persistCheck(spark, before))
        verdicts.foreach { case (check, v) =>
          if (v.fails) failing(check) ::= name
          if (v.allowed) allowedUsed(check) += name
        }
        println(s"AUDIT $name " +
          verdicts.map { case (check, v) => s"$check: ${v.text}" }.mkString(" | "))
      } catch { case scala.util.control.NonFatal(e) =>
        failing("error") ::= name
        println(s"AUDIT $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.catalog.clearCache()
    if (args.isEmpty)
      Seq("plan" -> GlobalWindowAllowed, "dup" -> DupSubtreeAllowed).foreach { case (check, allow) =>
        val stale = allow.keySet -- allowedUsed(check)
        if (stale.nonEmpty)
          println(s"AUDIT WARN stale $check allowlist entries: ${stale.toSeq.sorted.mkString(", ")}")
      }
    spark.stop()
    if (failing.nonEmpty) {
      println("AUDIT FAIL: " + failing.toSeq.sortBy(_._1)
        .map { case (check, ns) => s"$check=${ns.sorted.mkString(",")}" }.mkString(" "))
      sys.exit(1)
    }
    println("AUDIT PASS: no cartesian products; every global-order window is " +
      "post-limit or on its allowlist; every duplicated subtree is reused, " +
      "persisted or on its allowlist; only memo-owned relations stay persisted")
  }
}
