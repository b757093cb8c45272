package graft.tools

import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Duplicated-subtree audit: machine-checks the repo's most recurring
  * perf-bug class — one relation consumed by 2+ plan legs whose shared
  * subtree therefore EXECUTES once per leg (t11's bigram pre-agg
  * 3.9→1.4 s, x22's rev pre-agg, d23's sketch arrays 1.2→0.65 s; the
  * CLAUDE.md two-leg persist rule). Spark's ReuseExchange removes some
  * of these at the physical level, so this audits the EXECUTED plan
  * (AQE off, like PlanAudit): any canonicalized subtree of ≥
  * [[MinNodes]] nodes that contains a scan and still appears ≥2 times
  * after reuse rules ran is work the engine will run per occurrence.
  *
  * `ReusedExchangeExec`/cached-and-shared legs are treated as leaves —
  * they are NOT re-executed. Duplicates ABOVE an `InMemoryTableScan`
  * still count (the d23 case: the window re-ran twice over the
  * persisted relation).
  *
  * Accepted duplicates go in [[Allowed]] with the boundedness/cost
  * argument; anything else exits nonzero. Planning-only — nothing
  * executes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.DupSubtreeAudit
  * [name ...]" — no names = the full registry.
  */
object DupSubtreeAudit {

  /** Minimum subtree node count for a duplicate to matter — below this
    * the duplicate is a bare re-scan of a pruned file (scan + project +
    * filter + a first-level agg), the class CLAUDE.md's x22 note
    * explicitly accepts, rather than recomputed derivation work.
    */
  val MinNodes = 12

  /** Accepted duplicated subtrees, with the reason each is cheap. */
  private[graft] val Allowed: Map[String, String] = Map(
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.build(8)
    // planning-only audit: AQE off so the prepared tree is walkable
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    // nodes of the re-EXECUTED tree: do not descend into reused legs
    def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: ReusedExchangeExec => Seq.empty
      case _ => p +: p.children.flatMap(executedNodes)
    }
    def size(p: SparkPlan): Int = executedNodes(p).length
    // only FILE scans count: a duplicate above an InMemoryTableScan is
    // the post-persist residue (cache-scan + bounded projection), which
    // is by design; the bug class is a duplicated CORPUS scan plus the
    // derivation work above it
    def hasScan(p: SparkPlan): Boolean = executedNodes(p).exists {
      case _: FileSourceScanExec => true
      case _ => false
    }

    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    var undocumented = List.empty[String]
    names.foreach { name =>
      try {
        spark.catalog.clearCache()
        val plan = graft.SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.executedPlan
        val nodes = executedNodes(plan)
        val byCanon = nodes.groupBy(_.canonicalized)
        val dupKeys = byCanon.filter { case (k, vs) =>
          vs.length >= 2 && size(k) >= MinNodes && hasScan(k)
        }.keySet
        // report only MAXIMAL duplicated subtrees (skip ones whose
        // EVERY parent occurrence is itself an equally-duplicated
        // subtree). A canonical child can appear under DIFFERENT
        // parents — e.g. one occurrence inside a duplicated join leg
        // and another under a unique aggregate — so the parent relation
        // must be a set per child: collapsing it to one parent (r17's
        // toMap kept only the last) could misclassify a genuine
        // duplicate as non-maximal and hide its report site (r17
        // ADVICE; the gate still fired via the parent, but the named
        // subtree could be wrong).
        val parentsOf = nodes
          .flatMap(n => n.children.map(c => c.canonicalized -> n.canonicalized))
          .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
        val maximal = dupKeys.filterNot { k =>
          val ps = parentsOf.getOrElse(k, Set.empty)
          ps.nonEmpty && ps.forall(dupKeys.contains)
        }
        if (maximal.isEmpty)
          println(s"DUP $name clean")
        else {
          val desc = maximal.toSeq.map(k =>
            s"${k.getClass.getSimpleName}(nodes=${size(k)} x${byCanon(k).length})")
            .sorted.mkString("; ")
          val allowed = Allowed.contains(name)
          if (!allowed) undocumented ::= name
          println(s"DUP $name ${if (allowed) "allowed" else "FLAGGED"}: $desc")
        }
      } catch { case e: Throwable =>
        println(s"DUP $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
        undocumented ::= name
      }
    }
    val stale = Allowed.keySet -- names.toSet
    if (stale.nonEmpty)
      println(s"DUP WARN stale allowlist entries: ${stale.toSeq.sorted.mkString(", ")}")
    if (undocumented.nonEmpty) {
      println(s"DUP AUDIT FAIL undocumented duplicated subtrees: " +
        undocumented.sorted.mkString(", "))
      sys.exit(1)
    }
    println("DUP AUDIT PASS: every ≥2-leg subtree is reused, persisted, " +
      "or on the documented allowlist")
    spark.stop()
  }
}
