package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `analytics`: one operation is a round of registry queries over the
  * seeded tables, in a fresh `newSession()`, with the cache cleared after
  * the round — every query pays its real construction, as a user running
  * it once does. The seed makes the tables; the query order is fixed, so
  * the first query, which pays the JVM's warm-up, is always the same.
  *
  * The first round's rows are written to parquet for the DuckDB oracle
  * check (made by run.py); every later round must give the same rows.
  */
final class Analytics(base: SparkSession, tables: File, dir: File) extends Workload {
  import Analytics._

  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
  private val digests = mutable.Map.empty[String, mutable.Set[String]]
  private val errors = mutable.ArrayBuffer.empty[String]

  def items: Int = Queries.size

  /** The retained heap grows with every round (SessionMemo keeps each
    * dropped session's entries), so it is comparable only between runs of
    * the same number of rounds.
    */
  def steadyOps: Int = SteadyRounds

  def op(t: Tracer): Int = {
    val s = base.newSession()
    var failed = 0
    Queries.foreach { q =>
      try t.span(s"query.$q") {
        val df = t.span("registry.build")(SparkEntry.queries(q)(s, tables.getPath))
        val rows = t.span("registry.collect")(df.collect())
        digests.getOrElseUpdate(q, mutable.Set.empty) += digest(rows)
        if (!firstRows.contains(q)) firstRows(q) = (df.schema, rows)
      } catch {
        case e: Exception =>
          failed += 1
          errors += s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
      }
    }
    base.catalog.clearCache()
    failed
  }

  def checks(): Seq[Check] = {
    val results = new File(dir, "results")
    firstRows.foreach { case (q, (schema, rows)) =>
      base.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(results, q).getPath)
    }
    val oracle = Queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
    Files.writeString(new File(dir, "oracle_sql.json").toPath, Json.obj(oracle).toString)
    val rowsOnly = Queries.filterNot(SparkEntry.oracleSql.contains)
    Seq(
      Check("analytics.no_query_errors", errors.isEmpty, errors.mkString("; ")),
      Check("analytics.rounds_agree", digests.values.forall(_.size == 1),
        digests.collect { case (q, d) if d.size > 1 => q }.mkString("differ across rounds: ", ", ", "")),
      // queries without an oracle carry their own guard: an empty result
      // means the in-plan recall check failed
      Check("analytics.rows_only_nonempty", rowsOnly.forall(q => firstRows.get(q).exists(_._2.nonEmpty)),
        rowsOnly.mkString(", ")))
  }

  override def close(): Unit = {
    firstRows.clear()
    base.catalog.clearCache()
  }

  private def digest(rows: Array[Row]): String =
    java.util.Arrays.hashCode(rows.map(_.toString).sorted.map(_.hashCode)).toString
}

object Analytics {
  /** One query from 6 of the 11 `ext` modules, each the module's cheapest
    * in a fresh session unless a query ROADMAP targets is about as cheap
    * (e29, s1, w2). Curation (3.5 s a round), Graph (1.8 s), Ivf (1.0 s),
    * Sketch (0.9 s) and Pii (0.4 s) are left out with the heavier ROADMAP
    * targets: the driver's runs must fit their time limit on a slow host.
    */
  val Queries: Seq[String] = Seq(
    "e29_linear_attribution", "d1_exact_dedup", "s1_cosine_topk", "w2_seq_pack",
    "t1_token_stats", "x1_shipping_priority")

  val SteadyRounds = 2
}
