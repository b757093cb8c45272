package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.SessionMemo.PersistRecorded

/** C1: the end-to-end curation funnel — the composition a real
  * training-data run executes over the operator tiers this library
  * provides: quality gate ([[TextOps.qualityCol]]) → fuzzy-dedup to
  * cluster canonicals ([[Dedup.clusterIds]], the D7 transitive
  * closure) → deterministic split assignment (T7 hash buckets) — with
  * one row of exact integer counters per funnel stage, the numbers a
  * data card reports.
  *
  * Stage semantics are SEQUENTIAL (each filter applies to the previous
  * stage's survivors), except cluster labels, which are computed over
  * the FULL corpus: canonicality is a global property — a low-quality
  * canonical must not resurrect its higher-id duplicates.
  *
  * Determinism: every emitted number is an integer count or exact
  * integer sum; the single float in the plan (the quality score) is
  * rounded at 6 decimals BEFORE the threshold compare, so both engines
  * gate on the identical value. Scale shape: one corpus scan builds the
  * (ntok, quality) base; the cluster-label join is the D7 relation;
  * every stage aggregate is map-side partial; nothing is collected.
  */
object Curation {

  /** Quality threshold for stage 2 — intentionally inside the corpus'
    * observed score range (sf medians sit near 0.4) so the gate
    * demonstrably filters.
    */
  val QualityMin = 0.4

  private def t(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/documents.parquet")

  /** Per-(stage, source) funnel — the per-source breakdown makes the
    * funnel compose with W1's mixture weights: one query yields the
    * full data-card table (each source's survival through every gate).
    * Aggregation keys grow by the source cardinality only — mixture
    * configs are small, so every stage aggregate stays map-side
    * partial-friendly exactly as before.
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
        TextOps.qualityCol.as("q"))
      .persistRecorded() // one corpus scan feeds three stage aggregates
    def stageAgg(df: DataFrame, label: String): DataFrame =
      df.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("ntok"), lit(0L)).as("n_tokens"))
        .select(lit(label).as("stage"), col("source"), col("n_docs"), col("n_tokens"))
    val qual = base.filter(col("q") > QualityMin)
    val kept = qual.join(Dedup.clusterIds(s, dir),
        qual("doc_id") === col("id") && col("id") === col("lbl"))
      .select(qual("doc_id"), qual("source"), col("ntok"))
    val bucket = pmod(TextOps.tokenHash(col("doc_id").cast("string")), lit(100L))
    val splits = kept
      .select(col("source"), col("ntok"),
        when(bucket < TextOps.TrainBuckets, "4_train")
          .when(bucket < TextOps.ValBuckets, "5_val")
          .otherwise("6_test").as("stage"))
      .groupBy("stage", "source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      .select(col("stage"), col("source"), col("n_docs"), col("n_tokens"))
    stageAgg(base, "1_ingest")
      .unionAll(stageAgg(qual, "2_quality"))
      .unionAll(stageAgg(kept, "3_dedup"))
      .unionAll(splits)
      .orderBy("stage", "source")
  }

  /** C2: the per-source data card in ONE query — the table a
    * pretraining run publishes next to its checkpoints: per source the
    * corpus footprint (docs, tokens), the W1 mixture weight and quota,
    * the mean T2 quality, the corpus-wide exact-duplicate fraction, and
    * the T3 language distribution. Composes the shared column
    * definitions ([[TextOps.qualityCol]], [[TextOps.predictedLang]],
    * [[Mix.weightK]], the D1 min-doc_id-per-md5 canonical) so the card
    * can't drift from the operators it summarizes.
    *
    * Determinism: counts are exact integers; quality is already
    * rounded at 6, accumulates in exact DECIMAL(10,6), one division +
    * round(6); dup_frac is one division of exact counts. The dup
    * canonical is computed over the FULL corpus (a cross-source dup
    * counts as dup in BOTH sources' rows — the data-card convention:
    * per-source dup rates must expose cross-source contamination).
    *
    * Scale shape: ONE corpus scan builds the per-doc projection; the
    * D1 dup marking is the groupBy(md5)+join-back (viral-key safe —
    * map-side partials bound hot hashes); the final per-source
    * aggregate is map-side partial; weight/quota derive from the
    * source name post-aggregation, so no config-table join exists.
    */
  def dataCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = t(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
        TextOps.qualityCol.as("q"),
        TextOps.predictedLang.as("plang"),
        md5(col("text")).as("h"))
      .persistRecorded() // one scan feeds the canonical agg + the join-back
    val canon = base.groupBy("h").agg(min("doc_id").as("canonical_id"))
    val marked = base.join(canon, "h")
      .withColumn("is_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
    marked.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        round(sum(col("q").cast(DecimalType(10, 6))).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_quality"),
        round(sum("is_dup").cast("double") / count(lit(1)).cast("double"), 6)
          .as("dup_frac"),
        sum(when(col("plang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(when(col("plang") === "es", 1L).otherwise(0L)).as("n_es"),
        sum(when(col("plang") === "de", 1L).otherwise(0L)).as("n_de"))
      .withColumn("k", Mix.weightK(col("source")))
      .select(col("source"),
        col("n_docs"), col("n_tokens"),
        (col("k").cast("double") / lit(4.0)).as("weight"),
        expr("(n_docs * k) div 4").as("quota"),
        col("mean_quality"), col("dup_frac"),
        col("n_en"), col("n_es"), col("n_de"))
      .orderBy("source")
  }

  val dataCardSql: String = s"""WITH base AS (
      SELECT doc_id, source, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.qualityColSql} AS q,
        ${TextOps.predictedLangSql} AS plang,
        MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents),
    agg AS (
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
        ROUND(CAST(SUM(CAST(q AS DECIMAL(10,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality,
        ROUND(CAST(SUM(CASE WHEN doc_id != canonical_id THEN 1 ELSE 0 END) AS DOUBLE) /
          CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac,
        CAST(SUM(CASE WHEN plang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        CAST(SUM(CASE WHEN plang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
        CAST(SUM(CASE WHEN plang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de
      FROM base GROUP BY source)
    SELECT source, n_docs, n_tokens,
      CAST(${Mix.weightKSql("source")} AS DOUBLE) / 4.0 AS weight,
      (n_docs * (${Mix.weightKSql("source")})) // 4 AS quota,
      mean_quality, dup_frac, n_en, n_es, n_de
    FROM agg ORDER BY source"""

  /** C3: dedup impact report — per source, how much each dedup tier
    * would remove: exact duplicates (the D1 min-doc_id-per-md5
    * canonical) and near-duplicate cluster members (the D7 MinHash
    * transitive closure, canonical = min doc_id of the component), with
    * the token counts the removals reclaim. The
    * "what did dedup buy us" table of a curation run — C2 reports only
    * the exact tier; this composes both, from the SAME shared
    * definitions, so the rates can't drift from the operators.
    *
    * Both canonicals are computed over the FULL corpus (cross-source
    * dups count in both sources' rows — the C2 convention).
    *
    * Scale shape: one corpus scan builds the per-doc projection; the
    * exact tier is the viral-key-safe groupBy(md5)+join-back; the near
    * tier joins the D7 label relation (whose iterations are the
    * bounded label-prop loop); the final per-source agg is map-side
    * partial.
    */
  def dedupImpact(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
        md5(col("text")).as("h"))
      .persistRecorded() // one scan feeds the canonical agg + both join-backs
    val canon = base.groupBy("h").agg(min("doc_id").as("canonical_id"))
    val labels = Dedup.clusterIds(s, dir) // (id, lbl)
    base.join(canon, "h")
      .join(labels, col("doc_id") === col("id"))
      .withColumn("exact_dup", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .withColumn("near_dup", (col("doc_id") =!= col("lbl")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        sum("exact_dup").as("n_exact_dup"),
        round(sum("exact_dup").cast("double") / count(lit(1)).cast("double"), 6)
          .as("exact_dup_frac"),
        sum("near_dup").as("n_near_dup"),
        round(sum("near_dup").cast("double") / count(lit(1)).cast("double"), 6)
          .as("near_dup_frac"),
        sum(col("near_dup") * col("ntok")).as("reclaimed_tokens"))
      .orderBy("source")
  }

  val dedupImpactSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterLabCtes},
    base AS (
      SELECT doc_id, source, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
      FROM documents),
    marked AS (
      SELECT source, ntok,
        CASE WHEN base.doc_id != canonical_id THEN 1 ELSE 0 END AS exact_dup,
        CASE WHEN base.doc_id != lab.cluster_id THEN 1 ELSE 0 END AS near_dup
      FROM base JOIN lab ON base.doc_id = lab.doc_id)
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
      CAST(SUM(exact_dup) AS BIGINT) AS n_exact_dup,
      ROUND(CAST(SUM(exact_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS exact_dup_frac,
      CAST(SUM(near_dup) AS BIGINT) AS n_near_dup,
      ROUND(CAST(SUM(near_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS near_dup_frac,
      CAST(SUM(near_dup * ntok) AS BIGINT) AS reclaimed_tokens
    FROM marked GROUP BY source ORDER BY source"""

  val funnelSql: String =
    s"""WITH RECURSIVE ${Dedup.clusterLabCtes},
    base AS (
      SELECT doc_id, source, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.qualityColSql} AS q
      FROM documents),
    qual AS (SELECT * FROM base WHERE q > ${QualityMin}),
    kept AS (
      SELECT qual.doc_id, qual.source, ntok FROM qual
      JOIN lab ON qual.doc_id = lab.doc_id AND lab.doc_id = lab.cluster_id),
    splits AS (
      SELECT CASE WHEN b < ${TextOps.TrainBuckets} THEN '4_train'
                  WHEN b < ${TextOps.ValBuckets} THEN '5_val'
                  ELSE '6_test' END AS stage,
        source, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens
      FROM (SELECT source, ntok,
              ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")} % 100 AS b
            FROM kept)
      GROUP BY 1, 2)
    SELECT '1_ingest' AS stage, source, COUNT(*) AS n_docs,
      CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens FROM base GROUP BY source
    UNION ALL SELECT '2_quality', source, COUNT(*),
      CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM qual GROUP BY source
    UNION ALL SELECT '3_dedup', source, COUNT(*),
      CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM kept GROUP BY source
    UNION ALL SELECT stage, source, n_docs, n_tokens FROM splits
    ORDER BY stage, source"""

  // ----------------------------------------------- C4 dedup-quality audit

  /** C4: dedup-quality interaction — "are we deleting good data?": for
    * each (dedup status × quality band) cell, document count, mean T2
    * quality, and the share within the status. Near-dup pruning is only
    * safe if the dropped mass skews low-quality; a dedup pass whose
    * 'dropped' rows concentrate in the high band is destroying signal
    * (the check CCNet/RefinedWeb run before committing a threshold).
    * Composes the SAME [[TextOps.qualityCol]] and memoized
    * [[Dedup.clusterIds]] the funnel/c3 use, so the bands and the
    * keep/drop decision cannot drift from the operators they audit.
    *
    * Determinism: q is pre-rounded at 6 and banded on two-decimal
    * literals; the mean accumulates the rounded values in exact
    * DECIMAL(20,6); counts and shares are exact-integer divisions
    * rounded at the boundary.
    *
    * Scale shape: one corpus scan joined to the memoized label
    * relation on doc_id (one shuffle), then a map-side-combinable
    * aggregate onto a ≤6-key space; the status-total join touches ≤2
    * rows.
    */
  def dedupQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = t(s, dir).select(col("doc_id"), TextOps.qualityCol.as("q"))
    val marked = base.join(Dedup.clusterIds(s, dir), col("doc_id") === col("id"))
      .select(col("q"),
        when(col("doc_id") === col("lbl"), "kept").otherwise("dropped").as("status"),
        when(col("q") >= 0.66, "high").when(col("q") >= 0.33, "mid")
          .otherwise("low").as("band"))
    // <=6 rows, but it feeds the status total AND the final join:
    // unpersisted, the corpus scan + labels join + agg executed twice
    val g = marked.groupBy("status", "band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q").cast(DecimalType(20, 6))).as("sq"))
      .persistRecorded()
    val st = g.groupBy("status").agg(sum("n_docs").as("tn")) // <=2 rows
    g.join(st, "status")
      .select(col("status"), col("band"), col("n_docs"),
        round(col("sq").cast("double") / col("n_docs").cast("double"), 6).as("mean_q"),
        round(col("n_docs").cast("double") / col("tn").cast("double"), 6)
          .as("frac_of_status"))
      .orderBy("status", "band")
  }

  val dedupQualitySql: String =
    s"""WITH RECURSIVE ${Dedup.clusterLabCtes},
    base AS (SELECT doc_id, ${TextOps.qualityColSql} AS q FROM documents),
    marked AS (
      SELECT q,
        CASE WHEN base.doc_id = lab.cluster_id THEN 'kept' ELSE 'dropped' END AS status,
        CASE WHEN q >= 0.66 THEN 'high' WHEN q >= 0.33 THEN 'mid'
          ELSE 'low' END AS band
      FROM base JOIN lab ON base.doc_id = lab.doc_id),
    g AS (
      SELECT status, band, COUNT(*) AS n_docs,
        SUM(CAST(q AS DECIMAL(20,6))) AS sq
      FROM marked GROUP BY 1, 2),
    st AS (SELECT status, CAST(SUM(n_docs) AS BIGINT) AS tn FROM g GROUP BY 1)
    SELECT g.status, band, n_docs,
      ROUND(CAST(sq AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS mean_q,
      ROUND(CAST(n_docs AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS frac_of_status
    FROM g JOIN st ON g.status = st.status
    ORDER BY g.status, band"""
}
