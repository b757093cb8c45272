package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.SessionMemo.PersistRecorded

/** W1/W2: corpus-mixing operators of a pretraining-data pipeline —
  * weighted per-source sampling quotas (The Pile / Gopher-style mixture
  * weights) and fixed-token-budget sequence packing. Both are
  * deterministic by construction: selection and packing order is the
  * (md5-prefix doc hash, doc_id) stream, never a random sample, so the
  * result is reproducible across engines and stable under re-runs.
  */
object Mix {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/documents.parquet")

  private def docHash: Column = TextOps.tokenHash(col("doc_id").cast("string"))

  // ------------------------------------------------------------ W1 mixing

  /** Hash-range bucket count for the two-phase quota selection. tokenHash
    * is a uniform 32-bit value, so `h >> 26` yields 64 equal RANGE
    * buckets: bucket-major order equals global hash order, which is what
    * lets per-bucket ranks + bucket offsets reconstruct the global rank
    * exactly. Raise with corpus size — the phases compose.
    */
  val MixBucketShift = 26

  /** Mixture weight numerator k ∈ {1..4} (weight = k/4), derived from the
    * source name's hash so every engine states the identical mixture
    * without a config table. Real pipelines would substitute their data
    * card's weights here; the selection machinery is unchanged.
    */
  def weightK(src: Column): Column =
    pmod(TextOps.tokenHash(src), lit(4L)) + lit(1L)

  def weightKSql(src: String): String =
    s"${TextOps.tokenHashSql(src)} % 4 + 1"

  /** W1: weighted source mixing — for each `source` stratum take an
    * exact integer quota of documents, quota = available·k/4 in pure
    * integer arithmetic (never a float sampling fraction), selected in
    * (doc hash, doc_id) order: the deterministic, growth-stable
    * hash-ordered take of T7/the IVF train sample, per stratum. Emits
    * the data-card row per source — weight, available, quota, taken —
    * plus exact integer checksums of the selected set (token total and
    * doc_id sum) so the hash gate pins the SELECTION, not just counts.
    *
    * Scale shape (the 100 TB point): the naive per-source global rank
    * windows an entire stratum into one partition. Instead ranks are
    * computed inside (source, hash-range bucket) — bounded partitions —
    * and the global rank is reconstructed as bucket offset (an exclusive
    * running sum over the sources×64-row count relation, the only
    * global window and provably bounded) + within-bucket rank. Exact by
    * the range-bucket monotonicity of [[MixBucketShift]]. The oracle
    * states the naive single-window form; both agree row-for-row.
    */
  def sourceMix(s: SparkSession, dir: String): DataFrame =
    sourceMixFrom(docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok")))

  /** [[sourceMix]] over an explicit `(doc_id, source, ntok)` relation —
    * the spec drives crafted strata through this.
    */
  def sourceMixFrom(d: DataFrame): DataFrame = {
    val base = d.select(col("doc_id"), col("source"), col("ntok"),
        docHash.as("h"))
      .withColumn("bucket", shiftright(col("h"), MixBucketShift))
    // per-(source, bucket) counts → exclusive running offset in bucket
    // order; ≤ sources×64 rows, the one (bounded) global window here
    val wOff = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = base.groupBy("source", "bucket").agg(count(lit(1)).as("c"))
      .select(col("source"), col("bucket"),
        coalesce(sum("c").over(wOff), lit(0L)).as("off"))
    val quotas = base.groupBy("source").agg(count(lit(1)).as("available"))
      .withColumn("k", weightK(col("source")))
      .withColumn("quota", expr("(available * k) div 4"))
    val wRk = Window.partitionBy("source", "bucket")
      .orderBy(col("h"), col("doc_id"))
    // both joins key on `source` (+bucket): stat-sized relations the
    // planner broadcasts by size; the corpus never reshuffles past the
    // rank exchange
    base.withColumn("r", row_number().over(wRk))
      .join(off, Seq("source", "bucket"))
      .join(quotas, Seq("source"))
      .withColumn("sel", col("off") + col("r") <= col("quota"))
      .groupBy("source")
      .agg(
        (max("k").cast("double") / lit(4.0)).as("weight"),
        max("available").as("available"),
        max("quota").as("quota"),
        sum(when(col("sel"), lit(1L)).otherwise(lit(0L))).as("taken"),
        sum(when(col("sel"), col("ntok")).otherwise(lit(0L))).as("taken_tokens"),
        sum(when(col("sel"), col("doc_id")).otherwise(lit(0L))).as("taken_id_sum"))
      .select(col("source"), col("weight"), col("available"), col("quota"),
        col("taken"), col("taken_tokens"), col("taken_id_sum"))
      .orderBy("source")
  }

  val sourceMixSql: String = s"""WITH base AS (
      SELECT doc_id, source, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    q AS (
      SELECT source, COUNT(*) AS available, ${weightKSql("source")} AS k,
        (COUNT(*) * (${weightKSql("source")})) // 4 AS quota
      FROM base GROUP BY source),
    r AS (
      SELECT base.*,
        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
      FROM base)
    SELECT q.source,
      CAST(q.k AS DOUBLE) / 4.0 AS weight,
      q.available, q.quota,
      CAST(SUM(CASE WHEN r.rk <= q.quota THEN 1 ELSE 0 END) AS BIGINT) AS taken,
      CAST(SUM(CASE WHEN r.rk <= q.quota THEN r.ntok ELSE 0 END) AS BIGINT) AS taken_tokens,
      CAST(SUM(CASE WHEN r.rk <= q.quota THEN r.doc_id ELSE 0 END) AS BIGINT) AS taken_id_sum
    FROM r JOIN q ON r.source = q.source
    GROUP BY q.source, q.k, q.available, q.quota
    ORDER BY q.source"""

  // ------------------------------------------------------------ W5 epochs

  /** Total training-token budget the W5 planner allocates across
    * sources. A constant of the plan (real runs substitute their compute
    * budget); the allocation arithmetic is scale-free.
    */
  val EpochTokenBudget = 1000000L

  /** W5: token-budget epoch planning — split [[EpochTokenBudget]] across
    * sources proportionally to the W1 mixture weights and report, per
    * source, how many passes (epochs) over its available tokens the
    * allocation implies: the Pile/Gopher data-card "epochs" column
    * (Gao et al. 2020 table 1 reports exactly this; >1 means the source
    * repeats, ≪1 means it's subsampled). Shares the weight function with
    * W1 so the mixture can't drift between the two views.
    *
    * Determinism: target_tokens = budget·k / Σk in pure integer
    * arithmetic (`div`), full_epochs / remainder by integer div/mod,
    * and the one fractional column (epochs) is a single IEEE division
    * of exact integers rounded at the comparison boundary.
    *
    * Scale shape: one corpus scan pre-aggregated per source with
    * map-side partials; everything after is arithmetic on the
    * sources-sized stat relation (the Σk cross join broadcasts one
    * row). Nothing here grows with the corpus but the first agg.
    */
  def epochPlan(s: SparkSession, dir: String): DataFrame =
    epochPlanFrom(docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok")), EpochTokenBudget)

  /** [[epochPlan]] over an explicit `(doc_id, source, ntok)` relation
    * and budget — the spec pins the allocation on crafted strata.
    */
  def epochPlanFrom(d: DataFrame, budget: Long): DataFrame = {
    val per = d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("ntok").as("available_tokens"))
      .withColumn("k", weightK(col("source")))
    val sumk = per.agg(sum("k").as("sk")) // 1 row, provably bounded
    per.crossJoin(broadcast(sumk))
      .withColumn("target_tokens", expr(s"($budget * k) div sk"))
      .select(col("source"),
        (col("k").cast("double") / col("sk").cast("double")).as("weight"),
        col("n_docs"), col("available_tokens"), col("target_tokens"),
        when(col("available_tokens") > 0,
          round(col("target_tokens").cast("double") /
            col("available_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("epochs"),
        when(col("available_tokens") > 0,
          expr("target_tokens div available_tokens")).otherwise(lit(0L))
          .as("full_epochs"),
        when(col("available_tokens") > 0,
          expr("target_tokens % available_tokens")).otherwise(lit(0L))
          .as("remainder_tokens"))
      .orderBy("source")
  }

  val epochPlanSql: String = s"""WITH base AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len($tokensSqlRef)) AS BIGINT) AS available_tokens,
        ${weightKSql("source")} AS k
      FROM documents GROUP BY source),
    sk AS (SELECT SUM(k) AS sk FROM base),
    alloc AS (
      SELECT source, k, sk, n_docs, available_tokens,
        ($EpochTokenBudget * k) // sk AS target_tokens
      FROM base CROSS JOIN sk)
    SELECT source,
      CAST(k AS DOUBLE) / CAST(sk AS DOUBLE) AS weight,
      n_docs, available_tokens, CAST(target_tokens AS BIGINT) AS target_tokens,
      CASE WHEN available_tokens > 0
        THEN ROUND(CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE), 6)
        ELSE 0.0 END AS epochs,
      CAST(CASE WHEN available_tokens > 0
        THEN target_tokens // available_tokens ELSE 0 END AS BIGINT) AS full_epochs,
      CAST(CASE WHEN available_tokens > 0
        THEN target_tokens % available_tokens ELSE 0 END AS BIGINT) AS remainder_tokens
    FROM alloc ORDER BY source"""

  private def tokensSqlRef: String = TextOps.tokensSql

  // ------------------------------------------------- W7 temperature mixing

  /** W7: temperature-scaled mixture weights — per source, the natural
    * token share p, the temperature weight w = √p / Σ√p, and the token
    * allocation + implied epochs under [[EpochTokenBudget]]. The
    * up-/down-sampling view of the mixture: low-resource sources gain
    * (epochs > natural), dominant sources shrink — emitted next to the
    * W5 natural-weight plan so a data card can show both columns.
    *
    * Determinism: p is one IEEE division of exact longs; √p is exact
    * per IEEE-754; each w′ = round(√p, 9) then Σw′ accumulates those
    * identical values in DECIMAL (order-free); w and epochs are single
    * divisions rounded at 6; target_tokens = ⌊budget·w⌋ over the
    * already-rounded w. Scale: one corpus scan with map-side partials;
    * everything else is arithmetic on the sources-sized relation.
    */
  def mixtureTemperature(s: SparkSession, dir: String): DataFrame =
    mixtureTemperatureFrom(docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok")), EpochTokenBudget)

  /** [[mixtureTemperature]] over an explicit `(doc_id, source, ntok)`
    * relation and budget — the spec pins the allocation invariants.
    */
  def mixtureTemperatureFrom(d: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // source-grain, but it feeds the total leg and the scored chain:
    // unpersisted, the corpus scan + agg executed once per leg
    val per = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("ntok").as("available_tokens"))
      .persistRecorded()
    val tot = per.agg(sum("available_tokens").as("nn")) // 1 row, bounded
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("p",
        col("available_tokens").cast("double") / col("nn").cast("double"))
      // temperature exponent α = 1/2: weights ∝ p^α flatten the natural
      // source distribution toward uniform (α→0) — the multi-source
      // sampling temperature of XLM-R (Conneau et al. 2020) and the LLaMA
      // corpus up-sampling. α = 1/2 makes p^α = sqrt(p), which IEEE-754
      // requires to be CORRECTLY ROUNDED: unlike ln/exp there is no
      // cross-libm ulp risk, so the only determinism care left is the
      // Σw′ accumulation (DECIMAL, below)
      .withColumn("w9", round(sqrt(col("p")), 9))
    val sw = scored.agg(
      sum(col("w9").cast(DecimalType(20, 9))).cast("double").as("sw")) // 1 row
    scored.crossJoin(broadcast(sw))
      .withColumn("w_temp", round(col("w9") / col("sw"), 6))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("w_temp")).cast("long"))
      .select(col("source"), col("n_docs"), col("available_tokens"),
        round(col("p"), 6).as("p_natural"), col("w_temp"), col("target_tokens"),
        when(col("available_tokens") > 0,
          round(col("target_tokens").cast("double") /
            col("available_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("epochs"))
      .orderBy("source")
  }

  val mixtureTemperatureSql: String = s"""WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len($tokensSqlRef)) AS BIGINT) AS available_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT SUM(available_tokens) AS nn FROM per),
    scored AS (
      SELECT source, n_docs, available_tokens,
        CAST(available_tokens AS DOUBLE) / CAST(nn AS DOUBLE) AS p,
        ROUND(sqrt(CAST(available_tokens AS DOUBLE) / CAST(nn AS DOUBLE)), 9) AS w9
      FROM per CROSS JOIN tot),
    sw AS (SELECT CAST(SUM(CAST(w9 AS DECIMAL(20,9))) AS DOUBLE) AS sw FROM scored),
    alloc AS (
      SELECT source, n_docs, available_tokens, p,
        ROUND(w9 / sw, 6) AS w_temp
      FROM scored CROSS JOIN sw)
    SELECT source, n_docs, available_tokens,
      ROUND(p, 6) AS p_natural, w_temp,
      CAST(FLOOR($EpochTokenBudget.0 * w_temp) AS BIGINT) AS target_tokens,
      CASE WHEN available_tokens > 0
        THEN ROUND(CAST(CAST(FLOOR($EpochTokenBudget.0 * w_temp) AS BIGINT) AS DOUBLE) /
          CAST(available_tokens AS DOUBLE), 6)
        ELSE 0.0 END AS epochs
    FROM alloc ORDER BY source"""

  // -------------------------------------------- W14 interleave schedule

  /** Schedule prefix length W14 emits. Bounded by construction — the
    * operator's output never grows with the corpus.
    */
  val InterleaveLimit = 500
  /** lcm(1..4): with W1's k ∈ {1..4}, the per-source stride 12/k is an
    * exact integer, so virtual times never touch a float.
    */
  val InterleaveLcm = 12L

  /** W14: deterministic weighted interleave — the first
    * [[InterleaveLimit]] positions of the global training-data ORDER
    * implied by W1's mixture weights, produced by stride scheduling
    * (Waldspurger & Weihl 1995; the WFQ virtual-time discipline):
    * source s's i-th document (in the W1 (doc-hash, doc_id) stream
    * order) is scheduled at virtual time `v = i · 12/k_s`, and the
    * global order is (v, source, doc_id). Any prefix of the schedule
    * then carries each source within one stride of its k/Σk share —
    * proportional mixing WITHOUT an RNG, so the exact data order every
    * trainer consumes is reproducible across engines and re-runs (W1
    * answers "which docs"; W14 answers "in what order", which is what
    * a resumable data loader checkpoints).
    *
    * Determinism: strides are exact integers (12/k for k ∈ {1..4});
    * ranks and the final position are integer window functions with
    * total tie-breaks; no float appears anywhere.
    *
    * Scale shape: only within-source ranks ≤ [[InterleaveLimit]] can
    * reach the global prefix (positions only interleave — a doc's
    * global position is ≥ its within-source rank), so the per-source
    * rank filter `i ≤ limit` lets Spark's InferWindowGroupLimit keep
    * top-(limit) per source per partition BEFORE the rank exchange;
    * the global (v, source, doc_id) sort+limit is a TakeOrdered over
    * ≤ sources·limit survivors, and the position window runs over the
    * ≤[[InterleaveLimit]]-row result. Nothing unbounded crosses an
    * exchange after the rank.
    */
  def interleaveSchedule(s: SparkSession, dir: String): DataFrame =
    interleaveScheduleFrom(docs(s, dir).select(col("doc_id"), col("source")))

  /** [[interleaveSchedule]] over an explicit `(doc_id, source)` relation
    * — the spec pins the stride-scheduling proportionality bound.
    */
  def interleaveScheduleFrom(d: DataFrame): DataFrame = {
    val ks = d.select("source").distinct()
      .withColumn("k", weightK(col("source")))
    val ranked = d.select(col("doc_id"), col("source"), docHash.as("h"))
      .withColumn("i", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))))
      .filter(col("i") <= InterleaveLimit)
      .join(ks, Seq("source")) // sources-sized → planner broadcasts
      .withColumn("v", col("i") * (lit(InterleaveLcm) / col("k")).cast("long"))
    ranked
      .orderBy(col("v"), col("source"), col("doc_id"))
      .limit(InterleaveLimit)
      .withColumn("pos", row_number().over(
        Window.orderBy(col("v"), col("source"), col("doc_id"))))
      .select(col("pos"), col("v"), col("source"), col("doc_id"),
        col("i").as("src_seq"), col("k"))
      .orderBy("pos")
  }

  val interleaveScheduleSql: String = s"""WITH ks AS (
      SELECT source, ${weightKSql("source")} AS k
      FROM documents GROUP BY source),
    r AS (
      SELECT doc_id, source,
        row_number() OVER (PARTITION BY source
          ORDER BY ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS i
      FROM documents),
    v AS (
      SELECT r.doc_id, r.source, r.i, ks.k,
        r.i * ($InterleaveLcm // ks.k) AS v
      FROM r JOIN ks ON r.source = ks.source
      WHERE r.i <= $InterleaveLimit)
    SELECT row_number() OVER (ORDER BY v, source, doc_id) AS pos,
      v, source, doc_id, i AS src_seq, k
    FROM v
    ORDER BY v, source, doc_id
    LIMIT $InterleaveLimit"""

  // -------------------------------------------- W13 dedup-weighted mixture

  /** W13: dedup-weighted mixture temperatures — [[mixtureTemperature]]'s
    * α = 1/2 weights recomputed over the POST-dedup corpus (one
    * canonical document per D7 near-dup cluster: `doc_id == cluster
    * label`, the keep rule C1's funnel uses), emitted NEXT TO the
    * pre-dedup weights so a data card shows how dedup shifts source
    * sampling. A source whose token share was inflated by boilerplate
    * duplicates loses weight once only canonicals count (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better":
    * dedup changes effective mixture proportions) — this ties the dedup
    * tier's labels into the mixing tier. W9 answers the same question
    * for the NATURAL k-weighted shares; W13 answers it for the
    * temperature-scaled sampler actually used at training time.
    *
    * Determinism: both weight columns follow W7's exact protocol (p one
    * IEEE division of exact longs, √p correctly rounded per IEEE-754 —
    * no libm risk — w9 = round(√p, 9), Σw9 in DECIMAL, final w one
    * division rounded at 6); `w_shift` is the difference of the two
    * already-rounded 1e-6-grid doubles re-rounded on the same grid
    * (identical inputs in both engines ⇒ identical difference; the
    * re-round sits ≥~0.5e-6 − 1e-15 from every boundary).
    *
    * Scale shape: the memoized D7 labels (session-lifetime persist,
    * owned by this query's memo entry per the persist contract)
    * join ONE corpus scan; everything downstream is arithmetic on the
    * sources-sized relation with two broadcast 1-row totals.
    */
  def dedupWeightedMix(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
    val labels = Dedup.clusterIds(s, dir) // (id, lbl), memoized
    // ≤|sources| rows, but it feeds the total leg AND the scored chain
    // (which itself fans out twice) — unpersisted, the corpus scan +
    // labels join + agg executed once per leg (`tools/Audit` dup check)
    val per = base.join(labels, col("doc_id") === col("id"))
      .withColumn("keep", (col("doc_id") === col("lbl")).cast("long"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("keep").as("n_kept"),
        sum("ntok").as("tokens_pre"),
        sum(col("keep") * col("ntok")).as("tokens_post"))
      .persistRecorded()
    val tot = per.agg(sum("tokens_pre").as("tp"), sum("tokens_post").as("tq")) // 1 row
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("w9_pre",
        round(sqrt(col("tokens_pre").cast("double") / col("tp").cast("double")), 9))
      .withColumn("w9_post",
        round(sqrt(col("tokens_post").cast("double") / col("tq").cast("double")), 9))
    val sw = scored.agg(
      sum(col("w9_pre").cast(DecimalType(20, 9))).cast("double").as("swp"),
      sum(col("w9_post").cast(DecimalType(20, 9))).cast("double").as("swq")) // 1 row
    scored.crossJoin(broadcast(sw))
      .withColumn("w_pre", round(col("w9_pre") / col("swp"), 6))
      .withColumn("w_post", round(col("w9_post") / col("swq"), 6))
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("tokens_pre"), col("tokens_post"),
        col("w_pre"), col("w_post"),
        round(col("w_post") - col("w_pre"), 6).as("w_shift"))
      .orderBy("source")
  }

  val dedupWeightedMixSql: String = s"""WITH RECURSIVE ${Dedup.clusterLabCtes},
    base AS (
      SELECT doc_id, source, CAST(len($tokensSqlRef) AS BIGINT) AS ntok
      FROM documents),
    per AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN base.doc_id = lab.cluster_id THEN 1 ELSE 0 END)
          AS BIGINT) AS n_kept,
        CAST(SUM(ntok) AS BIGINT) AS tokens_pre,
        CAST(SUM(CASE WHEN base.doc_id = lab.cluster_id THEN ntok ELSE 0 END)
          AS BIGINT) AS tokens_post
      FROM base JOIN lab ON base.doc_id = lab.doc_id
      GROUP BY source),
    tot AS (SELECT SUM(tokens_pre) AS tp, SUM(tokens_post) AS tq FROM per),
    scored AS (
      SELECT source, n_docs, n_kept, tokens_pre, tokens_post,
        ROUND(sqrt(CAST(tokens_pre AS DOUBLE) / CAST(tp AS DOUBLE)), 9) AS w9_pre,
        ROUND(sqrt(CAST(tokens_post AS DOUBLE) / CAST(tq AS DOUBLE)), 9) AS w9_post
      FROM per CROSS JOIN tot),
    sw AS (SELECT CAST(SUM(CAST(w9_pre AS DECIMAL(20,9))) AS DOUBLE) AS swp,
                  CAST(SUM(CAST(w9_post AS DECIMAL(20,9))) AS DOUBLE) AS swq
           FROM scored)
    SELECT source, n_docs, n_kept, tokens_pre, tokens_post,
      ROUND(w9_pre / swp, 6) AS w_pre,
      ROUND(w9_post / swq, 6) AS w_post,
      ROUND(ROUND(w9_post / swq, 6) - ROUND(w9_pre / swp, 6), 6) AS w_shift
    FROM scored CROSS JOIN sw ORDER BY source"""

  // -------------------------------------------------------- W4 curriculum

  /** Value-range bucket count for the W4 two-phase quality rank. */
  val CurriculumBuckets = 64
  /** Number of curriculum phases (1 = highest-quality first). */
  val CurriculumPhases = 3

  /** W4: curriculum phase assignment — order the corpus by descending
    * quality score (the T2 composite, shared with C1 so the signals
    * can't drift) and split the EXACT global rank into
    * [[CurriculumPhases]] equal phases: phase 1 is the cleanest third
    * the run trains on first, phase 3 the tail (curriculum learning /
    * quality-annealed data ordering). Emits per document the quality,
    * the exact global rank, and the phase — reproducible across
    * engines because rank ties break on doc_id and quality is already
    * rounded at its comparison boundary.
    *
    * Scale shape: the W1 two-phase rank generalized from hash-range to
    * VALUE-range buckets — bucket = ⌊quality·64⌋ (monotone in the rank
    * key, so bucket-major order equals global order), ranks computed
    * inside each bounded bucket partition, global rank reconstructed as
    * the bucket's exclusive running count offset (a ≤64-row window) +
    * the within-bucket rank. The corpus never sorts in one partition;
    * the oracle states the naive single-window form and both agree
    * row-for-row. Skewed quality distributions (many docs in one
    * bucket) degrade gracefully: the bucket window is still a fraction
    * of the corpus, and the bucketing refines by raising the count.
    */
  def curriculum(s: SparkSession, dir: String): DataFrame =
    curriculumFrom(docs(s, dir).select(col("doc_id"),
      TextOps.qualityCol.as("quality")))

  /** [[curriculum]] over an explicit `(doc_id, quality)` relation — the
    * spec pins phase boundaries on a crafted quality ladder.
    */
  def curriculumFrom(d: DataFrame): DataFrame = {
    val base = d.withColumn("bucket",
      least(floor(col("quality") * CurriculumBuckets), lit(CurriculumBuckets - 1L))
        .cast("long"))
      // feeds the bucket-count, total-count, and ranked legs — the
      // registry entry point embeds the regex-heavy qualityCol
      // projection, which would otherwise re-scan the corpus 3×
      .persistRecorded()
    // ≤64-row count relation; the exclusive running offset walks buckets
    // in DESCENDING order (global order is quality desc)
    val wOff = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = base.groupBy("bucket").agg(count(lit(1)).as("c"))
      .select(col("bucket"), coalesce(sum("c").over(wOff), lit(0L)).as("off"))
    val total = base.agg(count(lit(1)).as("n")) // 1 row, provably bounded
    val wRk = Window.partitionBy("bucket").orderBy(col("quality").desc, col("doc_id"))
    base.withColumn("r", row_number().over(wRk))
      .join(off, "bucket")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"),
        (col("off") + col("r")).as("rk"),
        // `div` (not `/` + floor): exact integer division survives past
        // the 2^53 double-mantissa rank range a 100 TB corpus reaches
        expr(s"1L + ((off + r - 1) * $CurriculumPhases) div n").as("phase"))
      .orderBy("rk")
  }

  val curriculumSql: String = s"""WITH q AS (
      SELECT doc_id, ${TextOps.qualityColSql} AS quality FROM documents),
    n AS (SELECT COUNT(*) AS n FROM q),
    r AS (
      SELECT doc_id, quality,
        row_number() OVER (ORDER BY quality DESC, doc_id) AS rk
      FROM q)
    SELECT doc_id, quality, rk,
      CAST(1 + (rk - 1) * $CurriculumPhases // n AS BIGINT) AS phase
    FROM r CROSS JOIN n
    ORDER BY rk"""

  // ----------------------------------------------------------- W2 packing

  /** Token budget per packed training sequence. */
  val PackBudget = 256L

  /** Minimum number of independent packing streams (keeps small corpora
    * parallel across a few tasks).
    */
  val PackBucketsMin = 16L

  /** Target docs per packing stream: the stream count is DERIVED from
    * the corpus size as `max(PackBucketsMin, ⌈n / PackStreamRows⌉)`
    * ([[packStreams]]), so each stream's collected doc list stays
    * executor-bounded (~64 Ki docs ≈ a few MB of (h, doc_id, ntok)
    * structs) at ANY corpus size — a fixed stream count would grow each
    * `collect_list` O(corpus/streams), the one corpus-proportional
    * per-task structure the r10 audit flagged. The derivation is one
    * bounded count agg cross-joined into the plan (no driver action),
    * and the oracle states the identical formula.
    */
  val PackStreamRows = 65536L

  /** Stream count for an `n`-document corpus — exact integer arithmetic,
    * shared by the Spark plan and (textually) the oracle SQL; spec-pinned
    * at the boundaries.
    */
  def packStreams(n: Long): Long =
    math.max(PackBucketsMin, (n + PackStreamRows - 1) / PackStreamRows)

  /** SQL rendering of [[packStreams]] over a column/expression `n`. */
  def packStreamsSql(n: String): String =
    s"GREATEST($PackBucketsMin, ($n + ${PackStreamRows - 1}) // $PackStreamRows)"

  /** W2: sequence packing — pack documents into fixed [[PackBudget]]
    * token-budget training sequences by greedy next-fit over the
    * (doc hash, doc_id)-ordered stream of each bucket: a document joins
    * the open sequence if it fits, else opens a new one (docs longer
    * than the budget get a sequence of their own). Deterministic: the
    * fold order is the hash order, so the packing is a pure function of
    * the corpus. Emits per sequence (bucket, seq, n_docs, n_tokens,
    * fill_frac) — the fill statistics a packing data card reports.
    *
    * Packing is inherently sequential WITHIN a stream (each placement
    * depends on the running fill — no window cumsum expresses the
    * reset), so each bucket folds its sorted doc list through one
    * higher-order `aggregate`: state = the per-sequence summary array,
    * last element open. The oracle states the identical recurrence as a
    * DuckDB recursive CTE advancing one doc per step per bucket; greedy
    * next-fit and the recurrence agree exactly.
    */
  def seqPack(s: SparkSession, dir: String): DataFrame =
    seqPackFrom(docs(s, dir).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok")), PackBudget)

  /** [[seqPack]] over an explicit `(doc_id, ntok)` relation and budget —
    * the spec pins a crafted fixture where greedy and optimal packing
    * differ.
    */
  def seqPackFrom(d: DataFrame, budget: Long): DataFrame = {
    // stream count derived from the corpus size (see [[PackStreamRows]]):
    // one bounded count agg, broadcast into the bucketing projection —
    // `div`-exact mirror of packStreams()
    val nTotal = d.agg(count(lit(1)).as("n_total"))
    val base = d.select(col("doc_id"), col("ntok"), docHash.as("h"))
      .crossJoin(broadcast(nTotal))
      .withColumn("bucket", pmod(col("h"),
        greatest(lit(PackBucketsMin),
          expr(s"(n_total + ${PackStreamRows - 1}) div $PackStreamRows"))))
    val binsType = "array<struct<n_docs:bigint,n_tokens:bigint>>"
    val packed = base.groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("h"), col("doc_id"), col("ntok"))))
        .as("ds"))
      .select(col("bucket"), aggregate(
        col("ds"),
        array().cast(binsType),
        (acc, x) => {
          val nt = x.getField("ntok")
          val opened = array(struct(lit(1L).as("n_docs"), nt.as("n_tokens")))
          // branches guard element_at/slice: only evaluated when acc is
          // non-empty (If short-circuits per-row, also under codegen)
          when(size(acc) === 0, opened).otherwise {
            val last = element_at(acc, -1)
            when(last.getField("n_tokens") + nt <= lit(budget),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(struct((last.getField("n_docs") + lit(1L)).as("n_docs"),
                  (last.getField("n_tokens") + nt).as("n_tokens")))))
              .otherwise(concat(acc, opened))
          }
        }).as("bins"))
    packed.select(col("bucket"), posexplode(col("bins")))
      .select(col("bucket"), col("pos").cast("long").as("seq"),
        col("col.n_docs").as("n_docs"), col("col.n_tokens").as("n_tokens"),
        round(col("col.n_tokens").cast("double") / lit(budget.toDouble), 6)
          .as("fill_frac"))
      .orderBy("bucket", "seq")
  }

  val seqPackSql: String = s"""WITH RECURSIVE nb AS (
      SELECT ${packStreamsSql("COUNT(*)")} AS nbuckets FROM documents),
    base AS (
      SELECT doc_id, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    ord AS (
      SELECT h % nbuckets AS bucket, ntok,
        row_number() OVER (PARTITION BY h % nbuckets ORDER BY h, doc_id) AS i
      FROM base CROSS JOIN nb),
    rec AS (
      SELECT bucket, i, ntok, CAST(0 AS BIGINT) AS seq, ntok AS fill
      FROM ord WHERE i = 1
      UNION ALL
      SELECT o.bucket, o.i, o.ntok,
        CASE WHEN r.fill + o.ntok <= $PackBudget THEN r.seq ELSE r.seq + 1 END,
        CASE WHEN r.fill + o.ntok <= $PackBudget THEN r.fill + o.ntok ELSE o.ntok END
      FROM rec r JOIN ord o ON o.bucket = r.bucket AND o.i = r.i + 1)
    SELECT bucket, seq, COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
      ROUND(CAST(SUM(ntok) AS DOUBLE) / $PackBudget.0, 6) AS fill_frac
    FROM rec GROUP BY bucket, seq ORDER BY bucket, seq"""

  /** W6 leakage threshold: a candidate pair leaks when ≥ this many of
    * the 16 MinHash signature positions agree (8/16 ≈ estimated
    * Jaccard 0.5 — the D3 operating point's near-dup band).
    */
  val LeakMinMatches = 8

  /** W6: split-leakage audit — near-duplicate pairs that STRADDLE the
    * T7 train/val/test boundary. Deduplicating before splitting is the
    * textbook order precisely because a val/test doc with a near-dup in
    * train silently inflates eval; this operator measures that leakage
    * on the actual split assignment: D3's LSH candidate pairs, kept at
    * ≥ [[LeakMinMatches]]/16 signature agreement, grouped by the
    * unordered split pair, with the cross-split rows flagged. Composes
    * the two shared single-source-of-truth definitions — the D3
    * signature/banding chain and [[TextOps.splitOf]] — so neither can
    * drift from its parent operator.
    *
    * Determinism: signature agreement counts are exact ints (mean
    * agreement = one division of two exact ints, rounded at 6); the
    * split pair is name-ordered via least/greatest (ASCII order, same
    * in both engines). Scale shape: inherits D3's banding bounds (no
    * pairwise scan; per-band buckets bound candidates); everything
    * after the candidate join is a ≤ 6-row aggregate.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val sa = TextOps.splitOf(col("doc_a"))
    val sb = TextOps.splitOf(col("doc_b"))
    Dedup.minhashLsh(s, dir)
      .filter(col("est_jaccard") * Dedup.NumHashes >= LeakMinMatches)
      .select(least(sa, sb).as("split_a"), greatest(sa, sb).as("split_b"),
        (col("est_jaccard") * Dedup.NumHashes).cast("long").as("matches"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"), sum("matches").as("sm"))
      // r20 (`Profile recon`): ≤|splits|²-row boundary — a fresh
      // construction re-runs the ratio projection + sort only, not the
      // d3 candidate re-scoring (recon 0.75 s vs 0.08 s warm)
      .persistRecorded()
      .select(col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).cast("int").as("is_cross"),
        col("n_pairs"),
        round(col("sm").cast("double") /
          (col("n_pairs") * Dedup.NumHashes).cast("double"), 6).as("mean_agreement"))
      .orderBy("split_a", "split_b")
  }

  val splitLeakageSql: String = {
    val matches = (0 until Dedup.NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH ${Dedup.minhashCandCtes},
    scored AS (
      SELECT doc_a, doc_b, $matches AS matches
      FROM cand JOIN sig a ON cand.doc_a = a.doc_id JOIN sig b ON cand.doc_b = b.doc_id),
    leaked AS (
      SELECT LEAST(${TextOps.splitOfSql("doc_a")}, ${TextOps.splitOfSql("doc_b")}) AS split_a,
             GREATEST(${TextOps.splitOfSql("doc_a")}, ${TextOps.splitOfSql("doc_b")}) AS split_b,
             matches
      FROM scored WHERE matches >= $LeakMinMatches)
    SELECT split_a, split_b,
      CAST(split_a != split_b AS INT) AS is_cross,
      COUNT(*) AS n_pairs,
      ROUND(CAST(SUM(matches) AS DOUBLE) /
        CAST(COUNT(*) * ${Dedup.NumHashes} AS DOUBLE), 6) AS mean_agreement
    FROM leaked GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  // ------------------------------------------------ W8 quality upsampling

  /** W8 per-phase repetition multipliers: W4's cleanest tercile repeats
    * 4× relative to the tail, the middle 2× — the "repeat your best
    * data" recipe (high-quality subsets are multi-epoch'd while the tail
    * sees ≤1 pass; cf. the Llama / FineWeb data-recipe practice of
    * up-sampling curated sources).
    */
  def phaseMult(phase: Column): Column =
    when(phase === 1, 4L).when(phase === 2, 2L).otherwise(1L)

  def phaseMultSql(p: String): String =
    s"CASE WHEN $p = 1 THEN 4 WHEN $p = 2 THEN 2 ELSE 1 END"

  /** W8: quality-weighted upsampling plan — cross W4's exact quality
    * terciles with the source strata and allocate [[EpochTokenBudget]]
    * proportionally to mult·available_tokens per (source, phase) cell,
    * where mult is [[phaseMult]]: the quality-aware refinement of W5's
    * flat per-source plan. Emits the same epochs/full_epochs/remainder
    * accounting as W5 so the two plans are directly comparable.
    *
    * Determinism: phases come from W4's [[curriculumFrom]] (identical
    * rank machinery, shared definitionally); the allocation is pure
    * integer arithmetic (`div`/`%`) and the one fractional column is a
    * single IEEE division rounded at the boundary.
    *
    * Scale shape: one corpus scan builds (doc, source, ntok, quality);
    * the phase join is corpus⋈corpus on doc_id (one co-partitioned
    * shuffle each side — at 100 TB both sides hash on the same key, and
    * a doc_id-bucketed lake makes it zero-exchange); everything after
    * the (source, phase) aggregate is arithmetic on a ≤3·sources-row
    * stat relation with one 1-row broadcast total.
    */
  def qualityUpsample(s: SparkSession, dir: String): DataFrame =
    qualityUpsampleFrom(docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok"),
      TextOps.qualityCol.as("quality")), EpochTokenBudget)

  /** [[qualityUpsample]] over an explicit `(doc_id, source, ntok,
    * quality)` relation and budget — the spec pins the allocation on a
    * crafted quality ladder.
    */
  def qualityUpsampleFrom(d: DataFrame, budget: Long): DataFrame = {
    val phases = curriculumFrom(d.select(col("doc_id"), col("quality")))
      .select(col("doc_id"), col("phase"))
    val per = d.select(col("doc_id"), col("source"), col("ntok"))
      .join(phases, "doc_id")
      .groupBy(col("source"), col("phase"))
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("available_tokens"))
      .withColumn("mult", phaseMult(col("phase")))
      // (source, phase)-grain, but it feeds the total leg AND the
      // final projection: unpersisted, the curriculum chain over the
      // corpus executed twice (`tools/Audit` dup check: 51-node duplicate)
      .persistRecorded()
    val tot = per.agg(sum(col("mult") * col("available_tokens")).as("tot")) // 1 row
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens", expr(s"($budget * (mult * available_tokens)) div tot"))
      .select(col("source"), col("phase"), col("n_docs"),
        col("available_tokens"), col("mult"), col("target_tokens"),
        when(col("available_tokens") > 0,
          round(col("target_tokens").cast("double") /
            col("available_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("epochs"),
        when(col("available_tokens") > 0,
          expr("target_tokens div available_tokens")).otherwise(lit(0L))
          .as("full_epochs"))
      .orderBy("source", "phase")
  }

  val qualityUpsampleSql: String = s"""WITH q AS (
      SELECT doc_id, source,
        CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.qualityColSql} AS quality
      FROM documents),
    n AS (SELECT COUNT(*) AS n FROM q),
    r AS (
      SELECT doc_id, source, ntok,
        row_number() OVER (ORDER BY quality DESC, doc_id) AS rk
      FROM q),
    p AS (
      SELECT source, ntok,
        1 + (rk - 1) * $CurriculumPhases // n AS phase
      FROM r CROSS JOIN n),
    per AS (
      SELECT source, phase, COUNT(*) AS n_docs,
        CAST(SUM(ntok) AS BIGINT) AS available_tokens,
        ${phaseMultSql("phase")} AS mult
      FROM p GROUP BY 1, 2),
    tw AS (SELECT SUM(mult * available_tokens) AS tot FROM per),
    alloc AS (
      SELECT source, phase, n_docs, available_tokens, mult,
        ($EpochTokenBudget * (mult * available_tokens)) // tot AS target_tokens
      FROM per CROSS JOIN tw)
    SELECT source, CAST(phase AS BIGINT) AS phase, n_docs, available_tokens,
      CAST(mult AS BIGINT) AS mult, CAST(target_tokens AS BIGINT) AS target_tokens,
      CASE WHEN available_tokens > 0
        THEN ROUND(CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE), 6)
        ELSE 0.0 END AS epochs,
      CAST(CASE WHEN available_tokens > 0
        THEN target_tokens // available_tokens ELSE 0 END AS BIGINT) AS full_epochs
    FROM alloc ORDER BY source, phase"""

  // ----------------------------------------- W10 pack-budget sweep

  /** Sequence budgets swept by W10 (token context lengths a trainer
    * might pack to).
    */
  val PackSweepBudgets: Seq[Long] = Seq(128L, 256L, 512L)

  /** W10: packing-efficiency sweep — W2's greedy next-fit packing run
    * at each candidate context length, reporting sequences produced,
    * mean fill, and overfull-sequence counts per budget: the curve a
    * trainer reads to pick its context length (longer contexts waste
    * more tail capacity under the same greedy policy; single documents
    * longer than the budget surface as overfull sequences that need
    * splitting — W2's own doc covers why they're kept intact here).
    *
    * Determinism: the SAME hash-ordered per-stream fold as W2 (exact
    * integers end-to-end), swept by a 3-row budget spine; ratios are
    * single rounded IEEE divisions.
    *
    * Scale shape: one corpus projection; the spine multiplies only the
    * per-stream fold inputs (bounded streams of ≤~[[PackStreamRows]]
    * docs each — the fold is per-partition array work, no shuffle
    * inside); the rollup lands on a 3-row key space.
    */
  def packSweep(s: SparkSession, dir: String): DataFrame =
    packSweepFrom(docs(s, dir).select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok")))

  /** [[packSweep]] over an explicit `(doc_id, ntok)` relation. */
  def packSweepFrom(d: DataFrame): DataFrame = {
    val nTotal = d.agg(count(lit(1)).as("n_total"))
    val base = d.select(col("doc_id"), col("ntok"), docHash.as("h"))
      .crossJoin(broadcast(nTotal))
      .withColumn("bucket", pmod(col("h"),
        greatest(lit(PackBucketsMin),
          expr(s"(n_total + ${PackStreamRows - 1}) div $PackStreamRows"))))
    val spine = d.sparkSession.createDataFrame(PackSweepBudgets.map(Tuple1(_)))
      .toDF("budget") // 3 rows, provably bounded
    val binsType = "array<struct<n_docs:bigint,n_tokens:bigint>>"
    val packed = base.crossJoin(broadcast(spine))
      .groupBy("budget", "bucket")
      .agg(sort_array(collect_list(struct(col("h"), col("doc_id"), col("ntok"))))
        .as("ds"))
      .select(col("budget"), col("bucket"), aggregate(
        col("ds"),
        array().cast(binsType),
        (acc, x) => {
          val nt = x.getField("ntok")
          val opened = array(struct(lit(1L).as("n_docs"), nt.as("n_tokens")))
          when(size(acc) === 0, opened).otherwise {
            val last = element_at(acc, -1)
            when(last.getField("n_tokens") + nt <= col("budget"),
              concat(slice(acc, lit(1), size(acc) - 1),
                array(struct((last.getField("n_docs") + lit(1L)).as("n_docs"),
                  (last.getField("n_tokens") + nt).as("n_tokens")))))
              .otherwise(concat(acc, opened))
          }
        }).as("bins"))
    packed.select(col("budget"), explode(col("bins")).as("b"))
      .select(col("budget"), col("b.n_docs").as("nd"), col("b.n_tokens").as("nt"))
      .groupBy("budget")
      .agg(count(lit(1)).as("n_seqs"),
        sum("nd").as("n_docs"),
        sum("nt").as("total_tokens"),
        sum(when(col("nt") > col("budget"), 1L).otherwise(0L)).as("overfull_seqs"))
      .select(col("budget"), col("n_seqs"), col("n_docs"), col("total_tokens"),
        col("overfull_seqs"),
        round(col("total_tokens").cast("double") /
          (col("n_seqs") * col("budget")).cast("double"), 6).as("mean_fill"))
      .orderBy("budget")
  }

  val packSweepSql: String = s"""WITH RECURSIVE nb AS (
      SELECT ${packStreamsSql("COUNT(*)")} AS nbuckets FROM documents),
    base AS (
      SELECT doc_id, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok,
        ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")} AS h
      FROM documents),
    ks AS (SELECT CAST(unnest([${PackSweepBudgets.mkString(", ")}]) AS BIGINT) AS k),
    ord AS (
      SELECT k, h % nbuckets AS bucket, ntok,
        row_number() OVER (PARTITION BY k, h % nbuckets ORDER BY h, doc_id) AS i
      FROM base CROSS JOIN nb CROSS JOIN ks),
    rec AS (
      SELECT k, bucket, i, ntok, CAST(0 AS BIGINT) AS seq, ntok AS fill
      FROM ord WHERE i = 1
      UNION ALL
      SELECT o.k, o.bucket, o.i, o.ntok,
        CASE WHEN r.fill + o.ntok <= o.k THEN r.seq ELSE r.seq + 1 END,
        CASE WHEN r.fill + o.ntok <= o.k THEN r.fill + o.ntok ELSE o.ntok END
      FROM rec r JOIN ord o ON o.k = r.k AND o.bucket = r.bucket AND o.i = r.i + 1),
    seqs AS (
      SELECT k, bucket, seq, COUNT(*) AS nd, CAST(SUM(ntok) AS BIGINT) AS nt
      FROM rec GROUP BY 1, 2, 3)
    SELECT k AS budget,
      COUNT(*) AS n_seqs,
      CAST(SUM(nd) AS BIGINT) AS n_docs,
      CAST(SUM(nt) AS BIGINT) AS total_tokens,
      CAST(SUM(CASE WHEN nt > k THEN 1 ELSE 0 END) AS BIGINT) AS overfull_seqs,
      ROUND(CAST(SUM(nt) AS DOUBLE) / CAST(COUNT(*) * k AS DOUBLE), 6) AS mean_fill
    FROM seqs GROUP BY k ORDER BY budget"""

  // ----------------------------------------- W9 post-dedup source mix

  /** W9: dedup-aware mixture reweighting — W1's per-source mixture
    * weights re-applied to the corpus that SURVIVES near-dup
    * deduplication (D7's MinHash transitive-closure canonicals), the
    * composition every real pipeline runs: dedup shrinks sources
    * unevenly (boilerplate-heavy sources lose more), so the effective
    * token share each source contributes to the training mix shifts
    * from what the data card's weights imply. Emits, per source, the
    * doc/token survival counts, the W1 weight, and the weighted token
    * share before vs after dedup with the shift — the table a data-mix
    * review reads to decide whether to re-tune weights post-dedup.
    *
    * Determinism: canonical membership is D7's exact label relation;
    * all counts and the k·tokens weighted numerators are exact
    * integers; each share is one IEEE division of exact integers
    * rounded at the boundary, and the shift subtracts the two
    * identically-rounded shares (identical doubles both engines).
    *
    * Scale shape: one corpus scan projects (doc, source, ntok); the
    * D7 label join reuses the session-memoized cluster relation (the
    * c1/c3 path — bounded label-prop, re-armed persist); both rollups
    * are map-side-combinable aggregates onto a ≤|sources| key space,
    * and the share denominators come from a 1-row broadcast over the
    * bounded per-source relation.
    */
  def dedupSourceMix(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("source"),
      size(TextOps.tokens(col("text"))).cast("long").as("ntok"))
    val labels = Dedup.clusterIds(s, dir) // (id, lbl)
    val marked = base.join(labels, col("doc_id") === col("id"))
      .withColumn("canon", (col("doc_id") === col("lbl")).cast("long"))
    val per = marked.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("canon").as("n_canonical"),
        sum("ntok").as("tokens_all"),
        sum(col("canon") * col("ntok")).as("tokens_canonical"))
      .withColumn("k", weightK(col("source")))
      .withColumn("wpre", col("k") * col("tokens_all"))
      .withColumn("wpost", col("k") * col("tokens_canonical"))
      // source-grain two-leg pre-agg (total + final): persisted per the
      // same rule as w7/w13
      .persistRecorded()
    val tot = per.agg(sum("wpre").as("tpre"), sum("wpost").as("tpost"))
    per.crossJoin(broadcast(tot))
      .select(col("source"),
        (col("k").cast("double") / lit(4.0)).as("weight"),
        col("n_docs"), col("n_canonical"),
        col("tokens_all"), col("tokens_canonical"),
        round(col("n_canonical").cast("double") / col("n_docs").cast("double"), 6)
          .as("survival_frac"),
        round(col("wpre").cast("double") / col("tpre").cast("double"), 6)
          .as("share_pre"),
        round(col("wpost").cast("double") / col("tpost").cast("double"), 6)
          .as("share_post"),
        round(round(col("wpost").cast("double") / col("tpost").cast("double"), 6) -
          round(col("wpre").cast("double") / col("tpre").cast("double"), 6), 6)
          .as("share_shift"))
      .orderBy("source")
  }

  val dedupSourceMixSql: String = s"""WITH RECURSIVE ${Dedup.clusterLabCtes},
    base AS (
      SELECT doc_id, source, CAST(len(${TextOps.tokensSql}) AS BIGINT) AS ntok
      FROM documents),
    marked AS (
      SELECT source, ntok,
        CASE WHEN base.doc_id = lab.cluster_id THEN 1 ELSE 0 END AS canon
      FROM base JOIN lab ON base.doc_id = lab.doc_id),
    per AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(canon) AS BIGINT) AS n_canonical,
        CAST(SUM(ntok) AS BIGINT) AS tokens_all,
        CAST(SUM(canon * ntok) AS BIGINT) AS tokens_canonical,
        ${weightKSql("source")} AS k
      FROM marked GROUP BY source),
    tot AS (
      SELECT CAST(SUM(k * tokens_all) AS BIGINT) AS tpre,
        CAST(SUM(k * tokens_canonical) AS BIGINT) AS tpost
      FROM per)
    SELECT source,
      CAST(k AS DOUBLE) / 4.0 AS weight,
      n_docs, n_canonical, tokens_all, tokens_canonical,
      ROUND(CAST(n_canonical AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS survival_frac,
      ROUND(CAST(k * tokens_all AS DOUBLE) / CAST(tpre AS DOUBLE), 6) AS share_pre,
      ROUND(CAST(k * tokens_canonical AS DOUBLE) / CAST(tpost AS DOUBLE), 6) AS share_post,
      ROUND(ROUND(CAST(k * tokens_canonical AS DOUBLE) / CAST(tpost AS DOUBLE), 6) -
        ROUND(CAST(k * tokens_all AS DOUBLE) / CAST(tpre AS DOUBLE), 6), 6) AS share_shift
    FROM per CROSS JOIN tot ORDER BY source"""

  // ------------------------------------- W11 balanced hash downsampling

  /** Threshold grid for [[balancedSample]] — sampling rates are exact
    * integer thresholds out of this grid, never a float fraction.
    */
  val SampleGrid = 1000000L

  /** W11: deterministic balanced downsampling — every source stratum is
    * Bernoulli-downsampled toward the SMALLEST source's doc count with
    * a stable hash threshold: keep a doc iff
    * `hash(doc_id) mod 1e6 < threshold_source`, threshold =
    * `(min_count·1e6) div count_source` (exact integer floor). Unlike
    * random sampling, a document's fate depends only on its id and its
    * source's threshold, so the kept set is REPRODUCIBLE and
    * growth-stable (new docs never flip old decisions — the W3/T7
    * hash-stability argument applied to source balancing, the standard
    * pre-training move against a dominant crawl source). Emits per
    * source the threshold, achieved counts, and the exact doc_id-sum
    * checksum of the kept set (pins the SELECTION like W1's quota
    * take).
    *
    * Determinism: thresholds, counts, and the checksum are exact
    * integers; the two rates are one IEEE division each rounded at 6.
    *
    * Scale shape: one count aggregate, a |sources|-row threshold
    * relation joined back into ONE corpus scan (planner broadcasts by
    * size), then a map-side-partial rollup. No windows, no sort, no
    * per-doc state.
    */
  def balancedSample(s: SparkSession, dir: String): DataFrame =
    balancedSampleFrom(docs(s, dir))

  /** [[balancedSample]] over an explicit `(doc_id, source)` relation —
    * the spec pins the threshold algebra on crafted strata.
    */
  def balancedSampleFrom(d: DataFrame): DataFrame = {
    val counts = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val minRel = counts.agg(min("n_docs").as("min_docs"))
    val thr = counts.crossJoin(broadcast(minRel))
      .select(col("source"), col("n_docs"),
        expr(s"(min_docs * $SampleGrid) div n_docs").as("threshold"))
    d.select(col("source"), col("doc_id"),
        pmod(docHash, lit(SampleGrid)).as("h"))
      .join(thr, "source")
      .groupBy(col("source"), col("n_docs"), col("threshold"))
      .agg(
        sum(when(col("h") < col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("h") < col("threshold"), col("doc_id")).otherwise(lit(0L)))
          .as("kept_id_sum"))
      .select(col("source"), col("n_docs"), col("threshold"), col("n_kept"),
        col("kept_id_sum"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("achieved_rate"),
        round(col("threshold").cast("double") / lit(SampleGrid.toDouble), 6)
          .as("target_rate"))
      .orderBy("source")
  }

  val balancedSampleSql: String = s"""WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
    mn AS (SELECT MIN(n_docs) AS min_docs FROM counts),
    thr AS (SELECT source, n_docs,
        (min_docs * $SampleGrid) // n_docs AS threshold
      FROM counts, mn),
    marked AS (
      SELECT d.source, d.doc_id, t.n_docs, t.threshold,
        ${TextOps.tokenHashSql("CAST(doc_id AS VARCHAR)")} % $SampleGrid AS h
      FROM documents d JOIN thr t ON d.source = t.source)
    SELECT source, n_docs, threshold,
      CAST(SUM(CASE WHEN h < threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN h < threshold THEN doc_id ELSE 0 END) AS BIGINT)
        AS kept_id_sum,
      ROUND(CAST(SUM(CASE WHEN h < threshold THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(n_docs AS DOUBLE), 6) AS achieved_rate,
      ROUND(CAST(threshold AS DOUBLE) / ${SampleGrid}.0, 6) AS target_rate
    FROM marked GROUP BY 1, 2, 3 ORDER BY source"""

  // ------------------------------------------- W15 DSIR importance weights

  /** Hashed n-gram feature buckets for W15. The DSIR paper uses 10k
    * buckets; 4096 keeps the log-ratio relation inside the project's
    * provably-bounded broadcast contract (CLAUDE.md: ≤4096 rows) with
    * negligible extra collision mass — collisions merge feature counts
    * identically in both engines either way.
    */
  val DsirBuckets = 4096L
  /** The W15 target subset — a deterministic stand-in for the curated
    * high-quality corpus DSIR resamples toward (Xie et al. 2023 use
    * Wikipedia+books as the target over Pile-CC raw); the machinery is
    * subset-agnostic.
    */
  val DsirTargetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** W15: DSIR importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): each document's
    * log importance weight log(p̂(x)/q̂(x)) under bag-of-hashed-ngram
    * (unigram + bigram) models of a TARGET distribution (the
    * [[DsirTargetSources]] strata) and the RAW distribution (every
    * other source), with add-one smoothing per bucket. Raw documents
    * with high logw look target-like and get upsampled; the weight
    * pairs with W8/W11's selection machinery. Emits every document's
    * source, target membership, feature mass, and logw.
    *
    * Determinism (the T10 transcendental tier): the per-bucket
    * log-ratio λ_k = ln(((cp_k+1)·(Tq+B)) / ((cq_k+1)·(Tp+B))) is one
    * ln of an IEEE product/quotient of exact integer counts, computed
    * ONCE per bucket on the ≤[[DsirBuckets]]-row relation and
    * immediately `round(…, 9)`; per-doc sums accumulate those
    * identical doubles in exact DECIMAL; emission is `round(…, 6)`.
    * Zero-feature documents emit logw 0.
    *
    * Scale shape: ONE corpus scan explodes unigrams+bigrams together
    * (`concat` of the two arrays) into a doc-local (doc_id, bucket)
    * pre-agg; the bucket-grain p/q histogram is a single map-side-
    * combinable aggregate onto ≤[[DsirBuckets]] keys; totals are a
    * 1-row broadcast; λ joins back by broadcast (provably bounded);
    * the pre-agg is persisted (histogram leg + join-back leg — owned by
    * w15's memo entry per the persist contract). No unbounded key
    * anywhere: the hot dimension is the fixed bucket space.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(docs(s, dir).select(col("doc_id"), col("source"), col("text")))

  /** [[dsirWeights]] over an explicit `(doc_id, source, text)` relation
    * — the spec pins exact smoothed log-ratios on a crafted two-strata
    * corpus.
    */
  def dsirWeightsFrom(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val B = DsirBuckets
    val isTargetCol = col("source").isin(DsirTargetSources: _*)
    val toks = TextOps.tokens(col("text"))
    val occ = d
      .select(col("doc_id"), isTargetCol.cast("long").as("is_target"),
        explode(concat(toks, TextOps.ngrams(toks, 2))).as("g"))
      .select(col("doc_id"), col("is_target"),
        pmod(TextOps.tokenHash(col("g")), lit(B)).as("bucket"))
      .groupBy("doc_id", "is_target", "bucket").agg(count(lit(1)).as("c"))
      .persistRecorded() // bucket-histogram leg + per-doc join-back leg
    val hist = occ.groupBy("bucket")
      .agg(sum(when(col("is_target") === 1L, col("c")).otherwise(lit(0L))).as("cp"),
        sum(when(col("is_target") === 0L, col("c")).otherwise(lit(0L))).as("cq"))
    val tot = hist.agg(sum("cp").as("tp"), sum("cq").as("tq")) // 1 row
    val lam = hist.crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(log(
          ((col("cp") + lit(1L)).cast("double") * (col("tq") + lit(B)).cast("double")) /
            ((col("cq") + lit(1L)).cast("double") * (col("tp") + lit(B)).cast("double"))),
          9).as("lam"))
    val per = occ.join(broadcast(lam), "bucket")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feat"),
        sum(col("lam").cast(DecimalType(20, 10)) *
          col("c").cast(DecimalType(10, 0))).as("tot"))
    d.select(col("doc_id"), col("source"), isTargetCol.cast("long").as("is_target"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("is_target"),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        when(col("n_feat") > 0, round(col("tot").cast("double"), 6))
          .otherwise(lit(0.0)).as("logw"))
      .orderBy("doc_id")
  }

  val dsirWeightsSql: String = {
    val targets = DsirTargetSources.map(t => s"'$t'").mkString(", ")
    val B = DsirBuckets
    s"""WITH d AS (
      SELECT doc_id, source,
        CASE WHEN source IN ($targets) THEN 1 ELSE 0 END AS is_target,
        ${TextOps.tokensSql} AS toks
      FROM documents),
    occ AS (
      SELECT doc_id, is_target,
        ${TextOps.tokenHashSql("g")} % $B AS bucket, COUNT(*) AS c
      FROM (SELECT doc_id, is_target,
              unnest(list_concat(toks, ${TextOps.ngramsSql("toks", 2)})) AS g
            FROM d)
      GROUP BY 1, 2, 3),
    hist AS (
      SELECT bucket,
        CAST(SUM(CASE WHEN is_target = 1 THEN c ELSE 0 END) AS BIGINT) AS cp,
        CAST(SUM(CASE WHEN is_target = 0 THEN c ELSE 0 END) AS BIGINT) AS cq
      FROM occ GROUP BY 1),
    tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(cq) AS BIGINT) AS tq
            FROM hist),
    lam AS (
      SELECT bucket,
        ROUND(ln((CAST(cp + 1 AS DOUBLE) * CAST(tq + $B AS DOUBLE)) /
                 (CAST(cq + 1 AS DOUBLE) * CAST(tp + $B AS DOUBLE))), 9) AS lam
      FROM hist CROSS JOIN tot),
    per AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feat,
        SUM(CAST(lam AS DECIMAL(20,10)) * CAST(c AS DECIMAL(10,0))) AS tot
      FROM occ JOIN lam USING (bucket)
      GROUP BY 1)
    SELECT d.doc_id, d.source, CAST(d.is_target AS BIGINT) AS is_target,
      COALESCE(n_feat, 0) AS n_feat,
      CASE WHEN n_feat > 0 THEN ROUND(CAST(tot AS DOUBLE), 6) ELSE 0.0 END AS logw
    FROM d LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id"""
  }
}
