package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.SessionMemo.PersistRecorded

/** Mergeable cardinality sketches — the distinct-count primitive that
  * replaces exact `COUNT(DISTINCT …)` at 100 TB (Flajolet et al. 2007,
  * HyperLogLog; the reference has no sketch surface — its roadmap stops
  * at exact batch stats, `/root/reference/ROADMAP.md:16`).
  *
  * Unlike Spark's built-in `approx_count_distinct` (whose HLL++ register
  * layout is engine-private and therefore un-oracle-able — the reason
  * E13 computes DAU exactly, [[Events.activeUsers]]), these registers
  * are built EXPLICITLY from md5, so DuckDB reproduces them bit-for-bit:
  *
  *   - bucket = first 2 hex digits of `md5(CAST(user_id AS VARCHAR))`
  *     (m = 256 registers);
  *   - w = next 14 hex digits (a 56-bit non-negative integer);
  *   - rho = 57 − length(bin(w)) for w > 0, else 57 — `bin()` emits the
  *     minimal binary string in BOTH engines, so the leading-zero count
  *     is an exact string-length computation, never a `log2`.
  *
  * Determinism discipline: registers are exact integers; the harmonic
  * denominator S = Σ 2^(57−rho) (empty registers contribute 2^57)
  * accumulates exact powers of two in DECIMAL (order-free); the raw
  * estimate α·m²/S is restated at 1e-6 grain as ONE integer
  * floor-division of the frozen integer literal [[HllNumE6]] by the
  * exact S·2^57 — no emitted cell ever touches a float (the t23
  * integer idiom; r17 ADVICE killed the previous float form's
  * decimal→double cast, a 1-ulp cross-engine hazard at ~2^65); the
  * small-range (linear-counting) correction needs `ln(m/V)` and is
  * deliberately NOT emitted (the repo's no-transcendental oracle rule)
  * — `v_empty` is emitted instead so a consumer applies the correction
  * downstream, and SketchSpec pins the corrected estimate's accuracy
  * in Scala where no cross-engine hash is at stake.
  */
object Sketch {

  /** Register count m (2^[[BucketHexDigits]]·4). 256 keeps the register
    * relation trivially broadcastable-per-group while the ±1.04/√m ≈ 6.5%
    * standard error is enough to audit against the exact leg.
    */
  val Registers = 256

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/events.parquet")

  /** HLL-256 register relation `(event_type, bucket, rho)` for the
    * distinct-`user_id` sketch — only OCCUPIED registers appear (empty
    * ones are reconstructed arithmetically as `256 − COUNT(*)`).
    *
    * Scale shape: one scan → `groupBy(event_type, bucket) max(rho)` — a
    * map-side-combinable partial max whose exchange carries at most
    * 256·|types| cells regardless of corpus size. The register relation
    * is MERGEABLE by register-wise max (SketchSpec pins
    * sketch(A ∪ B) = max-merge(sketch(A), sketch(B)) exactly), which is
    * what lets per-day / per-shard sketches roll up without rescanning —
    * the property exact distinct counting fundamentally lacks.
    */
  def registers(ev: DataFrame): DataFrame =
    withRegisterCoords(ev)
      .groupBy("event_type", "bucket")
      .agg(max(col("rho")).as("rho"))

  /** The stateless per-row register projection behind [[registers]]:
    * keeps every input column and adds `(bucket, rho)` — the form the
    * streaming tier needs (event-time columns survive to the watermark).
    */
  def withRegisterCoords(ev: DataFrame): DataFrame = {
    val h = md5(col("user_id").cast("string"))
    ev.filter(col("user_id").isNotNull)
      .withColumn("bucket", conv(substring(h, 1, 2), 16, 10).cast("long"))
      .withColumn("hllw", conv(substring(h, 3, 14), 16, 10).cast("long"))
      .withColumn("rho",
        when(col("hllw") === 0L, lit(57L))
          .otherwise(lit(57L) - length(bin(col("hllw"))).cast("long")))
      .drop("hllw")
  }

  /** Exact integer numerator of the e6-scaled raw HLL estimator:
    * ⌊α₂₅₆ · m² · 2⁵⁷ · 10⁶⌉ with α₂₅₆ = 0.7213/(1 + 1.079/256), computed
    * once as a rational (7213·256000/(10000·257079) · 65536 · 2⁵⁷ · 10⁶)
    * and frozen as a literal. The constant is part of THIS estimator's
    * definition — both engines floor-divide the identical integer, so
    * the emitted cells never touch a float (r17 ADVICE: the previous
    * float form divided a ~2⁶⁵ DECIMAL cast to double, where DuckDB's
    * hugeint→double two-step conversion can differ from Java's
    * correctly-rounded cast by 1 ulp — the t23 driver-only-fail class).
    */
  val HllNumE6 = "6783892839851034302417270557"

  /** E31: per-event-type distinct-user HLL sketch audited against the
    * exact count — `(event_type, n_exact, hll_est_e6, v_empty,
    * rel_err_e6)`, ALL exact BIGINTs (the t23 integer idiom: no float
    * ever reaches an emitted cell). Bound of the e6 encoding (r18
    * ADVICE): `hll_est_e6` fits BIGINT while the raw estimate stays
    * under ~9.2e12 distinct keys (Long.MaxValue/10⁶); beyond that the
    * engines would diverge differently (Spark's non-ANSI `div` → NULL,
    * DuckDB's HUGEINT→BIGINT cast errors) — far above any gate corpus,
    * and a 256-register raw estimator is out of its accuracy regime
    * long before that anyway.
    *
    * The exact leg is the d18 shape (`distinct(type, user)` spreading
    * the exchange over both columns, then a map-side-combinable count) —
    * it exists HERE as the audit; at 100 TB it is precisely the leg you
    * drop, keeping only the register build.
    *
    * `hll_est_e6` is the raw HLL estimator α₂₅₆·m²/S at 1e-6 resolution,
    * restated as one integer floor-division: S_scaled = S·2⁵⁷ sums exact
    * DECIMAL powers of two (the V empty registers contribute 2⁵⁷ each,
    * multiplied at ≤3-digit × 2⁵⁷ grain — never a wide decimal product),
    * and the estimate is ⌊[[HllNumE6]] / S_scaled⌋ — Spark's `div` on
    * DECIMAL(38,0) and DuckDB's HUGEINT `//` truncate the same positive
    * exact quotient. `rel_err_e6` = ⌊|est_e6 − n·10⁶| / n⌋, again pure
    * BIGINT arithmetic. The ln-based linear-counting correction stays
    * un-emitted (SketchSpec pins it Scala-side); `v_empty` lets a
    * consumer apply it downstream.
    */
  def hllUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val sketch = registers(ev)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_regs"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(57 - rho AS INT)) AS DECIMAL(38,0))"))
          .as("s_occ"))
      .select(col("event_type"),
        (lit(Registers.toLong) - col("n_regs")).as("v_empty"),
        ((lit(Registers.toLong) - col("n_regs")).cast(DecimalType(10, 0)) *
          lit(144115188075855872L).cast(DecimalType(20, 0)) +
          col("s_occ")).as("s_scaled"))
    val exact = ev.filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    exact.join(sketch, Seq("event_type"))
      .select(col("event_type"), col("n_exact"),
        expr(s"CAST(CAST($HllNumE6 AS DECIMAL(38,0)) div s_scaled AS BIGINT)")
          .as("hll_est_e6"),
        col("v_empty"))
      .select(col("event_type"), col("n_exact"), col("hll_est_e6"), col("v_empty"),
        expr("abs(hll_est_e6 - n_exact * CAST(1000000 AS BIGINT)) div n_exact")
          .as("rel_err_e6"))
      .orderBy("event_type")
  }

  /** Count-Min rows d (disjoint 5-hex-digit md5 slices). */
  val CmsRows = 4

  /** Count-Min width w per row (low 10 bits of each 20-bit slice). */
  val CmsWidth = 1024

  /** Heavy hitters audited against the sketch. */
  val CmsTopK = 50

  /** Two-phase-rank buckets for the exact top-k leg (W1/T15 idiom). */
  val CmsRankBuckets = 64L

  /** The d=[[CmsRows]] per-token CMS coordinates `(r, bucket)` — row r
    * reads hex digits 1+5r..5+5r of `md5(tok)` (disjoint 20-bit slices,
    * so the rows are independent hashes of one digest) and keeps the
    * low 10 bits. Exact string/integer ops in both engines.
    */
  def cmsCoordsOf(tok: Column): Column = array(
    (0 until CmsRows).map { r =>
      struct(lit(r).as("r"),
        pmod(conv(substring(md5(tok), 1 + 5 * r, 5), 16, 10).cast("long"),
          lit(CmsWidth.toLong)).as("bucket"))
    }: _*)

  private def cmsCoordsSql(tok: String): String =
    s"CAST(concat('0x', substr(md5($tok), 1 + 5 * r, 5)) AS BIGINT) % $CmsWidth"

  /** The ≤ d·w-row CMS cell table `(r, bucket, cell)` from a vocab-grain
    * `(tok, cnt)` relation. Mergeable ACROSS corpus shards by additive
    * union (SketchSpec pins cells(A ∪ B) = cells(A) + cells(B) exactly).
    */
  def cmsCellsOf(vocab: DataFrame): DataFrame = vocab
    .select(col("cnt"), explode(cmsCoordsOf(col("tok"))).as("rb"))
    .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    .agg(sum("cnt").as("cell"))

  /** T35: Count-Min frequency sketch (Cormode & Muthukrishnan 2005)
    * audited on the exact token heavy hitters —
    * `(rk, tok, cnt_exact, cms_est, overest)`, all exact integers (the
    * only sketch family with a transcendental-free estimator, so the
    * WHOLE oracle is hash-exact with zero float discipline needed).
    * `cms_est ≥ cnt_exact` always (counters only over-count — the
    * one-sided error CMS guarantees; SketchSpec pins it row-by-row and
    * on an adversarial all-collision fixture).
    *
    * Scale shape: occurrences collapse to vocab grain FIRST (the
    * CLAUDE.md repeated-value rule — cell updates commute, so counting
    * per distinct token and summing counts into cells is identical to
    * per-occurrence increments); the cell table is ≤ d·w = 4096 rows
    * regardless of corpus size — the mergeable, broadcastable artifact
    * a 100 TB pipeline ships instead of a vocabulary. The exact top-k
    * leg is the two-phase bucketed rank; the probe joins the 4096-cell
    * table broadcast. The vocab pre-agg feeds three legs (cells, rank,
    * probe) and is persisted for the query's lifetime (registry persist
    * contract; in Bench.extraIters).
    */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.parquet(s, s"$dir/documents.parquet")
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .persistRecorded()
    val cells = cmsCellsOf(vocab)
    val w1 = Window
      .partitionBy(pmod(TextOps.tokenHash(col("tok")), lit(CmsRankBuckets)))
      .orderBy(col("cnt").desc, col("tok"))
    val pre = vocab.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= CmsTopK)
    // global window over ≤ CmsRankBuckets·CmsTopK phase-1 survivors
    val w2 = Window.orderBy(col("cnt").desc, col("tok"))
    val top = pre.withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= CmsTopK)
      .select(col("rk"), col("tok"), col("cnt"))
    top
      .select(col("rk"), col("tok"), col("cnt"),
        explode(cmsCoordsOf(col("tok"))).as("rb"))
      .select(col("rk"), col("tok"), col("cnt"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .join(broadcast(cells), Seq("r", "bucket")) // ≤4096 rows: bounded
      .groupBy("rk", "tok", "cnt")
      .agg(min("cell").as("cms_est"))
      .select(col("rk"), col("tok"), col("cnt").as("cnt_exact"),
        col("cms_est"), (col("cms_est") - col("cnt")).as("overest"))
      .orderBy("rk")
  }

  /** KMV sketch size k (bottom-k distinct hash values per source). */
  val KmvK = 64

  /** Two-phase buckets for the per-source bottom-k (top bits of the
    * 56-bit hash — a VALUE-monotone bucketing, so the k global minima
    * per source are exactly the k minima of the per-bucket minima).
    */
  val KmvBuckets = 16

  /** Shift that realizes [[KmvBuckets]] from the 56-bit hash. */
  val KmvShift: Int = 56 - Integer.numberOfTrailingZeros(KmvBuckets)

  /** The 56-bit md5-prefix text hash the KMV sketch ranks — shared by
    * the batch build ([[kmvOverlap]]) and the streaming dual
    * (`StreamOps.kmvBottomKStream`), so a stream sketch and a batch
    * backfill can never disagree on a hash (the same can't-drift
    * contract as `withRegisterCoords` / `cmsCoordsOf`).
    */
  def kmvHash(text: Column): Column =
    conv(substring(md5(text), 1, 14), 16, 10).cast("long")

  /** D23: KMV (bottom-k) cross-source similarity — the set-INTERSECTION
    * sketch HLL fundamentally cannot provide (Bar-Yossef et al. 2002;
    * Beyer et al. 2007): per source, the k smallest distinct 56-bit
    * md5(text) values; per source pair, the standard bottom-k Jaccard
    * estimator (shared members among the k smallest of the union,
    * divided by k) audited against the exact distinct HASH-grain
    * Jaccard (both legs live at the 56-bit-prefix grain: collision-free
    * at test scale, and identically conflated in both engines past
    * ~2^28 distinct texts — the audit compares sketch vs full-set at
    * the same grain, not text identity).
    * Where D22 needs the full MinHash-LSH machinery over the corpus,
    * the KMV artifact is ≤ |sources|·k rows — the "ship the sketch,
    * not the corpus" path for cross-shard overlap at 100 TB. When
    * |A ∪ B| ≤ k the sketch IS the set and the estimate is exact
    * (spec-pinned, along with the bottom-k merge law).
    *
    * Determinism: hashes, ranks, memberships, and counts are exact
    * integers; the two Jaccards are single IEEE divisions rounded at 6.
    *
    * Scale shape: the distinct (source, h) relation is the d18 shape;
    * the bottom-k per source is the value-bucketed two-phase rank
    * (never a whole-source sort in one task); the pair grid joins two
    * ≤|sources|-row array relations (broadcast — a bounded categorical
    * domain, the x14 nation-spine argument); the exact-intersection
    * audit leg equi-joins on the hash value. The distinct relation
    * feeds four legs (n-counts, sketch, both intersect sides) and is
    * persisted for the query's lifetime (registry contract;
    * Bench.extraIters).
    */
  def kmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("source"), kmvHash(col("text")).as("h"))
      .distinct().persistRecorded()
    val nPer = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val w1 = Window
      .partitionBy(col("source"), shiftright(col("h"), KmvShift))
      .orderBy("h")
    val w2 = Window.partitionBy("source").orderBy("h")
    val sk = sh.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= KmvK) // ≤ KmvBuckets·KmvK rows enter w2
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= KmvK)
    // ≤|sources| rows, but it feeds BOTH pair-grid sides: without the
    // persist the two-phase rank over the corpus-distinct relation
    // executes twice (the CLAUDE.md two-leg rule)
    val arr = sk.groupBy("source")
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .persistRecorded()
    val inter = sh.as("x")
      .join(sh.as("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      // r20 (tools/ReProf): ≤|sources|²-row exact-intersection boundary
      // — a fresh construction re-runs the tiny KMV pair grid + joins +
      // sort, not the corpus self-join (recon 0.79 s vs 0.04 s warm)
      .persistRecorded()
    val u = array_sort(array_union(col("ha"), col("hb")))
    val pairs = arr.select(col("source").as("source_a"), col("hs").as("ha"))
      .join(broadcast(
          arr.select(col("source").as("source_b"), col("hs").as("hb"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        least(size(u), lit(KmvK)).as("k_used"),
        size(array_intersect(array_intersect(
          slice(u, lit(1), least(size(u), lit(KmvK))), col("ha")), col("hb")))
          .as("kmv_shared"))
    pairs
      .join(nPer.select(col("source").as("source_a"), col("n").as("n_a")), "source_a")
      .join(nPer.select(col("source").as("source_b"), col("n").as("n_b")), "source_b")
      .join(inter, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("k_used"), col("kmv_shared"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jacc_exact"),
        col("k_used"), col("kmv_shared"),
        round(col("kmv_shared").cast("double") / col("k_used").cast("double"), 6)
          .as("jacc_kmv"))
      // r20 (tools/ReProf): the inter persist alone left recon at
      // 0.78 s — the KMV pair grid + size joins re-ran per fresh build;
      // the ≤|sources|²-row assembly boundary leaves only the sort
      .persistRecorded()
      .orderBy("source_a", "source_b")
  }

  val kmvOverlapSql: String = s"""WITH sh AS (
      SELECT DISTINCT source,
        CAST(concat('0x', substr(md5(text), 1, 14)) AS BIGINT) AS h
      FROM documents),
    np AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM sh)
      WHERE rk <= $KmvK),
    arr AS (SELECT source, list_sort(list(h)) AS hs FROM sk GROUP BY 1),
    inter AS (
      SELECT x.source AS source_a, y.source AS source_b, COUNT(*) AS n_shared
      FROM sh x JOIN sh y ON x.h = y.h AND x.source < y.source
      GROUP BY 1, 2),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
        LEAST(len(list_distinct(a.hs || b.hs)), $KmvK) AS k_used,
        len(list_filter(
          (list_sort(list_distinct(a.hs || b.hs)))[1:LEAST(len(list_distinct(a.hs || b.hs)), $KmvK)],
          v -> list_contains(a.hs, v) AND list_contains(b.hs, v))) AS kmv_shared
      FROM arr a JOIN arr b ON a.source < b.source)
    SELECT source_a, source_b, na.n AS n_a, nb.n AS n_b,
      COALESCE(inter.n_shared, 0) AS n_shared,
      ROUND(CAST(COALESCE(inter.n_shared, 0) AS DOUBLE) /
        CAST(na.n + nb.n - COALESCE(inter.n_shared, 0) AS DOUBLE), 6) AS jacc_exact,
      k_used, kmv_shared,
      ROUND(CAST(kmv_shared AS DOUBLE) / CAST(k_used AS DOUBLE), 6) AS jacc_kmv
    FROM pairs
      JOIN np na ON pairs.source_a = na.source
      JOIN np nb ON pairs.source_b = nb.source
      LEFT JOIN inter USING (source_a, source_b)
    ORDER BY source_a, source_b"""

  val cmsHeavyHittersSql: String = s"""WITH vocab AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT unnest(${TextOps.tokensSql}) AS tok FROM documents)
      GROUP BY 1),
    rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
    cells AS (
      SELECT r, ${cmsCoordsSql("tok")} AS bucket,
        CAST(SUM(cnt) AS BIGINT) AS cell
      FROM vocab, rws GROUP BY 1, 2),
    top AS (
      SELECT rk, tok, cnt FROM (
        SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk
        FROM vocab)
      WHERE rk <= $CmsTopK),
    probes AS (
      SELECT rk, tok, cnt, r, ${cmsCoordsSql("tok")} AS bucket
      FROM top, rws)
    SELECT rk, tok, cnt AS cnt_exact, MIN(cell) AS cms_est,
      MIN(cell) - cnt AS overest
    FROM probes JOIN cells USING (r, bucket)
    GROUP BY 1, 2, 3 ORDER BY rk"""

  val hllUsersSql: String = """WITH regs AS (
      SELECT event_type,
        CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS bucket,
        MAX(CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT) = 0 THEN 57
                 ELSE 57 - length(bin(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 14)) AS BIGINT))) END) AS rho
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1, 2),
    sk AS (
      SELECT event_type,
        256 - COUNT(*) AS v_empty,
        CAST(256 - COUNT(*) AS DECIMAL(10,0)) * CAST(144115188075855872 AS DECIMAL(20,0)) +
          SUM(CAST((CAST(1 AS BIGINT) << CAST(57 - rho AS INT)) AS DECIMAL(38,0))) AS s_scaled
      FROM regs GROUP BY 1),
    ex AS (
      SELECT event_type, COUNT(*) AS n_exact
      FROM (SELECT DISTINCT event_type, user_id FROM events WHERE user_id IS NOT NULL)
      GROUP BY 1),
    est AS (
      SELECT event_type, n_exact,
        CAST(CAST('""" + HllNumE6 + """' AS HUGEINT) // CAST(s_scaled AS HUGEINT)
          AS BIGINT) AS hll_est_e6,
        CAST(v_empty AS BIGINT) AS v_empty
      FROM ex JOIN sk USING (event_type))
    SELECT event_type, n_exact, hll_est_e6, v_empty,
      CAST(abs(hll_est_e6 - n_exact * CAST(1000000 AS BIGINT)) // n_exact AS BIGINT) AS rel_err_e6
    FROM est ORDER BY event_type"""
}
