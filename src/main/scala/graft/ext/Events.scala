package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.SessionMemo.PersistRecorded

/** Event-stream batch analytics over the `events` table — the
  * large-scale-pipeline extension surface (the reference has no temporal
  * operators; time-series is its roadmap Phase 7,
  * `/root/reference/ROADMAP.md:16`). All operators are shuffle-based
  * window/agg plans that scale: partitioned by `user_id` (sessionize,
  * as-of) or by window key (tumbling), never a driver collect.
  *
  * Determinism conventions: timestamps compared in exact epoch
  * microseconds; double sums accumulate in DECIMAL; window orderings
  * always carry `event_id` as the tiebreaker.
  */
object Events {

  /** All temporal logic runs in exact integer epoch MICROSECONDS (`us`)
    * — the same value DuckDB's `epoch_us(ts)` yields. The physical `ts`
    * type is dispatched on, because the corpus generator has shipped both
    * encodings across rounds: TIMESTAMP(NANOS) (read as long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set by Verify/Bench)
    * and TIMESTAMP(MICROS) without UTC adjustment (read as
    * TIMESTAMP_NTZ). For NTZ the session timezone is UTC (set by
    * Verify/Bench/specs), so the NTZ→LTZ cast reproduces exactly the
    * wall-clock-as-UTC epoch DuckDB's `epoch_us` computes.
    */
  private def t(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.parquet(s, s"$dir/events.parquet")
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val us = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampNTZType => expr("unix_micros(cast(ts as timestamp))")
      case _                => expr("unix_micros(ts)")
    }
    raw.withColumn("us", us)
  }

  val SessionGapUs: Long = 1800L * 1000000L // 30 min

  /** Exact integer microseconds per day. Declared before every oracle
    * `val` that interpolates it — Scala object vals initialize in
    * declaration order, and a forward reference interpolates as 0
    * (caught once: j2's oracle briefly read `// 0`).
    */
  val DayUs: Long = 86400L * 1000000L

  /** Shared session numbering (E1/E7): gap > [[SessionGapUs]] starts a
    * new session — lag + cumulative sum over a user-partitioned window
    * (one shuffle by user_id). The one place the session definition
    * lives; both consumers and both oracle CTE chains derive from it.
    */
  private def sessionNumbered(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val gap = col("us") - lag(col("us"), 1).over(w)
    events
      .withColumn("new_sess", when(gap.isNull || gap > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Oracle CTE chain `sess` → `numbered(…, session_seq)` — the SQL dual
    * of [[sessionNumbered]].
    */
  private val sessionNumberedCtes: String = s"""sess AS (
      SELECT *, CASE WHEN lagus IS NULL OR us - lagus > $SessionGapUs THEN 1 ELSE 0 END AS new_sess
      FROM (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS lagus
            FROM (SELECT *, epoch_us(ts) AS us FROM events))),
    numbered AS (
      -- CAST: DuckDB's SUM over integers yields HUGEINT, which the
      -- driver's pandas bridge coerces to float64 and the hash diverges
      SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq FROM sess)"""

  /** E1: sessionization — per-session aggregate over the shared
    * numbering.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionNumbered(t(s, dir))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("session_start_us"),
        max(col("us")).as("session_end_us"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy("user_id", "session_seq")

  val sessionizeSql: String = s"""WITH $sessionNumberedCtes
    SELECT user_id, session_seq, COUNT(*) AS n_events,
      MIN(us) AS session_start_us, MAX(us) AS session_end_us,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM numbered GROUP BY user_id, session_seq ORDER BY user_id, session_seq"""

  /** E7: session conversion funnel — per user, how many of their 30-min
    * sessions contain the ORDERED chain view → click: the click must be
    * strictly after the session's FIRST view (the product-analytics
    * funnel, not mere set-membership; a deeper chain — purchase after
    * the first qualifying click — is the identical window-min step
    * applied once more, left out because the synthetic corpus' sessions
    * never complete it, which would gate a permanently-zero column).
    * Conversion = converted/sessions, one exact division rounded at 6.
    *
    * Plan shape: the E1 session numbering (one shuffle on user_id),
    * then two session-partitioned window minima over the same exchange;
    * every aggregate after them is map-side partial. All temporal logic
    * stays in exact integer microseconds; a step tie (equal us)
    * deterministically does NOT advance the chain (strict >) in both
    * engines.
    */
  def conversionFunnel(s: SparkSession, dir: String): DataFrame =
    conversionFunnelFrom(t(s, dir))

  /** [[conversionFunnel]] over an explicit event relation
    * (`event_id`/`us`/`user_id`/`event_type`) — the spec pins the
    * strict-ordering semantics on crafted sessions.
    */
  /** Per-session funnel marks `(user_id, session_seq, fv, fc)` — the
    * Spark dual of [[funnelPerCtes]], shared by E7 and E15.
    */
  private def funnelMarks(events: DataFrame): DataFrame = {
    val sess = sessionNumbered(events)
    val ws = Window.partitionBy("user_id", "session_seq")
    val wSeq = ws.orderBy("us", "event_id")
    sess
      .withColumn("fv", min(when(col("event_type") === "view", col("us"))).over(ws))
      .withColumn("fc", min(when(col("event_type") === "click" && col("us") > col("fv"),
        col("us"))).over(ws))
      .withColumn("frk", row_number().over(wSeq))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min("fv").as("fv"), min("fc").as("fc"),
        max(when(col("frk") === 1, col("event_type"))).as("first_type"),
        count(lit(1)).as("n_events"))
  }

  def conversionFunnelFrom(events: DataFrame): DataFrame = {
    funnelMarks(events)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("fv").isNotNull.cast("long")).as("n_view"),
        sum(col("fc").isNotNull.cast("long")).as("n_converted"))
      .select(col("user_id"), col("n_sessions"), col("n_view"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_sessions").cast("double"), 6)
          .as("conversion"))
      .orderBy("user_id")
  }

  /** Oracle CTE chain `m1 → m2 → per(user_id, session_seq, fv, fc)` —
    * the SQL dual of the E7 per-session funnel marks, shared by the E7
    * and E15 oracles (requires the session CTEs before it).
    */
  private val funnelPerCtes: String = """m1 AS (
      SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
        OVER (PARTITION BY user_id, session_seq) AS fv
      FROM numbered),
    m2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND us > fv THEN us END)
        OVER (PARTITION BY user_id, session_seq) AS fc,
        row_number() OVER (PARTITION BY user_id, session_seq
          ORDER BY us, event_id) AS frk
      FROM m1),
    per AS (
      SELECT user_id, session_seq, MIN(fv) AS fv, MIN(fc) AS fc,
        MAX(CASE WHEN frk = 1 THEN event_type END) AS first_type,
        COUNT(*) AS n_events
      FROM m2 GROUP BY 1, 2)"""

  val conversionFunnelSql: String = s"""WITH $sessionNumberedCtes,
    $funnelPerCtes
    SELECT user_id, COUNT(*) AS n_sessions,
      CAST(SUM(CASE WHEN fv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      ROUND(CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE), 6) AS conversion
    FROM per GROUP BY user_id ORDER BY user_id"""

  /** E15: conversion latency — for every user with at least one
    * converted session (E7's strict view→click chain), the exact
    * per-user latency profile: conversion count and min / mean / max
    * time from the session's first view to its first qualifying click.
    * The follow-on question every funnel report gets ("how LONG does
    * conversion take?"), derived from the SAME [[funnelMarks]] relation
    * as E7 so the chain semantics can't drift.
    *
    * Determinism: latencies are exact integer microseconds; the mean is
    * one IEEE division of an exact long sum, rounded at 6. Scale shape:
    * inherits E1/E7's one user_id shuffle; everything after the session
    * marks is a keyed aggregate with map-side partials.
    */
  def conversionLatency(s: SparkSession, dir: String): DataFrame =
    conversionLatencyFrom(t(s, dir))

  /** [[conversionLatency]] over an explicit event relation — the spec
    * pins the latency arithmetic on crafted sessions.
    */
  def conversionLatencyFrom(events: DataFrame): DataFrame =
    funnelMarks(events)
      .filter(col("fc").isNotNull)
      .select(col("user_id"), (col("fc") - col("fv")).as("lat"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_conversions"),
        min("lat").as("min_latency_us"),
        max("lat").as("max_latency_us"),
        sum("lat").as("slat"))
      .select(col("user_id"), col("n_conversions"),
        col("min_latency_us"), col("max_latency_us"),
        round(col("slat").cast("double") / col("n_conversions").cast("double"), 6)
          .as("mean_latency_us"))
      .orderBy("user_id")

  val conversionLatencySql: String = s"""WITH $sessionNumberedCtes,
    $funnelPerCtes
    SELECT user_id, COUNT(*) AS n_conversions,
      MIN(fc - fv) AS min_latency_us,
      MAX(fc - fv) AS max_latency_us,
      ROUND(CAST(SUM(fc - fv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_latency_us
    FROM per WHERE fc IS NOT NULL
    GROUP BY user_id ORDER BY user_id"""

  val WindowUs: Long = 300L * 1000000L // 5 min tumbling

  /** E2: tumbling 5-minute windows × event_type. A single hash aggregate
    * on (window, type) — partial aggregation makes this one small shuffle
    * regardless of input size.
    */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    t(s, dir)
      .withColumn("win_start_us", expr(s"us div $WindowUs") * WindowUs)
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy("win_start_us", "event_type")

  val tumblingSql: String = s"""SELECT
      CAST(epoch_us(ts) // $WindowUs AS BIGINT) * $WindowUs AS win_start_us,
      event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** E3: top-3 events by value per user — the rank-then-filter pattern
    * (window shuffle by user, no global sort).
    */
  def topkPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    t(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("user_id"), col("rk"), col("event_id"), col("value"))
      .orderBy("user_id", "rk")
  }

  val topkPerUserSql: String = """SELECT user_id, rk, event_id, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
      FROM events) WHERE rk <= 3 ORDER BY user_id, rk"""

  /** E4: as-of join — for each `error` event, the most recent `click` by
    * the same user at-or-before it. Implemented as the scalable
    * union+carry-forward formulation (one shuffle by user_id, linear
    * state) rather than a range join: `last(..., ignoreNulls)` over an
    * ordered user window carries the latest click down to each error row.
    * Event order at equal ts is event_id order (the tiebreak both engines
    * apply).
    */
  def asofClickBeforeError(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    t(s, dir)
      .withColumn("click_us", when(col("event_type") === "click", col("us")))
      .withColumn("click_id", when(col("event_type") === "click", col("event_id")))
      .withColumn("last_click_us", last(col("click_us"), ignoreNulls = true).over(w))
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"),
        col("last_click_id"),
        (col("us") - col("last_click_us")).as("gap_us"))
      .orderBy("user_id", "error_id")
  }

  val asofClickBeforeErrorSql: String = """SELECT user_id, event_id AS error_id, last_click_id,
      us - last_click_us AS gap_us
    FROM (
      SELECT *,
        last_value(CASE WHEN event_type = 'click' THEN us END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_us,
        last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
      FROM (SELECT *, epoch_us(ts) AS us FROM events))
    WHERE event_type = 'error' ORDER BY user_id, error_id"""

  /** E6: skew-resistant aggregation — the SALTED two-stage pattern for
    * hot keys: stage 1 pre-aggregates on (key, salt) spreading each hot
    * key over 16 reducers; stage 2 merges the partials. Counts and
    * DECIMAL sums re-aggregate losslessly, so the result is identical to
    * a direct groupBy (which is exactly what the oracle runs). At 100 TB
    * this is the fallback when AQE skew handling can't split a single
    * hot aggregation key.
    */
  def saltedHotKeyAgg(s: SparkSession, dir: String): DataFrame = {
    val salted = t(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 2))).as("psum"))
    salted.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), sum(col("psum")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val saltedHotKeyAggSql: String = """SELECT event_type, COUNT(*) AS n,
      CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1"""

  /** E5: semi-structured extraction — pull `k` out of the JSON `props`
    * column and aggregate. `get_json_object` is codegen'd; the aggregate
    * is exact integer arithmetic.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  val jsonExtractSql: String = """SELECT event_type, COUNT(*) AS n,
      CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
    FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
    GROUP BY 1 ORDER BY 1"""

  /** Max events contributing to an E10 session path signature. */
  val PathLen = 6
  /** E10 report size. */
  val PathTopK = 10

  /** E10: session path analysis — the top-[[PathTopK]] most common
    * session journeys, where a journey is the first [[PathLen]] event
    * types of a 30-minute session joined by '>' (the product-analytics
    * "what do sessions actually do" report; the truncation bounds the
    * signature the way every real path tool does).
    *
    * Determinism: the path string assembles from a (us, event_id)-
    * sorted collected list — the same total order both engines state —
    * and ranking is (count desc, path) with integer counts. Scale
    * shape: the E1 session numbering (one user_id shuffle), one
    * per-session collect bounded by [[PathLen]]+tail (a session's
    * events are user-bounded; the slice caps the carried array), one
    * (path) count agg with map-side partials, and a TakeOrdered top-k
    * — never a global sort of the full path relation; the final
    * ≤[[PathTopK]]-row window is post-limit.
    */
  def sessionPaths(s: SparkSession, dir: String): DataFrame =
    sessionPathsFrom(t(s, dir))

  /** [[sessionPaths]] over an explicit event relation — the spec pins
    * ordering, truncation, and tie-breaks on crafted sessions.
    */
  def sessionPathsFrom(events: DataFrame): DataFrame = {
    val paths = sessionNumbered(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(concat_ws(">",
        slice(transform(
          sort_array(collect_list(struct(col("us"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), 1, PathLen)).as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(PathTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .select(col("rk"), col("path"), col("n_sessions"))
  }

  val sessionPathsSql: String = s"""WITH $sessionNumberedCtes,
    paths AS (
      SELECT user_id, session_seq,
        array_to_string(list_slice(list(event_type ORDER BY us, event_id), 1, $PathLen), '>') AS path
      FROM numbered GROUP BY 1, 2),
    counts AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY 1)
    SELECT rk, path, n_sessions FROM (
      SELECT *, row_number() OVER (ORDER BY n_sessions DESC, path) AS rk FROM counts)
    WHERE rk <= $PathTopK ORDER BY rk"""

  /** E14: within-session Markov transition matrix — for each ordered
    * event pair inside a 30-min session (the E1 numbering), the count
    * and the row-normalized transition probability, with an explicit
    * `END` absorbing state after each session's last event. The
    * event-type alphabet bounds the output (≤ |types|·(|types|+1)
    * rows), so the row-normalizing window runs over a provably bounded
    * relation — the session lead itself is the same user-partitioned
    * window E1 already shuffles for, and the pair counts are map-side
    * partial.
    *
    * Determinism: counts are exact; probability is one IEEE division of
    * two exact longs rounded at 6; ties in the session order break on
    * `event_id` exactly as every other session operator here.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame =
    markovTransitionsFrom(t(s, dir))

  /** [[markovTransitions]] over an explicit event relation — the spec
    * pins session boundaries, the END state, and row normalization.
    */
  def markovTransitionsFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "session_seq").orderBy("us", "event_id")
    val counts = sessionNumbered(events)
      .withColumn("to_type", coalesce(lead(col("event_type"), 1).over(w), lit("END")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("from_total", sum("n").over(Window.partitionBy("from_type")))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("from_total").cast("double"), 6).as("prob"))
      .orderBy("from_type", "to_type")
  }

  val markovTransitionsSql: String = s"""WITH $sessionNumberedCtes,
    led AS (
      SELECT event_type AS from_type,
        COALESCE(lead(event_type) OVER (PARTITION BY user_id, session_seq
          ORDER BY us, event_id), 'END') AS to_type
      FROM numbered),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM led GROUP BY 1, 2)
    SELECT from_type, to_type, n,
      ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS prob
    FROM counts ORDER BY from_type, to_type"""

  /** Epoch-week length in exact integer microseconds (tumbling 7-day
    * windows from the epoch — no calendar/timezone arithmetic enters
    * the cohort logic).
    */
  val WeekUs: Long = 7L * 86400L * 1000000L

  /** E8: cohort retention — the product-analytics retention matrix:
    * users cohorted by their first-activity week, each later week
    * reporting how many of the cohort were active (distinct-user
    * activity, epoch-week granularity) and the retained fraction.
    *
    * Determinism: weeks are exact integer `us div WeekUs`, retention is
    * one IEEE division of two exact counts rounded at 6. Scale shape:
    * the (user, week) distinct and the first-week aggregate shuffle on
    * user_id — the same key, so the activity⋈cohort join co-locates;
    * the (cohort, offset) counts are map-side partial; the cohort-size
    * relation is weeks-sized (tiny) and joins by planner choice. No
    * per-user state, no windows, no driver collect.
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val activity = t(s, dir)
      .select(col("user_id"), expr(s"us div $WeekUs").as("week"))
      .distinct()
    val cohorts = activity.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("cohort_users"))
    activity.join(cohorts, "user_id")
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("cohort_users"),
        round(col("n_active").cast("double") / col("cohort_users").cast("double"), 6)
          .as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** |z| threshold above which a user's activity count is flagged. */
  val AnomalyZ = 3.0

  /** E9: activity anomaly detection — per (event_type, user) event
    * counts z-scored against that event_type's population: the
    * bot/abuse/instrumentation-bug sweep every event pipeline runs
    * before its data feeds training or metrics.
    *
    * Determinism: the population moments are EXACT integers (n users,
    * Σc, Σc²), so mean and the population-variance numerator
    * n·Σc² − (Σc)² are exact; variance is one IEEE division of exact
    * integers, std one correctly-rounded sqrt, z one subtraction and
    * one division over identical doubles — both engines state the
    * same expression tree, then `round(…, 6)` at the comparison
    * boundary. No float ever accumulates.
    *
    * Scale shape: one (event_type, user_id) pre-aggregate (map-side
    * partials, doc-local keys), one event_type-keyed stats relation
    * bounded by the event-type vocabulary (planner-chosen join — tiny,
    * broadcast by size), zero windows, zero driver state.
    */
  def userAnomaly(s: SparkSession, dir: String): DataFrame =
    userAnomalyFrom(t(s, dir))

  /** [[userAnomaly]] over an explicit event relation
    * (`event_type`/`user_id`) — the spec pins z values on crafted
    * populations with a known outlier.
    */
  def userAnomalyFrom(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = events.groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_events"))
      .persistRecorded() // feeds the per-type stats AND the z-score join
    // Σc² accumulates in DECIMAL: a 3e9-event hot key squares past
    // Long.MaxValue (ANSI abort), and nu·Σc² overflows 64 bits long
    // before any real 100 TB population does — DECIMAL(14,0)² =
    // DECIMAL(29,0) products summed under the 38-digit cap hold to
    // ~1e38. The moments stay EXACT; they convert to double once, in
    // the same expression both engines state.
    val stats = per.groupBy("event_type").agg(
      count(lit(1)).as("nu"),
      sum(col("n_events").cast(DecimalType(14, 0))).as("s1"),
      sum(col("n_events").cast(DecimalType(14, 0)) *
        col("n_events").cast(DecimalType(14, 0))).as("s2"))
    val mean = col("s1").cast("double") / col("nu").cast("double")
    val variance = (col("nu").cast("double") * col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")) /
      (col("nu").cast("double") * col("nu").cast("double"))
    // zero-variance populations (every user at the mean) get z = 0
    // EXPLICITLY: the raw 0/0 is NaN, and the engines disagree on NaN
    // ordering (DuckDB sorts NaN above every value, Spark's comparison
    // is false), so an unguarded |z| > 1 tail filter would diverge
    val z = when(variance > 0, (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    per.join(stats, "event_type")
      .select(col("event_type"), col("user_id"), col("n_events"),
        round(mean, 6).as("type_mean"),
        round(sqrt(variance), 6).as("type_std"),
        round(z, 6).as("z"),
        (abs(z) > AnomalyZ).cast("int").as("anomalous"))
      .filter(abs(col("z")) > 1.0) // report the tail, not every user
      .orderBy("event_type", "user_id")
  }

  val userAnomalySql: String = {
    val mean = "CAST(s1 AS DOUBLE) / CAST(nu AS DOUBLE)"
    val variance = "(CAST(nu AS DOUBLE) * CAST(s2 AS DOUBLE) - " +
      "CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / (CAST(nu AS DOUBLE) * CAST(nu AS DOUBLE))"
    val z = s"CASE WHEN $variance > 0 THEN (CAST(n_events AS DOUBLE) - $mean) / sqrt($variance) ELSE 0.0 END"
    s"""WITH per AS (
      SELECT event_type, user_id, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, COUNT(*) AS nu,
        SUM(CAST(n_events AS DECIMAL(14,0))) AS s1,
        SUM(CAST(n_events AS DECIMAL(14,0)) * CAST(n_events AS DECIMAL(14,0))) AS s2
      FROM per GROUP BY 1)
    SELECT event_type, user_id, n_events,
      ROUND($mean, 6) AS type_mean,
      ROUND(sqrt($variance), 6) AS type_std,
      ROUND($z, 6) AS z,
      CAST(abs($z) > $AnomalyZ AS INT) AS anomalous
    FROM per JOIN stats USING (event_type)
    WHERE abs(ROUND($z, 6)) > 1.0
    ORDER BY event_type, user_id"""
  }

  // ------------------------------------------- J2 point-in-time join

  /** J2: cross-table point-in-time (as-of) join — attribute every event
    * to the SAME customer's most recent order at-or-before the event
    * timestamp (user_id ⋈ o_custkey), with the staleness in whole days.
    * The feature-store staple (training-serving skew dies exactly here:
    * a feature computed from any LATER order is leakage), and the
    * cross-table generalization of E4's same-table as-of.
    *
    * Plan shape — the scale point: as-of is NOT an inequality join
    * (which would be a per-row range scan) but a UNION-SORT: both
    * tables tag into one stream keyed by user, sorted by (us, kind,
    * id), and `last(..., ignoreNulls)` carries the latest order forward
    * — ONE shuffle on user_id, O(stream) per key, the E4 pattern
    * applied across tables. At equal timestamps the order sorts FIRST
    * (kind 0 < 1), stating "at-or-before" deterministically in both
    * engines.
    */
  def pointInTime(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.parquet(s, s"$dir/orders.parquet")
      .select(col("o_custkey").as("user_id"),
        // parquet TIMESTAMP(ms) surfaces as NTZ; the UTC session cast
        // states the same wall-clock→epoch mapping DuckDB's epoch_us uses
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        lit(0).as("kind"), col("o_orderkey"),
        lit(null).cast("long").as("event_id"))
    val ev = t(s, dir)
      .select(col("user_id"), col("us"), lit(1).as("kind"),
        lit(null).cast("long").as("o_orderkey"), col("event_id"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("us"), col("kind"), coalesce(col("o_orderkey"), col("event_id")))
      .rowsBetween(Window.unboundedPreceding, 0)
    ord.unionAll(ev)
      .withColumn("last_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("last_order_us",
        last(when(col("kind") === 0, col("us")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("us").as("event_us"),
        col("last_orderkey"),
        expr(s"(us - last_order_us) div $DayUs").as("staleness_days"))
      .orderBy("event_id")
  }

  val pointInTimeSql: String = s"""WITH u AS (
      SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS us, 0 AS kind,
        o_orderkey, CAST(NULL AS BIGINT) AS event_id
      FROM orders
      UNION ALL
      SELECT user_id, epoch_us(ts), 1, CAST(NULL AS BIGINT), event_id
      FROM events),
    c AS (
      SELECT *,
        last_value(o_orderkey IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY us, kind, COALESCE(o_orderkey, event_id)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_orderkey,
        last_value(CASE WHEN kind = 0 THEN us END IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY us, kind, COALESCE(o_orderkey, event_id)
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_order_us
      FROM u)
    SELECT event_id, user_id, us AS event_us, last_orderkey,
      (us - last_order_us) // $DayUs AS staleness_days
    FROM c WHERE kind = 1 ORDER BY event_id"""

  // ------------------------------------------------ E13 active-user curves


  /** E13: DAU / trailing-7-day WAU / stickiness — the product-analytics
    * activity curve, exactly (no HLL sketch: cross-engine hash gates
    * need true distinct counts; a sketched variant would be the scale
    * relaxation, not the semantics).
    *
    * The WAU join shape is the point: "distinct users active in
    * [d−6, d]" is NOT computed by a range join (a per-day scan of 7
    * days of activity) but by EXPANSION — each distinct (user, day)
    * emits the 7 window-days it contributes to, then distinct + count
    * per window-day. That turns an interval join into a plain
    * exchange with map-side distinct partials, the shape that survives
    * 1000 executors; the blowup factor is the fixed window width, and
    * rows never concentrate beyond (users active near one day).
    *
    * Days without activity emit no row (the dau inner join drops the
    * up-to-6-day ghost tail the expansion creates after the last
    * active day). Stickiness DAU/WAU is one exact-integer IEEE
    * division rounded at the boundary.
    */
  def activeUsers(s: SparkSession, dir: String): DataFrame =
    activeUsersFrom(t(s, dir))

  /** [[activeUsers]] over an explicit events relation (`us`/`user_id`)
    * — the spec pins the curve on a crafted week.
    */
  def activeUsersFrom(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), expr(s"us div $DayUs").as("day"))
      .distinct()
      .persistRecorded() // feeds the DAU agg and the window expansion
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      // r20 (`Profile recon`): day-grain boundary — a fresh construction
      // re-runs the sort only, not the 7-day window expansion +
      // distinct over the ud cache (recon 0.93 s vs 0.04 s warm)
      .persistRecorded()
      .orderBy("day")
  }

  val activeUsersSql: String = s"""WITH ud AS (
      SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1),
    w AS (SELECT DISTINCT user_id, day + i AS day FROM ud, range(0, 7) t(i)),
    wau AS (SELECT day, COUNT(*) AS wau FROM w GROUP BY 1)
    SELECT day, dau, wau,
      ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
    FROM dau JOIN wau USING (day) ORDER BY day"""

  // ------------------------------------------------ E12 co-occurrence lift

  /** E12: event-type co-occurrence lift — for every unordered pair of
    * event types, the market-basket lift P(a,b)/(P(a)·P(b)) over 30-min
    * sessions as baskets (reusing the ONE session definition,
    * [[sessionNumbered]]): lift > 1 = the types travel together, < 1 =
    * they repel — the association matrix feature stores and
    * recommendation baselines report.
    *
    * Determinism: all probabilities are ratios of exact session counts;
    * lift is stated as ONE division `(n_ab·S) / (n_a·n_b)` with the
    * integer products widened to double first (identical in both
    * engines; the long product would overflow at 100 TB session
    * counts), rounded at the comparison boundary.
    *
    * Scale shape: the corpus collapses to DISTINCT (user, session,
    * type) immediately — bounded by sessions × type-vocabulary, with
    * map-side partials — and the pair self-join runs INSIDE each
    * session key (bounded by types-per-session², never cross-session).
    * The per-type and total-session relations are type-vocabulary- and
    * 1-row-sized; only the provably-1-row total is broadcast
    * explicitly, the type join is left to the planner.
    */
  def eventLift(s: SparkSession, dir: String): DataFrame =
    eventLiftFrom(t(s, dir))

  /** [[eventLift]] over an explicit events relation (`event_id`/`us`/
    * `user_id`/`event_type`) — the spec drives crafted baskets through
    * it.
    */
  def eventLiftFrom(events: DataFrame): DataFrame = {
    val st = sessionNumbered(events)
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
      .persistRecorded() // feeds totals, per-type counts, and both pair legs
    val total = st.select("user_id", "session_seq").distinct()
      .agg(count(lit(1)).as("s")) // 1 row, provably bounded
    val perType = st.groupBy("event_type").agg(count(lit(1)).as("n"))
    val pairs = st.as("x").join(st.as("y"), Seq("user_id", "session_seq"))
      .filter(col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("type_a"), col("y.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      // r20 (`Profile recon`): ≤|types|²-row basket boundary — a fresh
      // construction re-runs the per-type counts + lift joins + sort,
      // not the in-session pair self-join (recon 0.98 s vs 0.08 s warm)
      .persistRecorded()
    pairs
      .join(perType.select(col("event_type").as("type_a"), col("n").as("n_a")), "type_a")
      .join(perType.select(col("event_type").as("type_b"), col("n").as("n_b")), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        round((col("n_ab").cast("double") * col("s").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy("type_a", "type_b")
  }

  val eventLiftSql: String = s"""WITH $sessionNumberedCtes,
    st AS (SELECT DISTINCT user_id, session_seq, event_type FROM numbered),
    tot AS (SELECT COUNT(*) AS s FROM (SELECT DISTINCT user_id, session_seq FROM st)),
    pt AS (SELECT event_type, COUNT(*) AS n FROM st GROUP BY 1),
    pr AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS n_ab
      FROM st x JOIN st y ON x.user_id = y.user_id
        AND x.session_seq = y.session_seq AND x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, a.n AS n_a, b.n AS n_b, n_ab,
      ROUND((CAST(n_ab AS DOUBLE) * CAST(s AS DOUBLE)) /
            (CAST(a.n AS DOUBLE) * CAST(b.n AS DOUBLE)), 6) AS lift
    FROM pr JOIN pt a ON pr.type_a = a.event_type
            JOIN pt b ON pr.type_b = b.event_type
    CROSS JOIN tot
    ORDER BY type_a, type_b"""

  // ------------------------------------------------- E11 burst detection

  /** Sliding burst window width: 5 minutes in exact microseconds. */
  val BurstWindowUs: Long = 300L * 1000000L
  /** Events inside one window (incl. the current) that flag a burst. */
  val BurstThreshold: Long = 4L

  /** E11: sliding-window rate / burst detection — for every event, the
    * count of the SAME user's events in the trailing 5-minute RANGE
    * frame `[us − 300 s, us]`, summarized per user: total events, the
    * peak trailing rate, and how many events sat inside a ≥
    * [[BurstThreshold]]-deep window (bot/abuse/scraper signal — the
    * velocity rule of every ingestion pipeline, and the batch dual of
    * StreamOps' velocityMonitor).
    *
    * The RANGE frame (value-based bounds, not row-based) is the point:
    * equal-timestamp events are frame PEERS — the standard-SQL rule
    * both engines implement identically — so the count is a pure
    * function of the (user, timestamp multiset) and no ordering
    * tiebreak can leak in. All bounds in exact integer microseconds.
    *
    * Scale shape: one shuffle on user_id; the frame walk is O(events
    * per user) with two moving pointers. Exact sliding windows are
    * inherently per-key-sequential (every event's count depends on all
    * its user's prior 5 minutes — salting would change the ANSWER), so
    * the skew bound is the hottest single user, and the final per-user
    * agg is map-side partial on the same exchange.
    */
  def burstDetect(s: SparkSession, dir: String): DataFrame =
    burstDetectFrom(t(s, dir))

  /** [[burstDetect]] over an explicit events relation (`event_id`/`us`/
    * `user_id`) — the spec drives crafted bursts through it.
    */
  def burstDetectFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us")
      .rangeBetween(-BurstWindowUs, 0)
    events
      .withColumn("wc", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max("wc").as("peak_5m_rate"),
        sum(when(col("wc") >= BurstThreshold, lit(1L)).otherwise(lit(0L)))
          .as("n_burst_events"))
      .orderBy("user_id")
  }

  val burstDetectSql: String = s"""WITH wc AS (
      SELECT user_id,
        COUNT(*) OVER (PARTITION BY user_id ORDER BY us
          RANGE BETWEEN $BurstWindowUs PRECEDING AND CURRENT ROW) AS wc
      FROM (SELECT user_id, epoch_us(ts) AS us FROM events))
    SELECT user_id, COUNT(*) AS n_events,
      CAST(MAX(wc) AS BIGINT) AS peak_5m_rate,
      CAST(SUM(CASE WHEN wc >= $BurstThreshold THEN 1 ELSE 0 END) AS BIGINT)
        AS n_burst_events
    FROM wc GROUP BY user_id ORDER BY user_id"""

  val cohortRetentionSql: String = s"""WITH activity AS (
      SELECT DISTINCT user_id, epoch_us(ts) // $WeekUs AS week FROM events),
    cohorts AS (SELECT user_id, MIN(week) AS cohort_week FROM activity GROUP BY 1),
    sizes AS (SELECT cohort_week, COUNT(*) AS cohort_users FROM cohorts GROUP BY 1),
    act AS (
      SELECT cohort_week, week - cohort_week AS week_offset, COUNT(*) AS n_active
      FROM activity JOIN cohorts USING (user_id)
      GROUP BY 1, 2)
    SELECT cohort_week, week_offset, n_active, cohort_users,
      ROUND(CAST(n_active AS DOUBLE) / CAST(cohort_users AS DOUBLE), 6) AS retention
    FROM act JOIN sizes USING (cohort_week)
    ORDER BY cohort_week, week_offset"""

  // --------------------------------------------------- E16 inter-arrival

  /** E16: per-user inter-arrival gap distribution — the activity-cadence
    * fingerprint behind bot screening and engagement tiering: each
    * user's exact rank-based gap quartiles (q1/median/q3) between
    * consecutive events, rolled up into (decimal-decade, leading-digit)
    * bins of the median with user counts, exact min/max medians, and
    * mean quartiles per bin. The decade axis is
    * `length(CAST(gap AS VARCHAR))` — a pure integer digit count, NOT
    * `floor(log10(gap))`: a 1-ulp libm divergence at an exact power of
    * ten would flip the bin, digit counting cannot (and gap 0, equal
    * timestamps, lands in decade 1 in both engines).
    *
    * Determinism: gaps are exact integer µs; the lower median is the
    * ⌊(n+1)/2⌋-th smallest under a fully-keyed (gap, us, event_id)
    * order; means accumulate exact DECIMAL sums with one division
    * rounded at the boundary.
    *
    * Scale shape: both windows partition by user_id — ONE shuffle on the
    * natural key, no global ordering anywhere; the rollup groups a
    * ≤12-row key space with map-side partials.
    */
  def interarrival(s: SparkSession, dir: String): DataFrame =
    interarrivalFrom(t(s, dir))

  /** [[interarrival]] over an explicit events relation (needs `user_id`,
    * `event_id`, `us`).
    */
  def interarrivalFrom(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val wSeq = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val gaps = events.select(col("user_id"), col("us"), col("event_id"))
      .withColumn("prev", lag("us", 1).over(wSeq))
      .filter(col("prev").isNotNull)
      .select(col("user_id"), (col("us") - col("prev")).as("gap"),
        col("us"), col("event_id"))
    val wRk = Window.partitionBy("user_id")
      .orderBy(col("gap"), col("us"), col("event_id"))
    def pick(rank: String) = max(when(col("rk") === expr(rank), col("gap")))
    val quart = gaps
      .withColumn("rk", row_number().over(wRk))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      .groupBy("user_id").agg(
        pick("greatest((n + 1) div 4, 1)").as("q1"),
        pick("(n + 1) div 2").as("med"),
        pick("greatest((3 * (n + 1)) div 4, 1)").as("q3"))
    quart.groupBy(
        length(col("med").cast("string")).as("gap_digits"),
        substring(col("med").cast("string"), 1, 1).as("lead_digit"))
      .agg(count(lit(1)).as("n_users"),
        min("med").as("min_median_us"),
        max("med").as("max_median_us"),
        sum(col("q1").cast(DecimalType(20, 0))).as("t1"),
        sum(col("med").cast(DecimalType(20, 0))).as("t2"),
        sum(col("q3").cast(DecimalType(20, 0))).as("t3"))
      .select(col("gap_digits"), col("lead_digit"), col("n_users"),
        col("min_median_us"), col("max_median_us"),
        // means reported in SECONDS: at 11-digit µs magnitudes a
        // 6-decimal value is not double-representable and the two
        // engines' round() implementations disagree in the last digit
        // (observed at sf0.01); scaled to seconds the quotient sits in
        // the magnitude band every other round(…,6) in this repo uses
        round(col("t1").cast("double") / col("n_users").cast("double")
          / lit(1e6), 6).as("mean_q1_sec"),
        round(col("t2").cast("double") / col("n_users").cast("double")
          / lit(1e6), 6).as("mean_median_sec"),
        round(col("t3").cast("double") / col("n_users").cast("double")
          / lit(1e6), 6).as("mean_q3_sec"))
      .orderBy("gap_digits", "lead_digit")
  }

  val interarrivalSql: String = """WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    g AS (
      SELECT user_id, us, event_id,
        us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap
      FROM ev),
    ranked AS (
      SELECT user_id, gap,
        row_number() OVER (PARTITION BY user_id ORDER BY gap, us, event_id) AS rk,
        COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM g WHERE gap IS NOT NULL),
    quart AS (
      SELECT user_id,
        MAX(CASE WHEN rk = greatest((n + 1) // 4, 1) THEN gap END) AS q1,
        MAX(CASE WHEN rk = (n + 1) // 2 THEN gap END) AS med,
        MAX(CASE WHEN rk = greatest((3 * (n + 1)) // 4, 1) THEN gap END) AS q3
      FROM ranked GROUP BY user_id)
    SELECT CAST(length(CAST(med AS VARCHAR)) AS INTEGER) AS gap_digits,
      substr(CAST(med AS VARCHAR), 1, 1) AS lead_digit,
      COUNT(*) AS n_users,
      MIN(med) AS min_median_us,
      MAX(med) AS max_median_us,
      ROUND(CAST(SUM(CAST(q1 AS DECIMAL(20,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_q1_sec,
      ROUND(CAST(SUM(CAST(med AS DECIMAL(20,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_median_sec,
      ROUND(CAST(SUM(CAST(q3 AS DECIMAL(20,0))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6, 6) AS mean_q3_sec
    FROM quart GROUP BY 1, 2 ORDER BY gap_digits, lead_digit"""

  // --------------------------------------------- E17 activity Gini

  /** Value-range bucket count for the E17 two-phase exact rank. */
  val GiniBuckets = 64L

  /** E17: per-event-type activity concentration (Gini coefficient) —
    * how unevenly a type's event volume concentrates across users, the
    * standard inequality metric every usage dashboard reports (a Gini
    * near 0 = uniform engagement, near 1 = a few power users dominate).
    * Uses the exact rank-based formulation over ascending per-user
    * counts: G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n.
    *
    * Determinism: per-user counts and ranks are exact integers; Σ(i·xᵢ)
    * accumulates in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — the same
    * exact integer — and the Gini is formed from exact-integer double
    * casts in the identical expression shape, rounded at the boundary.
    *
    * Scale shape: the W1/T15 two-phase exact rank, keyed per type —
    * counts bucket by the monotone integer transform
    * (cnt·[[GiniBuckets]]) div max_cnt (per-type max from a ≤|types|-row
    * broadcast), ranks are computed inside (type, bucket) partitions,
    * and the global ascending rank is the ≤[[GiniBuckets]]-row exclusive
    * bucket-offset window + within-bucket rank — a type with a billion
    * users never sorts in one partition. The oracle states the naive
    * single-window rank; identical (cnt, user_id) total order makes
    * them agree.
    */
  def activityGini(s: SparkSession, dir: String): DataFrame =
    activityGiniFrom(t(s, dir))

  /** [[activityGini]] over an explicit event relation — the spec pins
    * the Gini arithmetic on crafted distributions.
    */
  def activityGiniFrom(events: DataFrame): DataFrame = {
    // same multi-leg shape as E19: persist the narrow pre-agg so the
    // max leg, bucket-rank leg, and offset leg share one events pass
    val cnts = events.groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
      .persistRecorded()
    val mx = cnts.groupBy("event_type").agg(max("cnt").as("mxc"))
    val bucketed = cnts.join(broadcast(mx), "event_type")
      .withColumn("bucket", least(expr(s"(cnt * $GiniBuckets) div mxc"),
        lit(GiniBuckets - 1L)))
    val lrk = row_number().over(
      Window.partitionBy("event_type", "bucket").orderBy("cnt", "user_id"))
    val local = bucketed.withColumn("lrk", lrk)
    val sizes = local.groupBy("event_type", "bucket").agg(count(lit(1)).as("bn"))
    val off = sizes.withColumn("boff",
      coalesce(sum("bn").over(Window.partitionBy("event_type").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = local.join(off.select("event_type", "bucket", "boff"),
        Seq("event_type", "bucket"))
      .select(col("event_type"), col("cnt"), (col("boff") + col("lrk")).as("i"))
    ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        sum("cnt").as("total_events"),
        sum(col("i").cast(DecimalType(38, 0)) * col("cnt")).as("s"))
      .select(col("event_type"), col("n_users"), col("total_events"),
        round((lit(2.0) * col("s").cast("double")) /
            (col("n_users").cast("double") * col("total_events").cast("double")) -
          ((col("n_users") + 1).cast("double") / col("n_users").cast("double")), 6)
          .as("gini"))
      .orderBy("event_type")
  }

  val activityGiniSql: String = s"""WITH cnts AS (
      SELECT event_type, user_id, COUNT(*) AS cnt FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, cnt,
        row_number() OVER (PARTITION BY event_type ORDER BY cnt, user_id) AS i
      FROM cnts),
    g AS (
      SELECT event_type, COUNT(*) AS n_users,
        CAST(SUM(cnt) AS BIGINT) AS total_events,
        SUM(CAST(i AS HUGEINT) * CAST(cnt AS HUGEINT)) AS s
      FROM ranked GROUP BY 1)
    SELECT event_type, n_users, total_events,
      ROUND((2.0 * CAST(s AS DOUBLE)) /
          (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE)) -
        (CAST(n_users + 1 AS DOUBLE) / CAST(n_users AS DOUBLE)), 6) AS gini
    FROM g ORDER BY event_type"""

  // --------------------------------------------- E18 hourly profile

  /** E18: UTC hour-of-day load profile per event type — event counts,
    * within-type share, and peak-hour rank for each (type, hour) cell:
    * the seasonality view behind capacity planning and anomaly
    * baselines (an hourly profile is the denominator every "traffic is
    * unusual right now" alert divides by).
    *
    * Determinism: the hour is pure integer arithmetic on epoch
    * microseconds ((us div 3600·10⁶) mod 24 — no calendar/timezone
    * functions involved); shares are one exact-integer division rounded
    * at the boundary; the peak rank tie-breaks on the hour.
    *
    * Scale shape: one map-side-combinable aggregate onto a ≤|types|·24
    * key space; every window downstream runs over ≤24-row per-type
    * partitions (provably bounded).
    */
  def hourlyProfile(s: SparkSession, dir: String): DataFrame =
    hourlyProfileFrom(t(s, dir))

  /** [[hourlyProfile]] over an explicit event relation. */
  def hourlyProfileFrom(events: DataFrame): DataFrame = {
    val cells = events
      .withColumn("hour_utc", expr("(us div 3600000000) % 24"))
      .groupBy("event_type", "hour_utc").agg(count(lit(1)).as("n_events"))
    val tot = cells.groupBy("event_type").agg(sum("n_events").as("tn"))
    cells.join(tot, "event_type")
      .select(col("event_type"), col("hour_utc"), col("n_events"),
        round(col("n_events").cast("double") / col("tn").cast("double"), 6).as("share"),
        row_number().over(Window.partitionBy("event_type")
          .orderBy(col("n_events").desc, col("hour_utc"))).as("peak_rank"))
      .orderBy("event_type", "hour_utc")
  }

  val hourlyProfileSql: String = s"""WITH cells AS (
      SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hour_utc,
        COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS tn
      FROM cells GROUP BY 1)
    SELECT cells.event_type, hour_utc, n_events,
      ROUND(CAST(n_events AS DOUBLE) / CAST(tn AS DOUBLE), 6) AS share,
      CAST(row_number() OVER (PARTITION BY cells.event_type
        ORDER BY n_events DESC, hour_utc) AS INTEGER) AS peak_rank
    FROM cells JOIN tot ON cells.event_type = tot.event_type
    ORDER BY cells.event_type, hour_utc"""

  // --------------------------------------------- E19 Pareto share

  /** Value-range bucket count for the E19 two-phase exact rank. */
  val ParetoBuckets = 64L

  /** E19: event-volume concentration by user decile — the Lorenz-curve
    * table behind E17's Gini scalar: users ranked ascending by event
    * count, cut into 10 exact-rank deciles, each reporting its user and
    * event counts, count range, volume share, and cumulative share (the
    * "top 10% of users generate X% of traffic" row every capacity and
    * abuse review quotes).
    *
    * Determinism: per-user counts and ranks are exact integers; the
    * decile is pure integer arithmetic ((rank−1)·10 div n — no ntile,
    * whose remainder placement engines disagree on); shares are single
    * IEEE divisions of exact integer sums rounded at the boundary, and
    * the cumulative share re-divides the cumulated exact integer (never
    * cumulates rounded doubles).
    *
    * Scale shape: the E17/W1 two-phase exact global rank — counts
    * bucket by the monotone transform (cnt·[[ParetoBuckets]]) div max
    * (1-row broadcast), ranks run inside bucket partitions, the global
    * rank is the ≤64-row exclusive bucket-offset window + local rank; a
    * billion users never sort in one partition. Downstream windows run
    * over the 10-row decile relation. The oracle states the naive
    * single-window rank; the identical (cnt, user_id) total order makes
    * them agree row-for-row.
    */
  def paretoShare(s: SparkSession, dir: String): DataFrame =
    paretoShareFrom(t(s, dir))

  /** [[paretoShare]] over an explicit event relation — the spec pins
    * decile edges and share arithmetic on crafted distributions.
    */
  def paretoShareFrom(events: DataFrame): DataFrame = {
    // the user-sized pre-agg feeds the max/count leg, the bucket-rank
    // leg, and the offset leg — unpersisted, each leg replays the full
    // events scan + shuffle (t11 rule; owned by the query's memo entry)
    val cnts = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .persistRecorded()
    val mx = cnts.agg(max("cnt").as("mxc"), count(lit(1)).as("n"))
    val bucketed = cnts.crossJoin(broadcast(mx))
      .withColumn("bucket", least(expr(s"(cnt * $ParetoBuckets) div mxc"),
        lit(ParetoBuckets - 1L)))
    val local = bucketed.withColumn("lrk", row_number().over(
      Window.partitionBy("bucket").orderBy("cnt", "user_id")))
    val off = local.groupBy("bucket").agg(count(lit(1)).as("bn"))
      .withColumn("boff",
        coalesce(sum("bn").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val ranked = local.join(off.select("bucket", "boff"), "bucket")
      .select(col("cnt"), col("n"),
        expr(s"((boff + lrk - 1) * 10) div n").as("decile"))
    val deciles = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_users"),
        sum("cnt").as("n_events"),
        min("cnt").as("min_events"),
        max("cnt").as("max_events"))
    val tot = deciles.agg(sum("n_events").as("te"))
    deciles.crossJoin(broadcast(tot))
      .withColumn("cum", sum("n_events").over(Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile"), col("n_users"), col("n_events"),
        col("min_events"), col("max_events"),
        round(col("n_events").cast("double") / col("te").cast("double"), 6)
          .as("share"),
        round(col("cum").cast("double") / col("te").cast("double"), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  val paretoShareSql: String = """WITH cnts AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
    ranked AS (
      SELECT cnt,
        ((row_number() OVER (ORDER BY cnt, user_id) - 1) * 10)
          // (SELECT COUNT(*) FROM cnts) AS decile
      FROM cnts),
    deciles AS (
      SELECT decile, COUNT(*) AS n_users,
        CAST(SUM(cnt) AS BIGINT) AS n_events,
        CAST(MIN(cnt) AS BIGINT) AS min_events,
        CAST(MAX(cnt) AS BIGINT) AS max_events
      FROM ranked GROUP BY 1)
    SELECT decile, n_users, n_events, min_events, max_events,
      ROUND(CAST(n_events AS DOUBLE) /
        CAST((SELECT SUM(n_events) FROM deciles) AS DOUBLE), 6) AS share,
      ROUND(CAST(SUM(n_events) OVER (ORDER BY decile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        CAST((SELECT SUM(n_events) FROM deciles) AS DOUBLE), 6) AS cum_share
    FROM deciles ORDER BY decile"""

  // ------------------------------------- E20 transition entropy

  /** E20: per-state Markov transition entropy — for each from-state of
    * the E14 within-session transition matrix, the Shannon entropy (in
    * nats) of its next-event distribution, plus the modal next event
    * and its share. The predictability lens on E14's raw matrix: a
    * near-zero-entropy state is a deterministic funnel step, a
    * high-entropy state is a branching hub — the table journey-mining
    * and prefetch-policy reviews read.
    *
    * Determinism: the transcendental tier follows T10/T11 — each
    * transition row computes ln(tot)−ln(n) ONCE on the ≤|types|²-row
    * matrix relation and rounds at 9 (1-ulp libm divergence dies at
    * that quantum), then H = Σ n·lnpart/tot accumulates the exact
    * DECIMAL(10,0)×DECIMAL(20,10) products and performs one rounded
    * IEEE division; the modal pick tie-breaks on to_type.
    *
    * Scale shape: the session lead is E1's user-partitioned window;
    * pair counts are map-side partial onto the ≤|types|·(|types|+1) key
    * space; every downstream window partitions by from_type over
    * provably bounded (≤|types|+1-row) partitions.
    */
  def transitionEntropy(s: SparkSession, dir: String): DataFrame =
    transitionEntropyFrom(t(s, dir))

  /** [[transitionEntropy]] over an explicit event relation — the spec
    * pins the entropy arithmetic on crafted funnels.
    */
  def transitionEntropyFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "session_seq").orderBy("us", "event_id")
    val counts = sessionNumbered(events)
      .withColumn("to_type", coalesce(lead(col("event_type"), 1).over(w), lit("END")))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val withTot = counts
      .withColumn("tot", sum("n").over(Window.partitionBy("from_type")))
      .withColumn("lnpart",
        round(log(col("tot").cast("double")) - log(col("n").cast("double")), 9))
      .withColumn("rk", row_number().over(
        Window.partitionBy("from_type").orderBy(col("n").desc, col("to_type"))))
    withTot.groupBy("from_type")
      .agg(max("tot").as("n_transitions"),
        count(lit(1)).as("n_next_types"),
        sum(col("n").cast(DecimalType(10, 0)) *
          col("lnpart").cast(DecimalType(20, 10))).as("hsum"),
        max(when(col("rk") === 1, col("to_type"))).as("top_next"),
        max(when(col("rk") === 1, col("n"))).as("top_n"))
      .select(col("from_type"), col("n_transitions"), col("n_next_types"),
        round(col("hsum").cast("double") / col("n_transitions").cast("double"), 6)
          .as("entropy"),
        col("top_next"),
        round(col("top_n").cast("double") / col("n_transitions").cast("double"), 6)
          .as("top_share"))
      .orderBy("from_type")
  }

  val transitionEntropySql: String = s"""WITH $sessionNumberedCtes,
    led AS (
      SELECT event_type AS from_type,
        COALESCE(lead(event_type) OVER (PARTITION BY user_id, session_seq
          ORDER BY us, event_id), 'END') AS to_type
      FROM numbered),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n FROM led GROUP BY 1, 2),
    wt AS (
      SELECT from_type, to_type, n,
        CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS tot,
        row_number() OVER (PARTITION BY from_type ORDER BY n DESC, to_type) AS rk
      FROM counts),
    terms AS (
      SELECT from_type, to_type, n, tot, rk,
        ROUND(ln(CAST(tot AS DOUBLE)) - ln(CAST(n AS DOUBLE)), 9) AS lnpart
      FROM wt)
    SELECT from_type,
      MAX(tot) AS n_transitions,
      COUNT(*) AS n_next_types,
      ROUND(CAST(SUM(CAST(n AS DECIMAL(10,0)) * CAST(lnpart AS DECIMAL(20,10)))
          AS DOUBLE) / CAST(MAX(tot) AS DOUBLE), 6) AS entropy,
      MAX(CASE WHEN rk = 1 THEN to_type END) AS top_next,
      ROUND(CAST(MAX(CASE WHEN rk = 1 THEN n END) AS DOUBLE) /
        CAST(MAX(tot) AS DOUBLE), 6) AS top_share
    FROM terms GROUP BY from_type ORDER BY from_type"""

  // ------------------------------------- E21 first-touch attribution

  /** E21: first-touch attribution — sessions grouped by their FIRST
    * event type, reporting how many convert under the E7 ordered
    * view→click chain and how long they run. The entry-point
    * effectiveness table every acquisition review reads ("sessions
    * that start with a view convert at X%, sessions that start with an
    * error never do"), built on the SAME shared session numbering and
    * funnel marks as E1/E7/E15 so the definitions cannot drift.
    *
    * Determinism: the first event is the row_number()=1 pick under the
    * fully-keyed (us, event_id) session order; conversion is E7's
    * strict-after mark; counts are exact integers; the two ratios are
    * single IEEE divisions rounded at the boundary.
    *
    * Scale shape: one shuffle on user_id (the shared session
    * numbering), session-partitioned windows over the same exchange,
    * then a map-side-combinable rollup onto the ≤|types| key space.
    */
  def firstTouch(s: SparkSession, dir: String): DataFrame =
    firstTouchFrom(t(s, dir))

  /** [[firstTouch]] over an explicit event relation — the spec pins the
    * entry-type pick and conversion split on crafted sessions.
    */
  def firstTouchFrom(events: DataFrame): DataFrame =
    funnelMarks(events)
      .groupBy("first_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("fc").isNotNull.cast("long")).as("n_converted"),
        sum("n_events").as("ne"))
      .select(col("first_type"), col("n_sessions"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_sessions").cast("double"), 6)
          .as("conversion"),
        round(col("ne").cast("double") / col("n_sessions").cast("double"), 6)
          .as("mean_events"))
      .orderBy("first_type")

  val firstTouchSql: String = s"""WITH $sessionNumberedCtes,
    $funnelPerCtes
    SELECT first_type, COUNT(*) AS n_sessions,
      CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
      ROUND(CAST(SUM(CASE WHEN fc IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE), 6) AS conversion,
      ROUND(CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_events
    FROM per GROUP BY 1 ORDER BY 1"""

  // --------------------------------------- E23 daily volume anomaly

  /** E23: daily-volume anomaly scan — per event type, each UTC day's
    * event count z-scored against that type's own daily distribution,
    * reporting the |z| > 1 tail with the ±[[AnomalyZ]] flag: the
    * "traffic is unusual TODAY" alert baseline (E9 scores users within
    * a type; E23 scores days — the two denominators every volume alert
    * divides by). Days are exact integer epoch-day indices; only
    * observed days enter the population (a silent day is an ingest
    * outage — it surfaces as the NEXT day's negative z).
    *
    * Determinism: the E9 moment protocol verbatim — exact DECIMAL
    * Σc/Σc², one double conversion in the identical expression shape,
    * zero-variance populations explicitly z = 0 (the NaN-divergence
    * guard), round at the boundary.
    *
    * Scale shape: one map-side-combinable aggregate onto the
    * (type, day) key space, a bounded per-type stats relation, and a
    * broadcast-sized join back — no windows, nothing user-grain.
    */
  def dailyAnomaly(s: SparkSession, dir: String): DataFrame =
    dailyAnomalyFrom(t(s, dir))

  /** [[dailyAnomaly]] over an explicit event relation — the spec pins
    * z values on crafted day volumes.
    */
  def dailyAnomalyFrom(events: DataFrame): DataFrame = {
    val per = events
      .withColumn("day", expr("us div 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n_events"))
      .persistRecorded() // feeds the per-type stats AND the z-score join
    val stats = per.groupBy("event_type").agg(
      count(lit(1)).as("nd"),
      sum(col("n_events").cast(DecimalType(14, 0))).as("s1"),
      sum(col("n_events").cast(DecimalType(14, 0)) *
        col("n_events").cast(DecimalType(14, 0))).as("s2"))
    val mean = col("s1").cast("double") / col("nd").cast("double")
    val variance = (col("nd").cast("double") * col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")) /
      (col("nd").cast("double") * col("nd").cast("double"))
    val z = when(variance > 0,
      (col("n_events").cast("double") - mean) / sqrt(variance))
      .otherwise(lit(0.0))
    per.join(stats, "event_type")
      .select(col("event_type"), col("day"), col("n_events"),
        round(mean, 6).as("type_mean"),
        round(sqrt(variance), 6).as("type_std"),
        round(z, 6).as("z"),
        (abs(z) > AnomalyZ).cast("int").as("anomalous"))
      .filter(abs(col("z")) > 1.0)
      .orderBy("event_type", "day")
  }

  val dailyAnomalySql: String = s"""WITH per AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, COUNT(*) AS nd,
        SUM(CAST(n_events AS DECIMAL(14,0))) AS s1,
        SUM(CAST(n_events AS DECIMAL(14,0)) * CAST(n_events AS DECIMAL(14,0))) AS s2
      FROM per GROUP BY 1),
    scored AS (
      SELECT per.event_type, day, n_events,
        CAST(s1 AS DOUBLE) / CAST(nd AS DOUBLE) AS mean,
        (CAST(nd AS DOUBLE) * CAST(s2 AS DOUBLE) -
         CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
        (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)) AS variance
      FROM per JOIN stats ON per.event_type = stats.event_type),
    z AS (
      SELECT event_type, day, n_events,
        ROUND(mean, 6) AS type_mean,
        ROUND(sqrt(variance), 6) AS type_std,
        ROUND(CASE WHEN variance > 0
          THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(variance)
          ELSE 0.0 END, 6) AS z,
        CAST(ABS(CASE WHEN variance > 0
          THEN (CAST(n_events AS DOUBLE) - mean) / sqrt(variance)
          ELSE 0.0 END) > $AnomalyZ AS INT) AS anomalous
      FROM scored)
    SELECT * FROM z WHERE ABS(z) > 1.0 ORDER BY event_type, day"""

  // --------------------------------------- J3 temporal range join

  /** Half-width of the J3 pairing window in exact microseconds (30 min —
    * the [[SessionGapUs]] horizon, so "in the same session neighborhood").
    */
  val RangeJoinWindowUs: Long = 1800000000L

  /** J3: temporal range join — click↔error pairs of the SAME user
    * within ±[[RangeJoinWindowUs]], the "what failed right after the
    * user acted" correlation (the range-predicate join E4's as-of and
    * E11's frames don't express: BOTH directions, ALL pairs in the
    * window). Emits the gap histogram per whole-second offset and
    * direction, with distinct-user evidence.
    *
    * Scale shape — the range join that never cross-joins: one side
    * expands to its 3 adjacent [[RangeJoinWindowUs]]-wide time buckets,
    * the join runs as a plain equi-join on (user, bucket), and the
    * exact |Δt| predicate filters after — candidate volume is bounded
    * by per-user event density inside ±2 windows, never by corpus
    * size. Pair multiplicity is the operator's semantics (k clicks × m
    * errors in-window = k·m rows — what a correlation count means).
    * Distinct users per cell use the d18 distinct-then-count shape.
    *
    * Determinism: everything is exact integer µs arithmetic; each pair
    * matches exactly once (the error's bucket is unique and the
    * click's expansion covers it); the one ratio is a rounded IEEE
    * division.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame =
    rangeJoinFrom(t(s, dir))

  /** [[rangeJoin]] over an explicit event relation — the spec pins the
    * window edges and multiplicity on a crafted timeline.
    */
  def rangeJoinFrom(events: DataFrame): DataFrame = {
    val w = RangeJoinWindowUs
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"))
      .withColumn("cb", expr(s"cus div $w"))
      .withColumn("b", explode(array(col("cb") - 1, col("cb"), col("cb") + 1)))
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id"), col("us").as("eus"),
        expr(s"us div $w").as("b"))
    val pairs = clicks.join(errors, Seq("user_id", "b"))
      .filter(abs(col("eus") - col("cus")) <= w)
      .select(col("user_id"),
        (col("eus") - col("cus")).as("gap_us"))
      .select(col("user_id"), col("gap_us"),
        when(col("gap_us") >= 0, lit("error_after")).otherwise(lit("error_before"))
          .as("direction"),
        expr("abs(gap_us) div 60000000").as("gap_min"))
      .persistRecorded() // feeds the pair rollup and the distinct-user leg
    val cells = pairs.groupBy("direction", "gap_min")
      .agg(count(lit(1)).as("n_pairs"),
        min("gap_us").as("min_gap_us"),
        max("gap_us").as("max_gap_us"))
    val users = pairs.select("direction", "gap_min", "user_id").distinct()
      .groupBy("direction", "gap_min").agg(count(lit(1)).as("n_users"))
    cells.join(users, Seq("direction", "gap_min"))
      .select(col("direction"), col("gap_min"), col("n_pairs"), col("n_users"),
        round(col("n_pairs").cast("double") / col("n_users").cast("double"), 6)
          .as("pairs_per_user"),
        col("min_gap_us"), col("max_gap_us"))
      .orderBy("direction", "gap_min")
  }

  val rangeJoinSql: String = s"""WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
    pairs AS (
      SELECT c.user_id, e.us - c.us AS gap_us,
        CASE WHEN e.us - c.us >= 0 THEN 'error_after' ELSE 'error_before' END AS direction,
        ABS(e.us - c.us) // 60000000 AS gap_min
      FROM ev c JOIN ev e ON c.user_id = e.user_id
      WHERE c.event_type = 'click' AND e.event_type = 'error'
        AND ABS(e.us - c.us) <= $RangeJoinWindowUs),
    cells AS (
      SELECT direction, gap_min, COUNT(*) AS n_pairs,
        CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
        CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
      FROM pairs GROUP BY 1, 2),
    us AS (
      SELECT direction, gap_min, COUNT(*) AS n_users
      FROM (SELECT DISTINCT direction, gap_min, user_id FROM pairs)
      GROUP BY 1, 2)
    SELECT direction, gap_min, n_pairs, n_users,
      ROUND(CAST(n_pairs AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS pairs_per_user,
      min_gap_us, max_gap_us
    FROM cells JOIN us USING (direction, gap_min)
    ORDER BY direction, gap_min"""

  // --------------------------------------- E22 profile similarity

  /** Probe users (`user_id < ProfileProbes`) — the bounded, data-derived
    * query workload of the E22 behavioral search (the S1 convention).
    */
  val ProfileProbes = 10L
  /** Neighbors kept per probe. */
  val ProfileTopK = 5
  /** Hash-bucket count for the two-phase per-probe top-k. */
  val ProfileBuckets = 64L

  /** E22: behavioral-profile similarity search — each probe user's
    * top-[[ProfileTopK]] most similar users by cosine over their
    * 24-dimension hour-of-day activity vectors (E18's seasonality
    * profile at user grain). The "users who behave like this one"
    * primitive behind cohort expansion, bot-ring discovery, and
    * look-alike audiences — a distributed top-k similarity search in
    * the spirit of the trajectory/time-series search literature
    * (REPOSE ICDE'21, Odyssey VLDB'23), on the one vector space the
    * events table itself induces.
    *
    * Determinism: profile slots are exact integer counts cast
    * long→float32 (identical IEEE rounding both engines — the S1
    * embedding protocol); dots and norms go through the ONE `graft_dot`
    * codegen node, whose left-assoc double fold the oracle's unrolled
    * 24-term chain states verbatim (`Similarity.prefixDotSql`); ranking
    * tie-breaks (cos DESC, other_id). A 24-term chained DECIMAL tree
    * was the first cut — its precision-promotion nesting blew planner
    * memory, the exact anti-pattern the graft_dot expression exists
    * for.
    *
    * Scale shape: profiles pre-aggregate twice ((user, hour) cells →
    * 24-slot conditional sums, both map-side combinable); probes are a
    * provably bounded broadcast; the corpus side never shuffles for
    * the similarity pass (one broadcast cross join); the top-k is the
    * T8 two-phase bucket rank — per-(probe, hash-bucket) windows, then
    * a final window over ≤[[ProfileBuckets]]·k rows per probe — never
    * a corpus-sized per-probe sort. The oracle states the naive
    * single-window form; both agree row-for-row.
    */
  def profileSimilarity(s: SparkSession, dir: String): DataFrame =
    profileSimilarityFrom(t(s, dir))

  /** [[profileSimilarity]] over an explicit event relation — the spec
    * pins the cosine arithmetic on crafted clocks.
    */
  def profileSimilarityFrom(events: DataFrame): DataFrame = {
    val cells = events
      .withColumn("hour", expr("(us div 3600000000) % 24"))
      .groupBy("user_id", "hour").agg(count(lit(1)).as("c"))
    val slots = (0 until 24).map(h =>
      sum(when(col("hour") === h, col("c")).otherwise(0L)).as(s"h$h"))
    val prof = cells.groupBy("user_id").agg(slots.head, slots.tail: _*)
      .select(col("user_id"),
        array((0 until 24).map(h => col(s"h$h").cast("float")): _*).as("hv"))
      .withColumn("nrm", sqrt(Similarity.dot(col("hv"), col("hv"))))
    val probes = prof.filter(col("user_id") < ProfileProbes)
      .select(col("user_id").as("probe_id"), col("hv").as("pv"), col("nrm").as("pn"))
    val cos = prof.crossJoin(broadcast(probes))
      .filter(col("user_id") =!= col("probe_id"))
      .select(col("probe_id"), col("user_id").as("other_id"),
        (Similarity.dot(col("pv"), col("hv")) / (col("pn") * col("nrm")))
          .as("cos"))
    val w1 = Window.partitionBy(col("probe_id"),
        pmod(graft.ext.TextOps.tokenHash(col("other_id").cast("string")),
          lit(ProfileBuckets)))
      .orderBy(col("cos").desc, col("other_id"))
    val w2 = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("other_id"))
    cos.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= ProfileTopK)
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") <= ProfileTopK)
      .select(col("probe_id"), col("rk"), col("other_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("probe_id", "rk")
  }

  val profileSimilaritySql: String = {
    val slots = (0 until 24).map(h =>
      s"CAST(SUM(CASE WHEN hour = $h THEN c ELSE 0 END) AS BIGINT) AS h$h").mkString(", ")
    val hv = (0 until 24).map(h => s"CAST(h$h AS REAL)").mkString("[", ", ", "]")
    s"""WITH cells AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) % 24 AS hour, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    prof AS (
      SELECT user_id, $slots FROM cells GROUP BY user_id),
    pv AS (SELECT user_id, $hv AS hv FROM prof),
    np AS (SELECT user_id, hv,
      sqrt(${Similarity.prefixDotSql("hv", "hv", 24)}) AS nrm FROM pv),
    cos AS (
      SELECT p.user_id AS probe_id, b.user_id AS other_id,
        (${Similarity.prefixDotSql("p.hv", "b.hv", 24)}) / (p.nrm * b.nrm) AS cos
      FROM np b CROSS JOIN (SELECT * FROM np WHERE user_id < $ProfileProbes) p
      WHERE b.user_id != p.user_id)
    SELECT probe_id, CAST(rk AS INTEGER) AS rk, other_id, ROUND(cos, 6) AS cos
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
        ORDER BY cos DESC, other_id) AS rk
      FROM cos)
    WHERE rk <= $ProfileTopK ORDER BY probe_id, rk"""
  }

  // ----------------------------------------------- E24 peak concurrency

  /** E24: peak concurrent sessions per day — the interval-stabbing sweep
    * (capacity planning: "how many live sessions must the serving tier
    * hold?"). Sessions are the shared E1 numbering's [start, end]
    * microsecond intervals, exploded to each UTC day they touch and
    * clipped to the day; within a day the classic +1/−1 sweep runs as
    * one day-partitioned window. Touching endpoints count as concurrent
    * (arrive-before-depart at equal us — the inclusive convention,
    * identical in both engines because the candidate is formed
    * ALGEBRAICALLY: at each distinct us with p starts and m ends, the
    * maximum during the instant is cum(p−m so far) + m, no tie-ordering
    * inside the window is ever consulted).
    *
    * Determinism: all exact integer microseconds and counts.
    *
    * Scale shape: session intervals are one user-partitioned window
    * (the shared E1 exchange); the day explode is bounded by days-
    * touched (sessions are gap-bounded, and a day holds ≤86400e6 us);
    * deltas pre-aggregate per (day, us) map-side; the sweep window
    * partitions by day — key-partitioned, never global. The final
    * per-day table is calendar-bounded.
    */
  def concurrency(s: SparkSession, dir: String): DataFrame =
    concurrencyFrom(t(s, dir))

  /** [[concurrency]] over an explicit event relation — the spec pins
    * peaks on crafted overlapping intervals.
    */
  def concurrencyFrom(events: DataFrame): DataFrame = {
    val sess = sessionNumbered(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min("us").as("s_us"), max("us").as("e_us"))
    val days = sess.select(col("s_us"), col("e_us"),
      explode(sequence(expr(s"s_us div $DayUs"), expr(s"e_us div $DayUs"))).as("day"))
    val clipped = days.select(col("day"),
      greatest(col("s_us"), expr(s"day * $DayUs")).as("cs"),
      least(col("e_us"), expr(s"(day + 1) * $DayUs - 1")).as("ce"))
    // ONE pass: each clipped interval explodes into its open/close
    // deltas in-row — the union form re-executed the whole sessionize
    // chain once per leg (`tools/Audit` dup check; rows are identical)
    val deltas = clipped.select(col("day"),
        explode(array(
          struct(col("cs").as("at"), lit(1L).as("p"), lit(0L).as("m")),
          struct(col("ce").as("at"), lit(0L).as("p"), lit(1L).as("m")))).as("d"))
      .select(col("day"), col("d.at").as("at"), col("d.p").as("p"), col("d.m").as("m"))
      .groupBy("day", "at")
      .agg(sum("p").as("p"), sum("m").as("m"))
    val w = Window.partitionBy("day").orderBy("at")
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas
      .withColumn("cand", sum(col("p") - col("m")).over(w) + col("m"))
      .groupBy("day")
      .agg(max("cand").as("peak_concurrent"), sum("p").as("n_intervals"))
      .orderBy("day")
  }

  val concurrencySql: String = s"""WITH $sessionNumberedCtes,
    sess2 AS (
      SELECT user_id, session_seq, MIN(us) AS s_us, MAX(us) AS e_us
      FROM numbered GROUP BY 1, 2),
    days AS (
      SELECT s_us, e_us, unnest(range(s_us // $DayUs, e_us // $DayUs + 1)) AS day
      FROM sess2),
    clipped AS (
      SELECT day, GREATEST(s_us, day * $DayUs) AS cs,
        LEAST(e_us, (day + 1) * $DayUs - 1) AS ce
      FROM days),
    deltas AS (
      SELECT day, at, CAST(SUM(p) AS BIGINT) AS p, CAST(SUM(m) AS BIGINT) AS m
      FROM (
        SELECT day, cs AS at, 1 AS p, 0 AS m FROM clipped
        UNION ALL
        SELECT day, ce AS at, 0 AS p, 1 AS m FROM clipped)
      GROUP BY 1, 2),
    swept AS (
      SELECT day,
        CAST(SUM(p - m) OVER (PARTITION BY day ORDER BY at
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) + m AS cand,
        p
      FROM deltas)
    SELECT day, MAX(cand) AS peak_concurrent,
      CAST(SUM(p) AS BIGINT) AS n_intervals
    FROM swept GROUP BY day ORDER BY day"""

  // ------------------------------------------------ E25 duplicate events

  val DupWindowUs: Long = 5L * 1000000L

  /** E25: duplicate-ingestion audit — an event is a DUP when the same
    * (user, type, value) payload arrived within [[DupWindowUs]] of its
    * previous occurrence (at-least-once delivery double-fires, client
    * retry storms: the first dedup every event pipeline runs). Chains
    * count correctly: each repeat compares to its immediate
    * predecessor, so a burst of k copies yields k−1 dups.
    *
    * Determinism: the payload key includes the raw double `value` —
    * equality of identical parquet-decoded doubles, never arithmetic;
    * gaps are exact integer microseconds; the rate divides two exact
    * counts, rounded at 6.
    *
    * Scale shape: ONE window partitioned by the full payload key
    * (user × type × value — finer than user alone, so hot users spread
    * further), then a map-side-partial rollup onto event types. No
    * join, no global order.
    */
  def dupEvents(s: SparkSession, dir: String): DataFrame =
    dupEventsFrom(t(s, dir))

  /** [[dupEvents]] over an explicit event relation — the spec pins
    * chain counting and window edges.
    */
  def dupEventsFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type", "value")
      .orderBy("us", "event_id")
    val flagged = events
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("dup",
        when(col("prev").isNotNull && col("us") - col("prev") <= DupWindowUs, 1L)
          .otherwise(0L))
    flagged.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("dup").as("n_dups"))
      .select(col("event_type"), col("n_events"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_events").cast("double"), 6)
          .as("dup_frac"))
      .orderBy("event_type")
  }

  val dupEventsSql: String = s"""WITH ev AS (
      SELECT *, epoch_us(ts) AS us FROM events),
    flagged AS (
      SELECT event_type,
        CASE WHEN prev IS NOT NULL AND us - prev <= $DupWindowUs
          THEN 1 ELSE 0 END AS dup
      FROM (
        SELECT event_type, us,
          lag(us) OVER (PARTITION BY user_id, event_type, value
            ORDER BY us, event_id) AS prev
        FROM ev))
    SELECT event_type, COUNT(*) AS n_events,
      CAST(SUM(dup) AS BIGINT) AS n_dups,
      ROUND(CAST(SUM(dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
    FROM flagged GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------- E27 inter-session gaps

  private val MinuteUs = 60L * 1000000L

  /** E27: inter-session gap distribution — per log2(minutes) band, the
    * counts, exact min/max, mean, and share of the gaps between a
    * user's CONSECUTIVE 30-min sessions (the E1 definition — the two
    * views share [[sessionNumbered]] so they cannot drift): the
    * return-cadence histogram between E1's session grain and E8/E26's
    * day/week retention grain — the distribution a churn model's
    * "dormant after N hours" threshold is read off.
    *
    * Determinism: gaps are exact integer `div`-minutes (≥ 30 by the
    * session definition, so the bit-length log2 band is always
    * defined); the two ratios are one IEEE division each rounded at 6.
    *
    * Scale shape: the E1 user-keyed exchange, session spans
    * (map-side-partial agg on (user, session)), ONE user-partitioned
    * lag window, then a map-side-collapsing ≤64-band aggregate and a
    * broadcast 1-row total. Nothing global-sorts users or sessions.
    */
  def sessionGaps(s: SparkSession, dir: String): DataFrame =
    sessionGapsFrom(t(s, dir))

  /** [[sessionGaps]] over an explicit event relation — the spec pins
    * exact bands on crafted session timelines.
    */
  def sessionGapsFrom(events: DataFrame): DataFrame = {
    val spans = sessionNumbered(events)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min("us").as("s_us"), max("us").as("e_us"))
    val w = Window.partitionBy("user_id").orderBy("session_seq")
    val gaps = spans
      .withColumn("prev_e", lag(col("e_us"), 1).over(w))
      .filter(col("prev_e").isNotNull)
      .select(expr(s"(s_us - prev_e) div $MinuteUs").as("gap_min"))
    // band-grain (<=~40 rows), but it feeds the total leg AND the
    // final projection: unpersisted, the sessionize chain executed
    // twice (`tools/Audit` dup check; the two-leg rule)
    val bins = gaps
      .withColumn("band", (length(conv(col("gap_min"), 10, 2)) - 1).cast("long"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_gaps"), sum("gap_min").as("tot_min"),
        min("gap_min").as("min_gap_min"), max("gap_min").as("max_gap_min"))
      .persistRecorded()
    val tot = bins.agg(sum("n_gaps").as("tg"))
    bins.crossJoin(broadcast(tot))
      .select(col("band"), col("n_gaps"), col("min_gap_min"), col("max_gap_min"),
        round(col("tot_min").cast("double") / col("n_gaps").cast("double"), 6)
          .as("mean_gap_min"),
        round(col("n_gaps").cast("double") / col("tg").cast("double"), 6)
          .as("gap_frac"))
      .orderBy("band")
  }

  val sessionGapsSql: String = s"""WITH $sessionNumberedCtes,
    spans AS (SELECT user_id, session_seq, MIN(us) AS s_us, MAX(us) AS e_us
      FROM numbered GROUP BY 1, 2),
    gaps AS (
      SELECT (s_us - prev_e) // $MinuteUs AS gap_min FROM (
        SELECT s_us,
          lag(e_us) OVER (PARTITION BY user_id ORDER BY session_seq) AS prev_e
        FROM spans)
      WHERE prev_e IS NOT NULL),
    bins AS (SELECT CAST(length(ltrim(bin(gap_min), '0')) - 1 AS BIGINT) AS band,
        COUNT(*) AS n_gaps, CAST(SUM(gap_min) AS BIGINT) AS tot_min,
        MIN(gap_min) AS min_gap_min, MAX(gap_min) AS max_gap_min
      FROM gaps GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_gaps) AS BIGINT) AS tg FROM bins)
    SELECT band, n_gaps, min_gap_min, max_gap_min,
      ROUND(CAST(tot_min AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) AS mean_gap_min,
      ROUND(CAST(n_gaps AS DOUBLE) / CAST(tg AS DOUBLE), 6) AS gap_frac
    FROM bins CROSS JOIN tot ORDER BY band"""

  // ------------------------------------------- E26 survival/retention curve

  /** E26: censor-corrected survival/retention curve — per
    * (first-activity-week cohort, day offset t) the discrete survival
    * ingredients every growth dashboard plots (the Kaplan-Meier
    * life-table family at day grain, with right-censoring at the
    * dataset horizon): `n_at_risk` = users whose observation window
    * reaches offset t, `n_active` = users whose LAST activity is at or
    * after t, `n_churned` = users whose last activity is exactly t and
    * strictly before their horizon (an observed churn, not
    * end-of-data censoring), and `retention = n_active / n_at_risk` —
    * the at-risk denominator is what e8's raw matrix lacks: a young
    * cohort's tail is not counted as churned merely because the data
    * ends. Extends [[cohortRetention]] (E8).
    *
    * Determinism: day/cohort/offset arithmetic is exact integer
    * (`us div DayUs`, `div 7`); every curve point is exact integer
    * suffix-sums and ONE IEEE division rounded at 6 — no cumulative
    * float product (the KM Π(1−dⱼ/nⱼ) estimator equals this ratio
    * form when censoring only occurs at the dataset horizon, which is
    * the only censoring a fixed extract has).
    *
    * Scale shape: the per-user (first, last) aggregate shuffles on
    * user_id with map-side partials; the duration/horizon/churn counts
    * collapse to the (cohort, offset) grain (calendar-bounded, not
    * corpus-bounded); the suffix sums are windows PARTITIONED BY cohort
    * over that bounded spine — never over users or events. The
    * user-grain relation feeds four legs (duration counts, horizon
    * counts, churn counts, spine max) and is persisted for the query's
    * lifetime (registry persist contract; owned by its memo entry).
    */
  def retentionCurve(s: SparkSession, dir: String): DataFrame =
    retentionCurveFrom(t(s, dir))

  /** [[retentionCurve]] over an explicit event relation — the spec pins
    * the curve on a crafted cohort with known churn/censor days.
    */
  def retentionCurveFrom(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"), expr(s"us div $DayUs").as("day"))
      .groupBy("user_id").agg(min("day").as("f"), max("day").as("l"))
    val horizon = perUser.agg(max("l").as("m"))
    val u = perUser.crossJoin(broadcast(horizon))
      .select(expr("f div 7").as("cohort_week"),
        (col("l") - col("f")).as("dur"),
        (col("m") - col("f")).as("hor"))
      .persistRecorded() // 4 consumer legs, see Scaladoc
    val act = u.groupBy(col("cohort_week"), col("dur").as("t"))
      .agg(count(lit(1)).as("a"),
        sum(when(col("dur") < col("hor"), 1L).otherwise(0L)).as("ch"))
    val risk = u.groupBy(col("cohort_week"), col("hor").as("t"))
      .agg(count(lit(1)).as("r"))
    val spine = u.groupBy("cohort_week").agg(max("hor").as("mh"))
      .select(col("cohort_week"), explode(sequence(lit(0L), col("mh"))).as("t"))
    val wSuffix = Window.partitionBy("cohort_week").orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(act, Seq("cohort_week", "t"), "left")
      .join(risk, Seq("cohort_week", "t"), "left")
      .select(col("cohort_week"), col("t"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("ch"), lit(0L)).as("n_churned"),
        coalesce(col("r"), lit(0L)).as("r"))
      .withColumn("n_active", sum(col("a")).over(wSuffix))
      .withColumn("n_at_risk", sum(col("r")).over(wSuffix))
      .select(col("cohort_week"), col("t").as("day_offset"),
        col("n_at_risk"), col("n_active"), col("n_churned"),
        round(col("n_active").cast("double") / col("n_at_risk").cast("double"), 6)
          .as("retention"))
      .orderBy("cohort_week", "day_offset")
  }

  val retentionCurveSql: String = s"""WITH d AS (
      SELECT user_id, epoch_us(ts) // $DayUs AS day FROM events),
    pu AS (SELECT user_id, MIN(day) AS f, MAX(day) AS l FROM d GROUP BY 1),
    mx AS (SELECT MAX(l) AS m FROM pu),
    u AS (SELECT f // 7 AS cohort_week, l - f AS dur, m - f AS hor
          FROM pu, mx),
    act AS (SELECT cohort_week, dur AS t, COUNT(*) AS a,
        CAST(SUM(CASE WHEN dur < hor THEN 1 ELSE 0 END) AS BIGINT) AS ch
      FROM u GROUP BY 1, 2),
    risk AS (SELECT cohort_week, hor AS t, COUNT(*) AS r FROM u GROUP BY 1, 2),
    spine AS (SELECT cohort_week, unnest(range(0, mh + 1)) AS t
      FROM (SELECT cohort_week, MAX(hor) AS mh FROM u GROUP BY 1)),
    j AS (SELECT s.cohort_week, s.t,
        COALESCE(a.a, 0) AS a, COALESCE(a.ch, 0) AS n_churned,
        COALESCE(r.r, 0) AS r
      FROM spine s
      LEFT JOIN act a ON s.cohort_week = a.cohort_week AND s.t = a.t
      LEFT JOIN risk r ON s.cohort_week = r.cohort_week AND s.t = r.t),
    c AS (SELECT cohort_week, t, n_churned,
        SUM(a) OVER (PARTITION BY cohort_week ORDER BY t DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_active,
        SUM(r) OVER (PARTITION BY cohort_week ORDER BY t DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk
      FROM j)
    SELECT cohort_week, t AS day_offset,
      CAST(n_at_risk AS BIGINT) AS n_at_risk,
      CAST(n_active AS BIGINT) AS n_active, n_churned,
      ROUND(CAST(n_active AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6) AS retention
    FROM c ORDER BY cohort_week, day_offset"""

  // ------------------------------------ E29 multi-touch attribution

  /** Touch channel types credited by the E29 attribution model. */
  val TouchTypes: Seq[String] = Seq("view", "click", "signup")
  /** Attribution lookback window (same horizon as the session gap). */
  val AttributionWindowUs: Long = SessionGapUs
  /** E29 per-purchase touch cap: credit is linear over the
    * [[AttributionTouchCap]] MOST RECENT in-window touches (part of
    * the stated model, restated identically in the oracle's QUALIFY).
    * This is what makes the operator hot-key-safe at 100 TB: without
    * it a bot user with T in-window touches and P purchases
    * materializes T·P pair rows (the r15 verdict's one remaining
    * hot-key risk); with it every purchase contributes at most k join
    * rows by construction — see [[linearAttributionFrom]]'s expansion
    * shape. At the test corpus the cap never binds (max in-window
    * touches per purchase is 2 at sf0.1), and marketing-attribution
    * semantics tolerate it (credit beyond the 64 most recent
    * same-session touches is noise by any model).
    */
  val AttributionTouchCap: Int = 64

  /** E29: LINEAR multi-touch attribution — every purchase splits one
    * unit of conversion credit equally across the SAME user's touch
    * events ([[TouchTypes]]) in the trailing
    * [[AttributionWindowUs]] window (strictly before the purchase),
    * capped at the [[AttributionTouchCap]] most recent such touches;
    * purchases with no in-window touch credit the `(none)` bucket in
    * full. Per channel: touch rows credited, distinct conversions
    * participated in, and the total credit. The multi-touch
    * counterpart of E21's first-touch view — the two bracketing
    * models every marketing report shows side by side (first-touch
    * overweights openers, linear spreads evenly).
    *
    * Determinism: credit is the exact integer `1000000 div n` per
    * touch (n = the purchase's credited touch count) — the floor loss
    * is part of the stated contract (credits per conversion sum to
    * ≤ 1e6 and the deficit is < n), so every emitted cell is an exact
    * BIGINT; no doubles anywhere. The capped touch SET is
    * deterministic because the recency ordering carries the unique
    * `event_id` as tiebreaker on both engines.
    *
    * Scale shape (r21, replacing the r16 slot-expansion join per the
    * r20 verdict's item 4): ONE corpus pass. The timeline
    * hash-spreads on `user_id` and sorts within partitions by
    * `(user_id, us, kind, eid)` — the exact total order the old
    * per-user window established (purchases order BEFORE
    * equal-timestamp touches, kind 0 < 1, so a purchase only ever
    * sees touches with `tus < pus`) — and a streaming per-partition
    * scan maintains a ≤[[AttributionTouchCap]]-slot ring buffer of
    * each user's most recent prior touches. At a purchase row the
    * buffer's in-window entries are counted per channel and the
    * purchase emits its ≤|[[TouchTypes]]| `(channel, pid, nt_cp,
    * n_touch)` credit rows (or one `(none)` row) directly — the
    * (channel, pid)-grain relation the r20 aggregate consumed, now
    * produced without the slot explode, the (user, ti) equi-join,
    * the per-purchase count join-back, or the untouched anti-join.
    * Equivalence to the oracle's `QUALIFY row_number() OVER
    * (PARTITION BY pid ORDER BY tus DESC, tid DESC) <= k` is the r16
    * argument unchanged: the buffer holds exactly the k most recent
    * PRIOR touches by position, in-window touches are by definition
    * the most recent prefix of those, so buffer ∩ window = the
    * min(m, k) most recent in-window touches, row for row (pinned by
    * the randomized property spec against a plain-Scala reference).
    * Cost is O((T+P)·log) for the one partition sort + O(k) state
    * per task — no key can explode, bot or not, and no persist is
    * needed (the old timeline fed three plan legs; this shape has
    * one). The closure is per-row constant work at row-grain — the
    * Engine-kernel precedent, not a per-group collect (a
    * flatMapGroups would buffer unbounded per-user rows; the
    * partition sort spills externally instead). The final ≤4-row
    * channel rollup folds the untouched purchases in via their
    * `n_touch = 0` marker rows, so one aggregate serves both legs.
    */
  def linearAttribution(s: SparkSession, dir: String): DataFrame =
    linearAttributionFrom(t(s, dir))

  /** [[linearAttribution]] over an explicit event relation (needs
    * `us` micros) — the spec pins exact credit splits on a crafted
    * timeline, including the > cap case the real corpus can't reach.
    */
  def linearAttributionFrom(events: DataFrame): DataFrame = {
    val k = AttributionTouchCap
    val w = AttributionWindowUs
    val channels = TouchTypes.toArray
    val spark = events.sparkSession
    import spark.implicits._
    // one per-user timeline: purchases sort BEFORE touches at equal us
    // (kind 0 vs 1), so a purchase only ever sees touches with
    // tus < pus; event_id makes the order total. channel carried as
    // its TouchTypes index (one byte-sized long, not a string).
    val channelIdx = TouchTypes.zipWithIndex
      .foldLeft(lit(-1L)) { case (acc, (t, i)) =>
        when(col("event_type") === t, lit(i.toLong)).otherwise(acc) }
    val timeline = events
      .filter(col("event_type") === "purchase" ||
        col("event_type").isin(TouchTypes: _*))
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("eid"),
        col("us").cast("long").as("us"),
        when(col("event_type") === "purchase", lit(0L)).otherwise(lit(1L))
          .as("kind"),
        channelIdx.as("ch"))
    // hash-spread on user, total per-user time order within the
    // partition (externally sorted — a bot's rows never buffer in
    // memory), then the streaming ≤k ring-buffer scan. Emits the
    // (channel, pid) credit grain directly; n_touch = 0 marks an
    // untouched purchase.
    val credits = timeline
      .repartition(col("user_id"))
      .sortWithinPartitions("user_id", "us", "kind", "eid")
      .toDF("_1", "_2", "_3", "_4", "_5") // (user_id, eid, us, kind, ch)
      .as[(Long, Long, Long, Long, Long)]
      .mapPartitions { rows =>
        new Iterator[(Long, Long, Long, Long)] { // (ch, pid, nt_cp, n_touch)
          private var curUser = Long.MinValue
          private var haveUser = false
          private val bufUs = new Array[Long](k)
          private val bufCh = new Array[Int](k)
          private var bufN = 0    // filled slots (≤ k)
          private var bufPos = 0  // next write slot (ring)
          private val cnt = new Array[Long](channels.length)
          private val out = new scala.collection.mutable.Queue[(Long, Long, Long, Long)]
          private def advance(): Unit = {
            while (out.isEmpty && rows.hasNext) {
              val (u, eid, us, kind, ch) = rows.next()
              if (!haveUser || u != curUser) {
                curUser = u; haveUser = true; bufN = 0; bufPos = 0
              }
              if (kind == 1L) { // touch: push into the ring
                bufUs(bufPos) = us
                bufCh(bufPos) = ch.toInt
                bufPos = (bufPos + 1) % k
                if (bufN < k) bufN += 1
              } else { // purchase: count in-window buffered touches
                java.util.Arrays.fill(cnt, 0L)
                var n = 0L
                var i = 0
                while (i < bufN) {
                  // ring slots hold the k most recent prior touches
                  val idx = (bufPos - 1 - i + 2 * k) % k
                  if (bufUs(idx) >= us - w) { cnt(bufCh(idx)) += 1; n += 1 }
                  i += 1
                }
                if (n == 0L) out.enqueue((-1L, eid, 0L, 0L))
                else {
                  var c = 0
                  while (c < cnt.length) {
                    if (cnt(c) > 0L) out.enqueue((c.toLong, eid, cnt(c), n))
                    c += 1
                  }
                }
              }
            }
          }
          override def hasNext: Boolean = { advance(); out.nonEmpty }
          override def next(): (Long, Long, Long, Long) = { advance(); out.dequeue() }
        }
      }
      .toDF("ch", "pid", "nt_cp", "n_touch")
    // ≤4-row rollup; the n_touch = 0 marker rows fold the untouched
    // purchases into the SAME aggregate (full 1e6 credit each), so the
    // credit relation has exactly one consumer and needs no persist.
    // Per-channel equivalence to the r16/r20 shape is exact-integer:
    // n_touches = Σ nt_cp, n_conversions = COUNT of (channel, pid)
    // rows, credit_micro = Σ nt_cp·(1000000 div n_touch).
    val channelName = channels.zipWithIndex
      .foldLeft(lit("(none)")) { case (acc, (t, i)) =>
        when(col("ch") === i.toLong, lit(t)).otherwise(acc) }
    credits
      .groupBy(channelName.as("channel"))
      .agg(sum("nt_cp").as("n_touches"),
        count(lit(1)).as("n_conversions"),
        sum(when(col("n_touch") > 0L,
          col("nt_cp") * expr("1000000 div n_touch"))
          .otherwise(lit(1000000L))).as("credit_micro"))
      .orderBy("channel")
  }

  /** E30: activity-streak distribution — each user's LONGEST run of
    * consecutive active days (≥1 event), rolled into a
    * (streak_days → n_users) histogram: the habit/retention depth
    * metric DAU counts can't see (two users with 10 active days each
    * are different products if one logged in 10 days straight). The
    * classic gaps-and-islands technique, absent from the registry
    * until now: within a user's ordered DISTINCT day list,
    * `day − row_number()` is constant exactly across consecutive runs,
    * so one grouped count per (user, island) yields streak lengths
    * with no self-join and no iteration.
    *
    * Determinism: days are exact integer epoch-day indices
    * (`us div 86400e6`); every downstream cell is an integer count;
    * the row_number window is fully ordered (distinct days within a
    * user are unique).
    *
    * Scale shape: the (user, day) dedup is `.distinct()` on both
    * columns (the d18 shaping — the exchange hash-spreads on the
    * pair); the island window partitions by user (bounded per-user
    * day counts, never a global sort); the two rollups are map-side
    * partial; the histogram is ≤ observed-max-streak rows.
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame =
    activityStreaksFrom(t(s, dir))

  /** [[activityStreaks]] over an explicit event relation (needs `us`
    * micros) — the spec pins island splits on crafted calendars.
    */
  def activityStreaksFrom(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), expr(s"us div $DayUs").as("day"))
      .distinct()
    val islands = days.withColumn("grp",
      col("day") - row_number().over(
        Window.partitionBy("user_id").orderBy("day")))
    val streaks = islands.groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"))
    streaks.groupBy("user_id").agg(max("len").as("streak_days"))
      .groupBy("streak_days").agg(count(lit(1)).as("n_users"))
      .orderBy("streak_days")
  }

  val activityStreaksSql: String = s"""WITH days AS (
      SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events),
    islands AS (
      SELECT user_id,
        day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, COUNT(*) AS len FROM islands GROUP BY 1, 2),
    best AS (
      SELECT user_id, CAST(MAX(len) AS BIGINT) AS streak_days
      FROM streaks GROUP BY 1)
    SELECT streak_days, COUNT(*) AS n_users
    FROM best GROUP BY 1 ORDER BY 1"""

  val linearAttributionSql: String = s"""WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
    p AS (SELECT user_id AS pu, event_id AS pid, us AS pus
          FROM ev WHERE event_type = 'purchase'),
    tc AS (SELECT user_id AS tu, event_id AS tid, event_type AS channel,
             us AS tus
           FROM ev WHERE event_type IN (${TouchTypes.map(t => s"'$t'").mkString(", ")})),
    paired AS (
      SELECT channel, pid FROM p JOIN tc ON pu = tu
        AND tus < pus AND tus >= pus - ${AttributionWindowUs}
      QUALIFY row_number() OVER (PARTITION BY pid
        ORDER BY tus DESC, tid DESC) <= ${AttributionTouchCap}),
    pp AS (SELECT pid, COUNT(*) AS n_touch FROM paired GROUP BY 1),
    credited AS (
      SELECT channel, paired.pid, 1000000 // n_touch AS credit
      FROM paired JOIN pp ON paired.pid = pp.pid),
    byc AS (
      SELECT channel, COUNT(*) AS n_touches,
        CAST(SUM(credit) AS BIGINT) AS credit_micro
      FROM credited GROUP BY 1),
    nconv AS (
      SELECT channel, COUNT(*) AS n_conversions
      FROM (SELECT DISTINCT channel, pid FROM credited) GROUP BY 1),
    untouched AS (
      SELECT '(none)' AS channel, CAST(0 AS BIGINT) AS n_touches,
        COUNT(*) AS n_conversions,
        CAST(COUNT(*) * 1000000 AS BIGINT) AS credit_micro
      FROM p ANTI JOIN pp ON p.pid = pp.pid)
    SELECT channel, n_touches, n_conversions, credit_micro
    FROM (SELECT channel, n_touches, n_conversions, credit_micro
          FROM byc JOIN nconv USING (channel)
          UNION ALL
          SELECT * FROM untouched)
    ORDER BY channel"""
}
