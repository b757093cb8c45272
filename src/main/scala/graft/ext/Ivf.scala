package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.SessionMemo.PersistRecorded

/** IVF (inverted-file) approximate nearest neighbor — the learned-
  * centroid counterpart of the sign-LSH path in [[Similarity]]: a KMeans
  * coarse quantizer partitions the corpus into `nlist` cells; a query
  * probes its `nprobe` nearest cells and exact-cosine re-ranks only
  * those candidates.
  *
  * Plan shape at scale: the corpus is bucketed ONCE (one shuffle on the
  * cell id, then cell-clustered storage amortizes every query); per
  * query-batch work is a join against the probed cells — a broadcast
  * join for bounded batches, a cell-keyed shuffle join above
  * [[MaxBroadcastQueries]] (the corpus moves on the same key its
  * bucketed layout clusters by) — the corpus never reshuffles PER
  * QUERY either way. Centroids (nlist×dim floats) always fit in a
  * broadcast.
  *
  * No DuckDB oracle (KMeans is not SQL-expressible) — but the output
  * carries its own ground-truth check: each row reports whether the
  * IVF candidate is in the EXACT cosine top-k (`exact_hit`, computed
  * in-plan against the brute-force baseline) and the per-query
  * `recall3`. The driver's rows-only gate sees a deterministic row
  * count; the spec gates on the embedded recall.
  */
object Ivf {

  val NList = 16
  val NProbe = 4
  val TopK = 3

  /** Quantizer training-set size: fixed, not a fraction — the fit cost
    * must not grow with the corpus.
    */
  val TrainSample = 2000

  /** Query batches up to this size ride a broadcast join against the
    * probed cells (zero corpus movement); a LARGER batch is no longer
    * "provably bounded" in the broadcast sense, so the probe join
    * becomes a cell-keyed shuffle join instead — the corpus side
    * shuffles once on its (already computed) cell id, the same key its
    * bucketed layout would be clustered by at rest. Both paths produce
    * identical rows (ExtSpec pins it).
    */
  val MaxBroadcastQueries = 4096

  /** Floor on the per-run mean recall@k (vs the in-plan exact baseline)
    * below which the query empties itself — so even a rows-only
    * correctness check fails on recall collapse, not just on a wrong
    * row count. Strictly-greater, like the ExtSpec gate; the mean is
    * computed from exact integer hit counts with one IEEE division, so
    * the comparison can't flip with partition order. Set as a QUALITY
    * bar, not just a collapse detector: measured mean recall@3 with
    * NProbe=4 is 0.70-0.75 across sf0.001/0.01/0.1, so 0.5 trips on any
    * real quantizer/probe regression while leaving honest headroom.
    */
  val MinRecall = 0.5

  private def toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))

  /** Session-lifetime featurized embeddings scan (vec_id, embedding,
    * ML features vector, norm) — the layer below [[indexBase]], on its
    * own memo key so consumers that need ONLY the scan (s22's codebook
    * comparison) don't trigger the coarse-quantizer fit.
    */
  private def embBase(s: SparkSession, dir: String): DataFrame =
    SessionMemo.get[DataFrame](s, s"ivf:emb:$dir") {
      Tables.parquet(s, s"$dir/embeddings.parquet")
        .withColumn("features", toVec(col("embedding")))
        .withColumn("nrm", Similarity.norm(col("embedding")))
        .persistRecorded()
    }

  /** Session-lifetime shared IVF index base — the featurized corpus
    * scan ([[embBase]]), the trained coarse quantizer (a driver-side
    * model object), and the cell assignment. s4, s9, and s21 build the
    * IDENTICAL quantizer (same [[NList]]/seed/iterations over the same
    * hash-ordered [[TrainSample]]), so the KMeans fit runs ONCE per
    * (session, dir) on [[SessionMemo]], whose hits re-arm the persists
    * (the Dedup shingle / Graph co-purchase pattern). At rest this IS
    * the IVF index: fit once, assign once, serve every query batch from
    * the assignment.
    *
    * The quantizer trains on a deterministic fixed-size SAMPLE — at
    * corpus scale it never trains on all vectors; assignment does see
    * every vector. Hash-ordered top-N is size-bounded however the
    * planner renders the limit (TakeOrdered, or a global sort whose
    * limit lets at most N rows per partition cross the exchange) and
    * deterministic, where a fraction-based sample would need a
    * separate COUNT pass to size the fraction.
    */
  private def indexBase(s: SparkSession, dir: String): (DataFrame, org.apache.spark.ml.clustering.KMeansModel, DataFrame) =
    SessionMemo.get[(DataFrame, org.apache.spark.ml.clustering.KMeansModel, DataFrame)](
        s, s"ivf:$dir") {
      val emb = embBase(s, dir)
      val train = emb
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(TrainSample)
      val model = new KMeans().setK(NList).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("features").setPredictionCol("cell")
        .fit(train)
      val corpus = model.transform(emb)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("cell"))
        .persistRecorded()
      (emb, model, corpus)
    }

  def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfTopk(s, dir, broadcastQueries = Similarity.NumQueries <= MaxBroadcastQueries)

  /** [[ivfTopk]] with the probe-join strategy explicit — the registry
    * entry picks by batch size; the spec drives both and asserts row
    * parity.
    */
  def ivfTopk(s: SparkSession, dir: String, broadcastQueries: Boolean): DataFrame = {
    val (emb, model, corpus) = indexBase(s, dir)
    val centroids = model.clusterCenters

    // Query side: nprobe nearest centroids per query vector, computed on
    // the (tiny) broadcast centroid set.
    val bc = s.sparkContext.broadcast(centroids.map(_.toArray))
    val probeCells = udf((a: Seq[Float]) => {
      val q = a.map(_.toDouble).toArray
      bc.value.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < q.length) { val t = q(j) - c(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(NProbe).map(_._1)
    })
    val queries = corpus.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"),
        explode(probeCells(col("embedding"))).as("cell"))

    val probed =
      if (broadcastQueries) corpus.join(broadcast(queries), Seq("cell"))
      else corpus.join(queries, Seq("cell"))
    val cos = probed
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("oid"),
        (Similarity.dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    val ivf = cos.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("oid"), round(col("cos"), 6).as("cos"))

    // Embedded ground truth: the EXACT cosine top-k per query (one more
    // broadcast pass — over the persisted `emb`, NOT the KMeans-
    // transformed `corpus`, so the prediction UDF doesn't rerun for a
    // plan that never reads `cell`), joined back so every IVF row
    // self-reports whether it's a true neighbor and the query's
    // recall@k.
    val qbase = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val exact = Similarity.exactTopk(
        emb.select(col("vec_id"), col("embedding"), col("nrm")), qbase, TopK)
      .select(col("qid"), col("oid"), lit(true).as("exact_hit"))
    val res = ivf.join(exact, Seq("qid", "oid"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
      .withColumn("recall3",
        sum(when(col("exact_hit"), 1L).otherwise(0L))
          .over(Window.partitionBy("qid")).cast("double") / TopK)
      .select(col("qid"), col("rk"), col("oid"), col("cos"),
        col("exact_hit"), col("recall3"))
      .persistRecorded() // tiny (queries×k rows); feeds the output AND the guard

    // Recall guard: if the run's mean recall@k vs the exact baseline
    // falls below MinRecall the guard relation is EMPTY and the whole
    // output empties with it — a rows-only driver check now fails on
    // quality collapse, not just on a missing row. One agg pass over the
    // persisted result (no intermediate distinct): each (qid, oid) row
    // is already unique, so mean recall = Σ hits / (n_queries · k) —
    // exact integer counts, a single IEEE division, strict > gate.
    // denominator = the FULL query count (bounded one-row agg), not the
    // distinct qids present in `res`: a query with zero IVF candidates
    // must count as recall 0 in the gate, not silently drop out
    val nq = qbase.agg(count(lit(1)).as("nq"))
    val guard = res
      .agg(sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(nq))
      .select((col("n_hit").cast("double") /
        (col("nq") * TopK).cast("double")).as("mean_recall"))
      .filter(col("mean_recall") > MinRecall)
      .select(lit(true).as("recall_ok"))
    res.crossJoin(broadcast(guard))
      .orderBy("qid", "rk")
  }

  /** ADC shortlist size per query for S21's refine stage — the top-R
    * candidates by quantized distance that get exact re-ranking
    * (FAISS's IVFPQR / "re-ranking with source codes", Jégou et al.
    * 2011 §V). With the deliberately tiny deterministic S11 codebook
    * (4×16 codes — coarse so it stays training-free and shareable with
    * the s11/s12 oracles) the raw ADC top-3 recall is ~0.06 (s12
    * measures exactly this), so a composed index MUST refine. R is
    * sized to the QUANTIZER's coarseness, not the corpus: measured at
    * sf0.1, ADC top-R recall of the exact top-3 is 0.23/0.48/0.70 at
    * R=32/128/512 against a 0.70 routing ceiling — R=512 recovers the
    * ceiling while keeping full-precision reads bounded at
    * queries×512 rows. A production 8×256 codebook would need R≈2k
    * for the same corpus-independence; either way R never grows with
    * corpus size, only with codebook coarseness.
    */
  val PqShortlist = 512

  /** Floor on S21's mean refined recall@k — set from measurement the
    * same way as [[MinRecall]]: IVF-PQ-R pays the probe miss (true
    * neighbor in an unprobed cell) plus the shortlist miss (ADC ranks
    * a true neighbor below [[PqShortlist]]). With R=512 the measured
    * composite recall@3 EQUALS the 0.70-0.75 routing ceiling at
    * sf0.001/0.01/0.1 (the shortlist loss is fully recovered), so the
    * bar matches s4's: 0.5 trips on any real quantizer/codebook/refine
    * regression while leaving honest headroom.
    */
  val PqMinRecall = 0.5

  /** S21: IVF-PQ composed ANN with exact refine (FAISS IVFPQR / Jégou
    * et al. 2011 §V, the production index shape) — route each query
    * with the S4 coarse quantizer ([[NProbe]] nearest of [[NList]]
    * KMeans cells), score the probed candidates with S11/S12's
    * product-quantizer ADC lookup (per-subspace query→codeword
    * distance table, never the full-precision vectors), keep the ADC
    * top-[[PqShortlist]] per query, and exact-re-rank ONLY that
    * bounded shortlist. The PQ variant quantizes raw vectors, not cell
    * residuals (FAISS `by_residual=false`), which lets the code space
    * be the SAME deterministic S11 codebook across s11/s12/s21 so the
    * three views can't drift.
    *
    * Composition of costs, visible in the embedded ground truth: a
    * true neighbor is lost by routing (its cell unprobed — S4's
    * failure mode) or by the shortlist (ADC ranks it below
    * [[PqShortlist]] — S12's failure mode, which s12 shows is fatal
    * WITHOUT refine: raw ADC top-3 recall ~0.06 on this codebook);
    * `recall3` reports the composite against the exact squared-L2
    * top-k computed in-plan. Like s4/s9, no DuckDB oracle (trained
    * KMeans); the [[PqMinRecall]] guard empties the output on recall
    * collapse so even a rows-only gate fails.
    *
    * Scale shape: the composed index is built ONCE — PQ codes via
    * [[Similarity.pqEncodeFrom]] (one corpus pass against the
    * broadcast 16-row codebook) joined to the cell assignment on
    * vec_id (a co-partitionable keyed join; at rest this IS the IVFPQ
    * index layout: cell-clustered code lists). Per query-batch work:
    * the bounded query spine broadcasts into the probed cells
    * (candidate set ≤ nprobe·cell-occupancy, never all-pairs), the
    * ADC distance is 4 broadcast lookups against the
    * [[Similarity.NumQueries]]×[[Similarity.PqCodes]] table, the
    * shortlist prune is a per-query window over already-pruned
    * candidates, and the refine reads full vectors for ONLY
    * queries×[[PqShortlist]] rows (a broadcast semi-join back into the
    * corpus scan). Nothing reshuffles per query — the full-precision
    * corpus is touched once at index build and once per batch for the
    * bounded shortlist, the point of PQ at 100 TB.
    */
  def ivfpqTopk(s: SparkSession, dir: String): DataFrame = {
    val (emb, model, corpusCells) = indexBase(s, dir)
    val cells = corpusCells.select(col("vec_id"), col("cell"))
    // ONE codebook build serves both the corpus encode and the ADC
    // table below (its TakeOrdered is a corpus pass — don't run it twice)
    val codes = Similarity.pqCodebook(emb.select(col("vec_id"), col("embedding")))
      .persistRecorded() // ≤ PqCodes rows
    // The composed index: PQ codes + routing cell, built once.
    val db = Similarity.pqEncodeWith(emb.select(col("vec_id"), col("embedding")), codes)
      .select(col("vec_id") +:
        (0 until Similarity.PqSubSpaces).map(m => col(s"code$m")): _*)
      .join(cells, "vec_id")
      .persistRecorded()
    // Query side: probe cells (identical distance logic to ivfTopk) +
    // the bounded query→codeword ADC table.
    val bc = s.sparkContext.broadcast(model.clusterCenters.map(_.toArray))
    val probeCells = udf((a: Seq[Float]) => {
      val q = a.map(_.toDouble).toArray
      bc.value.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < q.length) { val t = q(j) - c(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(NProbe).map(_._1)
    })
    val q = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val probes = q.select(col("qid"),
      explode(probeCells(col("qe"))).as("cell"))
    val qcd = q.crossJoin(broadcast(codes)).select(
      Seq(col("qid"), col("cid")) ++ (0 until Similarity.PqSubSpaces).map { m =>
        val qs = Similarity.sub(col("qe"), m); val cs = Similarity.sub(col("ce"), m)
        (Similarity.dot(qs, qs) + Similarity.dot(cs, cs) -
          lit(2.0) * Similarity.dot(qs, cs)).as(s"qd$m")
      }: _*)
    val cand = db.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
    val withD = (0 until Similarity.PqSubSpaces).foldLeft(cand) { (acc, m) =>
      val qm = qcd.select(col("qid").as(s"q$m"), col("cid").as(s"k$m"), col(s"qd$m"))
      acc.join(broadcast(qm),
        acc("qid") === col(s"q$m") && acc(s"code$m") === col(s"k$m"))
        .drop(s"q$m", s"k$m")
    }
    // ADC shortlist: top-R per query by quantized distance only.
    val shortlist = withD
      .withColumn("adc",
        (0 until Similarity.PqSubSpaces).map(m => col(s"qd$m")).reduce(_ + _))
      .withColumn("srk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id"))))
      .filter(col("srk") <= PqShortlist)
      .select(col("qid"), col("vec_id").as("oid"), col("adc"))
    // Refine: exact squared L2 for ONLY the bounded shortlist — the
    // shortlist (queries×R rows) broadcasts into one corpus scan.
    val refined = emb.select(col("vec_id").as("oid"), col("embedding"))
      .join(broadcast(shortlist), Seq("oid"))
      .join(broadcast(q), Seq("qid"))
      .select(col("qid"), col("oid"), col("adc"),
        (Similarity.dot(col("embedding"), col("embedding")) +
          Similarity.dot(col("qe"), col("qe")) -
          lit(2.0) * Similarity.dot(col("qe"), col("embedding"))).as("d2"))
    val ivfpq = refined
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("oid"))))
      .filter(col("rk") <= TopK)
      .select(col("qid"), col("rk"), col("oid"),
        round(col("adc"), 6).as("adc"), round(col("d2"), 6).as("d2"))
    // Embedded ground truth: exact squared-L2 top-k (ADC approximates
    // squared L2, so the baseline metric matches — s12's choice).
    val etop = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (Similarity.dot(col("embedding"), col("embedding")) +
          Similarity.dot(col("qe"), col("qe")) -
          lit(2.0) * Similarity.dot(col("qe"), col("embedding"))).as("d2"))
      .withColumn("erk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("erk") <= TopK)
      .select(col("qid"), col("vec_id").as("oid"), lit(true).as("exact_hit"))
    val res = ivfpq.join(etop, Seq("qid", "oid"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
      .withColumn("recall3",
        sum(when(col("exact_hit"), 1L).otherwise(0L))
          .over(Window.partitionBy("qid")).cast("double") / TopK)
      .persistRecorded() // tiny (queries×k rows); feeds the output AND the guard
    // s4's collapse guard, at the composed-index bar.
    val nq = q.agg(count(lit(1)).as("nq"))
    val guard = res
      .agg(sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_hit"))
      .crossJoin(broadcast(nq))
      .select((col("n_hit").cast("double") /
        (col("nq") * TopK).cast("double")).as("mean_recall"))
      .filter(col("mean_recall") > PqMinRecall)
      .select(lit(true).as("recall_ok"))
    res.crossJoin(broadcast(guard))
      .select(col("qid"), col("rk"), col("oid"), col("adc"), col("d2"),
        col("exact_hit"), col("recall3"), col("recall_ok"))
      .orderBy("qid", "rk")
  }

  /** The nprobe values S9 sweeps (≤ [[NList]]). */
  val ProbeGrid: Seq[Int] = Seq(1, 2, 4, 8)

  /** S9: recall-vs-nprobe sweep — for each probe width in [[ProbeGrid]],
    * the mean recall@[[TopK]] against the in-plan exact baseline and the
    * mean candidate count per query: the tuning curve every real ANN
    * deployment reads before fixing its latency/recall point (FAISS'
    * nprobe knob). Shares the quantizer, probe logic, and exact-top-k
    * construction with [[ivfTopk]] so the curve describes exactly the
    * operator s4 ships.
    *
    * One probe pass at the WIDEST grid value does all the work: each
    * candidate row carries the probe RANK of the cell that produced it,
    * and narrower widths are `prank ≤ p` filters over the same relation
    * — the sweep never re-joins the corpus per grid point. Like s4, not
    * SQL-expressible (KMeans); the embedded exact baseline is the
    * ground truth and the spec gates monotonicity.
    */
  def probeSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (emb, model, corpus) = indexBase(s, dir)
    val maxProbe = ProbeGrid.max
    val bc = s.sparkContext.broadcast(model.clusterCenters.map(_.toArray))
    // (cell, probe_rank) pairs for the widest width — identical distance
    // logic to ivfTopk's probeCells
    val probeRanked = udf((a: Seq[Float]) => {
      val q = a.map(_.toDouble).toArray
      bc.value.zipWithIndex.map { case (c, i) =>
        var d = 0.0
        var j = 0
        while (j < q.length) { val t = q(j) - c(j); d += t * t; j += 1 }
        (i, d)
      }.sortBy(_._2).take(maxProbe).zipWithIndex
        .map { case ((cell, _), r) => (cell, r + 1) }
    })
    val queries = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"),
        explode(probeRanked(col("embedding"))).as("pc"))
      .select(col("qid"), col("qe"), col("qn"),
        col("pc._1").as("cell"), col("pc._2").as("prank"))
    val cand = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("prank"), col("vec_id").as("oid"),
        (Similarity.dot(col("qe"), col("embedding")) / (col("qn") * col("nrm")))
          .as("cos"))
      .persistRecorded() // one probe pass feeds every grid point
    val qbase = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val exact = Similarity.exactTopk(
        emb.select(col("vec_id"), col("embedding"), col("nrm")), qbase, TopK)
      .select(col("qid"), col("oid"), lit(true).as("exact_hit"))
    // One relation serves every grid point (the e13 expansion pattern):
    // a candidate produced at probe rank r belongs to every sweep width
    // p ≥ r, so each row explodes into its ≤|grid| memberships and ONE
    // window over (qid, nprobe) ranks all sweep points together —
    // instead of a window + two aggs PER grid point (26 shuffles → the
    // r10 audit's improvement item). Expansion factor is the constant
    // grid size, never corpus-proportional.
    val gridArr = array(ProbeGrid.sorted.map(lit): _*)
    val candGrid = cand
      .select(col("qid"), col("oid"), col("cos"),
        explode(filter(gridArr, p => p >= col("prank"))).as("nprobe"))
    val hits = candGrid
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid", "nprobe").orderBy(col("cos").desc, col("oid"))))
      .filter(col("rk") <= TopK)
      .join(exact, Seq("qid", "oid"), "left")
      .groupBy("nprobe")
      .agg(sum(when(col("exact_hit"), 1L).otherwise(0L)).as("n_hit"))
    val nCand = candGrid.groupBy("nprobe").agg(count(lit(1)).as("n_cand"))
    // Denominator = the FULL query count (one bounded agg), not the
    // distinct qids that happened to produce candidates: a query with
    // zero candidates at a narrow width counts as recall 0 instead of
    // silently dropping out (which inflated narrow-width recall and
    // weakened the monotonicity guarantee). With the full-count
    // denominator, monotonicity is exact: widening the probe only adds
    // candidates, and an exact-top-k member can never be displaced from
    // the IVF top-k by a non-member (members are the k highest cosines).
    val nq = qbase.agg(count(lit(1)).as("nq"))
    // grid points with zero candidates still emit their row (left joins
    // from the literal grid relation; n_hit/n_cand coalesce to 0)
    val gridDf = ProbeGrid.sorted.toDF("nprobe")
    gridDf
      .join(hits, Seq("nprobe"), "left")
      .join(nCand, Seq("nprobe"), "left")
      .crossJoin(broadcast(nq))
      .select(col("nprobe"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          (col("nq") * TopK).cast("double"), 6).as("mean_recall"),
        round(coalesce(col("n_cand"), lit(0L)).cast("double") /
          col("nq").cast("double"), 2).as("mean_candidates"))
      .orderBy("nprobe")
  }

  // ------------------------------------------------ S22 trained PQ gain

  /** S22: Lloyd-trained PQ codebooks vs the S11 fixed codebook — per
    * subspace, fit a KMeans subquantizer (k = [[Similarity.PqCodes]],
    * the ACTUAL training step of Jégou et al. 2011 §III that S11's
    * deterministic seed-vector codebook deliberately skips to stay
    * SQL-expressible) and report the corpus mean squared reconstruction
    * error under BOTH codebooks plus the relative gain. Quantifies
    * exactly what the training-free determinism trade costs — the
    * number a production deployment reads before deciding whether the
    * s11/s12/s21 code space needs the trained upgrade.
    *
    * Self-checking (rows-only, like s4/s9/s21 — trained KMeans): the
    * Lloyd run is INITIALIZED FROM THE FIXED CODEBOOK's own 16 points,
    * so by Lloyd's monotonicity the trained codebook's SSE on the
    * training sample is ≤ the fixed codebook's by construction — the
    * refinement can only improve its own starting point (initializing
    * elsewhere would void that claim: monotonicity only bounds SSE
    * relative to the run's OWN init). The output EMPTIES iff the
    * driver-side SAMPLE SSE of the trained codebook exceeds the fixed
    * codebook's — the invariant Lloyd-from-fixed-init actually proves
    * (r15, closing the r14 advice: the previous strictly-positive
    * CORPUS-gain guard was a data-dependent flake — a Lloyd fixed
    * point or held-out non-improvement is not a broken fit). Corpus
    * gain stays an EMITTED column (`gain`), judged not gated.
    *
    * Scale shape: the Lloyd fits run DRIVER-SIDE on the collected
    * bounded [[TrainSample]] (≤2000×64 floats — the FAISS shape:
    * subquantizers train on an in-process sample, never the corpus;
    * distributing a 2000-point k=16 fit is pure scheduler overhead,
    * measured ~2s of ML-fit fixed cost for microseconds of math);
    * encoding is ONE corpus pass against both broadcast centroid
    * tables (the Ivf vector-interop UDF class); the comparison
    * relation is [[Similarity.PqSubSpaces]] rows. Nothing after the
    * encode pass grows with the corpus.
    */
  /** Deterministic Lloyd iterations from an EXPLICIT initialization:
    * `iters` assign/update rounds, an emptied cluster keeps its
    * previous centroid. Each round weakly decreases SSE on `pts`
    * (Lloyd's monotonicity) — which is why [[pqTrainGain]] seeds this
    * with the fixed codebook: the result is then ≤ the init's sample
    * SSE by construction, the invariant its guard states.
    */
  private def lloyd(pts: Array[Array[Double]], init: Array[Array[Double]],
                    iters: Int): Array[Array[Double]] = {
    val d = pts(0).length
    val k = init.length
    var cents = init.map(_.clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var dist = 0.0; var j = 0
          while (j < d) { val t = p(j) - cents(c)(j); dist += t * t; j += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        var j = 0
        while (j < d) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      cents = (0 until k).map { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    cents
  }

  def pqTrainGain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = embBase(s, dir) // featurized scan only — no quantizer fit
    val dim = Similarity.PqSubDim
    val nSub = Similarity.PqSubSpaces
    // fixed codebook first: S11's seed vectors, sliced per subspace —
    // it is ALSO the Lloyd initialization (see guard invariant)
    val fixed: Array[Array[Array[Double]]] = {
      val seeds = Similarity.pqCodebook(emb.select(col("vec_id"), col("embedding")))
        .select(col("ce")).collect() // ≤ PqCodes rows — provably bounded
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      (0 until nSub).map(m =>
        seeds.map(v => v.slice(m * dim, (m + 1) * dim))).toArray
    }
    // trained codebooks: per-subspace Lloyd on the SHARED hash-ordered
    // train sample, collected once (provably bounded — TrainSample rows),
    // INITIALIZED from the fixed codebook so sample SSE can only improve
    val sample: Array[Array[Double]] = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TrainSample)
      .select(col("embedding"))
      .collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val trained: Array[Array[Array[Double]]] = (0 until nSub).map { m =>
      lloyd(sample.map(v => v.slice(m * dim, (m + 1) * dim)), fixed(m), 10)
    }.toArray
    val bcT = s.sparkContext.broadcast(trained)
    val bcF = s.sparkContext.broadcast(fixed)
    // one corpus pass computes BOTH per-subspace min squared distances
    // (vector-interop UDF, the probeCells class)
    val errs = udf((a: Seq[Float]) => {
      val v = a.map(_.toDouble).toArray
      (0 until bcT.value.length).flatMap { m =>
        def minD(books: Array[Array[Array[Double]]]): Double = {
          var best = Double.MaxValue
          books(m).foreach { c =>
            var d = 0.0
            var j = 0
            while (j < c.length) { val t = v(m * c.length + j) - c(j); d += t * t; j += 1 }
            if (d < best) best = d
          }
          best
        }
        Seq((m, minD(bcT.value), minD(bcF.value)))
      }
    })
    val per = emb.select(explode(errs(col("embedding"))).as("e"))
      .select(col("e._1").as("subspace"), col("e._2").as("te"), col("e._3").as("fe"))
      .groupBy("subspace")
      .agg(count(lit(1)).as("n_vectors"),
        avg("te").as("tmse"), avg("fe").as("fmse"))
      .persistRecorded() // nSub rows, UNROUNDED; feeds the output
    // guard: SAMPLE-SSE non-increase — the invariant Lloyd actually
    // proves (r14 ADVICE: the previous strictly-positive CORPUS gain
    // was a data-dependent flake — monotonicity only bounds SSE on the
    // training sample relative to the run's own init; a fixed point or
    // held-out non-improvement would empty the output spuriously).
    // Computed driver-side on the bounded collected sample, exact.
    def sampleSse(books: Array[Array[Array[Double]]]): Double =
      (0 until nSub).map { m =>
        sample.map { v =>
          var best = Double.MaxValue
          books(m).foreach { c =>
            var d = 0.0; var j = 0
            while (j < c.length) { val t = v(m * dim + j) - c(j); d += t * t; j += 1 }
            if (d < best) best = d
          }
          best
        }.sum
      }.sum
    val sampleOk = sampleSse(trained) <= sampleSse(fixed) * (1 + 1e-9) + 1e-9
    val guard = s.range(1).filter(lit(sampleOk))
      .select(lit(true).as("trained_wins"))
    per
      .select(col("subspace"), col("n_vectors"),
        round(col("tmse"), 6).as("trained_mse"),
        round(col("fmse"), 6).as("fixed_mse"),
        round(lit(1.0) - col("tmse") / col("fmse"), 6).as("gain"))
      .crossJoin(broadcast(guard))
      .orderBy("subspace")
  }
}
