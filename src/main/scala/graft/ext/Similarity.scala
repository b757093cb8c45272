package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.SessionMemo.PersistRecorded

/** Embedding similarity search over the `embeddings` table (64-dim
  * Array[Float]): brute-force cosine top-k as the exactness baseline and
  * a sign-LSH (random-hyperplane) bucketed variant as the scale path.
  *
  * Determinism across engines: Spark-side dot products are the native
  * [[graft.plans.DotProductExpr]] (one codegen'd node — ascending-index
  * multiply, left-associative fold), DuckDB's are unrolled
  * left-associative chains `e[1]*f[1] + e[2]*f[2] + …` — the identical
  * IEEE-754 op sequence, so cosines are bit-equal and no comparison
  * rounding is needed. (The Spark side previously unrolled the same
  * chain as ~192 builtin nodes; Catalyst analysis of those trees cost
  * more driver time than execution — `Profile phases` splits
  * the two.) Hyperplane signs are ±1 literals from a deterministic integer
  * mix: literal float arrays on the Spark side, inline constants in the
  * SQL.
  *
  * Scale path: the query side is broadcast (top-k against a fixed query
  * set is a map-side join); the LSH variant shuffles once on the bucket
  * code. An IVF refinement would replace the code by a learned coarse
  * centroid id — same join shape.
  */
object Similarity {

  val Dim = 64

  private def t(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/embeddings.parquet")

  /** Left-assoc dot product of two Array[Float] columns — the native
    * codegen'd [[graft.plans.DotProductExpr]], resolved through the
    * `graft_dot` registration ([[graft.plans.GraftExtensions]]; Verify,
    * Bench, and the spec session all register it).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def dotSql(a: String, b: String): String = prefixDotSql(a, b, Dim)

  /** Left-assoc dot over the first `d` components only — the oracle dual
    * of `graft_dot(slice(a,1,d), slice(b,1,d))`: both engines multiply
    * ascending indexes and fold left, so prefix dots are bit-equal.
    */
  def prefixDotSql(a: String, b: String, d: Int): String =
    (1 to d).map(i =>
      s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)").mkString(" + ")

  def norm(a: Column): Column = sqrt(dot(a, a))
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))

  private val normCte =
    s"en AS (SELECT vec_id, embedding, label, ${normSql("embedding")} AS nrm FROM embeddings)"

  val NumQueries = 20
  val TopK = 5

  /** Exact cosine top-k of `corpus` (`vec_id`/`embedding`/`nrm`) against
    * a broadcast query side (`qid`/`qe`/`qn`) — the one brute-force plan
    * shape, shared by the S1 baseline and IVF's embedded ground truth.
    * The corpus side stays partitioned and never shuffles; ranking is a
    * per-query window.
    */
  def exactTopk(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("oid"),
        (dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))))
      .filter(col("rk") <= k)

  /** S1: brute-force cosine top-k — queries (vec_id < 20) are broadcast
    * against the full corpus.
    */
  def cosineTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    exactTopk(emb, q, TopK)
      .select(col("qid"), col("rk"), col("oid"), col("cos"))
      .orderBy("qid", "rk")
  }

  val cosineTopkSql: String = s"""WITH $normCte,
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM en WHERE vec_id < $NumQueries),
    cos AS (
      SELECT qid, en.vec_id AS oid,
        (${dotSql("qe", "en.embedding")}) / (qn * nrm) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id != qid)
    SELECT qid, rk, oid, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rk FROM cos)
    WHERE rk <= $TopK ORDER BY qid, rk"""

  // ------------------------------------------------------- sign-LSH (ANN)

  val NumPlanes = 8
  val NeardupPlanes = 16
  val NeardupBands = 2
  val NeardupBandBits: Int = NeardupPlanes / NeardupBands

  /** Deterministic ±1 hyperplane signs (Knuth multiplicative mix). */
  def planeSign(j: Int, d: Int): Double =
    if ((((j * Dim + d) * 2654435761L >>> 16) & 1L) == 1L) 1.0 else -1.0

  private def code(e: Column, planes: Int): Column =
    (0 until planes).map { j =>
      // plane as ONE literal float-array node; ±1f·x ≡ the ±1.0·x the
      // SQL chain computes (float→double widening is exact for ±1)
      val plane = typedLit((0 until Dim).map(d => planeSign(j, d).toFloat))
      val proj = dot(e, plane)
      shiftleft(when(proj > 0, 1L).otherwise(0L), j)
    }.reduce(_ + _)

  private def codeSql(e: String, planes: Int): String =
    (0 until planes).map { j =>
      val proj = (1 to Dim).map(d =>
        s"(${planeSign(j, d - 1)})*CAST($e[$d] AS DOUBLE)").mkString(" + ")
      s"(CASE WHEN ($proj) > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $j)"
    }.mkString(" + ")

  /** S2: LSH-bucketed ANN top-3 — 8 hyperplanes → 256 buckets; candidates
    * share the query's bucket; exact cosine re-rank within. One shuffle
    * on the code; recall trades off via `NumPlanes`.
    */
  def lshAnnTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir)).withColumn("code", code(col("embedding"), NumPlanes))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("code"))
    val cos = emb.join(broadcast(q), Seq("code"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("oid"),
        (dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    cos.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("cos").desc, col("oid"))))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("oid"), col("cos"))
      .orderBy("qid", "rk")
  }

  val lshAnnTopkSql: String = s"""WITH $normCte,
    coded AS (SELECT *, ${codeSql("embedding", NumPlanes)} AS code FROM en),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn, code FROM coded WHERE vec_id < $NumQueries),
    cos AS (
      SELECT qid, c.vec_id AS oid,
        (${dotSql("qe", "c.embedding")}) / (qn * c.nrm) AS cos
      FROM coded c JOIN q ON c.code = q.code WHERE c.vec_id != qid)
    SELECT qid, rk, oid, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rk FROM cos)
    WHERE rk <= 3 ORDER BY qid, rk"""

  /** Band-bucket occupancy cap for [[cosineNeardup]] — the
    * [[graft.ext.Dedup.MaxShingleDf]] of the embedding tier. Band values
    * are 8-bit, so at corpus size N each bucket holds ~N/256 vectors and
    * the self-join's candidate set grows O(N²/256) — quadratic death at
    * the 100 TB design point. A bucket held by more than this many
    * vectors is dropped from candidate generation BEFORE the self-join,
    * bounding every bucket to cap² pairs (≤ 2·256·cap² candidates total,
    * a constant independent of N). Recall trade, exactly MaxShingleDf's:
    * a pair is missed only if EVERY band it agrees on is over-occupied;
    * pairs sharing any surviving band are kept — and an over-occupied
    * bucket is the sign-LSH analogue of a stop-shingle (a region so
    * dense that band agreement carries no near-dup signal). At sf0.1 the
    * max observed occupancy is 123, so the cap is latent there; the
    * ExtSpec fixture drives it hot and pins that the true near-dup pair
    * survives via its other band.
    */
  val MaxBandDf = 256

  /** S3: embedding near-dup — 16-plane sign code banded into 2×8-bit
    * bands (the D3/MinHash banding shape): candidates are pairs agreeing
    * on a full band (256 bucket values per band, so each join bucket
    * holds ~N/256 vectors — never the O(N²/16) all-pairs a 16-bucket
    * code produces), occupancy-capped by [[MaxBandDf]],
    * distinct-deduped, then exact cosine re-rank via two joins back to
    * the embeddings. Pigeonhole: any pair differing in ≤1 of the 16
    * sign bits is guaranteed a shared band (subject to the cap).
    * Top-20 pairs.
    */
  def cosineNeardup(s: SparkSession, dir: String): DataFrame =
    cosineNeardupFrom(withNorm(t(s, dir)), MaxBandDf)

  /** [[cosineNeardup]] over an explicit corpus (`vec_id`/`embedding`/
    * `nrm`) with an explicit cap — the spec drives a crafted fixture
    * through it to pin the cap's recall behavior.
    */
  def cosineNeardupFrom(emb0: DataFrame, maxBandDf: Int): DataFrame = {
    val emb = emb0.withColumn("code", code(col("embedding"), NeardupPlanes))
    // persist the (vec_id, blk, bval) banding — 2 longs + an int per
    // vector, the narrowest relation in the plan — so the 16×64-term
    // sign-code expression evaluates ONCE per vector instead of three
    // times (occupancy agg + both self-join sides)
    val bands = emb.select(col("vec_id"), explode(array(
      (0 until NeardupBands).map(b => struct(lit(b).as("blk"),
        shiftright(col("code"), b * NeardupBandBits)
          .bitwiseAND(lit((1L << NeardupBandBits) - 1)).as("bval"))): _*)).as("e"))
      .select(col("vec_id"), col("e.blk"), col("e.bval"))
      .persistRecorded()
    // the keep relation is ≤ 2·256 rows BY CONSTRUCTION (one row per
    // (band, 8-bit value)) — provably bounded, so the hint is sound
    val keep = bands.groupBy("blk", "bval").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxBandDf)
      .select("blk", "bval")
    val kept = bands.join(broadcast(keep), Seq("blk", "bval"))
    val cand = kept.as("x").join(kept.as("y"), Seq("blk", "bval"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    val ea = emb.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
    val eb = emb.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = cand.join(ea, "va").join(eb, "vb")
      .select(col("va"), col("vb"),
        (dot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
    // TakeOrdered top-20, then rank the survivors (no full-pair-set
    // single-partition window).
    pairs.orderBy(col("cos").desc, col("va"), col("vb")).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cos").desc, col("va"), col("vb"))))
      .select(col("rk"), col("va"), col("vb"), col("cos"))
  }

  // --------------------------------------------------- centroid outliers

  val OutlierK = 3
  val OutlierBuckets = 64

  /** S5: per-label centroid outliers — for each label, the
    * [[OutlierK]] vectors farthest (lowest cosine) from their label's
    * centroid: the embedding-space curation step that prunes mislabeled
    * or off-distribution examples before training.
    *
    * Determinism: the centroid is position-wise exact — float values
    * widen to double (exact) and accumulate in DECIMAL(28,10) (the
    * HistStats pattern, partition-order independent), one IEEE division
    * by the exact count, then ONE rounding to float32 per component
    * (both engines round-to-nearest-even on the same double). Cosines
    * then go through the same [[dot]]/`graft_dot` left-assoc chain as
    * every other similarity query, so ranking compares bit-identical
    * doubles; ties break on vec_id.
    *
    * Scale shape: the centroid relation is (labels × dim) rows — small
    * for any real label vocabulary, but label cardinality is
    * data-derived, so join selection is left to the planner's
    * size-based choice (the CLAUDE.md broadcast rule). The corpus is
    * touched by one posexplode aggregate and one row-wise projection.
    * A label's membership is corpus-sized, so the per-label ranking is
    * two-phase exactly like [[graft.ext.TextOps.vocabTopk]]: rank
    * inside (label, [[OutlierBuckets]]-way vec_id-hash bucket) first,
    * keep each bucket's top [[OutlierK]], and only ≤ buckets·K rows
    * reach the per-label final window. The global bottom-K by (cos,
    * vec_id) is a subset of the union of bucket bottom-Ks, so the
    * phases lose nothing; the oracle states the naive single-window
    * form and both agree exactly.
    */
  def centroidOutliers(s: SparkSession, dir: String): DataFrame =
    centroidOutliersFrom(withNorm(t(s, dir)))

  /** [[centroidOutliers]] over an explicit corpus (`label`/`vec_id`/
    * `embedding`/`nrm`) — the spec plants a known outlier through it.
    */
  def centroidOutliersFrom(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sums = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(col("v").cast("double").cast(DecimalType(28, 10))).cast("double") /
        count(lit(1)).cast("double")).as("c"))
    // deterministic assembly: collect (pos, c) structs, sort by pos,
    // project the component — collect_list order never matters
    val centroids = sums.groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x("c").cast("float")).as("centroid"))
    val withC = emb.join(centroids, "label")
    val cos = (dot(col("embedding"), col("centroid")) /
      (col("nrm") * sqrt(dot(col("centroid"), col("centroid"))))).as("cos")
    val scored = withC.select(col("label"), col("vec_id"), cos)
    val w1 = Window.partitionBy(col("label"),
        pmod(xxhash64(col("vec_id")), lit(OutlierBuckets.toLong)))
      .orderBy(col("cos"), col("vec_id"))
    scored.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= OutlierK)
      .withColumn("rk", row_number().over(
        Window.partitionBy("label").orderBy(col("cos"), col("vec_id"))))
      .filter(col("rk") <= OutlierK)
      .select(col("label"), col("rk"), col("vec_id"), col("cos"))
      .orderBy("label", "rk")
  }

  val centroidOutliersSql: String = s"""WITH $normCte,
    pos AS (
      SELECT label, CAST(i - 1 AS INT) AS pos, embedding[CAST(i AS INT)] AS v
      FROM (SELECT label, embedding, unnest(range(1, $Dim + 1)) AS i FROM en)),
    sums AS (
      SELECT label, pos,
        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS c
      FROM pos GROUP BY 1, 2),
    cents AS (
      SELECT label, list(CAST(c AS FLOAT) ORDER BY pos) AS centroid
      FROM sums GROUP BY 1),
    scored AS (
      SELECT en.label, vec_id,
        (${dotSql("embedding", "centroid")}) /
          (nrm * sqrt(${dotSql("centroid", "centroid")})) AS cos
      FROM en JOIN cents ON en.label = cents.label)
    SELECT label, rk, vec_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos, vec_id) AS rk
      FROM scored)
    WHERE rk <= $OutlierK ORDER BY label, rk"""

  // ------------------------------------------------- int8 quantization

  /** S6: per-dimension int8 (asymmetric min/max) embedding quantization
    * + reconstruction-error report — the storage-shrink step of a
    * vector index build (4× over float32; IVF/LSH recall is then
    * re-validated against columns like these). Per dimension the corpus
    * min/max define scale = (max−min)/255; each component quantizes to
    * q = ⌊(v−min)/scale + 0.5⌋ and reconstructs as min + q·scale. Emits
    * per vector the max absolute error, the left-assoc-folded squared
    * error, and the quantized checksum Σ q·(pos+1) (an exact integer —
    * the gate pins the CODES, not just the error magnitudes).
    *
    * Determinism: min/max of float32 values are exact; scale is one
    * IEEE division; ⌊x+0.5⌋ is stated identically in both engines (not
    * the engine-native `round`, whose half-away/half-even conventions
    * are not worth reconciling); the squared-error fold is
    * left-associative ascending-index — the same op sequence as the
    * oracle's unrolled chain — and max_abs_err is an order-free max of
    * identical doubles. round(…, 9) only at the comparison boundary.
    *
    * Scale shape: the stats side is one posexplode aggregate to a
    * Dim-row relation (64 rows — provably bounded, broadcast as two
    * sorted literal arrays via the S5 centroid-assembly pattern); the
    * corpus is touched by exactly one further row-wise projection. No
    * shuffle of embeddings, no window, no driver collect.
    */
  def quantError(s: SparkSession, dir: String): DataFrame =
    quantErrorFrom(t(s, dir))

  /** [[quantError]] over an explicit corpus (`vec_id`/`embedding`) —
    * the spec pins exact q codes on a crafted two-vector fixture.
    */
  def quantErrorFrom(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
    // Dim-row relation → two position-sorted literal arrays (the S5
    // centroid assembly), broadcast: provably bounded at Dim rows
    val arrs = dims.groupBy()
      .agg(
        transform(sort_array(collect_list(struct(col("pos"), col("mn")))),
          x => x("mn")).as("mns"),
        transform(sort_array(collect_list(struct(col("pos"), col("mx")))),
          x => x("mx")).as("mxs"))
    val withA = emb.crossJoin(broadcast(arrs))
    def mnAt(i: Column) = element_at(col("mns"), i)
    def scAt(i: Column) = (element_at(col("mxs"), i) - element_at(col("mns"), i)) / lit(255.0)
    def vAt(i: Column) = element_at(col("embedding"), i).cast("double")
    // q = ⌊(v−min)/scale + 0.5⌋ clamped to [0,255]; degenerate dims
    // (scale 0: constant columns) quantize to 0
    def qAt(i: Column) =
      when(scAt(i) === 0.0, lit(0L)).otherwise(
        least(greatest(floor((vAt(i) - mnAt(i)) / scAt(i) + lit(0.5)), lit(0L)), lit(255L)))
    def errAt(i: Column) =
      vAt(i) - (mnAt(i) + qAt(i).cast("double") * scAt(i))
    val idx = sequence(lit(1), lit(Dim))
    withA.select(
      col("vec_id"),
      aggregate(idx, lit(0L), (acc, i) => acc + qAt(i) * i).as("q_checksum"),
      round(array_max(transform(idx, i => abs(errAt(i)))), 9).as("max_abs_err"),
      round(aggregate(idx, lit(0.0), (acc, i) => acc + errAt(i) * errAt(i)), 9)
        .as("sq_err"))
      .orderBy("vec_id")
  }

  /** DuckDB oracle for [[quantError]]. The squared-error sum folds a
    * position-ORDERED list through list_reduce (prepended 0.0) — the
    * identical left-associative ascending-index op sequence as the
    * Spark-side `aggregate` fold, so no aggregate-order nondeterminism
    * enters; checksum and max are order-free. (An unrolled 64-term
    * chain with the CASE-guarded q inlined would be ~100 KB of SQL —
    * the fold form is the same arithmetic.)
    */
  val quantErrorSql: String = s"""WITH pos AS (
      SELECT vec_id, CAST(i - 1 AS INT) AS pos,
        CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
      FROM (SELECT vec_id, embedding, unnest(range(1, $Dim + 1)) AS i FROM embeddings)),
    dims AS (SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM pos GROUP BY 1),
    pv AS (
      SELECT vec_id, pos.pos, v, mn, (mx - mn) / 255.0 AS sc
      FROM pos JOIN dims ON pos.pos = dims.pos),
    qe AS (
      SELECT vec_id, pos, v, mn, sc,
        CASE WHEN sc = 0.0 THEN CAST(0 AS BIGINT)
             ELSE LEAST(GREATEST(CAST(floor((v - mn) / sc + 0.5) AS BIGINT), 0), 255)
        END AS q
      FROM pv),
    err AS (
      SELECT vec_id, pos, q, (v - (mn + CAST(q AS DOUBLE) * sc)) AS e FROM qe)
    SELECT vec_id,
      CAST(SUM(q * (pos + 1)) AS BIGINT) AS q_checksum,
      ROUND(MAX(abs(e)), 9) AS max_abs_err,
      ROUND(list_reduce(list_prepend(0.0, list(e * e ORDER BY pos)),
        (a, b) -> a + b), 9) AS sq_err
    FROM err GROUP BY vec_id ORDER BY vec_id"""

  // ------------------------------------------- S7 centroid separation

  /** S7: label-centroid separation matrix — pairwise cosine between
    * every two label centroids plus the member counts, ranked most-
    * confusable first. The embedding-space confusion report of a
    * labeled corpus: two centroids with high cosine are labels the
    * downstream model (or the S5 outlier pruner, which shares the exact
    * centroid construction) cannot separate; real curation merges or
    * re-audits them. Complements S5: S5 scores members against their
    * own centroid, S7 scores the centroids against each other.
    *
    * Determinism: centroids are the S5 position-wise exact DECIMAL
    * means rounded once to float32; pairwise cosines run the same
    * `graft_dot` left-assoc chain both engines state, so values are
    * bit-equal and rank ties break on the label pair.
    *
    * Scale shape: one posexplode aggregate over the corpus (map-side
    * partials on (label, pos)); everything after is arithmetic on the
    * labels-sized centroid relation. The pairwise step is a triangular
    * self-join bounded by label-vocabulary² — stat-sized for any real
    * label set, and label cardinality is data-derived so the join
    * strategy is left to the planner (the CLAUDE.md broadcast rule).
    * The ranking window orders that same bounded relation.
    */
  def centroidSeparation(s: SparkSession, dir: String): DataFrame =
    centroidSeparationFrom(t(s, dir))

  /** [[centroidSeparation]] over an explicit (`vec_id`/`embedding`/
    * `label`) corpus — the spec plants colinear and orthogonal label
    * populations through it.
    */
  def centroidSeparationFrom(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sums = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg((sum(col("v").cast("double").cast(DecimalType(28, 10))).cast("double") /
        count(lit(1)).cast("double")).as("c"))
    val centroids = sums.groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
        x => x("c").cast("float")).as("centroid"))
    val members = emb.groupBy("label").agg(count(lit(1)).as("n"))
    // label-grain, but consumed by BOTH pair sides: unpersisted, the
    // posexplode centroid build over the corpus executed twice
    // (`tools/Audit` dup check; the two-leg rule)
    val cents = centroids.join(members, "label").persistRecorded()
    val a = cents.select(col("label").as("label_a"), col("centroid").as("ca"),
      col("n").as("n_a"))
    val b = cents.select(col("label").as("label_b"), col("centroid").as("cb"),
      col("n").as("n_b"))
    val pairs = a.join(b, col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        (dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) * sqrt(dot(col("cb"), col("cb")))))
          .as("cos_centroid"))
    pairs.withColumn("rk", row_number().over(
        Window.orderBy(col("cos_centroid").desc, col("label_a"), col("label_b"))))
      .select(col("rk"), col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        col("cos_centroid"))
      .orderBy("rk")
  }

  val centroidSeparationSql: String = s"""WITH pos AS (
      SELECT label, CAST(i - 1 AS INT) AS pos, embedding[CAST(i AS INT)] AS v
      FROM (SELECT label, embedding, unnest(range(1, $Dim + 1)) AS i FROM embeddings)),
    sums AS (
      SELECT label, pos,
        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS c
      FROM pos GROUP BY 1, 2),
    cents AS (
      SELECT label, list(CAST(c AS FLOAT) ORDER BY pos) AS centroid
      FROM sums GROUP BY 1),
    nm AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b, na.n AS n_a, nb.n AS n_b,
        (${dotSql("a.centroid", "b.centroid")}) /
          (sqrt(${dotSql("a.centroid", "a.centroid")}) *
           sqrt(${dotSql("b.centroid", "b.centroid")})) AS cos_centroid
      FROM cents a JOIN cents b ON a.label < b.label
        JOIN nm na ON na.label = a.label JOIN nm nb ON nb.label = b.label)
    SELECT rk, label_a, label_b, n_a, n_b, cos_centroid FROM (
      SELECT *, row_number() OVER (ORDER BY cos_centroid DESC, label_a, label_b) AS rk
      FROM pairs)
    ORDER BY rk"""

  val cosineNeardupSql: String = {
    val bandRows = (0 until NeardupBands).map(b =>
      s"SELECT vec_id, $b AS blk, (code >> ${b * NeardupBandBits}) & ${(1L << NeardupBandBits) - 1} AS bval FROM coded")
      .mkString(" UNION ALL ")
    s"""WITH $normCte,
    coded AS (SELECT *, ${codeSql("embedding", NeardupPlanes)} AS code FROM en),
    bands AS ($bandRows),
    keep AS (SELECT blk, bval FROM bands GROUP BY blk, bval HAVING COUNT(*) <= $MaxBandDf),
    kept AS (SELECT bands.* FROM bands JOIN keep USING (blk, bval)),
    cand AS (
      SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
      FROM kept x JOIN kept y ON x.blk = y.blk AND x.bval = y.bval AND x.vec_id < y.vec_id),
    pairs AS (
      SELECT va, vb, (${dotSql("a.embedding", "b.embedding")}) / (a.nrm * b.nrm) AS cos
      FROM cand JOIN coded a ON cand.va = a.vec_id JOIN coded b ON cand.vb = b.vec_id)
    SELECT rk, va, vb, cos FROM (
      SELECT *, row_number() OVER (ORDER BY cos DESC, va, vb) AS rk FROM pairs)
    WHERE rk <= 20"""
  }

  // ----------------------------------------------- S10 semantic dedup

  /** Cell count for [[semanticDedup]] — matches [[graft.ext.Ivf.NList]]
    * so s10's cells are the same granularity s4's quantizer uses. At
    * corpus scale THIS is the knob that keeps the within-cell pairwise
    * pass bounded: SemDeDup (Abbas et al. 2023) grows k with the corpus
    * so cluster size stays ~constant; cells here are ~N/16 at test SF.
    */
  val SemSeeds = 16

  /** Within-cell cosine threshold above which the less-central member of
    * a pair is pruned. The SemDeDup paper operates at ~0.95 on real CLIP
    * embeddings; the synthetic table's near-dup tail sits at cos
    * ≈ 0.47–0.51 (measured, r11), so the operating point is calibrated
    * to 0.45 so the operator demonstrably prunes on the test corpus —
    * on a real corpus this is the deployment-tuned knob, threaded
    * through [[semanticDedupFrom]].
    */
  val SemThresh = 0.45

  /** S10: semantic (SemDeDup-style) cluster dedup — partition the corpus
    * into Voronoi cells around seed vectors, and within each cell prune
    * every vector that has a MORE CENTRAL semantic duplicate: x is
    * pruned iff some same-cell y has cos(x,y) > [[SemThresh]] and y is
    * closer to the cell seed (tie: smaller vec_id). The survivor of each
    * dup neighborhood is exactly the centroid-nearest member — the
    * cluster-scoped semantic prune web-scale corpora run after exact and
    * MinHash tiers (unlike S3, which reports global near-dup PAIRS).
    *
    * Quantizer choice (and why this is hash-checkable where s4/s9 are
    * not): the cell assignment uses DETERMINISTIC seeds — the first
    * [[SemSeeds]] vectors in (md5-hash, vec_id) order, i.e. KMeans-style
    * cells with hash-random init and zero refinement steps — instead of
    * s4's trained KMeans. Training is orthogonal to the dedup semantics
    * being verified; with seeds stated as a CTE, DuckDB states the ENTIRE
    * operator (assignment + pairwise prune) and the full rows+schema+hash
    * gate applies. Swapping in s4's trained centroids changes only the
    * `seeds` relation.
    *
    * Determinism: every cosine (assignment and pairwise) goes through
    * the one `graft_dot` chain, so both engines compare bit-identical
    * doubles; assignment ties break on seed id, prune dominance ties on
    * vec_id; output rounds at 6 only at the boundary.
    *
    * Scale shape: seeds are provably bounded (LIMIT [[SemSeeds]]) →
    * broadcast; assignment is one broadcast cross join + a max-struct
    * agg (map-side partials, no per-vector window shuffle); the pairwise
    * pass joins the cell-keyed membership to itself — O(cell²) per cell,
    * bounded by growing the seed count with the corpus (see [[SemSeeds]]);
    * the dominance anti-pattern resolves as a min-agg, never a global
    * window.
    */
  def semanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(withNorm(t(s, dir)), SemSeeds, SemThresh)

  /** [[semanticDedup]] over an explicit corpus (`vec_id`/`embedding`/
    * `nrm`) with explicit seed count and threshold — the spec drives a
    * crafted fixture with known duplicates through it.
    */
  /** The [[SemSeeds]]-style deterministic seed relation: the first
    * `nSeeds` vectors in (md5-hash, vec_id) order — shared by S10's
    * quantizer and S16's occupancy spine so the cell definition cannot
    * drift.
    */
  private def seedRel(emb: DataFrame, nSeeds: Int): DataFrame = emb
    .orderBy(TextOps.tokenHash(col("vec_id").cast("string")), col("vec_id"))
    .limit(nSeeds)
    .select(col("vec_id").as("sid"), col("embedding").as("se"), col("nrm").as("sn"))

  /** Voronoi cell assignment over [[seedRel]] — `(vec_id, cell, ccos)`,
    * cell = argmax-cosine seed (tie → smaller seed id). The argmax runs
    * as a struct-max aggregate, never a per-vector window.
    */
  private def cellAssign(emb: DataFrame, nSeeds: Int): DataFrame = {
    val scored = emb.crossJoin(broadcast(seedRel(emb, nSeeds)))
      .select(col("vec_id"),
        (dot(col("embedding"), col("se")) / (col("nrm") * col("sn"))).as("ccos"),
        col("sid"))
    // argmax over the bounded seed set WITHOUT a per-vector window: the
    // lexicographic max of (ccos, -sid) picks max cosine, tie → min seed
    scored.groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("sid")).as("nsid"))).as("m"))
      .select(col("vec_id"), (-col("m.nsid")).as("cell"), col("m.ccos").as("ccos"))
  }

  def semanticDedupFrom(emb0: DataFrame, nSeeds: Int, thresh: Double): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"), col("nrm"))
    val asg = cellAssign(emb, nSeeds)
    // cell-keyed membership feeds BOTH pairwise sides and the output base
    val mem = asg.join(emb, "vec_id").persistRecorded()
    val x = mem.select(col("vec_id"), col("cell"), col("ccos"),
      col("embedding"), col("nrm"))
    val y = mem.select(col("vec_id").as("yid"), col("cell").as("ycell"),
      col("ccos").as("yccos"),
      col("embedding").as("ye"), col("nrm").as("yn"))
    val dom = x.join(y,
        col("cell") === col("ycell") && col("vec_id") =!= col("yid") &&
          (dot(col("embedding"), col("ye")) / (col("nrm") * col("yn")) > thresh) &&
          (col("yccos") > col("ccos") ||
            (col("yccos") === col("ccos") && col("yid") < col("vec_id"))))
      .groupBy("vec_id").agg(min("yid").as("pruned_by"))
    mem.select(col("vec_id"), col("cell"), col("ccos"))
      .join(dom, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("ccos"), 6).as("cent_cos"),
        col("pruned_by").isNotNull.cast("int").as("is_pruned"),
        col("pruned_by"))
      .orderBy("vec_id")
  }

  /** Oracle CTE chain `seeds → scored → asg(vec_id, cell, ccos)` — the
    * SQL dual of [[cellAssign]] (requires `en` before it), shared by
    * the S10 and S16 oracles.
    */
  private def cellAsgCtes(nSeeds: Int): String = s"""seeds AS (
      SELECT vec_id AS sid, embedding AS se, nrm AS sn FROM en
      ORDER BY ${graft.ext.TextOps.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT $nSeeds),
    scored AS (
      SELECT vec_id, sid, (${dotSql("embedding", "se")}) / (nrm * sn) AS ccos
      FROM en CROSS JOIN seeds),
    asg AS (
      SELECT vec_id, sid AS cell, ccos FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY ccos DESC, sid) AS rk FROM scored)
      WHERE rk = 1)"""

  val semanticDedupSql: String = s"""WITH $normCte,
    ${cellAsgCtes(SemSeeds)},
    mem AS (
      SELECT a.vec_id, a.cell, a.ccos, e.embedding, e.nrm
      FROM asg a JOIN en e ON a.vec_id = e.vec_id),
    dom AS (
      SELECT x.vec_id, MIN(y.vec_id) AS pruned_by
      FROM mem x JOIN mem y ON x.cell = y.cell AND x.vec_id != y.vec_id
        AND (${dotSql("x.embedding", "y.embedding")}) / (x.nrm * y.nrm) > $SemThresh
        AND (y.ccos > x.ccos OR (y.ccos = x.ccos AND y.vec_id < x.vec_id))
      GROUP BY x.vec_id)
    SELECT m.vec_id, m.cell, ROUND(m.ccos, 6) AS cent_cos,
      CAST(pruned_by IS NOT NULL AS INT) AS is_pruned, pruned_by
    FROM mem m LEFT JOIN dom ON m.vec_id = dom.vec_id
    ORDER BY m.vec_id"""

  /** S11 product-quantization geometry: 64 dims split into 4 subspaces
    * of 16 dims, 16 codes per subspace (8 bits/vector payload + id).
    */
  val PqSubSpaces = 4
  val PqSubDim: Int = Dim / PqSubSpaces
  val PqCodes = 16

  /** Left-assoc dot of one 16-dim subspace slice — the [[dotSql]] chain
    * restricted to subspace `m`'s indices, so Spark's `graft_dot` over
    * `slice(...)` and the oracle fold the identical term order.
    */
  private def subDotSql(a: String, b: String, m: Int): String =
    (1 to PqSubDim).map { i =>
      val ia = m * PqSubDim + i
      s"CAST($a[$ia] AS DOUBLE)*CAST($b[$ia] AS DOUBLE)"
    }.mkString(" + ")

  /** S11: product quantization (Jégou et al. 2011) — encode each vector
    * as [[PqSubSpaces]] sub-codes (argmin squared L2 to the subspace
    * codebook) and report the exact reconstruction error, the
    * memory-bound ANN compression layer between S6's scalar int8 and
    * S4's IVF cells. Codebooks are DETERMINISTIC, the s10 seed trick:
    * the first [[PqCodes]] corpus vectors in (md5-hash, vec_id) order
    * serve as code vectors per subspace (training-free PQ init;
    * swapping in k-means-refined codebooks changes only the `codes`
    * relation) — which is what lets DuckDB state the ENTIRE operator
    * and the full hash gate apply, where s4/s9's trained quantizer
    * cannot.
    *
    * Determinism: every subspace distance is xx + cc − 2·x·c over
    * [[subDotSql]]-shaped left-assoc chains (bit-identical doubles in
    * both engines); argmin resolves as MIN over a (distance, code-id)
    * struct — lexicographic in both engines, ties to the smaller code
    * id; rounding only at the output boundary.
    *
    * Scale shape: the codebook is provably bounded (LIMIT 16) →
    * broadcast; ONE cross join scores all 4 subspaces per (vector,
    * code) row and one grouped MIN-struct agg per subspace picks the
    * codes (map-side partials, no per-vector window); nothing after
    * grows with the corpus.
    */
  def pqEncode(s: SparkSession, dir: String): DataFrame =
    pqEncodeFrom(t(s, dir).select(col("vec_id"), col("embedding")))

  /** [[pqEncode]] over an explicit `(vec_id, embedding)` relation — the
    * spec pins self-encoding of seed vectors and error arithmetic.
    */
  /** The deterministic PQ codebook: first [[PqCodes]] vectors in
    * (md5-hash, vec_id) order — shared by S11 encode and S12 ADC so the
    * code space can't drift between the two views.
    */
  private[ext] def pqCodebook(emb: DataFrame): DataFrame = emb
    .orderBy(TextOps.tokenHash(col("vec_id").cast("string")), col("vec_id"))
    .limit(PqCodes)
    .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** Oracle dual of [[pqCodebook]] (requires a preceding `en` CTE). */
  private val pqCodesCte: String =
    s"""codes AS (
      SELECT vec_id AS cid, embedding AS ce FROM en
      ORDER BY ${TextOps.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT $PqCodes)"""

  private[ext] def sub(c: Column, m: Int): Column = slice(c, m * PqSubDim + 1, PqSubDim)

  def pqEncodeFrom(emb0: DataFrame): DataFrame =
    pqEncodeWith(emb0, pqCodebook(emb0.select(col("vec_id"), col("embedding"))))

  /** [[pqEncodeFrom]] against an EXPLICIT `(cid, ce)` codebook relation
    * — s21 builds the codebook once and shares it between the corpus
    * encode and its query→codeword ADC table (the codebook TakeOrdered
    * is a corpus pass; two identical builds per batch is one too many).
    */
  def pqEncodeWith(emb0: DataFrame, codes: DataFrame): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    val dCols = (0 until PqSubSpaces).map { m =>
      val xs = sub(col("embedding"), m); val cs = sub(col("ce"), m)
      (dot(xs, xs) + dot(cs, cs) - lit(2.0) * dot(xs, cs)).as(s"d$m")
    }
    val scored = emb.crossJoin(broadcast(codes))
      .select(Seq(col("vec_id"),
        dot(col("embedding"), col("embedding")).as("xx"), col("cid")) ++ dCols: _*)
    val aggs = (0 until PqSubSpaces).map(m =>
      min(struct(col(s"d$m").as("d"), col("cid").as("c"))).as(s"m$m")) :+
      max(col("xx")).as("xx") // xx is constant per vec_id
    val agg = scored.groupBy("vec_id").agg(aggs.head, aggs.tail: _*)
    val err = (0 until PqSubSpaces).map(m => col(s"m$m.d")).reduce(_ + _)
    agg.select(
      Seq(col("vec_id")) ++
        (0 until PqSubSpaces).map(m => col(s"m$m.c").as(s"code$m")) ++ Seq(
        round(err, 6).as("recon_err"),
        when(col("xx") > 0, round(err / col("xx"), 6))
          .otherwise(lit(0.0)).as("rel_err")): _*)
      .orderBy("vec_id")
  }

  val pqEncodeSql: String = {
    val ds = (0 until PqSubSpaces).map(m =>
      s"(${subDotSql("embedding", "embedding", m)}) + (${subDotSql("ce", "ce", m)}) " +
        s"- 2.0*(${subDotSql("embedding", "ce", m)}) AS d$m").mkString(",\n        ")
    val mins = (0 until PqSubSpaces).map(m =>
      s"MIN({'d': d$m, 'c': cid}) AS m$m").mkString(", ")
    val err = (0 until PqSubSpaces).map(m => s"m$m.d").mkString(" + ")
    val codeCols = (0 until PqSubSpaces).map(m => s"m$m.c AS code$m").mkString(", ")
    s"""WITH en AS (SELECT vec_id, embedding FROM embeddings),
    $pqCodesCte,
    scored AS (
      SELECT vec_id, ${dotSql("embedding", "embedding")} AS xx, cid,
        $ds
      FROM en CROSS JOIN codes),
    agg AS (
      SELECT vec_id, $mins, MAX(xx) AS xx FROM scored GROUP BY 1)
    SELECT vec_id, $codeCols,
      ROUND($err, 6) AS recon_err,
      CASE WHEN xx > 0 THEN ROUND(($err) / xx, 6) ELSE 0.0 END AS rel_err
    FROM agg ORDER BY vec_id"""
  }

  // ---------------------------------------------------------- S12 PQ ADC

  /** S12: PQ asymmetric-distance (ADC) retrieval recall — run the S11
    * product-quantized index end-to-end: approximate each query→vector
    * squared L2 as the sum of per-subspace query-to-codeword distances
    * (the ADC lookup of Jégou et al. 2011), take the ADC top-k, and
    * report per query the overlap with the EXACT squared-L2 top-k: the
    * recall@k curve every PQ deployment publishes. Completes the
    * compression story S11 starts — S11 proves the encoding, S12
    * measures what retrieval through it costs.
    *
    * Determinism: codebook shared with S11 ([[pqCodebook]]); every
    * distance is a [[subDotSql]]/[[dotSql]]-shaped left-assoc chain
    * (bit-identical doubles both engines); both rankings tie-break on
    * vec_id; recall is one IEEE division rounded at the boundary.
    *
    * Scale shape: the query→codeword table is provably bounded
    * ([[NumQueries]]×[[PqCodes]] rows → broadcast ×4); the corpus is
    * scanned twice (once through the S11 encoder, once for the exact
    * baseline) and never reshuffles — ranking is the S1 per-query
    * window; everything after the two top-k prunes is
    * NumQueries-sized.
    */
  def pqAdcRecall(s: SparkSession, dir: String): DataFrame =
    pqAdcRecallFrom(t(s, dir).select(col("vec_id"), col("embedding")))

  /** [[pqAdcRecall]] over an explicit `(vec_id, embedding)` relation. */
  def pqAdcRecallFrom(emb0: DataFrame): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    val codes = pqCodebook(emb)
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    // (query × codeword) subspace distances — 20×16 rows, provably bounded
    // NumQueries·PqCodes rows, but it feeds one broadcast leg PER
    // subspace below — unpersisted, the query scan + distance table
    // rebuilt once per subspace join (`tools/Audit` dup check)
    val qcd = q.crossJoin(broadcast(codes)).select(
      Seq(col("qid"), col("cid")) ++ (0 until PqSubSpaces).map { m =>
        val qs = sub(col("qe"), m); val cs = sub(col("ce"), m)
        (dot(qs, qs) + dot(cs, cs) - lit(2.0) * dot(qs, cs)).as(s"qd$m")
      }: _*).persistRecorded()
    val db = pqEncodeFrom(emb)
      .select(col("vec_id") +: (0 until PqSubSpaces).map(m => col(s"code$m")): _*)
    val cand = db.crossJoin(broadcast(q.select(col("qid"))))
      .filter(col("vec_id") =!= col("qid"))
    val withD = (0 until PqSubSpaces).foldLeft(cand) { (acc, m) =>
      val qm = qcd.select(col("qid").as(s"q$m"), col("cid").as(s"k$m"), col(s"qd$m"))
      acc.join(broadcast(qm),
        acc("qid") === col(s"q$m") && acc(s"code$m") === col(s"k$m"))
        .drop(s"q$m", s"k$m")
    }
    val atop = withD
      .withColumn("adc", (0 until PqSubSpaces).map(m => col(s"qd$m")).reduce(_ + _))
      .withColumn("ark", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").asc, col("vec_id"))))
      .filter(col("ark") <= TopK)
      .select(col("qid"), col("vec_id"))
    val etop = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (dot(col("embedding"), col("embedding")) + dot(col("qe"), col("qe")) -
          lit(2.0) * dot(col("qe"), col("embedding"))).as("d2"))
      .withColumn("erk", row_number().over(
        Window.partitionBy("qid").orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("erk") <= TopK)
      .select(col("qid"), col("vec_id"))
    val ov = atop.join(etop, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      // r20 (`Profile recon`): ≤NumQueries-row overlap boundary — a fresh
      // construction re-runs the query-spine left join + sort, not the
      // ADC and exact top-k legs (recon 0.94 s vs 0.06 s warm)
      .persistRecorded()
    q.select(col("qid"))
      .join(ov, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          lit(TopK.toDouble), 6).as("recall"))
      .orderBy("qid")
  }

  // -------------------------------------------------- S14 cosine histogram

  /** Histogram bins over cosine ∈ [−1, 1] for the S14 space audit. */
  val CosHistBins = 40

  /** S14: embedding-space health histogram — the distribution of
    * query-to-corpus cosines in [[CosHistBins]] equal bins over [−1,1],
    * with per-bin share. THE first-look anisotropy audit of an
    * embedding table (Ethayarajh 2019: contextual embedding spaces
    * collapse into a narrow cone — a histogram massed near one value
    * means cosine carries little signal and downstream ANN/SemDeDup
    * thresholds need recalibrating). Bins with zero pairs stay visible
    * through the spine join, so the shape is read directly.
    *
    * Determinism: cosines are bit-equal across engines (`graft_dot` vs
    * the unrolled chain), the bin index is floor of the identical
    * double expression (exact-1 clamped to the top bin), bounds are
    * exact two-decimal literals, and the share is one exact-integer
    * division rounded at 6.
    *
    * Scale shape: identical to S1 — the bounded query side broadcasts
    * into one corpus pass, then a map-side-combinable aggregate onto a
    * ≤[[CosHistBins]]-key space; the spine join and ordering touch ≤40
    * rows. No window, no pair materialization beyond the scan.
    */
  def cosineHist(s: SparkSession, dir: String): DataFrame =
    cosineHistFrom(t(s, dir))

  /** [[cosineHist]] over an explicit `(vec_id, embedding)` relation. */
  def cosineHistFrom(emb0: DataFrame): DataFrame = {
    val en = emb0.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val q = en.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val den = col("qn") * col("nrm")
    val cos = when(den === 0, lit(0.0))
      .otherwise(dot(col("qe"), col("embedding")) / den)
    val binned = en.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(least(floor((cos + lit(1.0)) / lit(2.0) * lit(CosHistBins.toDouble)),
        lit(CosHistBins - 1L)).cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
      .persistRecorded() // ≤40 rows, but its subtree is the corpus pass — feeds total + join
    val total = binned.agg(sum("n_pairs").as("tp")) // 1 row
    val spine = emb0.sparkSession.range(CosHistBins).select(col("id").as("bin"))
    spine.join(binned, Seq("bin"), "left")
      .crossJoin(broadcast(total))
      .select(col("bin"),
        round(lit(-1.0) + col("bin").cast("double") * lit(2.0 / CosHistBins), 2).as("cos_lo"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        round(coalesce(col("n_pairs"), lit(0L)).cast("double") /
          col("tp").cast("double"), 6).as("share"))
      .orderBy("bin")
  }

  val cosineHistSql: String = s"""WITH $normCte,
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM en WHERE vec_id < $NumQueries),
    binned AS (
      SELECT LEAST(CAST(FLOOR((cos + 1.0) / 2.0 * ${CosHistBins.toDouble}) AS BIGINT),
          ${CosHistBins - 1}) AS bin
      FROM (
        SELECT CASE WHEN qn * nrm = 0 THEN 0.0
          ELSE (${dotSql("qe", "en.embedding")}) / (qn * nrm) END AS cos
        FROM en CROSS JOIN q WHERE en.vec_id != qid)),
    cnt AS (SELECT bin, COUNT(*) AS n_pairs FROM binned GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tp FROM cnt),
    spine AS (SELECT unnest(range(0, $CosHistBins)) AS bin)
    SELECT spine.bin,
      ROUND(-1.0 + CAST(spine.bin AS DOUBLE) * ${2.0 / CosHistBins}, 2) AS cos_lo,
      COALESCE(n_pairs, 0) AS n_pairs,
      ROUND(CAST(COALESCE(n_pairs, 0) AS DOUBLE) / CAST(tp AS DOUBLE), 6) AS share
    FROM spine LEFT JOIN cnt ON spine.bin = cnt.bin CROSS JOIN tot
    ORDER BY spine.bin"""

  // -------------------------------------------------- S13 Matryoshka recall

  /** Truncated prefix dimensions measured by [[matryoshkaRecall]]. */
  val PrefixDims: Seq[Int] = Seq(8, 16, 32)

  /** S13: Matryoshka (truncated-dimension) retrieval recall — rank the
    * corpus by cosine over only the first d ∈ {8,16,32} embedding
    * components and report per query the top-k overlap with the
    * full-dimension exact top-k. This is the published evaluation of
    * Matryoshka Representation Learning (Kusupati et al. 2022): nested
    * prefixes as cheap first-pass retrievers, the recall-vs-dim curve
    * deciding how few dimensions the scale path can afford. Pairs with
    * S11/S12: PQ compresses by codebook, Matryoshka by truncation.
    *
    * Determinism: each prefix cosine is graft_dot over `slice(e,1,d)` —
    * ascending-index multiply, left-assoc fold — and the oracle states
    * the identical d-term chain ([[prefixDotSql]]), so cosines are
    * bit-equal; both rankings tie-break on the candidate id; recall is
    * one IEEE division rounded at the boundary.
    *
    * Scale shape: ONE corpus×queries pass computes every prefix cosine
    * (the query side with its prefix norms is bounded → broadcast), a
    * 4-way explode feeds a single (dim, qid)-partitioned top-k window,
    * and everything after the rank prune is ≤ |dims|·NumQueries·TopK
    * rows (persisted — the pruned relation feeds both the truncated and
    * the full-dim legs of the overlap join).
    */
  def matryoshkaRecall(s: SparkSession, dir: String): DataFrame =
    matryoshkaRecallFrom(t(s, dir))

  /** [[matryoshkaRecall]] over an explicit `(vec_id, embedding)` relation. */
  def matryoshkaRecallFrom(emb0: DataFrame): DataFrame = {
    val allDims = PrefixDims :+ Dim
    def pdot(a: Column, b: Column, d: Int): Column =
      if (d == Dim) dot(a, b) else dot(slice(a, 1, d), slice(b, 1, d))
    val en = emb0.select(Seq(col("vec_id"), col("embedding")) ++
      allDims.map(d => sqrt(pdot(col("embedding"), col("embedding"), d)).as(s"n$d")): _*)
    val q = en.filter(col("vec_id") < NumQueries)
      .select(Seq(col("vec_id").as("qid"), col("embedding").as("qe")) ++
        allDims.map(d => col(s"n$d").as(s"qn$d")): _*)
    // Zero-norm guard (r11 ADVICE): a vector whose first d components
    // are all zero has undefined prefix cosine — Spark would produce
    // NaN/Inf where DuckDB yields NULL (div-by-zero), and that value
    // reaches the rank sort. Both sides pin the convention cos := 0.0
    // ("no similarity"), which keeps the ordering engine-deterministic
    // (no NULL-placement semantics involved). Not triggered by the
    // current corpus; latent-divergence guard only.
    val entries = allDims.map { d =>
      val den = col(s"qn$d") * col(s"n$d")
      struct(lit(d).as("dim"),
        when(den === 0, lit(0.0))
          .otherwise(pdot(col("qe"), col("embedding"), d) / den).as("cos"))
    }
    val ranked = en.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("oid"), explode(array(entries: _*)).as("e"))
      .select(col("qid"), col("oid"), col("e.dim").as("dim"), col("e.cos").as("cos"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("dim", "qid").orderBy(col("cos").desc, col("oid"))))
      .filter(col("rk") <= TopK)
      .select(col("dim"), col("qid"), col("oid"))
      .persistRecorded() // bounded: |dims|·NumQueries·TopK rows; feeds both legs
    val etop = ranked.filter(col("dim") === Dim).select(col("qid"), col("oid"))
    val ov = ranked.filter(col("dim") =!= Dim)
      .join(etop, Seq("qid", "oid"))
      .groupBy("dim", "qid").agg(count(lit(1)).as("n_overlap"))
    q.select(col("qid"), explode(array(PrefixDims.map(lit): _*)).as("dim"))
      .join(ov, Seq("dim", "qid"), "left")
      .select(col("dim"), col("qid"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)).cast("double") /
          lit(TopK.toDouble), 6).as("recall"))
      .orderBy("dim", "qid")
  }

  val matryoshkaRecallSql: String = {
    val allDims = PrefixDims :+ Dim
    val norms = allDims.map(d =>
      s"sqrt(${prefixDotSql("embedding", "embedding", d)}) AS n$d").mkString(",\n        ")
    val qn = allDims.map(d => s"n$d AS qn$d").mkString(", ")
    val coss = allDims.map(d =>
      s"CASE WHEN qn$d * n$d = 0 THEN 0.0 " +
        s"ELSE (${prefixDotSql("qe", "en.embedding", d)}) / (qn$d * n$d) END AS cos$d")
      .mkString(",\n        ")
    val unp = allDims.map(d =>
      s"SELECT qid, oid, $d AS dim, cos$d AS cos FROM cosall").mkString("\n      UNION ALL ")
    val dimVals = PrefixDims.map(d => s"($d)").mkString(",")
    s"""WITH en AS (
      SELECT vec_id, embedding,
        $norms
      FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, $qn
      FROM en WHERE vec_id < $NumQueries),
    cosall AS (
      SELECT qid, en.vec_id AS oid,
        $coss
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    unp AS (
      $unp),
    ranked AS (SELECT dim, qid, oid FROM (
        SELECT dim, qid, oid,
          row_number() OVER (PARTITION BY dim, qid ORDER BY cos DESC, oid) AS rk
        FROM unp)
      WHERE rk <= $TopK),
    etop AS (SELECT qid, oid FROM ranked WHERE dim = $Dim),
    ov AS (
      SELECT r.dim, r.qid, COUNT(*) AS n_overlap
      FROM ranked r JOIN etop e ON r.qid = e.qid AND r.oid = e.oid
      WHERE r.dim != $Dim GROUP BY 1, 2),
    grid AS (SELECT qid, dim FROM q CROSS JOIN (VALUES $dimVals) d(dim))
    SELECT grid.dim, grid.qid,
      COALESCE(n_overlap, 0) AS n_overlap,
      ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / ${TopK.toDouble}, 6) AS recall
    FROM grid LEFT JOIN ov ON grid.dim = ov.dim AND grid.qid = ov.qid
    ORDER BY grid.dim, grid.qid"""
  }

  val pqAdcRecallSql: String = {
    val ds = (0 until PqSubSpaces).map(m =>
      s"(${subDotSql("embedding", "embedding", m)}) + (${subDotSql("ce", "ce", m)}) " +
        s"- 2.0*(${subDotSql("embedding", "ce", m)}) AS d$m").mkString(",\n        ")
    val mins = (0 until PqSubSpaces).map(m =>
      s"MIN({'d': d$m, 'c': cid}) AS m$m").mkString(", ")
    val codeCols = (0 until PqSubSpaces).map(m => s"m$m.c AS code$m").mkString(", ")
    val qds = (0 until PqSubSpaces).map(m =>
      s"(${subDotSql("qe", "qe", m)}) + (${subDotSql("ce", "ce", m)}) " +
        s"- 2.0*(${subDotSql("qe", "ce", m)}) AS qd$m").mkString(",\n        ")
    val adcJoins = (0 until PqSubSpaces).map(m =>
      s"JOIN qcd j$m ON j$m.qid = q.qid AND j$m.cid = db.code$m").mkString("\n      ")
    val adcSum = (0 until PqSubSpaces).map(m => s"j$m.qd$m").mkString(" + ")
    s"""WITH en AS (SELECT vec_id, embedding FROM embeddings),
    $pqCodesCte,
    q AS (SELECT vec_id AS qid, embedding AS qe FROM en WHERE vec_id < $NumQueries),
    scored AS (
      SELECT vec_id, cid,
        $ds
      FROM en CROSS JOIN codes),
    agg AS (SELECT vec_id, $mins FROM scored GROUP BY 1),
    db AS (SELECT vec_id, $codeCols FROM agg),
    qcd AS (
      SELECT qid, cid,
        $qds
      FROM q CROSS JOIN codes),
    cand AS (
      SELECT db.vec_id, q.qid, $adcSum AS adc
      FROM db CROSS JOIN q
      $adcJoins
      WHERE db.vec_id != q.qid),
    atop AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id) AS ark
        FROM cand)
      WHERE ark <= $TopK),
    ex AS (
      SELECT qid, en.vec_id,
        (${dotSql("en.embedding", "en.embedding")}) + (${dotSql("qe", "qe")})
          - 2.0*(${dotSql("qe", "en.embedding")}) AS d2
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    etop AS (SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, vec_id) AS erk
        FROM ex)
      WHERE erk <= $TopK),
    ov AS (SELECT qid, COUNT(*) AS n_overlap
      FROM atop JOIN etop USING (qid, vec_id) GROUP BY 1)
    SELECT q.qid,
      COALESCE(n_overlap, 0) AS n_overlap,
      ROUND(CAST(COALESCE(n_overlap, 0) AS DOUBLE) / ${TopK.toDouble}, 6) AS recall
    FROM q LEFT JOIN ov ON q.qid = ov.qid
    ORDER BY q.qid"""
  }

  // ------------------------------------------------- S15 hubness

  /** S15: hubness audit — the in-degree of each corpus vector in the
    * S1 query workload's exact top-[[TopK]] lists. High-dimensional
    * embedding spaces grow "hub" points that appear in a
    * disproportionate share of nearest-neighbor lists (Radovanović et
    * al., JMLR 2010); hubs distort both retrieval quality and
    * SemDeDup-style pruning, so a curation run audits this table before
    * trusting k-NN-derived signals. Emits one row per vector that
    * appears in ≥ 1 top-k list: its in-degree, best (max) cosine, and
    * best (min) rank across the lists it enters.
    *
    * Determinism: the top-k lists are S1's exact ranking (fully keyed
    * (cos DESC, oid) order over engine-identical `graft_dot` cosines);
    * in-degree/best-rank are exact integers; best_cos is a max over
    * identical doubles (order-independent) — no double is ever summed.
    *
    * Scale shape: S1's one brute-force pass — the corpus never
    * shuffles, queries are a bounded broadcast, ranking is a per-query
    * window; the in-degree rollup then aggregates a
    * ≤[[NumQueries]]·[[TopK]]-row relation (provably bounded), and its
    * final sort is over ≤ that many rows.
    */
  def hubness(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    exactTopk(emb, q, TopK)
      .groupBy("oid")
      .agg(count(lit(1)).as("in_degree"),
        max("cos").as("best_cos"),
        min("rk").as("best_rank"))
      .select(col("oid"), col("in_degree"), col("best_cos"), col("best_rank"))
      .orderBy(col("in_degree").desc, col("oid"))
  }

  val hubnessSql: String = s"""WITH $normCte,
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM en WHERE vec_id < $NumQueries),
    cos AS (
      SELECT qid, en.vec_id AS oid,
        (${dotSql("qe", "en.embedding")}) / (qn * nrm) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    topk AS (
      SELECT qid, oid, cos, rk FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rk
        FROM cos)
      WHERE rk <= $TopK)
    SELECT oid, COUNT(*) AS in_degree, MAX(cos) AS best_cos,
      CAST(MIN(rk) AS INTEGER) AS best_rank
    FROM topk GROUP BY oid ORDER BY in_degree DESC, oid"""

  // ------------------------------------------- S16 cell occupancy

  /** S16: quantizer cell-occupancy audit — member count, corpus share,
    * load factor (1.0 = perfectly balanced), and mean centroid cosine
    * for every S10 Voronoi cell, on the full seed spine (empty cells
    * surface as zero rows). THE health check run before trusting any
    * cell-scoped operation: IVF probe costs (S4/S9) and SemDeDup prune
    * quality (S10) both degrade when cells skew, and this table is
    * where that skew shows. Built on the SAME [[cellAssign]] relation
    * as S10, so the audited cells are exactly the operating ones.
    *
    * Determinism: assignment cosines are engine-identical `graft_dot`
    * chains; the mean follows the T10 protocol (round each ccos at 9,
    * accumulate DECIMAL(20,10), one rounded division); counts are
    * exact; the occupancy rank window orders a ≤[[SemSeeds]]-row
    * relation.
    *
    * Scale shape: one broadcast cross join (bounded seed side) + a
    * struct-max agg for assignment, a map-side-combinable count onto
    * the ≤[[SemSeeds]] key space, and a ≤[[SemSeeds]]-row spine join —
    * nothing grows past the seed count.
    */
  def cellOccupancy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val emb = withNorm(t(s, dir)).select(col("vec_id"), col("embedding"), col("nrm"))
    val asg = cellAssign(emb, SemSeeds)
    val tot = asg.agg(count(lit(1)).as("n"))
    val per = asg.groupBy("cell")
      .agg(count(lit(1)).as("nm"),
        sum(round(col("ccos"), 9).cast(DecimalType(20, 10))).as("csum"))
    seedRel(emb, SemSeeds).select(col("sid").as("cell"))
      .join(per, Seq("cell"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cell"),
        coalesce(col("nm"), lit(0L)).as("n_members"),
        round(coalesce(col("nm"), lit(0L)).cast("double") /
          col("n").cast("double"), 6).as("share"),
        round((coalesce(col("nm"), lit(0L)) * lit(SemSeeds.toLong)).cast("double") /
          col("n").cast("double"), 6).as("load_factor"),
        when(col("nm") > 0,
          round(col("csum").cast("double") / col("nm").cast("double"), 6))
          .otherwise(lit(0.0)).as("mean_cent_cos"))
      .withColumn("occ_rank", row_number().over(
        Window.orderBy(col("n_members").desc, col("cell"))))
      .orderBy("cell")
  }

  val cellOccupancySql: String = s"""WITH $normCte,
    ${cellAsgCtes(SemSeeds)},
    tot AS (SELECT COUNT(*) AS n FROM asg),
    per AS (
      SELECT cell, COUNT(*) AS nm,
        SUM(CAST(ROUND(ccos, 9) AS DECIMAL(20,10))) AS csum
      FROM asg GROUP BY 1),
    sp AS (SELECT sid AS cell FROM seeds)
    SELECT cell,
      CAST(COALESCE(nm, 0) AS BIGINT) AS n_members,
      ROUND(CAST(COALESCE(nm, 0) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
      ROUND(CAST(COALESCE(nm, 0) * $SemSeeds AS DOUBLE) / CAST(n AS DOUBLE), 6) AS load_factor,
      CASE WHEN nm > 0 THEN ROUND(CAST(csum AS DOUBLE) / CAST(nm AS DOUBLE), 6)
        ELSE 0.0 END AS mean_cent_cos,
      CAST(row_number() OVER (ORDER BY COALESCE(nm, 0) DESC, cell) AS INTEGER) AS occ_rank
    FROM sp LEFT JOIN per USING (cell) CROSS JOIN tot
    ORDER BY cell"""

  // ------------------------------------------- S17 seed-count sweep

  /** Seed counts evaluated by the S17 quantizer-sizing sweep (each a
    * prefix of the same deterministic hash-order seed list, so the
    * sweep needs ONE scored pass — the S9 one-pass-grid trick).
    */
  val SweepSeedCounts: Seq[Int] = Seq(4, 8, 16)

  /** S17: quantizer-sizing sweep — S16's occupancy balance as a
    * function of seed count: for each k in [[SweepSeedCounts]], assign
    * every vector to its nearest of the FIRST k seeds and report
    * used/empty cell counts, the extreme cell sizes, and the top
    * cell's load factor and share. The "how many cells do I need"
    * curve read before fixing an IVF/SemDeDup cell count — the direct
    * analogue of S9's recall-vs-nprobe sweep, on the oracle-checkable
    * hash-seeded quantizer.
    *
    * Determinism: one `graft_dot` scored pass; per-k assignment is the
    * same argmax-with-sid-tiebreak restricted to seed rank ≤ k; counts
    * exact, single rounded divisions.
    *
    * Scale shape: ONE broadcast cross join against the ≤[[SemSeeds]]
    * ranked seed side scores the corpus once; the 3-row k spine
    * explodes only the bounded scored side (corpus×seeds×|ks| rows of
    * narrow keys); assignment is a struct-max agg (map-side partials,
    * no window); everything after lives on ≤|ks|·[[SemSeeds]] keys.
    */
  def seedSweep(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(t(s, dir)).select(col("vec_id"), col("embedding"), col("nrm"))
    val ranked = seedRel(emb, SemSeeds).withColumn("srk",
      row_number().over(Window.orderBy(
        TextOps.tokenHash(col("sid").cast("string")), col("sid"))))
    val scored = emb.crossJoin(broadcast(ranked))
      .select(col("vec_id"), col("sid"), col("srk"),
        (dot(col("embedding"), col("se")) / (col("nrm") * col("sn"))).as("ccos"))
    import s.implicits._
    val spine = SweepSeedCounts.toDF("k")
    val asg = scored.join(broadcast(spine), col("srk") <= col("k"))
      .groupBy("k", "vec_id")
      .agg(max(struct(col("ccos"), (-col("sid")).as("nsid"))).as("m"))
      .select(col("k"), col("vec_id"), (-col("m.nsid")).as("cell"))
    val per = asg.groupBy("k", "cell").agg(count(lit(1)).as("nm"))
    per.groupBy("k")
      .agg(count(lit(1)).as("n_cells_used"),
        max("nm").as("max_cell"),
        min("nm").as("min_cell"),
        sum("nm").as("n"))
      .select(col("k"),
        col("n_cells_used"),
        (col("k").cast("long") - col("n_cells_used")).as("n_empty"),
        col("max_cell"), col("min_cell"),
        round((col("max_cell") * col("k")).cast("double") / col("n").cast("double"), 6)
          .as("max_load_factor"),
        round(col("max_cell").cast("double") / col("n").cast("double"), 6)
          .as("top_cell_share"))
      .orderBy("k")
  }

  val seedSweepSql: String = s"""WITH $normCte,
    seeds AS (
      SELECT vec_id AS sid, embedding AS se, nrm AS sn,
        row_number() OVER (ORDER BY
          ${graft.ext.TextOps.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS srk
      FROM en
      ORDER BY ${graft.ext.TextOps.tokenHashSql("CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT $SemSeeds),
    scored AS (
      SELECT vec_id, sid, srk, (${dotSql("embedding", "se")}) / (nrm * sn) AS ccos
      FROM en CROSS JOIN seeds),
    ks AS (SELECT unnest([${SweepSeedCounts.mkString(", ")}]) AS k),
    asg AS (
      SELECT k, vec_id, sid AS cell FROM (
        SELECT k, vec_id, sid, row_number() OVER (PARTITION BY k, vec_id
          ORDER BY ccos DESC, sid) AS rk
        FROM scored JOIN ks ON srk <= k)
      WHERE rk = 1),
    per AS (SELECT k, cell, COUNT(*) AS nm FROM asg GROUP BY 1, 2)
    SELECT k,
      COUNT(*) AS n_cells_used,
      CAST(k - COUNT(*) AS BIGINT) AS n_empty,
      CAST(MAX(nm) AS BIGINT) AS max_cell,
      CAST(MIN(nm) AS BIGINT) AS min_cell,
      ROUND(CAST(MAX(nm) * k AS DOUBLE) / CAST(SUM(nm) AS DOUBLE), 6) AS max_load_factor,
      ROUND(CAST(MAX(nm) AS DOUBLE) / CAST(SUM(nm) AS DOUBLE), 6) AS top_cell_share
    FROM per GROUP BY k ORDER BY k"""

  // --------------------------------------- S18 relative contrast

  /** S18: distance-concentration audit — per S1 query, the relative
    * contrast of its cosine distribution over the full corpus:
    * (max − mean) / (max − min). Beyer et al. (1999) showed nearest
    * neighbors stop being meaningful as this contrast collapses toward
    * 0 — the go/no-go check on an embedding space BEFORE building
    * retrieval (S1/S2/S4) or SemDeDup (S10) on it; pairs with S14's
    * corpus-level histogram by giving the per-query view.
    *
    * Determinism: cosines are engine-identical `graft_dot` chains;
    * max/min are order-free over identical doubles; the mean follows
    * the T10 protocol (round each cosine at 9, accumulate
    * DECIMAL(20,10), one division) and the contrast is formed from the
    * identically-rounded pieces, rounded again at the boundary.
    *
    * Scale shape: ONE broadcast cross join (bounded query side) — the
    * corpus never shuffles; the per-query aggregate is map-side partial
    * onto a ≤[[NumQueries]] key space; no window, no pair join.
    */
  def relativeContrast(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val emb = withNorm(t(s, dir))
    val q = emb.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
    val cos = emb.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"),
        (dot(col("qe"), col("embedding")) / (col("qn") * col("nrm"))).as("cos"))
    cos.groupBy("qid")
      .agg(count(lit(1)).as("n_corpus"),
        max("cos").as("max_cos"),
        min("cos").as("min_cos"),
        sum(round(col("cos"), 9).cast(DecimalType(20, 10))).as("csum"))
      .select(col("qid"), col("n_corpus"),
        round(col("max_cos"), 6).as("max_cos"),
        round(col("min_cos"), 6).as("min_cos"),
        round(col("csum").cast("double") / col("n_corpus").cast("double"), 6)
          .as("mean_cos"),
        when(col("max_cos") > col("min_cos"),
          round((col("max_cos") - (col("csum").cast("double") / col("n_corpus").cast("double"))) /
            (col("max_cos") - col("min_cos")), 6))
          .otherwise(lit(0.0)).as("contrast"))
      .orderBy("qid")
  }

  val relativeContrastSql: String = s"""WITH $normCte,
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM en WHERE vec_id < $NumQueries),
    cos AS (
      SELECT qid, (${dotSql("qe", "en.embedding")}) / (qn * nrm) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    agg AS (
      SELECT qid, COUNT(*) AS n_corpus,
        MAX(cos) AS mxc, MIN(cos) AS mnc,
        SUM(CAST(ROUND(cos, 9) AS DECIMAL(20,10))) AS csum
      FROM cos GROUP BY 1)
    SELECT qid, n_corpus,
      ROUND(mxc, 6) AS max_cos,
      ROUND(mnc, 6) AS min_cos,
      ROUND(CAST(csum AS DOUBLE) / CAST(n_corpus AS DOUBLE), 6) AS mean_cos,
      CASE WHEN mxc > mnc
        THEN ROUND((mxc - (CAST(csum AS DOUBLE) / CAST(n_corpus AS DOUBLE))) /
          (mxc - mnc), 6)
        ELSE 0.0 END AS contrast
    FROM agg ORDER BY qid"""

  // --------------------------------------- S19 norm vs doc-length corr

  /** S19: cross-modal embedding audit — per document source, the Pearson
    * correlation between a document's embedding L2 norm and ln(1+chars).
    * The first cross-table query of the tier: `embeddings.vec_id` is
    * 1:1 with `documents.doc_id`, and an embedding pipeline whose norms
    * track raw document length (rather than content) is a red flag for
    * retrieval/SemDeDup quality — unnormalized pooling leaks length into
    * every cosine. A |corr| near 0 is healthy for normalized encoders.
    *
    * Determinism: norms are sqrt of engine-identical `graft_dot`
    * self-dots (IEEE sqrt of identical doubles), rounded at 6; the
    * length leg rounds ln at 9 (T10 transcendental rule); products and
    * squares of the identically-rounded doubles accumulate in exact
    * DECIMAL(25,12) (the T12 regression protocol) and the closed-form
    * correlation is one arithmetic expression over identical doubles,
    * rounded at 6, with the zero-variance denominator guarded to NULL
    * (the CLAUDE.md NaN rule).
    *
    * Scale shape: one shuffle join on the 1:1 id (both sides fact-sized
    * — left to the planner, sort-merge at scale, co-located with
    * id-bucketed tables), then a map-side-partial aggregate onto the
    * bounded source key space. No window, no pair join.
    */
  def normLengthCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val emb = withNorm(t(s, dir))
      .select(col("vec_id"), round(col("nrm"), 6).as("x"))
    val docs = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        round(log(lit(1.0) + col("n_chars").cast("double")), 9).as("y"))
    val dec = DecimalType(25, 12)
    val sums = emb.join(docs, col("vec_id") === col("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(col("y").cast(dec)).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx")) *
      (col("n") * col("syy") - col("sy") * col("sy"))
    sums.select(
      col("source"), col("n").as("n_docs"),
      round(col("sx") / col("n").cast("double"), 6).as("mean_norm"),
      when(den > 0,
        round((col("n") * col("sxy") - col("sx") * col("sy")) / sqrt(den), 6))
        .as("corr_norm_len"))
      .orderBy("source")
  }

  val normLengthCorrSql: String = {
    val den = "(n * sxx - sx * sx) * (n * syy - sy * sy)"
    s"""WITH xe AS (
      SELECT vec_id, ROUND(${normSql("embedding")}, 6) AS x FROM embeddings),
    yd AS (
      SELECT doc_id, source,
        ROUND(ln(1.0 + CAST(n_chars AS DOUBLE)), 9) AS y
      FROM documents),
    sums AS (
      SELECT source, COUNT(*) AS n,
        CAST(SUM(CAST(x AS DECIMAL(25,12))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(25,12))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x * y AS DECIMAL(25,12))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x * x AS DECIMAL(25,12))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(y * y AS DECIMAL(25,12))) AS DOUBLE) AS syy
      FROM xe JOIN yd ON vec_id = doc_id GROUP BY 1)
    SELECT source, n AS n_docs,
      ROUND(sx / CAST(n AS DOUBLE), 6) AS mean_norm,
      CASE WHEN $den > 0
        THEN ROUND((n * sxy - sx * sy) / sqrt($den), 6) END AS corr_norm_len
    FROM sums ORDER BY source"""
  }

  // -------------------------------------------------- S20 k-NN accuracy

  /** Query-set bound for the S20 eval (larger than [[NumQueries]] so
    * every label gets a meaningful per-label accuracy denominator; the
    * eval set stays FIXED-size at any corpus scale).
    */
  val KnnQueries = 200

  /** S20: leave-one-out k-NN label accuracy — each of the first
    * [[KnnQueries]] vectors is classified by majority label of its
    * [[TopK]] exact-cosine neighbors (self excluded; ties break count
    * desc then label asc), scored against its true label, reported per
    * label: the standard intrinsic embedding-quality eval (a space
    * whose neighborhoods cross label boundaries degrades every
    * downstream ANN/SemDeDup decision; Cover & Hart 1967 for the k-NN
    * rule). Complements S7's centroid separation (global geometry) with
    * neighborhood-level class purity.
    *
    * Determinism: cosines are the shared `graft_dot` chain (identical
    * IEEE doubles both engines); votes and counts are exact integers;
    * the majority argmax is the g5 `max(struct(cnt, -label))` with the
    * oracle stating the equivalent row_number form; accuracy is one
    * division rounded at 6.
    *
    * Scale shape: the bounded query side broadcasts into one corpus
    * scan (the S1/exactTopk plan — corpus never shuffles, per-query
    * rank prunes to top-k inside the window via group-limit); votes and
    * the label rollup are map-side-partial aggregates on
    * ≤[[KnnQueries]]·[[TopK]] rows.
    */
  def knnAccuracy(s: SparkSession, dir: String): DataFrame =
    knnAccuracyFrom(t(s, dir))

  /** [[knnAccuracy]] over an explicit `(vec_id, embedding, label)`
    * relation — the spec pins perfect separation on crafted clusters.
    */
  def knnAccuracyFrom(d: DataFrame): DataFrame = {
    val emb = withNorm(d)
    val q = emb.filter(col("vec_id") < KnnQueries)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val nbrs = exactTopk(emb, q, TopK)
      .join(broadcast(q.select(col("qid"), col("qlabel"))), "qid")
      .join(emb.select(col("vec_id").as("oid"), col("label").as("olabel")), "oid")
    val votes = nbrs.groupBy("qid", "qlabel", "olabel")
      .agg(count(lit(1)).as("cnt"))
    val pred = votes.groupBy("qid", "qlabel")
      .agg(max(struct(col("cnt"), (-col("olabel")).as("neg"))).as("m"))
      .select(col("qid"), col("qlabel"), (-col("m.neg")).as("plabel"))
    pred.groupBy("qlabel")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("plabel") === col("qlabel"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("qlabel").as("label"), col("n_queries"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_queries").cast("double"), 6)
          .as("accuracy"))
      .orderBy("label")
  }

  val knnAccuracySql: String = s"""WITH $normCte,
    q AS (SELECT vec_id AS qid, label AS qlabel, embedding AS qe, nrm AS qn
          FROM en WHERE vec_id < $KnnQueries),
    cos AS (
      SELECT qid, qlabel, en.vec_id AS oid, en.label AS olabel,
        (${dotSql("qe", "en.embedding")}) / (qn * nrm) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    nb AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, oid) AS rk
        FROM cos) WHERE rk <= $TopK),
    votes AS (SELECT qid, qlabel, olabel, COUNT(*) AS cnt
              FROM nb GROUP BY 1, 2, 3),
    pred AS (SELECT qid, qlabel, olabel AS plabel FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cnt DESC, olabel) AS vr
        FROM votes) WHERE vr = 1)
    SELECT qlabel AS label, COUNT(*) AS n_queries,
      CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
      ROUND(CAST(SUM(CASE WHEN plabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
    FROM pred GROUP BY 1 ORDER BY 1"""

  // --------------------------------------- S23 scalar quantization (SQ8)

  /** S23: SQ8 shortlist recall — quantize every embedding to per-dim
    * uint8 codes (min/max linear scaling, the FAISS
    * `ScalarQuantizer QT_8bit` shape), rank candidates per query by the
    * integer quantized dot product, and emit each survivor with an
    * `in_exact` flag against the exact-cosine top-k — the third member
    * of the quantization family (PQ = s11/s12, IVF-PQ = s21): SQ8 is
    * the cheap memory-bound tier production stacks try first (4× over
    * float32 with one multiply per dim, no codebook fit).
    *
    * Determinism: per-dim `mn_i`/`mx_i` are exact float MIN/MAX; the
    * code is `floor(((x−mn_i)/(mx_i−mn_i))·255)` — both engines state
    * the identical IEEE op sequence on the identical doubles, and
    * `floor` of the same double is the same integer (a degenerate
    * `mx_i = mn_i` dim codes 0 by CASE guard, never a NaN — the
    * CLAUDE.md NaN rule). Codes are integers in [0,255], so every
    * product ≤ 65 025 and the 64-term sum < 2^53 — the quantized dot is
    * EXACT in double no matter the fold order, emitted as BIGINT.
    * Ranking ties break (sq_dot DESC, oid).
    *
    * Scale shape: the 1-row per-dim stats relation broadcasts into one
    * corpus scan that computes codes inline (`transform` + the
    * [[dot]] codegen node — no shuffle); the bounded query side
    * broadcasts (the S1/exactTopk plan, corpus never shuffles); the
    * exact-cosine baseline is the same brute-force pass the rest of
    * the family embeds, joined on (qid, oid) at ≤NumQueries·k rows.
    */
  def sq8Recall(s: SparkSession, dir: String): DataFrame =
    sq8RecallFrom(t(s, dir))

  /** [[sq8Recall]] over an explicit `(vec_id, embedding, label)`
    * relation — the spec pins codes and recall on crafted vectors.
    */
  def sq8RecallFrom(d: DataFrame): DataFrame = {
    val emb = withNorm(d)
    val aggs = (1 to Dim).flatMap(i => Seq(
      min(element_at(col("embedding"), i)).as(s"mn$i"),
      max(element_at(col("embedding"), i)).as(s"mx$i")))
    val stats = d.agg(aggs.head, aggs.drop(1): _*)
    val mnArr = array((1 to Dim).map(i => col(s"mn$i")): _*).as("mn_arr")
    val mxArr = array((1 to Dim).map(i => col(s"mx$i")): _*).as("mx_arr")
    val coded = emb.crossJoin(broadcast(stats.select(mnArr, mxArr)))
      .withColumn("code", transform(col("embedding"), (x, i) => {
        val mn = element_at(col("mn_arr"), i + 1).cast("double")
        val mx = element_at(col("mx_arr"), i + 1).cast("double")
        when(mx === mn, lit(0L))
          .otherwise(floor((x.cast("double") - mn) / (mx - mn) * lit(255.0)))
          .cast("float")
      }))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("code"))
    val q = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qn"), col("code").as("qcode"))
    val sq = coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("oid"),
        dot(col("qcode"), col("code")).cast("long").as("sq_dot"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sq_dot").desc, col("oid"))))
      .filter(col("rk") <= TopK)
    val exact = exactTopk(emb,
      emb.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("nrm").as("qn")), TopK)
      .select(col("qid"), col("oid"), lit(1L).as("hit"))
    sq.join(exact, Seq("qid", "oid"), "left")
      .select(col("qid"), col("rk"), col("oid"), col("sq_dot"),
        coalesce(col("hit"), lit(0L)).as("in_exact"))
      .orderBy("qid", "rk")
  }

  /** Oracle quantize chain for dim `i` of vector expr `e` — the exact
    * dual of the Spark `transform` lambda above.
    */
  private def sqTermSql(e: String, i: Int): String =
    s"(CASE WHEN mx$i = mn$i THEN CAST(0 AS DOUBLE) ELSE " +
      s"floor(((CAST($e[$i] AS DOUBLE) - CAST(mn$i AS DOUBLE)) / " +
      s"(CAST(mx$i AS DOUBLE) - CAST(mn$i AS DOUBLE))) * 255.0) END)"

  private def sqDotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"${sqTermSql(a, i)}*${sqTermSql(b, i)}")
      .mkString(" + ")

  val sq8RecallSql: String = s"""WITH $normCte,
    st AS (SELECT ${(1 to Dim).map(i =>
      s"min(embedding[$i]) AS mn$i, max(embedding[$i]) AS mx$i").mkString(", ")}
      FROM embeddings),
    q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM en
          WHERE vec_id < $NumQueries),
    sq AS (
      SELECT qid, en.vec_id AS oid,
        CAST(${sqDotSql("qe", "en.embedding")} AS BIGINT) AS sq_dot
      FROM en CROSS JOIN q CROSS JOIN st WHERE en.vec_id != qid),
    srk AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY sq_dot DESC, oid) AS rk FROM sq) WHERE rk <= $TopK),
    cos AS (
      SELECT qid, en.vec_id AS oid,
        (${dotSql("qe", "en.embedding")}) / (qn * nrm) AS cos
      FROM en CROSS JOIN q WHERE en.vec_id != qid),
    ex AS (SELECT qid, oid FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, oid) AS rk FROM cos) WHERE rk <= $TopK)
    SELECT srk.qid, srk.rk, srk.oid, srk.sq_dot,
      CAST(CASE WHEN ex.oid IS NULL THEN 0 ELSE 1 END AS BIGINT) AS in_exact
    FROM srk LEFT JOIN ex ON srk.qid = ex.qid AND srk.oid = ex.oid
    ORDER BY srk.qid, srk.rk"""
}
