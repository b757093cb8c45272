package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.SessionMemo.PersistRecorded

/** Deduplication operators over the `documents` table — exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash. These are the training-corpus
  * dedup tiers; each is a pure shuffle-based plan:
  *
  *  - exact: one hash aggregate on the text key;
  *  - n-gram Jaccard: inverted-index self-join on shingles (the candidate
  *    generation never materializes the O(n²) pair space);
  *  - MinHash/LSH: signature = 16 min-aggregates over shingle hashes;
  *    banding turns near-dup search into an equi-join on band keys;
  *  - SimHash: 48-bit sign fingerprint; 12-bit blocks give pigeonhole-
  *    complete candidate recall for hamming ≤ 3.
  *
  * At 100 TB the only skew risk is high-document-frequency shingles in
  * the inverted index; [[MaxShingleDf]] caps shingle df (drops
  * stop-shingles) before the join, bounding every join bucket.
  *
  * All hashes derive from MD5 hex prefixes (engine-identical), all
  * arithmetic is exact integers, so every output hash-matches DuckDB.
  */
object Dedup {

  private def t(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/documents.parquet")

  /** D1: exact dedup — canonical id = min doc_id per identical text.
    * Keyed on md5(text), not the text itself, so the exchanges carry
    * 16-byte keys instead of whole documents; computed as a
    * groupBy(hash).agg(min) joined back on the hash, NOT a window over
    * the hash: a viral boilerplate text (billions of identical copies)
    * still maps to ONE key, and only map-side partial aggregation
    * bounds what that hot key ships through the shuffle — a window
    * would haul every copy's row into a single partition. The join-back
    * side shuffles (doc_id, hash) pairs only. The oracle applies the
    * identical hash, so any collision affects both engines identically.
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val canon = docs.groupBy("h").agg(min("doc_id").as("canonical_id"))
    docs.join(canon, "h")
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).cast("int").as("is_dup"))
      .orderBy("doc_id")
  }

  val exactSql: String = """SELECT doc_id, canonical_id,
      CAST(doc_id != canonical_id AS INT) AS is_dup
    FROM (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id FROM documents)
    ORDER BY doc_id"""

  // ----------------------------------------------------- paragraph dedup

  /** Paragraph chunk size in tokens for D6: a double-newline segment
    * longer than this splits into fixed token blocks, so corpora whose
    * documents carry no paragraph breaks (like the synthetic tables
    * here) still dedup at sub-document granularity — the CCNet/
    * RefinedWeb pre-step shape either way.
    */
  val ParaBlockTokens = 20

  /** D6: paragraph-level exact dedup — split each document on double
    * newlines, chunk each segment into ≤[[ParaBlockTokens]]-token
    * blocks, keep only the globally-first instance of each identical
    * block (lexicographically smallest (doc_id, position)), and emit
    * the per-document kept-paragraph fraction.
    *
    * WITHIN-document repeats follow the same global rule: a document
    * that repeats its own paragraph keeps only the first occurrence
    * (min ord inside the canonical doc), so its kept fraction drops
    * below 1 even when no other document shares the text — and in a
    * document that merely REPEATS a paragraph owned by an earlier doc,
    * every occurrence counts as dropped. ExtSpec pins both cases on a
    * micro-fixture.
    *
    * Plan shape at scale: instances carry (doc_id, ord, md5) — 16-byte
    * content keys, never paragraph text, through every exchange. The
    * canonical instance resolves in two bounded aggregations (min
    * doc_id per hash, then min position within that doc), both with
    * map-side partial aggregation, so a viral boilerplate paragraph
    * never hauls its copies into one partition. `ord` packs
    * (seg_idx, blk_idx) into one long (31 bits each — a single
    * document would need 2³¹ tokens to overflow it).
    */
  /** The paragraph-block instance relation `(doc_id, ord, h)` shared by
    * D6 and the D8 cluster closure — ord packs (seg_idx, blk_idx), h is
    * the block md5.
    */
  private def paraBlocks(s: SparkSession, dir: String): DataFrame = {
    val p = ParaBlockTokens
    val segs = t(s, dir)
      .select(col("doc_id"), posexplode(split(col("text"), "\n\n")).as(Seq("seg_idx", "seg")))
      .select(col("doc_id"), col("seg_idx"), TextOps.tokens(col("seg")).as("tk"))
      .filter(size(col("tk")) > 0)
    val nblk = ceil(size(col("tk")).cast("double") / lit(p.toDouble)).cast("int")
    segs
      .select(col("doc_id"), col("seg_idx"),
        posexplode(transform(sequence(lit(0), nblk - 1), i =>
          concat_ws(" ", slice(col("tk"), i * p + 1, lit(p))))).as(Seq("blk_idx", "para")))
      .select(col("doc_id"),
        (shiftleft(col("seg_idx").cast("long"), 31) + col("blk_idx")).as("ord"),
        md5(col("para")).as("h"))
  }

  def paragraphDedup(s: SparkSession, dir: String): DataFrame = {
    val keyed = paraBlocks(s, dir)
      .persistRecorded() // feeds the two canonical aggs AND the marking join
    val canonDoc = keyed.groupBy("h").agg(min("doc_id").as("cdoc"))
    val canon = keyed.join(canonDoc, "h")
      .filter(col("doc_id") === col("cdoc"))
      .groupBy("h").agg(min("cdoc").as("cdoc"), min("ord").as("cord"))
    val per = keyed.join(canon, "h")
      .select(col("doc_id"),
        (col("doc_id") === col("cdoc") && col("ord") === col("cord")).cast("long").as("kept"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_paras"), sum("kept").as("n_kept"))
    t(s, dir).select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(coalesce(col("n_paras"), lit(0L)) > 0,
          round(col("n_kept").cast("double") / col("n_paras").cast("double"), 6))
          .otherwise(lit(1.0)).as("kept_frac"))
      .orderBy("doc_id")
  }

  /** Oracle CTE chain ending in `blk(doc_id, ord, h)` — the SQL dual of
    * [[paraBlocks]], shared by the D6 and D8 oracles.
    */
  private val paraBlockCtes: String = {
    val p = ParaBlockTokens
    s"""sg0 AS (
      SELECT doc_id, string_split(text, chr(10) || chr(10)) AS sg FROM documents),
    sgx AS (
      SELECT doc_id, i - 1 AS seg_idx,
        list_filter(string_split(sg[CAST(i AS INT)], ' '), x -> x != '') AS tk
      FROM (SELECT doc_id, sg, unnest(range(1, len(sg) + 1)) AS i FROM sg0)),
    segs AS (SELECT * FROM sgx WHERE len(tk) > 0),
    blk AS (
      SELECT doc_id, (seg_idx << 31) + b AS ord,
        md5(array_to_string(tk[CAST(b*$p + 1 AS INT):CAST(b*$p + $p AS INT)], ' ')) AS h
      FROM (SELECT doc_id, seg_idx, tk,
              unnest(range(0, CAST(ceil(len(tk) / $p.0) AS BIGINT))) AS b
            FROM segs))"""
  }

  val paragraphDedupSql: String = {
    s"""WITH $paraBlockCtes,
    c1 AS (SELECT h, MIN(doc_id) AS cdoc FROM blk GROUP BY 1),
    canon AS (SELECT blk.h, MIN(cdoc) AS cdoc, MIN(ord) AS cord
      FROM blk JOIN c1 ON blk.h = c1.h AND blk.doc_id = c1.cdoc GROUP BY 1),
    mk AS (SELECT blk.doc_id,
        CASE WHEN blk.doc_id = canon.cdoc AND blk.ord = canon.cord THEN 1 ELSE 0 END AS kept
      FROM blk JOIN canon ON blk.h = canon.h),
    per AS (SELECT doc_id, COUNT(*) AS n_paras, CAST(SUM(kept) AS BIGINT) AS n_kept
      FROM mk GROUP BY 1)
    SELECT d.doc_id, COALESCE(n_paras, 0) AS n_paras, COALESCE(n_kept, 0) AS n_kept,
      CASE WHEN COALESCE(n_paras, 0) > 0
        THEN ROUND(CAST(n_kept AS DOUBLE) / CAST(n_paras AS DOUBLE), 6) ELSE 1.0 END AS kept_frac
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------------- shingles

  /** Word-3-gram shingles per document (space-joined), WITH duplicates:
    * deduplication happens downstream where it's cheap — D2 distincts on
    * the 64-bit hash (so the exchange carries longs, not shingle
    * strings, and one dedup replaces two), D3's min-aggregation is
    * duplicate-insensitive and needs no dedup at all. A string-level
    * DISTINCT here would shuffle the widest relation in the whole dedup
    * tier for no semantic effect.
    */
  private def shingleDf(s: SparkSession, dir: String,
                        keepSource: Boolean = false): DataFrame = {
    val keys = col("doc_id") +: (if (keepSource) Seq(col("source")) else Nil)
    t(s, dir).select(
      keys :+ explode(TextOps.ngrams(TextOps.tokens(col("text")), 3)).as("shingle"): _*)
  }

  private def shingleCteSql(withSource: Boolean): String = {
    val src = if (withSource) ", source" else ""
    s"""shing AS (
      SELECT doc_id$src, unnest(${TextOps.ngramsSql("toks", 3)}) AS shingle
      FROM (SELECT doc_id$src, ${TextOps.tokensSql} AS toks FROM documents))"""
  }

  private val shingleCte: String = shingleCteSql(withSource = false)

  /** Stop-shingle document-frequency cap: a shingle appearing in more
    * than this many documents is dropped before the inverted-index
    * self-join. Without it one hot shingle (boilerplate, "terms of
    * service") makes its posting list quadratic — df ≤ cap bounds every
    * join bucket to cap² pairs regardless of corpus size. Applied to the
    * shingle sets themselves (standard stop-shingle removal), so sizes
    * and intersections stay consistent; the oracle applies the same cap.
    */
  val MaxShingleDf = 100

  /** D2: n-gram Jaccard near-dup — top-50 candidate pairs by Jaccard.
    * Candidates come from the shingle inverted index (docs sharing ≥1
    * shingle); Jaccard = |∩| / (|A|+|B|−|∩|) is one exact division.
    * Shingles join by their 32-bit MD5-prefix hash (long keys beat
    * string keys through the exchange; the oracle applies the identical
    * hash, so any collision affects both engines identically).
    */
  /** Df-capped distinct `(doc_id, sh)` hashed-shingle relation — the
    * ONE place the stop-shingle semantics live, shared by D2, D9, D10
    * and D14 so the "exact Jaccard" they report is definitionally the
    * same. Memoized below; both persists feed multiple legs (df cap +
    * join sides) in every consumer.
    */
  /** Session-lifetime memo of the two shingle relations — the raw
    * distinct `(doc_id, sh)` hashed-shingle relation and its df-capped
    * projection — in the same re-armed-persist pattern as [[memoLabels]]
    * (d7's labels). Before r12 every shingle-family query (d2, d9, d10,
    * d13, d14) re-built its own copy of the explode+distinct+cap
    * relation per call: cold d14 129 s, d13 75 s, d10 44 s, d9 42 s at
    * sf0.1 — the suite's entire cold budget spent rebuilding one
    * relation five times. Both Datasets are pure in (session, dir), so
    * they are constructed once and their persists re-armed per call:
    * after a caller's clearCache the next action recomputes the (one)
    * shared plan instead of five structurally-equal ones. `capped`'s
    * plan contains `raw` as a subtree, so persisting both lets the cache
    * manager serve the cap build and the join sides from the raw cache.
    */
  private def shingleRelations(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.get[(DataFrame, DataFrame)](s, s"shingles:$dir") {
      val raw = shingleDf(s, dir)
        .select(col("doc_id"), TextOps.tokenHash(col("shingle")).as("sh"))
        .distinct()
        .persistRecorded()
      val keep = raw.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= MaxShingleDf)
        .select("sh")
      (raw, raw.join(keep, "sh").persistRecorded())
    }

  /** The memoized raw distinct `(doc_id, sh)` relation — D13's base
    * (first-appearance novelty needs the UNCAPPED distinct shingles,
    * one step before the df cap).
    */
  private def distinctShingles(s: SparkSession, dir: String): DataFrame =
    shingleRelations(s, dir)._1

  private def cappedShingles(s: SparkSession, dir: String): DataFrame =
    shingleRelations(s, dir)._2

  /** Oracle CTE chain `shraw → shh → sizes` — the SQL dual of
    * [[cappedShingles]] (+ per-doc sizes), shared by the D2 and D9
    * oracles. Requires a preceding `shing` CTE.
    */
  private val cappedShingleCtes: String =
    s"""shraw AS (SELECT DISTINCT doc_id, ${TextOps.tokenHashSql("shingle")} AS sh FROM shing),
    shh AS (SELECT shraw.* FROM shraw
      JOIN (SELECT sh FROM shraw GROUP BY sh HAVING COUNT(*) <= $MaxShingleDf) k USING (sh)),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM shh GROUP BY 1)"""

  /** Session-lifetime memo of the pair-grain common-shingle relation
    * `(doc_a, doc_b, common, na, nb)` — the inverted-index self-join +
    * pair aggregate shared DEFINITIONALLY by D2 (Jaccard), D10
    * (containment) and D9 (exact side of the calibration curve), in the
    * same re-armed-persist pattern as [[shingleRelations]]. Two r20
    * changes rolled together (tools/ReProf, the m6 pattern):
    *
    *  1. Per-doc set sizes ride the postings INTO the self-join
    *     (`min(a.nsh)`/`min(b.nsh)` are group constants), replacing the
    *     two sizes joins BACK onto the corpus-sized pair set.
    *     Equivalence: pairs come from an INNER self-join on `shh`, so
    *     both docs are in `sizes` and min-over-group equals the joined
    *     value; a pair absent from this relation was absent from the
    *     old `pairs` too.
    *  2. The pair relation is memoized + persisted once per
    *     (session, dir): before, every fresh d2/d10/d9 construction
    *     re-ran the sizes agg, self-join, pair agg and both joins over
    *     armed shingle caches (~1.1–1.2 s each, 42× their same-instance
    *     warm floor); now steady state is one top-k / rollup exchange
    *     over the cached pairs.
    *
    * Scale shape unchanged: the self-join is bounded per shingle bucket
    * by [[MaxShingleDf]]² and the enrichment join is on doc_id at
    * posting grain; the persisted relation is the same pair set every
    * consumer already materialized per run.
    */
  private def shinglePairs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.get[DataFrame](s, s"shingle-pairs:$dir") {
      val sh = cappedShingles(s, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
      val shhN = sh.join(sizes, "doc_id")
      shhN.as("a").join(shhN.as("b"), "sh")
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"),
          min(col("a.nsh")).as("na"), min(col("b.nsh")).as("nb"))
        .persistRecorded()
    }

  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val j = shinglePairs(s, dir)
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
    // Top-50: TakeOrdered (orderBy+limit), then rank the 50 survivors —
    // never a single-partition window over the full pair set.
    j.orderBy(col("jaccard").desc, col("doc_a"), col("doc_b")).limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))))
      .select(col("rk"), col("doc_a"), col("doc_b"), col("jaccard"))
  }

  val ngramJaccardSql: String = s"""WITH $shingleCte,
    $cappedShingleCtes,
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / CAST(sa.nsh + sb.nsh - common AS DOUBLE) AS jaccard
      FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
                 JOIN sizes sb ON pairs.doc_b = sb.doc_id)
    SELECT rk, doc_a, doc_b, jaccard FROM (
      SELECT *, row_number() OVER (ORDER BY jaccard DESC, doc_a, doc_b) AS rk FROM j)
    WHERE rk <= 50"""

  /** D10: containment / overlap-coefficient near-dup — top-50 candidate
    * pairs by overlap = |∩| / min(|A|,|B|), over the SAME df-capped
    * hashed-shingle relation as D2 (one shared definition, so "shingle
    * set" can't drift between the two dedup lenses). Jaccard misses the
    * subset case — a short document quoted whole inside a long one has
    * tiny union-normalized similarity but overlap 1.0 — and containment
    * is the standard detector for it (Broder 1997's containment
    * coefficient; The Stack / RefinedWeb prune quote-subsets this way).
    * Emits the exact set sizes and intersection alongside the ratio so
    * the hash gate pins the arithmetic, not just the ordering.
    *
    * Scale shape: identical to D2 — the inverted-index self-join is
    * bounded per shingle bucket by [[MaxShingleDf]]² and the top-50 is
    * TakeOrdered, never a corpus-sized single-partition window.
    */
  def containment(s: SparkSession, dir: String): DataFrame = {
    val o = shinglePairs(s, dir)
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"),
        (col("common").cast("double") / least(col("na"), col("nb")).cast("double"))
          .as("overlap"))
    o.orderBy(col("overlap").desc, col("doc_a"), col("doc_b")).limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("overlap").desc, col("doc_a"), col("doc_b"))))
      .select(col("rk"), col("doc_a"), col("doc_b"), col("common"),
        col("na"), col("nb"), col("overlap"))
  }

  val containmentSql: String = s"""WITH $shingleCte,
    $cappedShingleCtes,
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    o AS (
      SELECT doc_a, doc_b, common, sa.nsh AS na, sb.nsh AS nb,
        CAST(common AS DOUBLE) / CAST(LEAST(sa.nsh, sb.nsh) AS DOUBLE) AS overlap
      FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
                 JOIN sizes sb ON pairs.doc_b = sb.doc_id)
    SELECT rk, doc_a, doc_b, common, na, nb, overlap FROM (
      SELECT *, row_number() OVER (ORDER BY overlap DESC, doc_a, doc_b) AS rk FROM o)
    WHERE rk <= 50"""

  // -------------------------------------------------------------- minhash

  val NumHashes = 16
  val NumBands = 4
  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32
  def hashA(i: Int): Long = 2L * i + 1
  def hashB(i: Int): Long = 11L * i + 7

  /** Per-doc MinHash signature relation `(doc_id, m0..m15)`. */
  /** The per-doc MinHash signature relation, memoized per
    * (session, dir) in [[SessionMemo]] (r13): SEVEN queries (d3, d7,
    * d9, d11, d17, d20, d22) consume it and each persists the shared
    * instance, so after a caller's clearCache the next query replays ONE
    * retained shuffle lineage instead of re-running the shingle explode +
    * 16-min aggregate per query (the shingleRelations argument applied to
    * the signature tier).
    */
  /** Per-ROW MinHash signature of one document's text as a 16-element
    * array column — the same affine-hash family over the same 3-gram
    * shingle hashes as the corpus-grain [[minhashSig]] (identical
    * [[TextOps.tokens]]/[[TextOps.ngrams]]/[[TextOps.tokenHash]]
    * chain and [[hashA]]/[[hashB]]/[[MinhashPrime]] constants), so the
    * streaming ingest gate and the batch D3 pass CANNOT drift: min
    * over a doc's exploded shingle rows ≡ array_min over the doc's
    * shingle array (duplicates are min-idempotent). Stateless — no
    * shuffle, usable in a streaming projection. Empty/short docs
    * (< 3 tokens) yield all-null mins, the dual of having no signature
    * row in the batch relation.
    */
  def minhashRowSig(text: Column): Column = {
    val hs = transform(
      TextOps.ngrams(TextOps.tokens(text), 3), sh => TextOps.tokenHash(sh))
    array((0 until NumHashes).map(i =>
      array_min(transform(hs,
        h => (lit(hashA(i)) * h + lit(hashB(i))) % MinhashPrime))): _*)
  }

  /** Full-signature dedup key for the streaming ingest gate: all 16
    * minhashes joined — docs sharing it have estimated Jaccard 1.0
    * (the batch D3 pairs with 16/16 matches), the precision-first
    * near-dup class an ingest gate may drop without the batch pass's
    * verification join. Short docs (no shingles) get a per-doc
    * sentinel key, so they are never collapsed together.
    */
  def minhashKey(docId: Column, text: Column): Column = {
    val sig = minhashRowSig(text)
    when(element_at(sig, 1).isNull, concat(lit("nosig:"), docId))
      .otherwise(concat_ws("_",
        (1 to NumHashes).map(i => element_at(sig, i)): _*))
  }

  private[graft] def minhashSig(s: SparkSession, dir: String): DataFrame =
    SessionMemo.get[DataFrame](s, s"minhash-sig:$dir") {
      val sh = shingleDf(s, dir)
        .select(col("doc_id"), TextOps.tokenHash(col("shingle")).as("h"))
      val minExprs = (0 until NumHashes).map(i =>
        min((lit(hashA(i)) * col("h") + lit(hashB(i))) % MinhashPrime).as(s"m$i"))
      sh.groupBy("doc_id").agg(minExprs.head, minExprs.tail: _*)
    }

  /** Per-doc LSH band keys `(doc_id, band, key)` from a signature
    * relation — shared by the pairwise candidate generator (D3/D7) and
    * the batch-vs-corpus probe (D11).
    */
  private def sigBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      (0 until NumBands).map(b => struct(lit(b).as("band"),
        concat_ws("_", (0 until NumHashes / NumBands).map(r => col(s"m${b * (NumHashes / NumBands) + r}")): _*).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))

  /** LSH-banding candidate pairs `(doc_a < doc_b)` from a signature
    * relation — the shared candidate generator of D3 and D7.
    */
  private def bandCandidates(sig: DataFrame): DataFrame = {
    val bands = sigBands(sig)
    bands.as("x").join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** D3: MinHash signatures + LSH banding. Signature = per-doc min of 16
    * affine hashes over shingle hashes; 4 bands × 4 rows; docs sharing a
    * band key become candidate pairs; estimated Jaccard = matching
    * signature fraction. One agg + one equi-join — no pairwise scan.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // signature table feeds banding + both verification join sides
    val sig = minhashSig(s, dir).persistRecorded()
    val cand = bandCandidates(sig)
    val matches = (0 until NumHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle CTE chain ending in `cand(doc_a, doc_b)` — the
    * candidate generator both the D3 and D7 oracles build on.
    */
  /** Oracle CTE chain ending in `sig(doc_id, m0..m15)` — the signature
    * build shared by the D3/D7 candidate chain and the D20 tuning sweep.
    */
  private def sigCtes: String = {
    val mins = (0 until NumHashes).map(i =>
      s"MIN((${hashA(i)} * h + ${hashB(i)}) % $MinhashPrime) AS m$i").mkString(", ")
    s"""$shingleCte,
    sh AS (SELECT doc_id, ${TextOps.tokenHashSql("shingle")} AS h FROM shing),
    sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id)"""
  }

  private[ext] def minhashCandCtes: String = {
    val bandRows = (0 until NumBands).map { b =>
      val key = (0 until NumHashes / NumBands)
        .map(r => s"m${b * (NumHashes / NumBands) + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $key) AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""$sigCtes,
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""
  }

  val minhashLshSql: String = {
    val matches = (0 until NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCandCtes
    SELECT doc_a, doc_b, CAST($matches AS DOUBLE) / ${NumHashes.toDouble} AS est_jaccard
    FROM cand JOIN sig a ON cand.doc_a = a.doc_id JOIN sig b ON cand.doc_b = b.doc_id
    ORDER BY doc_a, doc_b"""
  }

  // ----------------------------------------------- D11 incremental dedup

  /** Batch split modulus for D11: documents whose doc_id token-hash
    * lands in bucket 0 of [[BatchMod]] play "today's ingest batch"
    * (~10% of the corpus); the rest are the existing deduplicated
    * corpus. Deterministic, so the oracle states the identical split.
    */
  val BatchMod = 10L

  /** D11: incremental batch-vs-corpus dedup — the operator a real ingest
    * pipeline runs daily: dedup a NEW document batch against the
    * EXISTING corpus without touching corpus-internal pairs. Two tiers,
    * exact first (the cheaper, stronger signal): a batch doc whose
    * md5(text) matches any existing doc drops as `drop_exact`; otherwise
    * a batch doc sharing any MinHash LSH band key with an existing doc
    * drops as `drop_near` (the D3 banding operating point: 4 bands × 4
    * rows, P[collision] = 1−(1−j⁴)⁴); otherwise `keep`. Each drop names
    * the responsible existing document (min doc_id among its matches) —
    * the provenance an audit trail needs.
    *
    * Scale shape: the batch is the bounded side. Membership is a pure
    * predicate on doc_id (no membership join); the exact tier is an
    * equi-join on 16-byte text hashes with the batch side filtered
    * FIRST; the near tier reuses the corpus signature relation
    * ([[minhashSig]] — at 100 TB this is the standing artifact an
    * incremental pipeline maintains) and probes batch band keys against
    * existing band keys: candidates are bounded per band bucket exactly
    * like D3's self-join, but only batch×existing pairs materialize —
    * corpus-internal collisions never leave the map side of the join.
    * min-aggregates bound both responsible-doc lookups.
    */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    def isBatch(c: Column): Column =
      pmod(TextOps.tokenHash(c.cast("string")), lit(BatchMod)) === 0L
    val docs = t(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val batch = docs.filter(isBatch(col("doc_id")))
    val exist = docs.filter(!isBatch(col("doc_id")))
    val exactResp = batch
      .join(exist.select(col("h"), col("doc_id").as("eid")), "h")
      .groupBy("doc_id").agg(min("eid").as("exact_of"))
    // the band relation feeds BOTH probe sides (batch filter + existing
    // filter) — without the persist the shingle-explode signature build
    // runs once per leg; left cached per the registry persist contract
    val bands = sigBands(minhashSig(s, dir)).persistRecorded()
    val nearResp = bands.filter(isBatch(col("doc_id")))
      .join(bands.filter(!isBatch(col("doc_id")))
        .select(col("doc_id").as("eid"), col("band"), col("key")),
        Seq("band", "key"))
      .groupBy("doc_id").agg(min("eid").as("near_of"))
    batch.select(col("doc_id"))
      .join(exactResp, Seq("doc_id"), "left")
      .join(nearResp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, "drop_exact")
          .when(col("near_of").isNotNull, "drop_near")
          .otherwise("keep").as("verdict"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
      // r20 (tools/ReProf): batch-grain (1/BatchMod of the corpus)
      // verdict boundary — a fresh construction re-runs the sort only,
      // not the exact/near probe joins (recon 0.69 s vs 0.04 s warm)
      .persistRecorded()
      .orderBy("doc_id")
  }

  val incrementalDedupSql: String = {
    def isBatchSql(c: String) =
      s"${TextOps.tokenHashSql(s"CAST($c AS VARCHAR)")} % $BatchMod = 0"
    s"""WITH $minhashCandCtes,
    memb AS (SELECT doc_id, md5(text) AS h, ${isBatchSql("doc_id")} AS is_batch
             FROM documents),
    eresp AS (
      SELECT b.doc_id, MIN(e.doc_id) AS exact_of
      FROM memb b JOIN memb e ON b.h = e.h AND b.is_batch AND NOT e.is_batch
      GROUP BY b.doc_id),
    nresp AS (
      SELECT x.doc_id, MIN(y.doc_id) AS near_of
      FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
      WHERE ${isBatchSql("x.doc_id")} AND NOT (${isBatchSql("y.doc_id")})
      GROUP BY x.doc_id)
    SELECT m.doc_id,
      CASE WHEN exact_of IS NOT NULL THEN 'drop_exact'
           WHEN near_of IS NOT NULL THEN 'drop_near'
           ELSE 'keep' END AS verdict,
      COALESCE(exact_of, near_of) AS dup_of
    FROM memb m
    LEFT JOIN eresp ON m.doc_id = eresp.doc_id
    LEFT JOIN nresp ON m.doc_id = nresp.doc_id
    WHERE m.is_batch ORDER BY m.doc_id"""
  }

  // -------------------------------------------------- D15 Bloom prefilter

  /** Bloom geometry for D15: [[BloomBits]]-bit filter probed by
    * [[BloomHashes]] salted hashes. Sized for the test corpus; at 100 TB
    * the same plan holds with m raised to keep kn/m ≈ ln 2 · k — the bit
    * set is a RELATION of set positions (never a driver-side bitmap), so
    * a larger m only changes whether the position join broadcasts (small
    * m) or shuffles (large m). */
  val BloomBits = 1 << 18
  val BloomHashes = 3

  /** D15: Bloom-filter dedup prefilter audit — the CCNet/Dolma ingest
    * pattern: the existing corpus populates an m-bit Bloom filter of
    * canonical text hashes; today's batch ([[BatchMod]] split, shared
    * with D11) probes it, and docs whose k positions are all set are
    * routed to the expensive exact/near tiers. The audit compares the
    * Bloom verdict against exact membership and reports, per source,
    * batch size, Bloom hits, true exact dups, false positives, and the
    * measured FP rate — the number that decides whether m is big enough
    * before anyone trusts the prefilter.
    *
    * Determinism: positions are salted MD5-prefix hashes mod m
    * ([[graft.ext.TextOps.tokenHash]] over `md5(text) || '#' || i` —
    * engine-identical); every output is an exact integer count except
    * the one IEEE division rounded at the boundary.
    *
    * Scale shape: the bit set is `SELECT DISTINCT pos` over the existing
    * side — provably ≤ m rows regardless of corpus size (the planner
    * picks broadcast vs shuffle by its actual size; no hint, m is a
    * config, not a fixture bound). The probe explodes the batch into k
    * rows/doc, LEFT-joins the bit set on pos, and reduces per doc_id —
    * map-side partials, no skew surface (positions are uniform by
    * construction). The exact tier is D11's bounded batch-side hash
    * join.
    */
  def bloomPrefilter(s: SparkSession, dir: String): DataFrame =
    bloomPrefilterFrom(t(s, dir))

  /** [[bloomPrefilter]] over an explicit `(doc_id, text, source)` relation. */
  def bloomPrefilterFrom(docs0: DataFrame): DataFrame = {
    def isBatch(c: Column): Column =
      pmod(TextOps.tokenHash(c.cast("string")), lit(BatchMod)) === 0L
    val docs = docs0.select(col("doc_id"), col("source"),
        md5(col("text")).as("h"),
        isBatch(col("doc_id")).as("is_batch"))
    val posArr = array((0 until BloomHashes).map(i =>
      pmod(TextOps.tokenHash(concat(col("h"), lit(s"#$i"))), lit(BloomBits.toLong))): _*)
    val pos = docs.select(col("doc_id"), col("is_batch"), explode(posArr).as("pos"))
    val bits = pos.filter(!col("is_batch")).select("pos").distinct()
    val probe = pos.filter(col("is_batch"))
      .join(bits.withColumn("set", lit(1)), Seq("pos"), "left")
      .groupBy("doc_id")
      .agg((count(col("set")) === lit(BloomHashes.toLong)).as("bloom_hit"))
    val exact = docs.filter(col("is_batch")).select(col("doc_id"), col("h"))
      .join(docs.filter(!col("is_batch")).select(col("h")).distinct(), Seq("h"))
      .select(col("doc_id"), lit(true).as("is_dup"))
    docs.filter(col("is_batch")).select(col("doc_id"), col("source"))
      .join(probe, Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      .select(col("source"), col("bloom_hit"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .groupBy("source").agg(
        count(lit(1)).as("n_batch"),
        count(when(col("bloom_hit"), 1)).as("n_bloom_hit"),
        count(when(col("is_dup"), 1)).as("n_exact_dup"),
        count(when(col("bloom_hit") && !col("is_dup"), 1)).as("n_false_pos"))
      .select(col("source"), col("n_batch"), col("n_bloom_hit"),
        col("n_exact_dup"), col("n_false_pos"),
        when(col("n_batch") > col("n_exact_dup"),
          round(col("n_false_pos").cast("double") /
            (col("n_batch") - col("n_exact_dup")).cast("double"), 6))
          .otherwise(lit(0.0)).as("fp_rate"))
      .orderBy("source")
  }

  val bloomPrefilterSql: String = {
    def isBatchSql(c: String) =
      s"${TextOps.tokenHashSql(s"CAST($c AS VARCHAR)")} % $BatchMod = 0"
    val saltVals = (0 until BloomHashes).map(i => s"($i)").mkString(",")
    s"""WITH docs AS (
      SELECT doc_id, source, md5(text) AS h, ${isBatchSql("doc_id")} AS is_batch
      FROM documents),
    pos AS (
      SELECT doc_id, is_batch,
        ${TextOps.tokenHashSql("concat(h, '#', i)")} % $BloomBits AS pos
      FROM docs CROSS JOIN (VALUES $saltVals) s(i)),
    bits AS (SELECT DISTINCT pos FROM pos WHERE NOT is_batch),
    probe AS (
      SELECT p.doc_id, COUNT(b.pos) = $BloomHashes AS bloom_hit
      FROM pos p LEFT JOIN bits b ON p.pos = b.pos
      WHERE p.is_batch GROUP BY p.doc_id),
    ex AS (
      SELECT DISTINCT d.doc_id, TRUE AS is_dup
      FROM docs d JOIN docs e ON d.h = e.h AND d.is_batch AND NOT e.is_batch),
    verdicts AS (
      SELECT d.source, probe.bloom_hit, COALESCE(ex.is_dup, FALSE) AS is_dup
      FROM docs d
      LEFT JOIN probe ON d.doc_id = probe.doc_id
      LEFT JOIN ex ON d.doc_id = ex.doc_id
      WHERE d.is_batch),
    agg AS (
      SELECT source,
        COUNT(*) AS n_batch,
        CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hit,
        CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
        CAST(SUM(CASE WHEN bloom_hit AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
      FROM verdicts GROUP BY source)
    SELECT source, n_batch, n_bloom_hit, n_exact_dup, n_false_pos,
      CASE WHEN n_batch > n_exact_dup
        THEN ROUND(CAST(n_false_pos AS DOUBLE) / CAST(n_batch - n_exact_dup AS DOUBLE), 6)
        ELSE 0.0 END AS fp_rate
    FROM agg ORDER BY source"""
  }

  // ----------------------------------------------------- D9 calibration

  /** D9: MinHash calibration curve — the dedup-quality report a data
    * card ships: for every LSH candidate pair, the 16-hash signature
    * ESTIMATE of Jaccard against the exact shingle-set Jaccard, rolled
    * up per discrete estimate value (k/16) into pair counts, mean exact
    * similarity, and mean absolute estimation error. This is how a
    * pipeline picks its banding/threshold operating point (and audits
    * that MinHash isn't silently over-merging) without re-running dedup.
    *
    * Exactness side reuses D2's capped machinery: the inverted-index
    * common counts + sizes over [[MaxShingleDf]]-filtered shingle sets
    * (LEFT-joined — a candidate pair whose shared shingles are all
    * capped out scores exact 0, which is precisely the "boilerplate
    * carries no near-dup signal" stance the cap encodes). Estimate side
    * is D3's signature match fraction.
    *
    * Determinism: exact Jaccard is one IEEE division rounded at 9; the
    * per-bucket means accumulate those identical doubles in exact
    * DECIMAL(20,10) (partition-order independent), one division by the
    * exact pair count, round(…, 6) at the comparison boundary. The
    * estimate k/16 is a binary-exact double, so grouping on it is safe.
    *
    * Scale shape: strictly the union of D2's and D3's plans (both
    * individually bounded — banding equi-join, df-capped posting
    * lists) plus one ≤17-row rollup; no new skew surface.
    */
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val sig = minhashSig(s, dir).persistRecorded() // feeds banding + both est join sides
    val matches = (0 until NumHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)).reduce(_ + _)
    val est = bandCandidates(sig)
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / lit(NumHashes.toDouble)).as("est_jaccard"))
    // r20 (tools/ReProf, the m6 pattern): the exact side reads the
    // shared memoized pair-grain relation, which carries na/nb as group
    // constants instead of LEFT-joining sizes back onto the pair set
    // twice. Equivalence: a pair in `com` always has na, nb ≥ 1 (it
    // shares a shingle) and denom = na+nb-common ≥ 1; a pair NOT in
    // `com` had exact_j = 0.0 under BOTH shapes (old: common coalesced
    // to 0 makes the numerator 0; new: denom coalesces to 0 and the
    // guard emits 0.0).
    val com = shinglePairs(s, dir)
    val denom = coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L)) -
      coalesce(col("common"), lit(0L))
    val ex = est
      .join(com, Seq("doc_a", "doc_b"), "left")
      .select(col("est_jaccard"),
        when(denom > 0,
          round(coalesce(col("common"), lit(0L)).cast("double") / denom.cast("double"), 9))
          .otherwise(lit(0.0)).as("exact_j"))
      // pair-grain calibration scatter: the prepared relation a fresh
      // rollup re-reads (steady state = one agg exchange + sort)
      .persistRecorded()
    ex.groupBy("est_jaccard")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("exact_j").cast(DecimalType(20, 10))).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_exact"),
        round(sum(abs(col("est_jaccard") - col("exact_j")).cast(DecimalType(20, 10)))
          .cast("double") / count(lit(1)).cast("double"), 6).as("mean_abs_err"))
      .orderBy("est_jaccard")
  }

  val minhashCalibrationSql: String = {
    val matches = (0 until NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    val denom = "COALESCE(sa.nsh, 0) + COALESCE(sb.nsh, 0) - COALESCE(c.common, 0)"
    s"""WITH $minhashCandCtes,
    est AS (
      SELECT doc_a, doc_b, CAST($matches AS DOUBLE) / ${NumHashes.toDouble} AS est_jaccard
      FROM cand JOIN sig a ON cand.doc_a = a.doc_id JOIN sig b ON cand.doc_b = b.doc_id),
    $cappedShingleCtes,
    com AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    ex AS (
      SELECT e.est_jaccard,
        CASE WHEN $denom > 0
          THEN ROUND(CAST(COALESCE(c.common, 0) AS DOUBLE) / CAST($denom AS DOUBLE), 9)
          ELSE 0.0 END AS exact_j
      FROM est e
      LEFT JOIN com c ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
      LEFT JOIN sizes sa ON e.doc_a = sa.doc_id
      LEFT JOIN sizes sb ON e.doc_b = sb.doc_id)
    SELECT est_jaccard, COUNT(*) AS n_pairs,
      ROUND(CAST(SUM(CAST(exact_j AS DECIMAL(20,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_exact,
      ROUND(CAST(SUM(CAST(abs(est_jaccard - exact_j) AS DECIMAL(20,10))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_abs_err
    FROM ex GROUP BY est_jaccard ORDER BY est_jaccard"""
  }

  // ---------------------------------------------------------- dup clusters

  /** Round cap for [[clusterLabels]]. Min-label propagation converges in
    * O(graph diameter) rounds; LSH candidate graphs are unions of
    * per-bucket cliques, so real dup-cluster diameters are tiny (a chain
    * needs every adjacent pair to collide in SOME band while the ends
    * never do). Exceeding the cap raises rather than silently returning
    * half-merged clusters — at 100 TB an unconverged label table is a
    * WRONG dedup, not a slow one.
    */
  val MaxClusterIters = 64

  /** Connected components by min-label propagation over an undirected
    * candidate edge list: every node starts as its own label; each round
    * ships labels across edges and keeps the per-node min; fixpoint when
    * no label changes. The per-round cost is one join + one aggregate
    * (both with map-side partials), the textbook distributed-CC shape —
    * the driver holds ONE scalar (the changed-count) per round, never
    * data. Returns `(id, lbl)` with `lbl` = min node id in the
    * component.
    *
    * Lineage MUST be truncated every round: the propagation plan embeds
    * the previous round's plan twice (join side + union side), so an
    * un-truncated loop is EXPONENTIAL in plan size — analysis cost and
    * plan-string rendering double per round (a clean-build test run hit
    * an OOM from exactly this before the fix). Each round re-roots its
    * label table at an RDD scan (`createDataFrame(df.rdd, schema)`):
    * the SQL plan stays constant-size, while the RDD lineage grows only
    * LINEARLY with persisted cut points every round — classic iterative
    * Spark, recoverable and recomputable. Rounds are persisted through
    * the cache manager, so the superseded round is explicitly
    * unpersisted once the new one is materialized: executor storage
    * holds at most TWO label tables at any time, not one per round.
    */
  def clusterLabels(nodes: DataFrame, cand: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persistRecorded()
    var labels = truncated(nodes.select(col("id"), col("id").as("lbl"))).persistRecorded()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < MaxClusterIters) {
      val prop = truncated(edges.join(labels, col("src") === col("id"))
        .select(col("dst").as("id"), col("lbl"))
        .unionAll(labels)
        .groupBy("id").agg(min("lbl").as("lbl")))
        .persistRecorded()
      changed = prop.join(labels.withColumnRenamed("lbl", "old"), "id")
        .filter(col("lbl") =!= col("old")).count()
      labels.unpersist()
      labels = prop
      iters += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw graft.model.GraftException.Processing(
        s"dup-cluster propagation did not converge in $MaxClusterIters rounds")
    labels
  }

  /** D7: dup-cluster assignment — the transitive closure the pairwise
    * tiers stop short of (the CCNet/RefinedWeb final dedup step): every
    * document labeled with the min doc_id of its connected component in
    * the D3 candidate graph, plus the component size. Two docs that
    * never share a band still cluster through a chain of shared-band
    * neighbors. Singletons (no candidate pair) keep their own id with
    * size 1. The oracle expresses the same closure as a DuckDB recursive
    * CTE — label propagation and reachability-min agree exactly on any
    * graph.
    */
  /** The (id, lbl) cluster labeling of the full corpus under the D3
    * candidate graph — the raw relation D7 and the C1 curation funnel
    * both consume.
    */
  /** Session-lifetime memo of the CC label relations. Unlike every other
    * shared relation in this file (which dedupes across calls through
    * Spark's plan-equality cache lookup), the label-propagation loop
    * re-roots each round at a fresh RDD scan — two constructions are
    * NEVER plan-equal, so without a memo every caller (c1, c3, d7 — and
    * each bench iteration of each) re-runs the whole per-round action
    * loop (measured r11: ~9-17 s per re-run at sf0.1; the r10 bench
    * charged c1's cold slot 67 s for exactly this). The built Dataset is
    * immutable and pure in (session, dir), so it is constructed once:
    * after a caller's clearCache the next action replays the loop's RDD
    * lineage (shuffle files are retained while the memoized RDDs stay
    * referenced) instead of re-running the per-round count() actions.
    */
  private def memoLabels(key: String, s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame =
    SessionMemo.get[DataFrame](s, s"cc:$key:$dir")(build)

  def clusterIds(s: SparkSession, dir: String): DataFrame =
    memoLabels("doc", s, dir) {
      // sig looks single-consumer but actually feeds FOUR plan legs: the
      // band self-join's two sides and both unionAll legs of the edge
      // list in clusterLabels (whose distinct-exchanges differ, so AQE
      // stage reuse does NOT dedupe them — measured: dropping this
      // persist took d7/c1 from ≤1.4 s to ~6 s warm at sf0.1, the
      // shingle-explode signature build re-running per leg). Released
      // once the loop has materialized the labels: they are re-rooted at
      // an RDD scan, so no later plan reads sig through them, and a memo
      // hit need not re-arm it.
      val sig = minhashSig(s, dir).persistRecorded()
      val nodes = t(s, dir).select(col("doc_id").as("id"))
      val labels = clusterLabels(nodes, bandCandidates(sig))
      sig.unpersist()
      labels
    }

  def dupClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = clusterIds(s, dir)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Oracle CTE chain ending in `lab(doc_id, cluster_id)` — the
    * recursive-closure counterpart of [[clusterIds]]; callers must open
    * their WITH as `WITH RECURSIVE`.
    */
  private[ext] def clusterLabCtes: String =
    s"""$minhashCandCtes,
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM cand
              UNION ALL SELECT doc_b, doc_a FROM cand),
    reach AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON r.id = e.src),
    lab AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)"""

  val dupClustersSql: String =
    s"""WITH RECURSIVE $clusterLabCtes,
    sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY 1)
    SELECT doc_id, cluster_id, cluster_size FROM lab JOIN sz USING (cluster_id)
    ORDER BY doc_id"""

  // ------------------------------------------------------- para clusters

  /** Paragraph-sharing document-frequency cap for D8 — same role as
    * [[MaxShingleDf]]: a boilerplate paragraph present in more than this
    * many documents is dropped before the pairing self-join, bounding
    * every posting list to cap² pairs regardless of corpus size (and
    * keeping a universal footer from fusing the whole corpus into one
    * meaningless cluster — standard stop-paragraph removal; the oracle
    * applies the identical cap).
    */
  val MaxParaDf = 100

  /** D8: paragraph-level dup CLUSTERS — the transitive closure over
    * shared-paragraph edges (docs sharing ≥1 identical
    * [[ParaBlockTokens]]-token block, reference granularity of D6),
    * labeling every document with the min doc_id of its component: the
    * last dedup granularity between D6's per-paragraph canonicals and
    * D7's whole-document MinHash closure. Reuses [[clusterLabels]]
    * verbatim — the edge generator is the only new relation: distinct
    * (h, doc_id) instances, df-capped per [[MaxParaDf]], self-joined on
    * the 16-byte hash. The oracle states the same closure as a
    * recursive CTE.
    */
  def paraClusters(s: SparkSession, dir: String): DataFrame = {
    val labels = memoLabels("para", s, dir) {
      // persisted (and released) for the same reasons as clusterIds'
      // sig: inst feeds the df agg, both self-join legs, and both
      // edge-union legs downstream
      val inst = paraBlocks(s, dir).select(col("h"), col("doc_id")).distinct()
        .persistRecorded()
      // df ∈ [2, cap]: singleton paragraphs generate no edge, and the
      // count agg carries 16-byte keys with map-side partials
      val keep = inst.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= MaxParaDf)
        .select("h")
      val kept = inst.join(keep, "h")
      val cand = kept.as("x").join(kept.as("y"), "h")
        .filter(col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val nodes = t(s, dir).select(col("doc_id").as("id"))
      val labels = clusterLabels(nodes, cand)
      inst.unpersist()
      labels
    }
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("para_cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  val paraClustersSql: String =
    s"""WITH RECURSIVE $paraBlockCtes,
    inst AS (SELECT DISTINCT h, doc_id FROM blk),
    keep AS (SELECT h FROM inst GROUP BY h
             HAVING COUNT(*) >= 2 AND COUNT(*) <= $MaxParaDf),
    pcand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM inst x JOIN keep USING (h) JOIN inst y
        ON x.h = y.h AND x.doc_id < y.doc_id),
    pedges AS (SELECT doc_a AS src, doc_b AS dst FROM pcand
               UNION ALL SELECT doc_b, doc_a FROM pcand),
    preach AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst, r.lbl FROM preach r JOIN pedges e ON r.id = e.src),
    plab AS (SELECT id AS doc_id, MIN(lbl) AS para_cluster_id FROM preach GROUP BY id),
    psz AS (SELECT para_cluster_id, COUNT(*) AS cluster_size FROM plab GROUP BY 1)
    SELECT doc_id, para_cluster_id, cluster_size
    FROM plab JOIN psz USING (para_cluster_id)
    ORDER BY doc_id"""

  // -------------------------------------------------------------- simhash

  val SimhashBits = 48
  val SimhashBlocks = 4
  val BlockBits: Int = SimhashBits / SimhashBlocks

  /** D4: SimHash near-dup — 48-bit sign fingerprint over distinct token
    * hashes (48-bit MD5 prefixes, so every block has real entropy);
    * candidates from 12-bit block equality (pigeonhole-complete for
    * hamming ≤ 3); emits candidate pairs with hamming ≤ 20.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // distinct on the 48-bit hash, not the token string: the exchange
    // carries longs, and the (engine-identical) hash is what the bit
    // sums consume anyway
    val toksDf = t(s, dir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextOps.tokenHash48(col("tok")).as("h"))
      .distinct()
    // bitsum_j = Σ(2·bit_j(h) − 1) = 2·Σbit_j(h) − n: sum the raw bits
    // (branch-free, stays in codegen) and compare 2·ones > n.
    val sumExprs = (0 until SimhashBits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"s$j")) :+
      count(lit(1)).as("ntok")
    val bitSums = toksDf.groupBy("doc_id").agg(sumExprs.head, sumExprs.tail: _*)
    val sim = bitSums.select(col("doc_id"),
      (0 until SimhashBits).map(j =>
        shiftleft(when(col(s"s$j") * 2 > col("ntok"), 1L).otherwise(0L), j)).reduce(_ + _).as("simhash"))
      .persistRecorded() // feeds both block-join sides
    val blocks = sim.select(col("doc_id"), col("simhash"), explode(array(
      (0 until SimhashBlocks).map(b => struct(lit(b).as("blk"),
        shiftright(col("simhash"), b * BlockBits).bitwiseAND(lit((1L << BlockBits) - 1)).as("bval"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.blk"), col("e.bval"))
    blocks.as("x").join(blocks.as("y"), Seq("blk", "bval"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 20)
      .orderBy("doc_a", "doc_b")
  }

  val simhashSql: String = {
    val sums = (0 until SimhashBits).map(j =>
      s"SUM((h >> $j) & 1) AS s$j").mkString(", ") + ", COUNT(*) AS ntok"
    val bits = (0 until SimhashBits).map(j =>
      s"(CASE WHEN s$j * 2 > ntok THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $j)").mkString(" + ")
    val blockRows = (0 until SimhashBlocks).map(b =>
      s"SELECT doc_id, simhash, $b AS blk, (simhash >> ${b * BlockBits}) & ${(1L << BlockBits) - 1} AS bval FROM sim")
      .mkString(" UNION ALL ")
    s"""WITH toks AS (
      SELECT DISTINCT doc_id, ${TextOps.tokenHash48Sql("tok")} AS h FROM (
        SELECT doc_id, unnest(${TextOps.tokensSql}) AS tok FROM documents)),
    bitsums AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
    sim AS (SELECT doc_id, $bits AS simhash FROM bitsums),
    blocks AS ($blockRows)
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= 20
    ORDER BY doc_a, doc_b"""
  }

  // -------------------------------------------------------- contamination

  /** The held-out set for D5 — in production this is the evaluation
    * benchmark corpus; here a deterministic source stratum.
    */
  val BenchmarkSource = "src0"

  /** D5: benchmark decontamination — for every non-benchmark document,
    * the count and fraction of its distinct trigram shingles that also
    * appear anywhere in the benchmark stratum. The asymmetric sibling
    * of D2: no corpus self-join; the corpus is touched by one scan, one
    * distinct, and one left semi-style join. The join strategy is
    * deliberately left to the planner: a production benchmark (a fixed
    * eval suite) sits under the auto-broadcast threshold and broadcasts
    * on its own, while a benchmark that grows with the corpus — like
    * this demo stratum — must be allowed to degrade to a shuffle join
    * rather than force-broadcast an unbounded relation.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleDf(s, dir, keepSource = true)
      .select(col("doc_id"), col("source"),
        TextOps.tokenHash(col("shingle")).as("sh"))
      .distinct()
      .persistRecorded() // feeds the benchmark set and the corpus side
    val bench = sh.filter(col("source") === BenchmarkSource)
      .select("sh").distinct()
    val corpus = sh.filter(col("source") =!= BenchmarkSource)
    // ONE pass over the corpus shingles: LEFT join marks the benchmark
    // hits, then a single per-doc agg yields both the shingle count and
    // the hit count (the two-pass sizes⋈hits form would scan and
    // shuffle the widest relation twice)
    corpus.join(bench.withColumn("hit", lit(1)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("nsh"), count(col("hit")).as("n_shared"))
      .filter(col("n_shared") > 0)
      .select(col("doc_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("nsh").cast("double"), 6)
          .as("contamination"))
      // r20 (tools/ReProf): contaminated-doc-grain boundary — a fresh
      // construction re-runs the sort only, not the benchmark mark join
      // + per-doc agg over the sh cache (recon 0.91 s vs 0.03 s warm)
      .persistRecorded()
      .orderBy(col("contamination").desc, col("doc_id"))
  }

  val contaminationSql: String = s"""WITH ${shingleCteSql(withSource = true)},
    sh AS (SELECT DISTINCT doc_id, source,
        ${TextOps.tokenHashSql("shingle")} AS sh FROM shing),
    bench AS (SELECT DISTINCT sh FROM sh WHERE source = '$BenchmarkSource'),
    corpus AS (SELECT doc_id, sh FROM sh WHERE source != '$BenchmarkSource'),
    sizes AS (SELECT doc_id, COUNT(*) AS nsh FROM corpus GROUP BY 1),
    hits AS (SELECT doc_id, COUNT(*) AS n_shared
      FROM corpus JOIN bench USING (sh) GROUP BY 1)
    SELECT h.doc_id, n_shared,
      ROUND(CAST(n_shared AS DOUBLE) / CAST(nsh AS DOUBLE), 6) AS contamination
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    ORDER BY contamination DESC, h.doc_id"""

  /** D12 duplicated-span window length in tokens. */
  val SpanK = 8

  /** D12: exact-substring span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") — the token-coverage
    * view of duplication: every [[SpanK]]-token window is hashed; a
    * window whose hash appears in ≥ 2 documents is a duplicated span,
    * and each document reports how much of it is covered by duplicated
    * spans (the union of [p, p+k−1] over its duplicated positions —
    * exact, overlap-aware). This is the signal substring-level dedup
    * prunes on, where document-level D1–D4 see nothing (two documents
    * sharing one long paragraph inside otherwise-distinct text).
    *
    * Scale shape — deliberately JOIN-FREE on pairs: the cross-doc test
    * is `count(distinct doc_id) ≥ 2` per hash (map-side partial), and
    * duplicated positions join back by hash (semi-join). A boilerplate
    * span appearing in 1M docs costs 1M posting rows but never a
    * quadratic pair bucket, so no df cap is needed — the one dedup
    * operator here that needs none. Coverage explodes duplicated
    * positions ×k only (bounded blowup on the duplicated subset).
    */
  def substringSpans(s: SparkSession, dir: String): DataFrame =
    substringSpansFrom(t(s, dir).select(col("doc_id"), col("text")))

  /** [[substringSpans]] over an explicit `(doc_id, text)` relation —
    * the spec pins coverage arithmetic on planted shared spans.
    *
    * Gram keys are a polynomial fold (acc·31 + tokenHash) mod 1e9+7
    * over the window's per-token hashes — md5 runs ONCE per token, not
    * once per 8-token concatenated string (the T4 fingerprint / T11
    * hash-key scheme; measured: the concat+md5-per-gram form cost
    * 35.8 s cold at sf0.1, this one ~half). The oracle folds the
    * identical arithmetic, so any collision merges the same spans in
    * both engines.
    */
  def substringSpansFrom(d: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val base = d.select(col("doc_id"),
      size(toks).as("n_tokens"),
      transform(toks, w => TextOps.tokenHash(w)).as("th"))
    val ghArr = when(col("n_tokens") >= SpanK,
      transform(sequence(lit(1), col("n_tokens") - (SpanK - 1)), i =>
        (0 until SpanK).foldLeft(lit(0L): Column)((acc, j) =>
          (acc * lit(31L) + element_at(col("th"), i + lit(j))) %
            TextOps.FingerprintMod)))
      .otherwise(array().cast("array<bigint>"))
    val g = base
      .select(col("doc_id"), posexplode(ghArr))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gh"))
      .persistRecorded() // feeds the dup agg, the join-back, and the per-doc counts
    // distinct-then-count (the d18 viral-key rule): a boilerplate span
    // hash-spreads across partitions before the combinable per-gh count
    val dup = g.select("gh", "doc_id").distinct()
      .groupBy("gh").agg(count(lit(1)).as("dfd"))
      .filter(col("dfd") >= 2).select("gh")
    val dupg = g.join(dup, "gh").persistRecorded() // feeds coverage + dup counts
    val cov = dupg
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("cp"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    val counts = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val dcounts = dupg.groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    base.select("doc_id", "n_tokens")
      .join(counts, Seq("doc_id"), "left")
      .join(dcounts, Seq("doc_id"), "left")
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("covered"), lit(0L)).cast("double") /
            col("n_tokens").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_span_frac"))
      .orderBy("doc_id")
  }

  val substringSpansSql: String = {
    val k = SpanK
    val fold = (0 until k).foldLeft("CAST(0 AS BIGINT)")((acc, j) =>
      s"(($acc * 31 + th[i+$j]) % ${TextOps.FingerprintMod})")
    s"""WITH toks AS (SELECT doc_id,
      list_transform(${TextOps.tokensSql}, w -> ${TextOps.tokenHashSql("w")}) AS th
      FROM documents),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, $fold AS gh
      FROM toks, UNNEST(range(1, len(th) - ${k - 2})) AS u(i)),
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
    dupg AS (SELECT doc_id, pos FROM grams JOIN dup USING (gh)),
    cov AS (SELECT doc_id, COUNT(*) AS covered FROM (
      SELECT DISTINCT doc_id, pos + o AS cp
      FROM dupg, UNNEST(range(0, $k)) AS t(o)) GROUP BY 1),
    cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
    dcnt AS (SELECT doc_id, COUNT(*) AS n_dup_grams FROM dupg GROUP BY 1),
    nt AS (SELECT doc_id, len(${TextOps.tokensSql}) AS n_tokens FROM documents)
    SELECT nt.doc_id, n_tokens,
      COALESCE(n_grams, 0) AS n_grams,
      COALESCE(n_dup_grams, 0) AS n_dup_grams,
      COALESCE(covered, 0) AS covered_tokens,
      CASE WHEN n_tokens > 0
        THEN ROUND(CAST(COALESCE(covered, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
        ELSE 0.0 END AS dup_span_frac
    FROM nt
    LEFT JOIN cnt ON nt.doc_id = cnt.doc_id
    LEFT JOIN dcnt ON nt.doc_id = dcnt.doc_id
    LEFT JOIN cov ON nt.doc_id = cov.doc_id
    ORDER BY nt.doc_id"""
  }

  /** D13: shingle novelty — per document, the fraction of its distinct
    * trigram shingles whose FIRST appearance (min doc_id, the ingest
    * order) is this document: the "new content contribution" curve a
    * crawl pipeline tracks to decide when a source is mined out (the
    * complement of D2's duplication view, over the same shared shingle
    * definition). A doc of pure boilerplate scores ~0; genuinely new
    * text scores ~1. Docs with < 3 tokens have no shingles and score 0
    * by convention.
    *
    * Scale shape: min-aggregate per shingle hash + one join-back on the
    * hash — no pair join exists, so like D12 no df cap is needed; a
    * shingle in 1M docs is one min-agg row. Ties inside one doc don't
    * exist (distinct shingles), ties across docs resolve to the
    * smallest doc_id in both engines by the same MIN.
    */
  def shingleNovelty(s: SparkSession, dir: String): DataFrame =
    // the registry path rides the memoized shared base instead of
    // re-materializing its own copy (r11 cold: 75 s for exactly that)
    shingleNoveltyFromSh(t(s, dir).select(col("doc_id")),
      distinctShingles(s, dir))

  /** [[shingleNovelty]] over an explicit `(doc_id, text)` relation —
    * the spec pins the first-appearance attribution on micro-fixtures.
    */
  def shingleNoveltyFrom(d: DataFrame): DataFrame = {
    val sh = d.select(col("doc_id"),
      explode(TextOps.ngrams(TextOps.tokens(col("text")), 3)).as("shingle"))
      .select(col("doc_id"), TextOps.tokenHash(col("shingle")).as("sh"))
      .distinct()
      .persistRecorded() // feeds the first-appearance agg and the join-back leg
    shingleNoveltyFromSh(d.select(col("doc_id")), sh)
  }

  private def shingleNoveltyFromSh(ids: DataFrame, sh: DataFrame): DataFrame = {
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    val per = sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("doc_id") === col("first_doc")).cast("long")).as("n_novel"))
    // r21 (verdict r20 item 1): the r20 doc-grain persist on `per` is
    // REMOVED — single consumer (the ids left join), bench-iteration-only
    // reuse at a doc-grain materialization cost in a one-shot run
    // (guide §5). The shared shingle base stays memoized upstream.
    ids
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0,
          round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
          .otherwise(lit(0.0)).as("novelty"))
      .orderBy("doc_id")
  }

  val shingleNoveltySql: String = s"""WITH $shingleCte,
    sh AS (SELECT DISTINCT doc_id, ${TextOps.tokenHashSql("shingle")} AS sh FROM shing),
    first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
    per AS (
      SELECT doc_id, COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      FROM sh JOIN first USING (sh) GROUP BY 1)
    SELECT d.doc_id,
      COALESCE(n_shingles, 0) AS n_shingles,
      COALESCE(n_novel, 0) AS n_novel,
      CASE WHEN COALESCE(n_shingles, 0) > 0
        THEN ROUND(CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
        ELSE 0.0 END AS novelty
    FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id"""

  // ------------------------------------------------------ threshold sweep

  /** D14 sweep grid: Jaccard thresholds in integer percent — integer
    * spine values keep the grid join exact; each comparison casts the
    * SAME literal the same way in both engines.
    */
  val SweepThresholds: Seq[Int] = Seq(50, 60, 70, 80, 90)

  /** D14: dedup-rate-vs-threshold curve — for each Jaccard threshold,
    * how many candidate pairs and how many distinct documents a near-dup
    * prune at that threshold would touch. The knob-tuning view every
    * dedup deployment wants before committing a threshold (CCNet and
    * RefinedWeb both report exactly this curve when choosing their
    * prune point).
    *
    * Scale shape: the s9 one-pass-sweep pattern applied to D2 — the
    * [[MaxShingleDf]]-capped pair relation with its exact Jaccard is
    * built ONCE (shared definitionally with D2/D9/D10 via
    * [[cappedShingles]]), and every sweep point derives by filter from
    * that single relation: the 5-row threshold spine joins in, pairs
    * explode ×2 for the distinct-doc count, and the output left-joins
    * back onto the spine so empty thresholds stay visible as zeros.
    * Nothing re-probes, nothing rescans the corpus per point.
    */
  def dedupSweep(s: SparkSession, dir: String): DataFrame = {
    val sh = cappedShingles(s, dir)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("nsh"))
    val pairs = sh.as("a").join(sh.as("b"), "sh")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val j = pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nsh", "na"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nsh", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double")).as("jaccard"))
      .persistRecorded() // one candidate pass feeds every sweep point
    val spine = s.createDataFrame(SweepThresholds.map(Tuple1(_)))
      .toDF("thr_pct") // 5 rows, provably bounded
    val hit = j.crossJoin(broadcast(spine))
      .filter(col("jaccard") >= col("thr_pct").cast("double") / 100.0)
    val nPairs = hit.groupBy("thr_pct").agg(count(lit(1)).as("n_pairs"))
    val nDocs = hit.select(col("thr_pct"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .distinct() // spread before the combinable per-threshold count
      .groupBy("thr_pct").agg(count(lit(1)).as("n_docs_affected"))
    val total = t(s, dir).agg(count(lit(1)).as("n_corpus")) // 1 row
    spine
      .join(nPairs, Seq("thr_pct"), "left")
      .join(nDocs, Seq("thr_pct"), "left")
      .crossJoin(broadcast(total))
      .select(col("thr_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"),
        round(coalesce(col("n_docs_affected"), lit(0L)).cast("double") /
          col("n_corpus").cast("double"), 6).as("affected_rate"))
      .orderBy("thr_pct")
  }

  val dedupSweepSql: String = s"""WITH $shingleCte,
    $cappedShingleCtes,
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
      FROM shh a JOIN shh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    j AS (
      SELECT doc_a, doc_b,
        CAST(common AS DOUBLE) / CAST(sa.nsh + sb.nsh - common AS DOUBLE) AS jaccard
      FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
                 JOIN sizes sb ON pairs.doc_b = sb.doc_id),
    spine AS (SELECT unnest(${SweepThresholds.mkString("[", ", ", "]")}) AS thr_pct),
    hit AS (
      SELECT thr_pct, doc_a, doc_b FROM j JOIN spine
        ON jaccard >= CAST(thr_pct AS DOUBLE) / 100.0),
    np AS (SELECT thr_pct, COUNT(*) AS n_pairs FROM hit GROUP BY 1),
    nd AS (SELECT thr_pct, COUNT(DISTINCT doc) AS n_docs_affected FROM (
        SELECT thr_pct, doc_a AS doc FROM hit
        UNION ALL SELECT thr_pct, doc_b FROM hit)
      GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_corpus FROM documents)
    SELECT spine.thr_pct,
      COALESCE(n_pairs, 0) AS n_pairs,
      COALESCE(n_docs_affected, 0) AS n_docs_affected,
      ROUND(CAST(COALESCE(n_docs_affected, 0) AS DOUBLE) /
        CAST(n_corpus AS DOUBLE), 6) AS affected_rate
    FROM spine LEFT JOIN np USING (thr_pct) LEFT JOIN nd USING (thr_pct), tot
    ORDER BY thr_pct"""

  // -------------------------------------------- D16 URL canonicalization

  /** D16: URL-canonicalization dedup — the FIRST dedup stage of every
    * web-corpus pipeline (CCNet §2.1 dedups per-snapshot by URL before
    * any content hashing; RefinedWeb likewise): normalize each
    * document's URL (lowercase scheme+host, strip `www.`, drop
    * tracking query params but KEEP meaningful ones, strip fragment and
    * trailing slash), group by the canonical key, and keep the
    * highest-quality member (max `n_chars`, tie → min doc_id). Emits
    * per document the raw URL, its canonical form, the dup-group size,
    * and the kept flag.
    *
    * The corpus has no URL column, so the raw URL is DERIVED
    * deterministically from real table columns in BOTH engines — a
    * simulated ingest field exercising every normalization rule:
    * scheme case (`HTTPS://` every 11th doc), `www.` prefix (even
    * docs), host from the doc-triple group key (so canonical dup
    * groups genuinely form), pure-tracking query strings (doc_id%4==0),
    * meaningful `page=` params kept alone (%4==1) or mixed with
    * tracking (%4==2), fragments (every 7th doc), trailing slash
    * (every 5th). The CANONICALIZATION is the operator under test; the
    * construction is just its fixture, stated identically in the
    * oracle.
    *
    * Determinism: pure string expressions — regexp_extract/replace
    * with engine-appropriate backreference syntax ($1 Java, \\1 RE2)
    * over ASCII; param filtering via the same split→filter→rejoin
    * lambda chain both sides; integer arithmetic for every branch.
    *
    * Scale shape: one codegen'd projection pass builds the canonical
    * key (persisted — it feeds the winner agg and the join-back); the
    * dedup is ONE map-side-combinable aggregate over the key (count +
    * lexicographic struct-max picking max-quality/min-doc_id) joined
    * back — NO window over the dup group, so a pathological hot URL (a
    * boilerplate page duplicated millions of times) costs a
    * skewed-but-mergeable agg, never a single-partition sort.
    */
  def urlCanonical(s: SparkSession, dir: String): DataFrame =
    urlCanonicalFrom(t(s, dir).select(col("doc_id"), col("n_chars")))

  /** The D16 canonicalization as a pure column expression — THE one
    * definition of "same page", shared by the batch dedup and the
    * streaming `StreamOps.urlDedupStream` dual: strip fragment, drop
    * tracking query params (keep meaningful ones), lowercase
    * scheme+host, strip `www.` and the trailing slash.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val qs = regexp_extract(noFrag, "\\?(.*)$", 1)
    val kept = filter(split(qs, "&"), p =>
      p =!= lit("") && !p.startsWith("utm_") &&
        !p.startsWith("fbclid") && !p.startsWith("gclid"))
    val canonQ = when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
      .otherwise(lit(""))
    val schemeHostRaw = regexp_extract(base, "^([^/]*//[^/]*)", 1)
    val schemeHost = regexp_replace(lower(schemeHostRaw), "^(https?://)www\\.", "$1")
    val path = regexp_replace(
      base.substr(length(schemeHostRaw) + 1, length(base)), "/$", "")
    concat(schemeHost, path, canonQ)
  }

  /** [[urlCanonical]] over an explicit `(doc_id, n_chars)` relation. */
  def urlCanonicalFrom(d: DataFrame): DataFrame = {
    val g = floor(col("doc_id") / 3).cast("long")
    val url = concat(
      when(pmod(col("doc_id"), lit(11)) === 0, lit("HTTPS://")).otherwise(lit("https://")),
      when(pmod(col("doc_id"), lit(2)) === 0, lit("www.")).otherwise(lit("")),
      concat(lit("site"), pmod(g, lit(50)).cast("string"), lit(".example.com")),
      concat(lit("/doc/"), g.cast("string")),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("?utm_source=feed&utm_campaign=x"))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("?page="), pmod(col("doc_id"), lit(3)).cast("string")))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(lit("?utm_source=feed&page="), pmod(col("doc_id"), lit(3)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 0, lit("#sec")).otherwise(lit("")))
    val withUrl = d.withColumn("url", url)
    val canon = withUrl.withColumn("canon_url", canonicalUrl(col("url")))
      .select(col("doc_id"), col("n_chars"), col("url"), col("canon_url"))
      .persistRecorded() // the regex canon projection feeds the winner agg AND the join-back
    // ONE map-side-combinable aggregate picks group size and winner:
    // lexicographic struct-max over (n_chars, -doc_id) = max quality,
    // tie min doc_id — the same struct-extremum encoding the S11 PQ
    // assignment uses, stated identically in the oracle.
    val win = canon.groupBy("canon_url")
      .agg(count(lit(1)).as("n_dup"),
        max(struct(col("n_chars").as("nc"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("canon_url"), col("n_dup"), (-col("best.negid")).as("kept_doc"))
    canon
      .join(win, "canon_url")
      .select(col("doc_id"), col("url"), col("canon_url"), col("n_dup"),
        (col("doc_id") === col("kept_doc")).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  val urlCanonicalSql: String = s"""WITH w AS (
      SELECT doc_id, n_chars,
        concat(
          CASE WHEN doc_id % 11 = 0 THEN 'HTTPS://' ELSE 'https://' END,
          CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END,
          concat('site', CAST((doc_id // 3) % 50 AS VARCHAR), '.example.com'),
          concat('/doc/', CAST(doc_id // 3 AS VARCHAR)),
          CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
          CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
               WHEN doc_id % 4 = 1 THEN concat('?page=', CAST(doc_id % 3 AS VARCHAR))
               WHEN doc_id % 4 = 2 THEN concat('?utm_source=feed&page=', CAST(doc_id % 3 AS VARCHAR))
               ELSE '' END,
          CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
    parts AS (
      SELECT doc_id, n_chars, url,
        regexp_extract(regexp_replace(url, '#.*$$', ''), '^([^?]*)', 1) AS base,
        regexp_extract(regexp_replace(url, '#.*$$', ''), '\\?(.*)$$', 1) AS qs
      FROM w),
    canon0 AS (
      SELECT doc_id, n_chars, url, base,
        regexp_extract(base, '^([^/]*//[^/]*)', 1) AS shraw,
        list_filter(string_split(qs, '&'), p -> p != ''
          AND NOT starts_with(p, 'utm_')
          AND NOT starts_with(p, 'fbclid')
          AND NOT starts_with(p, 'gclid')) AS kp
      FROM parts),
    canon AS (
      SELECT doc_id, n_chars, url,
        concat(
          regexp_replace(lower(shraw), '^(https?://)www\\.', '\\1'),
          regexp_replace(substr(base, len(shraw) + 1), '/$$', ''),
          CASE WHEN len(kp) > 0 THEN concat('?', array_to_string(kp, '&')) ELSE '' END
        ) AS canon_url
      FROM canon0),
    g AS (SELECT canon_url, COUNT(*) AS n_dup,
        MAX({'nc': n_chars, 'negid': -doc_id}) AS best
      FROM canon GROUP BY 1)
    SELECT c.doc_id, c.url, c.canon_url, g.n_dup,
      CASE WHEN c.doc_id = -(g.best.negid) THEN 1 ELSE 0 END AS kept
    FROM canon c JOIN g ON c.canon_url = g.canon_url
    ORDER BY c.doc_id"""

  // ------------------------------------------- D17 method agreement

  /** D17: dedup-method agreement audit — the candidate-pair sets of the
    * two sketch tiers (D3 MinHash-LSH banding vs D4 SimHash pigeonhole,
    * hamming ≤ 20) full-outer-joined into a 3-row agreement matrix
    * (`both` / `minhash_only` / `simhash_only`), each cell carrying how
    * many of its pairs are byte-exact duplicates (md5 equality — the
    * ground truth the sketches approximate). The methodological check a
    * pipeline runs before trusting one sketch family alone: a large
    * `*_only` cell with high exact_frac means the OTHER method is
    * missing real duplicates at the current parameters. Reuses the
    * production candidate generators verbatim, so the audit measures
    * exactly what D3/D4 ship.
    *
    * Determinism: pure set algebra over integer doc-id pairs + exact
    * counts; the one ratio is an exact-integer division rounded at 6.
    *
    * Scale shape: both candidate sets are individually bounded (band
    * equi-join / 12-bit block pigeonhole, df-capped upstream); the
    * full-outer join runs on (doc_a, doc_b) keys; the exact flag joins
    * the 1-row-per-doc md5 relation twice; the final aggregate is
    * map-side-combinable onto ≤3 keys. No new quadratic surface.
    */
  def methodAgreement(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(s, dir).persistRecorded() // band self-join's two sides
    val mcand = bandCandidates(sig).withColumn("in_m", lit(1))
    val scand = simhash(s, dir).select(col("doc_a"), col("doc_b"))
      .withColumn("in_s", lit(1))
    val h = t(s, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val u = mcand.join(scand, Seq("doc_a", "doc_b"), "full_outer")
    u.join(h.select(col("doc_id").as("doc_a"), col("h").as("hx")), "doc_a")
      .join(h.select(col("doc_id").as("doc_b"), col("h").as("hy")), "doc_b")
      .select(
        when(col("in_m").isNotNull && col("in_s").isNotNull, "both")
          .when(col("in_m").isNotNull, "minhash_only")
          .otherwise("simhash_only").as("method"),
        (col("hx") === col("hy")).cast("long").as("exact"))
      .groupBy("method")
      .agg(count(lit(1)).as("n_pairs"), sum("exact").as("n_exact"))
      .select(col("method"), col("n_pairs"), col("n_exact"),
        round(col("n_exact").cast("double") / col("n_pairs").cast("double"), 6)
          .as("exact_frac"))
      .orderBy("method")
  }

  val methodAgreementSql: String = {
    val sums = (0 until SimhashBits).map(j =>
      s"SUM((h48 >> $j) & 1) AS s$j").mkString(", ") + ", COUNT(*) AS ntok"
    val bits = (0 until SimhashBits).map(j =>
      s"(CASE WHEN s$j * 2 > ntok THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END << $j)").mkString(" + ")
    val blockRows = (0 until SimhashBlocks).map(b =>
      s"SELECT doc_id, simhash, $b AS blk, (simhash >> ${b * BlockBits}) & ${(1L << BlockBits) - 1} AS bval FROM sim")
      .mkString(" UNION ALL ")
    s"""WITH $minhashCandCtes,
    toks AS (
      SELECT DISTINCT doc_id, ${TextOps.tokenHash48Sql("tok")} AS h48 FROM (
        SELECT doc_id, unnest(${TextOps.tokensSql}) AS tok FROM documents)),
    bitsums AS (SELECT doc_id, $sums FROM toks GROUP BY doc_id),
    sim AS (SELECT doc_id, $bits AS simhash FROM bitsums),
    blocks AS ($blockRows),
    scand AS (
      SELECT doc_a, doc_b FROM (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          bit_count(xor(x.simhash, y.simhash)) AS hamming
        FROM blocks x JOIN blocks y
          ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id)
      WHERE hamming <= 20),
    m AS (SELECT doc_a, doc_b, 1 AS in_m FROM cand),
    sc AS (SELECT doc_a, doc_b, 1 AS in_s FROM scand),
    u AS (
      SELECT COALESCE(m.doc_a, sc.doc_a) AS doc_a,
        COALESCE(m.doc_b, sc.doc_b) AS doc_b, in_m, in_s
      FROM m FULL OUTER JOIN sc ON m.doc_a = sc.doc_a AND m.doc_b = sc.doc_b),
    hs AS (SELECT doc_id, md5(text) AS h FROM documents),
    marked AS (
      SELECT CASE WHEN in_m IS NOT NULL AND in_s IS NOT NULL THEN 'both'
          WHEN in_m IS NOT NULL THEN 'minhash_only'
          ELSE 'simhash_only' END AS method,
        CASE WHEN hx.h = hy.h THEN 1 ELSE 0 END AS exact
      FROM u JOIN hs hx ON u.doc_a = hx.doc_id
             JOIN hs hy ON u.doc_b = hy.doc_id)
    SELECT method, COUNT(*) AS n_pairs, CAST(SUM(exact) AS BIGINT) AS n_exact,
      ROUND(CAST(SUM(exact) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS exact_frac
    FROM marked GROUP BY 1 ORDER BY 1"""
  }

  // ------------------------------------------- D18 line-level dedup

  /** A document is "mostly boilerplate" when at least this fraction of
    * its non-empty lines also occur in other documents (the CCNet §2.1
    * drop rule operates on exactly this per-doc ratio).
    */
  val LineDupDocFrac = 0.5

  /** D18: line-level exact dedup audit — the first dedup stage of
    * RefinedWeb (§G: exact line dedup before document MinHash) and the
    * paragraph-hash stage of CCNet §2.1, at line grain: a trimmed
    * non-empty line is a duplicate when it appears in ≥ 2 distinct
    * documents. Emits, per source, the line-duplication profile a
    * cleaning run reports: line volume, inter-document duplicate-line
    * count and fraction, the characters those lines would reclaim, and
    * how many documents are mostly boilerplate
    * ([[LineDupDocFrac]]-majority duplicated lines — CCNet's drop
    * candidates).
    *
    * Determinism: lines are keyed by full md5 hex of the trimmed line
    * (identical bytes both engines, no truncated-hash collisions);
    * every count is an exact integer; the two fractions are single IEEE
    * divisions rounded at the boundary; the per-doc majority test is
    * pure integer arithmetic (2·dup ≥ n), no float threshold.
    *
    * Scale shape: explode lines once; line df is a viral-key-safe
    * groupBy(hash) count (a boilerplate line in a billion docs is ONE
    * key with map-side partials, never a window); the join-back streams
    * exploded lines against the 1-row-per-key df side (AQE handles the
    * hot-key stream skew — no pair join exists anywhere); the doc
    * rollup and source rollup are map-side-combinable aggregates.
    */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    lineDedupFrom(t(s, dir))

  /** [[lineDedup]] over an explicit `(doc_id, source, text)` relation —
    * the spec pins the df/majority arithmetic on crafted line overlaps.
    */
  def lineDedupFrom(d: DataFrame): DataFrame = {
    val lines = d.select(col("doc_id"), col("source"),
        explode(filter(transform(split(col("text"), "\n"), x => trim(x)),
          x => x =!= lit(""))).as("line"))
      .select(col("doc_id"), col("source"), md5(col("line")).as("lh"),
        length(col("line")).cast("long").as("lc"))
    // distinct on (lh, doc_id) FIRST — the exchange hash-spreads a viral
    // line's copies across partitions; the per-lh count after it is
    // map-side combinable. A countDistinct per lh would instead funnel
    // every distinct doc of the hottest line through one reducer.
    val df = lines.select("lh", "doc_id").distinct()
      .groupBy("lh").agg(count(lit(1)).as("df_docs"))
    val perDoc = lines.join(df, "lh")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("nl"),
        sum(when(col("df_docs") >= 2, 1L).otherwise(0L)).as("dl"),
        sum(when(col("df_docs") >= 2, col("lc")).otherwise(0L)).as("dc"))
    perDoc.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nl").as("total_lines"),
        sum("dl").as("dup_lines"),
        sum("dc").as("dup_chars"),
        sum(when(col("dl") * 2 >= col("nl"), 1L).otherwise(0L))
          .as("docs_mostly_dup"))
      .select(col("source"), col("n_docs"), col("total_lines"),
        col("dup_lines"), col("dup_chars"),
        round(col("dup_lines").cast("double") /
          greatest(col("total_lines"), lit(1L)).cast("double"), 6)
          .as("dup_line_frac"),
        round(col("docs_mostly_dup").cast("double") /
          col("n_docs").cast("double"), 6).as("mostly_dup_frac"))
      .orderBy("source")
  }

  val lineDedupSql: String = s"""WITH lines AS (
      SELECT doc_id, source, md5(line) AS lh,
        CAST(length(line) AS BIGINT) AS lc
      FROM (
        SELECT doc_id, source,
          unnest(list_filter(list_transform(string_split(text, chr(10)),
            x -> trim(x)), x -> x != '')) AS line
        FROM documents)),
    df AS (
      SELECT lh, COUNT(DISTINCT doc_id) AS df_docs FROM lines GROUP BY 1),
    per_doc AS (
      SELECT doc_id, source, COUNT(*) AS nl,
        CAST(SUM(CASE WHEN df_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dl,
        CAST(SUM(CASE WHEN df_docs >= 2 THEN lc ELSE 0 END) AS BIGINT) AS dc
      FROM lines JOIN df USING (lh) GROUP BY 1, 2)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(nl) AS BIGINT) AS total_lines,
      CAST(SUM(dl) AS BIGINT) AS dup_lines,
      CAST(SUM(dc) AS BIGINT) AS dup_chars,
      ROUND(CAST(SUM(dl) AS DOUBLE) /
        CAST(GREATEST(SUM(nl), 1) AS DOUBLE), 6) AS dup_line_frac,
      ROUND(CAST(SUM(CASE WHEN dl * 2 >= nl THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE), 6) AS mostly_dup_frac
    FROM per_doc GROUP BY source ORDER BY source"""

  // ------------------------------------------- D19 template prefixes

  /** Tokens of the document head that define its "template": docs
    * opening with the same [[TemplatePrefixTokens]]-token prefix are
    * treated as instances of one boilerplate template (generated pages,
    * scraped mirrors, letterhead).
    */
  val TemplatePrefixTokens = 8

  /** D19: templated-document detection by shared prefix — the
    * complement of D18's line grain: docs whose OPENING
    * [[TemplatePrefixTokens]] tokens coincide corpus-wide are template
    * instances (RefinedWeb's "template removal" targets exactly these;
    * D12 finds shared interior spans, D19 the shared heads that
    * dominate generated/scraped content). Per source: doc volume,
    * distinct prefix count, template-instance count and fraction, and
    * the largest template family's size.
    *
    * Determinism: the prefix key is the full md5 hex of the
    * space-joined first tokens (identical bytes both engines, no
    * truncated-hash collisions); docs shorter than the prefix are
    * excluded by an exact integer length test; every count is exact and
    * the fraction is one rounded IEEE division.
    *
    * Scale shape: prefix df is the viral-key-safe groupBy(hash) count
    * (a million-instance template is ONE key with map-side partials);
    * the join-back streams (doc, hash) rows against the 1-row-per-key
    * df side; the (source, prefix) pre-aggregate bounds the final
    * rollup input by per-source distinct prefixes — no pair join, no
    * window anywhere.
    */
  def templatePrefix(s: SparkSession, dir: String): DataFrame =
    templatePrefixFrom(t(s, dir))

  /** [[templatePrefix]] over an explicit `(doc_id, source, text)`
    * relation — the spec pins the prefix-family arithmetic on crafted
    * templates.
    */
  def templatePrefixFrom(d: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val pre = d.select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(toks, 1, TemplatePrefixTokens))).as("ph"),
        size(toks).cast("long").as("ntok"))
      .filter(col("ntok") >= TemplatePrefixTokens)
      .select(col("doc_id"), col("source"), col("ph"))
    val pdf = pre.groupBy("ph").agg(count(lit(1)).as("pdf"))
    val perSrcPrefix = pre.join(pdf, "ph")
      .groupBy("source", "ph")
      .agg(count(lit(1)).as("n_in_src"), max("pdf").as("pdf"))
    perSrcPrefix.groupBy("source")
      .agg(sum("n_in_src").as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        sum(when(col("pdf") >= 2, col("n_in_src")).otherwise(0L))
          .as("n_templated"),
        max("pdf").as("max_template_df"))
      .select(col("source"), col("n_docs"), col("n_prefixes"),
        col("n_templated"),
        round(col("n_templated").cast("double") / col("n_docs").cast("double"), 6)
          .as("template_frac"),
        col("max_template_df"))
      .orderBy("source")
  }

  val templatePrefixSql: String = {
    val tk = graft.ext.TextOps.tokensSql
    s"""WITH pre AS (
      SELECT doc_id, source,
        md5(array_to_string(list_slice($tk, 1, $TemplatePrefixTokens), ' ')) AS ph
      FROM documents WHERE len($tk) >= $TemplatePrefixTokens),
    pdfs AS (SELECT ph, COUNT(*) AS pdf FROM pre GROUP BY 1),
    psp AS (
      SELECT source, pre.ph, COUNT(*) AS n_in_src, MAX(pdfs.pdf) AS pdf
      FROM pre JOIN pdfs ON pre.ph = pdfs.ph GROUP BY 1, 2)
    SELECT source,
      CAST(SUM(n_in_src) AS BIGINT) AS n_docs,
      COUNT(*) AS n_prefixes,
      CAST(SUM(CASE WHEN pdf >= 2 THEN n_in_src ELSE 0 END) AS BIGINT) AS n_templated,
      ROUND(CAST(SUM(CASE WHEN pdf >= 2 THEN n_in_src ELSE 0 END) AS DOUBLE) /
        CAST(SUM(n_in_src) AS DOUBLE), 6) AS template_frac,
      CAST(MAX(pdf) AS BIGINT) AS max_template_df
    FROM psp GROUP BY source ORDER BY source"""
  }

  // ------------------------------------------- D21 cluster sizes

  /** D21: duplicate-cluster size distribution — D7's transitive-closure
    * components rolled up into (decimal-digit-count, leading-digit)
    * size bands with cluster/doc counts and exact extreme sizes: the
    * "how big are our duplicate families" table that decides whether
    * dedup keeps canonical-only (long tail of pairs) or needs
    * family-level review (a few giant mirrors). Rides the SAME
    * session-memoized label relation as D7/C1/C3/C4/W9.
    *
    * Determinism: sizes and counts are exact integers; the band axis is
    * the E16 digit-count trick (pure integer string length — no
    * float log ever reaches a bin edge).
    *
    * Scale shape: one groupBy over the label relation (map-side
    * partials — a billion-doc component is ONE key), then a
    * map-side-combinable rollup onto a ≤18·9-row key space.
    */
  def clusterSizes(s: SparkSession, dir: String): DataFrame = {
    val sizes = clusterIds(s, dir)
      .groupBy("lbl").agg(count(lit(1)).as("sz"))
    sizes.groupBy(
        length(col("sz").cast("string")).as("sz_digits"),
        substring(col("sz").cast("string"), 1, 1).as("lead_digit"))
      .agg(count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"),
        min("sz").as("min_size"),
        max("sz").as("max_size"))
      .orderBy("sz_digits", "lead_digit")
  }

  val clusterSizesSql: String = s"""WITH RECURSIVE $clusterLabCtes,
    sizes AS (SELECT cluster_id, COUNT(*) AS sz FROM lab GROUP BY 1)
    SELECT CAST(length(CAST(sz AS VARCHAR)) AS INTEGER) AS sz_digits,
      substr(CAST(sz AS VARCHAR), 1, 1) AS lead_digit,
      COUNT(*) AS n_clusters,
      CAST(SUM(sz) AS BIGINT) AS n_docs,
      CAST(MIN(sz) AS BIGINT) AS min_size,
      CAST(MAX(sz) AS BIGINT) AS max_size
    FROM sizes GROUP BY 1, 2 ORDER BY sz_digits, lead_digit"""

  // ------------------------------------------- D20 LSH band tuning

  /** Band shapes swept by D20 — (bands, rows) with bands·rows =
    * [[NumHashes]]: the S-curve knob of Broder-style LSH (collision
    * probability 1−(1−jʳ)ᵇ; more bands/fewer rows → looser).
    */
  val BandConfigs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2))

  /** D20: LSH band-shape tuning sweep — for each (b bands × r rows)
    * split of the SAME 16-hash signature, the candidate volume and
    * quality the banding would produce: pair count, how many candidates
    * have estimated Jaccard ≥ 1/2, the precision at that bar, and the
    * full-signature-match count. The table an operator reads to pick
    * D3's operating point (d9 calibrates est-vs-exact Jaccard, D14
    * sweeps the verification threshold; D20 sweeps the candidate
    * GENERATOR itself). One signature build serves all three shapes —
    * the S9/D14 one-pass-spine trick applied to banding.
    *
    * Determinism: signatures, band keys, and match counts are exact
    * integers on the shared [[minhashSig]] relation; the one ratio is a
    * single rounded IEEE division; configs with zero candidates emit no
    * row in either engine.
    *
    * Scale shape: banding is an equi-join on (cfg, band, key) — never a
    * pairwise scan; the cfg tag rides inside the join key so the three
    * sweeps share one exchange; verification joins the persisted
    * signature relation (left cached per the registry persist contract;
    * in Bench.extraIters); the final rollup is map-side partial onto a
    * 3-row key space.
    */
  def bandTuning(s: SparkSession, dir: String): DataFrame = {
    // sig feeds 3 config bandings (both self-join sides) + 2
    // verification sides → persisted (same contract as d3)
    val sig = minhashSig(s, dir).persistRecorded()
    val bands = sig.select(col("doc_id"), explode(array(
        BandConfigs.flatMap { case (b, r) =>
          (0 until b).map(bi => struct(lit(b).as("cfg"), lit(bi).as("band"),
            concat_ws("_", (0 until r).map(ri => col(s"m${bi * r + ri}")): _*)
              .as("key")))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.cfg"), col("bk.band"), col("bk.key"))
    val cand = bands.as("x").join(bands.as("y"), Seq("cfg", "band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("cfg"), col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val matches = (0 until NumHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)).reduce(_ + _)
    cand.join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("cfg"), matches.as("m"))
      .groupBy("cfg")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("m") * 2 >= NumHashes, 1L).otherwise(0L)).as("n_est_ge_half"),
        sum(when(col("m") === NumHashes, 1L).otherwise(0L)).as("n_full_match"))
      .select(col("cfg").as("n_bands"),
        expr(s"$NumHashes div cfg").cast("int").as("rows_per_band"),
        col("n_pairs"), col("n_est_ge_half"),
        round(col("n_est_ge_half").cast("double") / col("n_pairs").cast("double"), 6)
          .as("precision_half"),
        col("n_full_match"))
      .orderBy("n_bands")
  }

  val bandTuningSql: String = {
    val bandRows = BandConfigs.flatMap { case (b, r) =>
      (0 until b).map { bi =>
        val key = (0 until r).map(ri => s"m${bi * r + ri}").mkString(", ")
        s"SELECT doc_id, $b AS cfg, $bi AS band, concat_ws('_', $key) AS key FROM sig"
      }
    }.mkString(" UNION ALL ")
    val matches = (0 until NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $sigCtes,
    bands AS ($bandRows),
    cand AS (
      SELECT DISTINCT x.cfg AS cfg, x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.cfg = y.cfg AND x.band = y.band AND x.key = y.key
        AND x.doc_id < y.doc_id),
    scored AS (
      SELECT cfg, ($matches) AS m
      FROM cand JOIN sig a ON cand.doc_a = a.doc_id
                JOIN sig b ON cand.doc_b = b.doc_id)
    SELECT CAST(cfg AS INTEGER) AS n_bands,
      CAST($NumHashes // cfg AS INTEGER) AS rows_per_band,
      COUNT(*) AS n_pairs,
      CAST(SUM(CASE WHEN m * 2 >= $NumHashes THEN 1 ELSE 0 END) AS BIGINT) AS n_est_ge_half,
      ROUND(CAST(SUM(CASE WHEN m * 2 >= $NumHashes THEN 1 ELSE 0 END) AS DOUBLE) /
        CAST(COUNT(*) AS DOUBLE), 6) AS precision_half,
      CAST(SUM(CASE WHEN m = $NumHashes THEN 1 ELSE 0 END) AS BIGINT) AS n_full_match
    FROM scored GROUP BY cfg ORDER BY n_bands"""
  }

  // --------------------------------------------- D22 cross-source overlap

  /** D22: cross-source duplication matrix — MinHash-LSH candidate pairs
    * rolled up to (source, source): which corpus sources are duplicating
    * EACH OTHER (two crawl snapshots of the same sites, a curated set
    * re-scraped by a crawl). CCNet §2.1 observes most web duplication is
    * cross-snapshot; this is the table that decides which source to
    * drop, where per-pair dedup (D3) only says "a pair exists". Source
    * pairs are unordered (lexicographic least/greatest), diagonal =
    * within-source duplication.
    *
    * Determinism: candidates and match counts are exact integers; the
    * mean estimated Jaccard divides exact sums once, rounded at 6.
    *
    * Scale shape: the D3 banding equi-join generates candidates (never
    * all-pairs); the two source-attach joins key on doc_id; the rollup
    * is map-side partial onto the ≤|sources|² key space. The signature
    * relation feeds banding plus both verification sides, so it
    * persists per call (extraIters-documented).
    */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSig(s, dir).persistRecorded() // banding + both verify sides
    val cand = bandCandidates(sig)
    val matches = (0 until NumHashes).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1L).otherwise(0L)).reduce(_ + _)
    val src = Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val scored = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), matches.as("mm"))
    scored
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("mm"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("mm").as("sm"))
      // r20 (tools/ReProf): ≤|sources|²-row boundary — a fresh
      // construction re-runs the ratio projection + sort only, not the
      // band candidates + signature/source joins over the sig cache
      // (recon 0.90 s vs 0.05 s warm)
      .persistRecorded()
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        round(col("sm").cast("double") /
          (col("n_pairs") * NumHashes).cast("double"), 6).as("mean_est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  val sourceOverlapSql: String = {
    val matches = (0 until NumHashes).map(i =>
      s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $minhashCandCtes,
    scored AS (
      SELECT doc_a, doc_b, ($matches) AS mm
      FROM cand JOIN sig a ON cand.doc_a = a.doc_id
                JOIN sig b ON cand.doc_b = b.doc_id),
    ws AS (
      SELECT LEAST(da.source, db.source) AS source_a,
        GREATEST(da.source, db.source) AS source_b, mm
      FROM scored JOIN documents da ON scored.doc_a = da.doc_id
                  JOIN documents db ON scored.doc_b = db.doc_id)
    SELECT source_a, source_b, COUNT(*) AS n_pairs,
      ROUND(CAST(SUM(mm) AS DOUBLE) /
        CAST(COUNT(*) * $NumHashes AS DOUBLE), 6) AS mean_est_jaccard
    FROM ws GROUP BY 1, 2 ORDER BY 1, 2"""
  }
}
