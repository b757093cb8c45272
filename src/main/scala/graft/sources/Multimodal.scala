package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.Tables
import graft.ext.SessionMemo.PersistRecorded

/** Multimodal column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extract / frame-sample implemented as
  * `mapPartitions` batch transforms (the Scala analog of `mapInPandas`).
  *
  * The actual image/audio codecs are NOT in this container, so the byte-
  * level "decode" is a clearly-marked deterministic fake — but the
  * Spark-side plumbing is real and is what matters at 100 TB: binary
  * payloads stay columnar, the transform is per-partition streaming (no
  * payload ever crosses to the driver), output schema is declared up
  * front, and feature vectors come back as fixed-length float arrays
  * ready for the `graft.ext.Similarity` operators.
  */
object Multimodal {

  /** Build a multimodal table from `documents`: payload = UTF-8 bytes of
    * the text (stand-in for image/audio bytes), modality derived from the
    * source id.
    */
  def table(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(lit("modality_"), col("source")).as("modality"),
        col("text").cast("binary").as("payload"))

  /** M1: payload metadata — pure column projection over the binary
    * column (length + derived fake dimensions), fully codegen'd and
    * SQL-expressible (oracle-checked).
    */
  def meta(s: SparkSession, dir: String): DataFrame =
    table(s, dir).select(
      col("doc_id"), col("modality"),
      length(col("payload")).as("byte_len"),
      (length(col("payload")) % 640 + 1).as("width"),
      (expr("length(payload) div 7") % 480 + 1).as("height"),
      (length(col("payload")) % 16 + 1).as("n_frames"))
      .orderBy("doc_id")

  val metaSql: String = """SELECT doc_id, concat('modality_', source) AS modality,
      strlen(text) AS byte_len,
      strlen(text) % 640 + 1 AS width,
      (strlen(text) // 7) % 480 + 1 AS height,
      strlen(text) % 16 + 1 AS n_frames
    FROM documents ORDER BY doc_id"""

  val FeatureBins = 16

  private val featureSchema = StructType(
    StructField("doc_id", LongType) +:
    StructField("byte_len", IntegerType) +:
    (0 until FeatureBins).map(i => StructField(s"f$i", FloatType)))

  /** M2: per-payload feature extraction via mapPartitions — iterates the
    * partition's binary payloads and emits a 16-bin normalized byte
    * histogram as the "embedding". STUB: a real deployment swaps
    * `fakeDecode` for an actual codec (JPEG decode, resample, model
    * forward pass); everything around it — partition-streaming iterator,
    * schema declaration, fixed-width float output — is the production
    * shape. Bins are emitted as scalar columns f0..f15 (not an array)
    * so downstream row-wise comparison tooling can sort on them; the
    * array view is one `array(f0..f15)` projection away.
    */
  def features(s: SparkSession, dir: String): DataFrame = {
    val enc = RowEncoder.encoderFor(featureSchema)
    table(s, dir)
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val bins = fakeDecode(payload)
          Row.fromSeq(id +: payload.length +: bins.toSeq)
        }
      }(enc)
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[features]]. The 16-bin histogram bins on
    * `byte % 16`, which is exactly the LOW HEX NIBBLE of each byte — so
    * the oracle extracts the 2nd character of every hex pair of the
    * UTF-8 payload (one regexp_replace, no per-byte unnest) and counts
    * each hex digit via length-after-replace. Normalization is FLOAT /
    * FLOAT division, which DuckDB (like Spark's FloatType) evaluates in
    * IEEE-754 single precision, so cells are bit-equal to the
    * mapPartitions output and the full hash gate applies.
    */
  val featuresSql: String = {
    val fcols = (0 until FeatureBins).map { k =>
      val d = "0123456789ABCDEF" (k)
      s"""CASE WHEN len = 0 THEN CAST(0 AS FLOAT)
           ELSE CAST(strlen(low) - strlen(replace(low, '$d', '')) AS FLOAT) / CAST(len AS FLOAT) END AS f$k"""
    }.mkString(", ")
    s"""WITH b AS (
        SELECT doc_id, strlen(text) AS len,
               regexp_replace(hex(encode(text)), '.(.)', '\\1', 'g') AS low
        FROM documents)
      SELECT doc_id, CAST(len AS INTEGER) AS byte_len, $fcols
      FROM b ORDER BY doc_id"""
  }

  val MaxSampledFrames = 4

  /** M3: frame sampling — up to [[MaxSampledFrames]] evenly-spaced
    * frames per payload, each identified by its byte range and content
    * hash. The video analog of M1/M2: the payload is treated as
    * `n_frames` fixed-width byte frames (a real container would use the
    * codec's frame index; the byte-range arithmetic, even-spacing
    * policy, and per-frame hashing are the production shape). Fully
    * declarative — one `sequence`+`explode` per payload and a
    * codegen'd binary `substring`+`md5` per frame; payloads never
    * leave their partition and the output is one row per sampled
    * frame, ready for per-frame feature extraction or dedup.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame =
    frames(s, dir).orderBy("doc_id", "frame_id")

  /** The sampled-frame relation (unordered) — the ONE frame definition,
    * shared by M3 and the M6 overlap detector.
    */
  private def frames(s: SparkSession, dir: String): DataFrame =
    framesOf(table(s, dir))

  private[graft] def framesOf(tbl: DataFrame): DataFrame =
    tbl
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("long").as("len"))
      // a frame is ≥1 byte, so the frame count is capped by the payload
      // length (a 0-byte payload has no frames at all) — without the
      // clamp a ≤3-byte payload would emit an out-of-bounds final frame
      .filter(col("len") > 0)
      .withColumn("nf", least(col("len") % 16 + 1, col("len")))
      .withColumn("sn", least(col("nf"), lit(MaxSampledFrames.toLong)))
      .withColumn("w", expr("len div nf"))
      .select(col("doc_id"), col("payload"), col("nf"), col("sn"), col("w"),
        explode(expr("sequence(0L, sn - 1)")).as("frame_id"))
      .withColumn("frame_index", expr("(frame_id * nf) div sn"))
      .withColumn("frame_offset", col("frame_index") * col("w"))
      .select(col("doc_id"), col("frame_id"), col("frame_index"),
        col("frame_offset"), col("w").as("frame_bytes"),
        md5(expr("substring(payload, cast(frame_offset + 1 as int), cast(w as int))"))
          .as("frame_hash"))

  /** Oracle CTE chain ending in `frames` — the SQL dual of [[frames]]
    * over the text bytes (the corpus is ASCII, so char offsets == byte
    * offsets; the verify gate would catch any divergence). Shared by
    * the M3 and M6 oracles.
    */
  private val frameCtes: String = s"""b AS (
      SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
             LEAST(CAST(length(text) % 16 + 1 AS BIGINT), length(text)) AS nf
      FROM documents WHERE length(text) > 0),
    p AS (SELECT doc_id, text, nf, LEAST(nf, $MaxSampledFrames) AS sn,
             len // nf AS w FROM b),
    f AS (SELECT doc_id, text, nf, sn, w, unnest(range(0, sn)) AS frame_id FROM p),
    frames AS (
      SELECT doc_id, frame_id, (frame_id * nf) // sn AS frame_index,
        ((frame_id * nf) // sn) * w AS frame_offset, w AS frame_bytes,
        md5(substring(text, CAST(((frame_id * nf) // sn) * w + 1 AS INT), CAST(w AS INT)))
          AS frame_hash
      FROM f)"""

  val frameSampleSql: String = s"""WITH $frameCtes
    SELECT doc_id, frame_id, frame_index, frame_offset, frame_bytes, frame_hash
    FROM frames ORDER BY doc_id, frame_id"""

  /** Low-nibble concentration above which a payload is flagged as
    * corrupt/degenerate (a healthy codec stream spreads nibble mass; a
    * zero-fill, truncation pad, or stuck sensor concentrates it).
    */
  val CorruptTopFrac = 0.25

  /** M4: payload corruption scan — the pre-decode integrity sweep of a
    * multimodal ingest pipeline: flags payloads whose byte distribution
    * is degenerate (one low-nibble value dominating, or an empty
    * payload) BEFORE any codec spends time on them. Fully declarative —
    * the 16-bin low-nibble histogram is computed by hex-string algebra
    * (hex → keep every pair's 2nd char → per-digit occurrence counts by
    * length-after-replace), all codegen'd string ops; the flags are
    * ratios of exact integer counts through one IEEE division. Scales
    * as a pure projection: no shuffle, no UDF, payloads never leave
    * their partition.
    */
  def corruptionScan(s: SparkSession, dir: String): DataFrame =
    corruptionScanFrom(table(s, dir))

  /** [[corruptionScan]] over an explicit `(doc_id, modality, payload)`
    * relation — the spec drives known byte patterns through it.
    */
  def corruptionScanFrom(tbl: DataFrame): DataFrame = {
    val low = regexp_replace(hex(col("payload")), ".(.)", "$1")
    val counts = (0 until FeatureBins).map { k =>
      val d = "0123456789ABCDEF"(k).toString
      (length(low) - length(regexp_replace(low, d, ""))).as(s"c$k")
    }
    val base = tbl.select(
      col("doc_id") +: col("modality") +:
        length(col("payload")).cast("long").as("byte_len") +: counts: _*)
    val cs = (0 until FeatureBins).map(k => col(s"c$k"))
    val top = greatest(cs: _*)
    base.select(
      col("doc_id"), col("modality"), col("byte_len"),
      top.cast("long").as("top_nibble"),
      cs.map(c => (c > 0).cast("long")).reduce(_ + _).as("n_distinct_nibbles"),
      when(col("byte_len") === 0, lit(1.0))
        .otherwise(round(top.cast("double") /
          col("byte_len").cast("double"), 6)).as("top_nibble_frac"))
      .withColumn("corrupt",
        (col("byte_len") === 0 || col("top_nibble_frac") > CorruptTopFrac).cast("int"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[corruptionScan]] — the identical hex-algebra
    * histogram over the UTF-8 text bytes.
    */
  val corruptionScanSql: String = {
    val cdefs = (0 until FeatureBins).map { k =>
      val d = "0123456789ABCDEF"(k)
      s"strlen(low) - strlen(replace(low, '$d', '')) AS c$k"
    }.mkString(", ")
    val cs = (0 until FeatureBins).map(k => s"c$k")
    val top = s"GREATEST(${cs.mkString(", ")})"
    val distinct = cs.map(c => s"CAST($c > 0 AS BIGINT)").mkString(" + ")
    s"""WITH b AS (
        SELECT doc_id, concat('modality_', source) AS modality,
               CAST(strlen(text) AS BIGINT) AS byte_len,
               regexp_replace(hex(encode(text)), '.(.)', '\\1', 'g') AS low
        FROM documents),
      c AS (SELECT doc_id, modality, byte_len, $cdefs FROM b),
      f AS (
        SELECT doc_id, modality, byte_len,
          CAST($top AS BIGINT) AS top_nibble,
          $distinct AS n_distinct_nibbles,
          CASE WHEN byte_len = 0 THEN 1.0
               ELSE ROUND(CAST($top AS DOUBLE) / CAST(byte_len AS DOUBLE), 6)
          END AS top_nibble_frac
        FROM c)
      SELECT *, CAST(byte_len = 0 OR top_nibble_frac > $CorruptTopFrac AS INT) AS corrupt
      FROM f ORDER BY doc_id"""
  }

  /** Low-entropy threshold (nats over the 16-nibble alphabet; max is
    * ln 16 ≈ 2.77). Constant-byte payloads score 0; natural text sits
    * near 2.4-2.6 — the gap is the signal.
    */
  val LowEntropy = 1.0

  /** M5: payload nibble entropy — Shannon entropy of each payload's
    * low-nibble distribution, the compression-ratio proxy that flags
    * blank/constant/truncated media BEFORE an expensive decode (the
    * dual of M4: M4 catches a dominating symbol, M5 catches the whole
    * distribution collapsing). Same hex-algebra histogram as M4 — no
    * UDF, stays in codegen.
    *
    * Determinism (transcendental tier): each term's log is stated as
    * ln(L/c) of two exact integers widened to double — computed once
    * per (doc, nibble), `round(…, 9)` immediately (kills the 1-ulp
    * libm divergence), multiplied by the exact ratio c/L, and the ≤16
    * per-doc terms accumulate in exact DECIMAL with one final round at
    * the comparison boundary. Zero-count nibbles contribute exactly 0
    * (the p→0 limit) and never reach the log; empty payloads report
    * entropy 0 and flag low.
    *
    * Scale shape: a pure per-row projection (the 16 counts + 16 terms
    * fold inside one codegen stage) — no shuffle at all until the
    * final presentation sort.
    */
  def payloadEntropy(s: SparkSession, dir: String): DataFrame =
    payloadEntropyFrom(table(s, dir))

  /** [[payloadEntropy]] over an explicit `(doc_id, modality, payload)`
    * relation — the spec drives constant and uniform payloads through
    * it.
    */
  def payloadEntropyFrom(tbl: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val low = regexp_replace(hex(col("payload")), ".(.)", "$1")
    val counts = (0 until FeatureBins).map { k =>
      val d = "0123456789ABCDEF"(k).toString
      (length(low) - length(regexp_replace(low, d, ""))).as(s"c$k")
    }
    val base = tbl.select(
      col("doc_id") +: col("modality") +:
        length(col("payload")).cast("long").as("byte_len") +: counts: _*)
    val terms = (0 until FeatureBins).map { k =>
      val c = col(s"c$k").cast("double")
      val l = col("byte_len").cast("double")
      when(col(s"c$k") > 0,
        ((c / l) * round(log(l / c), 9)).cast(DecimalType(20, 10)))
        .otherwise(lit(0).cast(DecimalType(20, 10)))
    }
    base.select(col("doc_id"), col("modality"), col("byte_len"),
        when(col("byte_len") === 0, lit(0.0))
          .otherwise(round(terms.reduce(_ + _).cast("double"), 6))
          .as("nibble_entropy"))
      .withColumn("low_entropy", (col("nibble_entropy") < LowEntropy).cast("int"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[payloadEntropy]] — the identical hex-algebra
    * histogram and term chain over the UTF-8 text bytes.
    */
  val payloadEntropySql: String = {
    val cdefs = (0 until FeatureBins).map { k =>
      val d = "0123456789ABCDEF"(k)
      s"strlen(low) - strlen(replace(low, '$d', '')) AS c$k"
    }.mkString(", ")
    val terms = (0 until FeatureBins).map { k =>
      s"""CASE WHEN c$k > 0 THEN CAST((CAST(c$k AS DOUBLE) / CAST(byte_len AS DOUBLE)) *
        ROUND(ln(CAST(byte_len AS DOUBLE) / CAST(c$k AS DOUBLE)), 9) AS DECIMAL(20,10))
        ELSE CAST(0 AS DECIMAL(20,10)) END"""
    }.mkString(" + ")
    s"""WITH b AS (
        SELECT doc_id, concat('modality_', source) AS modality,
               CAST(strlen(text) AS BIGINT) AS byte_len,
               regexp_replace(hex(encode(text)), '.(.)', '\\1', 'g') AS low
        FROM documents),
      c AS (SELECT doc_id, modality, byte_len, $cdefs FROM b),
      e AS (
        SELECT doc_id, modality, byte_len,
          CASE WHEN byte_len = 0 THEN 0.0
               ELSE ROUND(CAST($terms AS DOUBLE), 6) END AS nibble_entropy
        FROM c)
      SELECT *, CAST(nibble_entropy < $LowEntropy AS INT) AS low_entropy
      FROM e ORDER BY doc_id"""
  }

  /** Frame-hash document-frequency cap for M6 — the [[graft.ext.Dedup]]
    * stop-shingle rule applied to frames: a frame hash appearing in more
    * than this many payloads (constant-black frames, zero-fill padding)
    * is dropped before the inverted-index self-join, bounding every join
    * bucket to cap² pairs at any corpus size.
    */
  val MaxFrameDf = 100

  /** M6: cross-payload frame overlap — pairs of payloads sharing sampled
    * frame content (by [[frames]]' per-frame hash), ranked by overlap =
    * |shared| / min(|A|, |B|): the video/image content-overlap detector
    * (re-encoded copies, clipped excerpts, duplicated stills share exact
    * frame hashes under a real per-frame pHash; the sampled-frame index
    * is how video dedup runs at corpus scale — never all frames, never
    * all pairs). The D10 containment lens over the M3 frame relation;
    * both definitions are shared, not restated.
    *
    * Scale shape: distinct (doc, hash) postings, [[MaxFrameDf]]-capped
    * inverted-index self-join (the D2 bound), overlap from per-doc frame
    * counts, top-50 via TakeOrdered then a 50-row rank window — never a
    * full-pair global window.
    */
  def frameOverlap(s: SparkSession, dir: String): DataFrame =
    frameOverlapFrom(table(s, dir))

  /** [[frameOverlap]] over an explicit `(doc_id, payload)` relation —
    * the spec drives crafted shared-frame payloads through it.
    */
  def frameOverlapFrom(tbl: DataFrame): DataFrame = {
    val fh = framesOf(tbl).select(col("doc_id"), col("frame_hash")).distinct()
      .persistRecorded() // build-time: feeds the df cap, the capped join, and the sizes leg
    val keep = fh.groupBy("frame_hash").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxFrameDf).select("frame_hash")
    val capped = fh.join(keep, "frame_hash")
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("nfh"))
    // Steady-state base (r20, tools/M6Prof): per-doc frame counts are
    // attached to the postings BEFORE the self-join, so the pair
    // aggregate reads na/nb as group constants instead of joining the
    // sizes relation back onto the pair set twice — a fresh plan over
    // the armed caches re-runs 2 exchanges (self-join + pair agg), not
    // ~8 (measured 1.9–2.3 s → see round notes). Same scale shape: the
    // enrichment join is on doc_id (bounded ≤ MaxSampledFrames rows per
    // key), and nothing new is broadcast or windowed.
    val cappedN = capped.join(sizes, "doc_id")
      .persistRecorded() // feeds both self-join sides
    val pairs = cappedN.as("a").join(cappedN.as("b"), "frame_hash")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.nfh")).as("na"), min(col("b.nfh")).as("nb"))
    val ov = pairs
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"),
        round(col("shared").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("overlap"))
    ov.orderBy(col("overlap").desc, col("doc_a"), col("doc_b")).limit(50)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("overlap").desc, col("doc_a"), col("doc_b"))))
      .select(col("rk"), col("doc_a"), col("doc_b"), col("shared"),
        col("na"), col("nb"), col("overlap"))
  }

  val frameOverlapSql: String = s"""WITH $frameCtes,
    fh AS (SELECT DISTINCT doc_id, frame_hash FROM frames),
    capped AS (
      SELECT fh.* FROM fh
      JOIN (SELECT frame_hash FROM fh GROUP BY frame_hash
            HAVING COUNT(*) <= $MaxFrameDf) k USING (frame_hash)),
    sizes AS (SELECT doc_id, COUNT(*) AS nfh FROM capped GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM capped a JOIN capped b
        ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    ov AS (
      SELECT doc_a, doc_b, shared, sa.nfh AS na, sb.nfh AS nb,
        ROUND(CAST(shared AS DOUBLE) / CAST(LEAST(sa.nfh, sb.nfh) AS DOUBLE), 6) AS overlap
      FROM pairs JOIN sizes sa ON pairs.doc_a = sa.doc_id
                 JOIN sizes sb ON pairs.doc_b = sb.doc_id)
    SELECT rk, doc_a, doc_b, shared, na, nb, overlap FROM (
      SELECT *, row_number() OVER (ORDER BY overlap DESC, doc_a, doc_b) AS rk FROM ov)
    WHERE rk <= 50"""

  // ------------------------------------------------------- M7 aHash

  /** M7 aHash geometry: 64 sampled bytes → 64-bit hash in 4×16-bit
    * blocks; pigeonhole over 4 blocks is COMPLETE for hamming ≤ 3
    * (a pair differing in ≤3 bits leaves ≥1 block intact), so unlike a
    * banded MinHash there is no recall loss inside the radius.
    */
  val AHashBlocks = 4
  val AHashBlockBits = 16
  val AHashHamMax = 3

  /** Block-occupancy cap — the S3/`Dedup.MaxShingleDf` bound applied to
    * the (block, value) posting lists: a degenerate block value shared
    * by more than this many payloads (e.g. the all-zero block of
    * near-constant payloads) is dropped before the self-join, keeping
    * every bucket ≤ cap² pairs regardless of corpus size.
    */
  val MaxAHashBlockDf = 256

  /** M7: perceptual-hash (aHash-family) near-duplicate pairs over the
    * binary payload column — the image-side D4: sample 64 evenly-spaced
    * bytes per payload, threshold each against the sampled mean
    * (64·byte > Σ, integer-exact: the average-hash construction), pack
    * the 64 bits into 4×16-bit blocks, and emit every pair within
    * hamming ≤ [[AHashHamMax]] via the pigeonhole block join. Under a
    * real codec the sampled bytes become the 8×8 downscaled luma
    * (classic aHash); the byte-level stand-in keeps the whole pipeline
    * — sampling, thresholding, packing, block join — bit-deterministic
    * and oracle-checkable.
    *
    * Scale shape: one codegen'd projection per payload (the 64-sample
    * transform + two array folds), a [[MaxAHashBlockDf]]-capped
    * inverted-index self-join on (block, value), exact per-block XOR
    * popcount filter — candidates constant in corpus size, and the
    * hash relation is persisted once to feed the cap and both join
    * sides.
    */
  def ahashNeardup(s: SparkSession, dir: String): DataFrame =
    ahashNeardupFrom(table(s, dir))

  /** [[ahashNeardup]] over an explicit `(doc_id, payload)` relation —
    * the spec drives crafted bit-flip payloads through it.
    */
  def ahashNeardupFrom(tbl: DataFrame): DataFrame = {
    val base = tbl.filter(octet_length(col("payload")) > 0)
      .withColumn("hx", hex(col("payload")))
      .withColumn("blen", octet_length(col("payload")))
    // byte j reads the hex pair at sampled position 1+⌊j·(len−1)/63⌋;
    // floor of an exact small-int division is engine-identical
    val bytesCol = transform(sequence(lit(0), lit(63)), j =>
      conv(col("hx").substr(
        (floor(j.cast("double") * (col("blen") - 1).cast("double") / 63.0)
          .cast("int") + 1) * 2 - 1, lit(2)), 16, 10).cast("int"))
    val withBits = base
      .withColumn("bs", bytesCol)
      .withColumn("s64", aggregate(col("bs"), lit(0), (acc, x) => acc + x))
      .withColumn("bits", transform(col("bs"), x =>
        when(x * 64 > col("s64"), 1L).otherwise(0L)))
    val blockCols = (0 until AHashBlocks).map { b =>
      aggregate(slice(col("bits"), b * AHashBlockBits + 1, AHashBlockBits),
        lit(0L), (acc, x) => acc * 2 + x).as(s"blk$b")
    }
    val hashed = withBits.select(col("doc_id") +: blockCols: _*)
      .persistRecorded() // feeds the occupancy cap and both join sides
    val blocks = hashed.select(col("doc_id"),
      col("blk0"), col("blk1"), col("blk2"), col("blk3"),
      explode(array((0 until AHashBlocks).map(b =>
        struct(lit(b).as("blk"), col(s"blk$b").as("bval"))): _*)).as("e"))
      .select(col("doc_id"), col("blk0"), col("blk1"), col("blk2"), col("blk3"),
        col("e.blk"), col("e.bval"))
    val keep = blocks.groupBy("blk", "bval").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxAHashBlockDf).select("blk", "bval")
    val capped = blocks.join(keep, Seq("blk", "bval"))
      // r20 (tools/ReProf, the m6 pattern): capped posting-list
      // boundary (≤ 4 rows per payload) — a fresh construction re-runs
      // the bucket self-join + distinct + sort only, not the hex
      // sampling projection, block explode and occupancy-cap agg
      // downstream of the hashed persist (recon 0.44 s vs 0.03 s warm)
      .persistRecorded()
    val hamming = (0 until AHashBlocks).map(b =>
      bit_count(col(s"x.blk$b").bitwiseXOR(col(s"y.blk$b")))).reduce(_ + _)
    capped.as("x").join(capped.as("y"), Seq("blk", "bval"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= AHashHamMax)
      .orderBy("doc_a", "doc_b")
  }

  val ahashNeardupSql: String = {
    val sample = "CAST(concat('0x', substr(hx, CAST(2 * (1 + CAST(floor(" +
      "(CAST(j AS DOUBLE) * (blen - 1)) / 63.0) AS INT)) - 1 AS INT), 2)) AS INT)"
    val blockExprs = (0 until AHashBlocks).map { b =>
      (0 until AHashBlockBits).map(k =>
        s"CAST(bits[${b * AHashBlockBits + k + 1}] AS BIGINT) * ${1L << (AHashBlockBits - 1 - k)}")
        .mkString(" + ") + s" AS blk$b"
    }.mkString(",\n        ")
    val blockRows = (0 until AHashBlocks).map(b =>
      s"SELECT doc_id, blk0, blk1, blk2, blk3, $b AS blk, blk$b AS bval FROM hash")
      .mkString(" UNION ALL ")
    val ham = (0 until AHashBlocks).map(b =>
      s"bit_count(xor(x.blk$b, y.blk$b))").mkString(" + ")
    s"""WITH base AS (
      SELECT doc_id, hex(CAST(text AS BLOB)) AS hx, strlen(text) AS blen
      FROM documents WHERE strlen(text) > 0),
    wb AS (SELECT doc_id, blen,
      list_transform(range(0, 64), j -> $sample) AS bs FROM base),
    ws AS (SELECT doc_id, bs, list_sum(bs) AS s64 FROM wb),
    bits AS (SELECT doc_id,
      list_transform(bs, x -> CASE WHEN x * 64 > s64 THEN 1 ELSE 0 END) AS bits
      FROM ws),
    hash AS (SELECT doc_id,
        $blockExprs
      FROM bits),
    blocks AS ($blockRows),
    keep AS (SELECT blk, bval FROM blocks GROUP BY 1, 2
      HAVING COUNT(*) <= $MaxAHashBlockDf),
    cb AS (SELECT blocks.* FROM blocks JOIN keep USING (blk, bval))
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, $ham AS hamming
    FROM cb x JOIN cb y ON x.blk = y.blk AND x.bval = y.bval
      AND x.doc_id < y.doc_id
    WHERE $ham <= $AHashHamMax
    ORDER BY doc_a, doc_b"""
  }

  /** Fixed chunk size (in characters) for [[blockDedup]]. */
  val BlockChars = 64

  /** M8: payload block-dedup estimate — the storage-deduplication audit
    * a blob store runs before committing a corpus: chunk every payload
    * into fixed [[BlockChars]]-unit blocks, hash each block, and report
    * per modality how much of the corpus is redundant at block
    * granularity (total vs distinct blocks, duplicate rate, mean block
    * reuse). Fixed-size chunking is the deterministic baseline of the
    * content-defined-chunking family; D12 covers the
    * shift-robust-substring side.
    *
    * Determinism: blocks are character slices (both engines slice
    * UTF-8 strings by codepoint with identical semantics) hashed by
    * md5; counts are exact integers; the two rates are single IEEE
    * divisions rounded at the boundary.
    *
    * Scale shape: explode to one row per block, then ONE grouped
    * distinct on (modality, block-hash) — partial aggregation collapses
    * repeated blocks map-side, so the exchange carries at most the
    * distinct-block set per partition; no windows, no joins, nothing
    * driver-side.
    */
  def blockDedup(s: SparkSession, dir: String): DataFrame =
    blockDedupFrom(table(s, dir))

  /** [[blockDedup]] over an explicit `(doc_id, modality, payload)`
    * relation.
    */
  def blockDedupFrom(tbl: DataFrame): DataFrame = {
    val txt = col("payload").cast("string")
    val blocks = tbl
      .filter(length(txt) > 0)
      .select(col("doc_id"), col("modality"), txt.as("txt"),
        explode(sequence(lit(0L), expr(s"(length(CAST(payload AS STRING)) - 1) div $BlockChars")))
          .as("i"))
      .select(col("doc_id"), col("modality"),
        md5(col("txt").substr((col("i") * BlockChars + 1).cast("int"),
          lit(BlockChars)).cast("binary")).as("h"))
    // distinct-then-count (the d18 viral-key rule): per-modality
    // countDistinct would funnel every distinct block/doc of a modality
    // through one reducer; the distinct exchanges hash-spread on both
    // columns and the per-modality counts after them are map-side
    // combinable. The exploded block relation feeds all three legs →
    // persisted (registered in Bench.extraIters).
    val blk = blocks.persistRecorded()
    val tot = blk.groupBy("modality").agg(count(lit(1)).as("total_blocks"))
    val pay = blk.select("modality", "doc_id").distinct()
      .groupBy("modality").agg(count(lit(1)).as("n_payloads"))
    val dis = blk.select("modality", "h").distinct()
      .groupBy("modality").agg(count(lit(1)).as("distinct_blocks"))
    tot.join(pay, "modality").join(dis, "modality")
      .select(col("modality"), col("n_payloads"), col("total_blocks"),
        col("distinct_blocks"),
        round((col("total_blocks") - col("distinct_blocks")).cast("double") /
          col("total_blocks").cast("double"), 6).as("dup_rate"),
        round(col("total_blocks").cast("double") /
          col("distinct_blocks").cast("double"), 6).as("mean_reuse"))
      .orderBy("modality")
  }

  val blockDedupSql: String = s"""WITH docs AS (
      SELECT doc_id, concat('modality_', source) AS modality, text
      FROM documents WHERE length(text) > 0),
    idx AS (
      SELECT doc_id, modality, text,
        unnest(range(0, (length(text) - 1) // $BlockChars + 1)) AS i
      FROM docs),
    blocks AS (
      SELECT doc_id, modality,
        md5(substr(text, CAST(i * $BlockChars + 1 AS INTEGER), $BlockChars)) AS h
      FROM idx)
    SELECT modality,
      COUNT(DISTINCT doc_id) AS n_payloads,
      COUNT(*) AS total_blocks,
      COUNT(DISTINCT h) AS distinct_blocks,
      ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
      ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT h) AS DOUBLE), 6) AS mean_reuse
    FROM blocks GROUP BY modality ORDER BY modality"""

  /** M9: modality bitrate audit — per modality, the capacity-planning
    * table a blob store and a dataloader budget from: payload count,
    * byte totals, bytes-per-frame and bytes-per-pixel rates (over the
    * M1 typed metadata: declared frame count and raster dims), and the
    * payload-size range. This is the "how expensive is a sample of
    * each modality" denominator that multimodal token-budget planning
    * (the W5 analogue for images/video) divides by.
    *
    * Determinism: byte/frame/pixel totals are exact integer sums
    * (pixels per payload ≤ 640·480 — the per-row product is exact in
    * LONG and the corpus total accumulates in DECIMAL(38,0)); each
    * rate is one IEEE division of exact integers rounded at the
    * boundary.
    *
    * Scale shape: one codegen'd projection over one scan of the
    * payload table (no payload bytes leave the executors — only their
    * lengths), then a map-side-combinable aggregate onto the
    * ≤|modalities| key space; no joins, no windows.
    */
  def bitrateAudit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val per = table(s, dir).select(
      col("modality"),
      length(col("payload")).cast("long").as("bytes"),
      (length(col("payload")) % 640 + 1).cast("long").as("w"),
      (expr("length(payload) div 7") % 480 + 1).cast("long").as("h"),
      (length(col("payload")) % 16 + 1).cast("long").as("frames"))
    per.groupBy("modality")
      .agg(count(lit(1)).as("n_payloads"),
        sum("bytes").as("total_bytes"),
        sum("frames").as("total_frames"),
        sum((col("w") * col("h")).cast(DecimalType(38, 0))).as("px"),
        min("bytes").as("min_bytes"),
        max("bytes").as("max_bytes"))
      .select(col("modality"), col("n_payloads"), col("total_bytes"),
        col("total_frames"),
        col("px").cast("long").as("total_pixels"),
        col("min_bytes"), col("max_bytes"),
        round(col("total_bytes").cast("double") / col("total_frames").cast("double"), 6)
          .as("bytes_per_frame"),
        round(col("total_bytes").cast("double") / col("px").cast("double"), 6)
          .as("bytes_per_pixel"))
      .orderBy("modality")
  }

  val bitrateAuditSql: String = """WITH per AS (
      SELECT concat('modality_', source) AS modality,
        CAST(strlen(text) AS BIGINT) AS bytes,
        CAST(strlen(text) % 640 + 1 AS BIGINT) AS w,
        CAST((strlen(text) // 7) % 480 + 1 AS BIGINT) AS h,
        CAST(strlen(text) % 16 + 1 AS BIGINT) AS frames
      FROM documents)
    SELECT modality, COUNT(*) AS n_payloads,
      CAST(SUM(bytes) AS BIGINT) AS total_bytes,
      CAST(SUM(frames) AS BIGINT) AS total_frames,
      CAST(SUM(w * h) AS BIGINT) AS total_pixels,
      CAST(MIN(bytes) AS BIGINT) AS min_bytes,
      CAST(MAX(bytes) AS BIGINT) AS max_bytes,
      ROUND(CAST(SUM(bytes) AS DOUBLE) / CAST(SUM(frames) AS DOUBLE), 6) AS bytes_per_frame,
      ROUND(CAST(SUM(bytes) AS DOUBLE) / CAST(SUM(w * h) AS DOUBLE), 6) AS bytes_per_pixel
    FROM per GROUP BY modality ORDER BY modality"""

  // ------------------------------------------------ M10 scene statistics

  /** M10: scene/static-segment statistics per payload — the temporal
    * dual of the M3 frame sample: over each payload's TIME-ORDERED
    * sampled-frame hash sequence (the exact M3/M6 frame definition, so
    * the three views cannot drift), count the maximal constant-hash
    * segments ("scenes" — every hash change is a cut), the
    * single-frame scenes (rapid cutting / flicker), and the longest
    * static run (freeze / stuck-sensor detector). The per-title
    * scene-cadence audit a video ingest pipeline runs before paying
    * for decode: all-static payloads are dead weight, all-singleton
    * payloads are noise.
    *
    * Implementation: the frame hashes are built as ONE per-row array
    * expression (`transform(sequence(...))` — no explode, no shuffle,
    * nothing leaves the row) and the segment pass is the native
    * codegen'd `graft_runstats` node on the UNSORTED array — its
    * documented run-local semantics (`plans/RunStatsExpression.scala`:
    * runs are maximal equal ADJACENT blocks) are exactly scene
    * segmentation; the same node computes the t13 type counts on
    * sorted input. The oracle states the per-occurrence form: the M3
    * frame CTE → lag-based cut flags → running scene ids → per-scene
    * lengths. Pure integer counting on exact string equality — nothing
    * can diverge across engines.
    *
    * Scale shape: one corpus scan, zero exchanges on the Spark side
    * (the Sort for the output ORDER BY is the only wide op, and it is
    * the emission contract, not the compute).
    */
  def sceneStats(s: SparkSession, dir: String): DataFrame =
    sceneStatsFrom(table(s, dir))

  /** [[sceneStats]] over an explicit `(doc_id, payload)` relation —
    * the spec pins cut/run counts on crafted payloads.
    */
  def sceneStatsFrom(tbl: DataFrame): DataFrame =
    tbl
      .select(col("doc_id"), col("payload"),
        length(col("payload")).cast("long").as("len"))
      .filter(col("len") > 0)
      .withColumn("nf", least(col("len") % 16 + 1, col("len")))
      .withColumn("sn", least(col("nf"), lit(MaxSampledFrames.toLong)))
      .withColumn("w", expr("len div nf"))
      .withColumn("fh", expr(
        "transform(sequence(0L, sn - 1), fid -> md5(substring(payload, " +
          "cast(((fid * nf) div sn) * w + 1 as int), cast(w as int))))"))
      .select(col("doc_id"), col("sn").as("n_frames"),
        call_function("graft_runstats", col("fh")).as("st"))
      .select(col("doc_id"), col("n_frames"),
        col("st.n_types").as("n_scenes"),
        col("st.n_hapax").as("n_singleton_scenes"),
        col("st.max_run").as("max_static_run"))
      .orderBy("doc_id")

  val sceneStatsSql: String = s"""WITH $frameCtes,
    chg AS (
      SELECT doc_id, frame_id,
        CASE WHEN lag(frame_hash) OVER (PARTITION BY doc_id ORDER BY frame_id)
          IS DISTINCT FROM frame_hash THEN 1 ELSE 0 END AS new_scene
      FROM frames),
    sid AS (
      SELECT doc_id,
        SUM(new_scene) OVER (PARTITION BY doc_id ORDER BY frame_id) AS scene
      FROM chg),
    sl AS (SELECT doc_id, scene, COUNT(*) AS slen FROM sid GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(slen) AS BIGINT) AS n_frames,
      COUNT(*) AS n_scenes,
      CAST(SUM(CASE WHEN slen = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_singleton_scenes,
      CAST(MAX(slen) AS BIGINT) AS max_static_run
    FROM sl GROUP BY 1 ORDER BY doc_id"""

  /** STUB decoder: 16-bin byte histogram normalized by length — a
    * deterministic placeholder for codec + feature model output.
    */
  private def fakeDecode(payload: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](FeatureBins)
    var i = 0
    while (i < payload.length) {
      bins((payload(i) & 0xff) % FeatureBins) += 1f
      i += 1
    }
    if (payload.length > 0) {
      var b = 0
      while (b < FeatureBins) { bins(b) /= payload.length.toFloat; b += 1 }
    }
    bins
  }
}
