package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** W3: PII / redaction scan — per-document counts of PII-shaped spans
  * (email, phone, IPv4, long ID-like digit runs) and the length of the
  * text after chained redaction. Pure `regexp_count`/`regexp_replace`
  * projections: codegen'd, one corpus scan, zero shuffle — the shape
  * that sweeps 100 TB untouched.
  *
  * Cross-engine regex contract: patterns stay inside the
  * Java-regex ∩ RE2 common subset — character classes, bounded
  * repetition `{m,n}`, alternation-free concatenation, and `\b` word
  * boundaries (identical `\w` = [A-Za-z0-9_] definition in both). No
  * lookaround, no backreferences, no lazy quantifiers: those diverge
  * (or don't exist) in RE2, and this subset is exactly where leftmost
  * match + greedy repetition produce the identical span set in both
  * engines. The spec pins exact counts on crafted strings; the oracle
  * hash-gates the full corpus.
  *
  * The driver corpus is digit-free word salad, so scanning raw `text`
  * would gate all-zeros — a trivially green, worthless check. The
  * registry entry therefore scans a deterministically AUGMENTED column:
  * doc_id-derived email/phone/IP/ID spans appended by identical
  * arithmetic in both engines (the data-derived-fixture precedent of
  * the Enhance Grid), so every regex is exercised with per-doc-varying
  * matches and the hash gate pins real engine agreement.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val IdRe = "\\b[0-9]{9,}\\b"

  /** Redaction order matters for the redacted length (an email's digits
    * must not survive into ID-run range, etc.) — applied email → phone
    * → IPv4 → ID in BOTH engines. Replacement tokens are digit-free so
    * no chained replace manufactures a new match for a later pattern.
    */
  val Redactions: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>", Ipv4Re -> "<IP>", IdRe -> "<ID>")

  /** The deterministic augmented text: doc_id-derived PII spans appended
    * on modular schedules (every 3rd doc an email, 5th a phone, 7th an
    * IP, 11th an ID) so counts vary per document.
    */
  def augmented(text: Column, id: Column): Column = {
    val sid = id.cast("string")
    concat(text,
      when(pmod(id, lit(3L)) === 0,
        concat(lit(" contact u"), sid, lit("@ex"),
          pmod(id, lit(10L)).cast("string"), lit(".com"))).otherwise(""),
      when(pmod(id, lit(5L)) === 0,
        concat(lit(" call +1-555-"), lpad(pmod(id, lit(1000L)).cast("string"), 3, "0"),
          lit("-"), lpad(pmod(id, lit(10000L)).cast("string"), 4, "0"))).otherwise(""),
      when(pmod(id, lit(7L)) === 0,
        concat(lit(" ip "), pmod(id, lit(256L)).cast("string"),
          lit("."), pmod(id * 7L, lit(256L)).cast("string"),
          lit("."), pmod(id * 13L, lit(256L)).cast("string"),
          lit("."), pmod(id * 29L, lit(256L)).cast("string"))).otherwise(""),
      when(pmod(id, lit(11L)) === 0,
        concat(lit(" id "), (lit(100000000L) + id * 987654L).cast("string")))
        .otherwise(""))
  }

  def augmentedSql(text: String, id: String): String =
    s"""$text ||
      CASE WHEN $id % 3 = 0 THEN ' contact u' || CAST($id AS VARCHAR) || '@ex' ||
        CAST($id % 10 AS VARCHAR) || '.com' ELSE '' END ||
      CASE WHEN $id % 5 = 0 THEN ' call +1-555-' || lpad(CAST($id % 1000 AS VARCHAR), 3, '0') ||
        '-' || lpad(CAST($id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
      CASE WHEN $id % 7 = 0 THEN ' ip ' || CAST($id % 256 AS VARCHAR) ||
        '.' || CAST($id * 7 % 256 AS VARCHAR) ||
        '.' || CAST($id * 13 % 256 AS VARCHAR) ||
        '.' || CAST($id * 29 % 256 AS VARCHAR) ELSE '' END ||
      CASE WHEN $id % 11 = 0 THEN ' id ' || CAST(100000000 + $id * 987654 AS VARCHAR)
        ELSE '' END"""

  /** W3 registry query over the augmented corpus column. */
  def piiScan(s: SparkSession, dir: String): DataFrame =
    piiScanFrom(Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"), augmented(col("text"), col("doc_id")).as("t")))

  /** [[piiScan]] over an explicit `(doc_id, t)` relation — the spec
    * drives crafted strings through this.
    */
  def piiScanFrom(d: DataFrame): DataFrame = {
    val redacted = Redactions.foldLeft(col("t")) { case (c, (re, tok)) =>
      regexp_replace(c, re, tok)
    }
    d.select(col("doc_id"),
        regexp_count(col("t"), lit(EmailRe)).cast("long").as("n_email"),
        regexp_count(col("t"), lit(PhoneRe)).cast("long").as("n_phone"),
        regexp_count(col("t"), lit(Ipv4Re)).cast("long").as("n_ipv4"),
        regexp_count(col("t"), lit(IdRe)).cast("long").as("n_id"),
        length(col("t")).cast("long").as("len_raw"),
        length(redacted).cast("long").as("len_redacted"))
      .withColumn("n_pii", col("n_email") + col("n_phone") + col("n_ipv4") + col("n_id"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ipv4"),
        col("n_id"), col("n_pii"), col("len_raw"), col("len_redacted"))
      .orderBy("doc_id")
  }

  /** W12: PII redaction as a TRANSFORM — the rewrite W3 only measures:
    * each document's text with the full [[Redactions]] chain applied,
    * emitted as the md5-prefix hash of the redacted bytes (the
    * registry's cross-engine string checksum) next to the redaction
    * count. The hash gate thereby pins the transform BYTE-FOR-BYTE —
    * span boundaries, replacement tokens, chaining order — not just
    * counts and lengths, which is the guarantee a pipeline shipping
    * redacted text to training actually needs.
    *
    * Same scale shape as W3: one codegen'd projection over one corpus
    * scan, zero shuffle; same Java∩RE2 regex contract.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    piiRedactFrom(Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"), augmented(col("text"), col("doc_id")).as("t")))

  /** [[piiRedact]] over an explicit `(doc_id, t)` relation. */
  def piiRedactFrom(d: DataFrame): DataFrame = {
    val redacted = Redactions.foldLeft(col("t")) { case (c, (re, tok)) =>
      regexp_replace(c, re, tok)
    }
    val nPii = Seq(EmailRe, PhoneRe, Ipv4Re, IdRe)
      .map(re => regexp_count(col("t"), lit(re)).cast("long"))
      .reduce(_ + _)
    d.select(col("doc_id"),
        nPii.as("n_pii"),
        length(redacted).cast("long").as("len_redacted"),
        TextOps.tokenHash(redacted).as("redacted_hash"))
      .orderBy("doc_id")
  }

  val piiRedactSql: String = {
    def q(re: String): String = s"'${re.replace("'", "''")}'"
    val redacted = Redactions.foldLeft("t") { case (c, (re, tok)) =>
      s"regexp_replace($c, ${q(re)}, '$tok', 'g')"
    }
    val nPii = Seq(EmailRe, PhoneRe, Ipv4Re, IdRe)
      .map(re => s"len(regexp_extract_all(t, ${q(re)}))").mkString(" + ")
    s"""WITH aug AS (
      SELECT doc_id, ${augmentedSql("text", "doc_id")} AS t FROM documents)
    SELECT doc_id,
      CAST($nPii AS BIGINT) AS n_pii,
      CAST(length($redacted) AS BIGINT) AS len_redacted,
      ${TextOps.tokenHashSql(s"($redacted)")} AS redacted_hash
    FROM aug ORDER BY doc_id"""
  }

  val piiScanSql: String = {
    // single-quote SQL literals: only ' needs doubling; the patterns
    // contain none, and backslashes pass through verbatim to RE2
    def q(re: String): String = s"'${re.replace("'", "''")}'"
    val redacted = Redactions.foldLeft("t") { case (c, (re, tok)) =>
      s"regexp_replace($c, ${q(re)}, '$tok', 'g')"
    }
    s"""WITH aug AS (
      SELECT doc_id, ${augmentedSql("text", "doc_id")} AS t FROM documents)
    SELECT doc_id,
      CAST(len(regexp_extract_all(t, ${q(EmailRe)})) AS BIGINT) AS n_email,
      CAST(len(regexp_extract_all(t, ${q(PhoneRe)})) AS BIGINT) AS n_phone,
      CAST(len(regexp_extract_all(t, ${q(Ipv4Re)})) AS BIGINT) AS n_ipv4,
      CAST(len(regexp_extract_all(t, ${q(IdRe)})) AS BIGINT) AS n_id,
      CAST(len(regexp_extract_all(t, ${q(EmailRe)})) + len(regexp_extract_all(t, ${q(PhoneRe)})) +
        len(regexp_extract_all(t, ${q(Ipv4Re)})) + len(regexp_extract_all(t, ${q(IdRe)})) AS BIGINT) AS n_pii,
      CAST(length(t) AS BIGINT) AS len_raw,
      CAST(length($redacted) AS BIGINT) AS len_redacted
    FROM aug ORDER BY doc_id"""
  }
}
