package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Md5Uniform

/** Text-analysis column functions for training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  * All pure `functions._` expressions — narrow, codegen'd, shuffle-free;
  * at 100 TB these run at parquet-scan speed.
  */
object TextStats {

  /** Ordered stopword profiles; prediction is first-wins argmax over
    * this order (deterministic, mirrors the SQL CASE cascade). */
  val StopwordProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "los", "y"),
    "fr" -> Seq("le", "les", "et", "du"),
    "zh" -> Seq("的", "是", "在"))

  def words(text: Column): Column = split(text, " ")

  /** Total blocklist match-pair count via the Aho–Corasick kernel
    * (one automaton pass regardless of pattern count — the C4-style
    * badlist screen at scan speed; requires GraftExtensions).
    * Overlapping/nested matches count; see functions/AcExpressions. */
  def blocklistHits(text: Column, patterns: Seq[String]): Column =
    call_function("ac_count", text, typedlit(patterns))

  /** Distinct matched blocklist patterns, pattern-list order. */
  def blocklistMatches(text: Column, patterns: Seq[String]): Column =
    call_function("ac_matches", text, typedlit(patterns))

  /** DEFLATE compression ratio (raw bytes / compressed bytes) — the
    * language-agnostic redundancy signal: ≈1 marks high-entropy
    * garbage, very high marks boilerplate repetition; both tails get
    * filtered. Requires GraftExtensions; engine-specific output →
    * register consumers rows-only. */
  def compressionRatio(text: Column, level: Int = 6): Column =
    octet_length(text).cast("double") /
      call_function("deflate_len", text, lit(level)).cast("double")

  /** Occurrences of any word from `stops` — the native
    * `stopword_hits` kernel, which MinHashExprSpec pins to
    * `size(filter(words(text), isin(stops)))`. */
  def stopwordHits(text: Column, stops: Seq[String]): Column =
    call_function("stopword_hits", text, lit(stops.mkString(",")))

  /** Per-profile hit counts as named columns (c_en, c_de, ...). */
  def profileCounts(text: Column): Seq[(String, Column)] =
    StopwordProfiles.map { case (lang, stops) =>
      lang -> stopwordHits(text, stops)
    }

  /** First-wins argmax over the profile order: lang i wins iff its count
    * is >= every later profile's count. */
  def langId(text: Column): Column = {
    val counts = profileCounts(text)
    val preds = counts.zipWithIndex.map { case ((lang, c), i) =>
      val laterGte = counts.drop(i + 1).map { case (_, c2) => c >= c2 }
      (lang, laterGte.foldLeft(lit(true))(_ && _))
    }
    preds.init.reverse.foldLeft(lit(preds.last._1): Column) {
      case (acc, (lang, cond)) => when(cond, lit(lang)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]:
    * 0.6 * min(n_words/200, 1)  — length credit
    * + 0.4 * min(5 * stopword_ratio, 1) — naturalness credit.
    */
  def qualityScore(text: Column): Column = {
    val nWords = size(words(text)).cast("double")
    val enHits = stopwordHits(text, StopwordProfiles.head._2).cast("double")
    val lenScore = least(nWords / 200.0, lit(1.0))
    val stopScore = least(enHits / nWords * 5.0, lit(1.0))
    round(lenScore * 0.6 + stopScore * 0.4, 4)
  }

  /** PII redaction for training corpora: emails, dashed/dotted US phone
    * numbers, SSN-shaped ids → typed placeholders. RE2-safe patterns
    * (no lookaround) so one regex set behaves identically on Spark and
    * the DuckDB oracle; order is email → phone → SSN (the 3-3-4 phone
    * and 3-2-4 SSN shapes are disjoint). Pure regexp_replace chain —
    * codegen'd, scan-speed. */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]")
    val phone = regexp_replace(email,
      "\\d{3}[-.]\\d{3}[-.]\\d{4}", "[PHONE]")
    regexp_replace(phone, "\\d{3}-\\d{2}-\\d{4}", "[SSN]")
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(split(text, "\\s+"))

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Rolling polynomial fingerprint over words mod the largest 32-bit
    * prime: order-sensitive (unlike a bag hash) and overflow-free
    * (acc < 2^32 so acc*31 + h < 2^38). Each word hashes to its
    * md5 prefix ([[graft.functions.Md5Uniform.prefix32]], the value
    * the sampling family uses), so a SQL oracle can replay the whole
    * polynomial. */
  def fingerprint(text: Column): Column = {
    val P = lit(4294967291L)
    aggregate(
      words(text),
      lit(0L),
      (acc, w) => pmod(acc * 31L + pmod(Md5Uniform.prefix32(w), P), P))
  }
}
