package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * normalization, tokenization, shingling, language ID, quality scoring,
  * fingerprinting. All are composed from codegen'd built-ins (no UDFs) so
  * they stay inside whole-stage codegen — at 100 TB these run at scan speed
  * as narrow projections, no shuffle.
  *
  * Every function is written to have an exact ANSI-SQL equivalent (the
  * DuckDB oracles in [[graft.queries.PipelineQueries]]), which pins the
  * semantics: same regex class syntax, same arithmetic order, no
  * transcendental functions (libm results differ across engines in the last
  * ulp; +,*,/ and comparisons do not).
  */
object TextOps {

  /** Canonical text form: lowercase, strip non-alphanumerics, collapse
    * whitespace. The base of fingerprints and shingles. */
  def normalized(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), " +", " "))

  /** Whitespace word tokens of an already-normalized column. */
  def words(c: Column): Column = split(c, " ")

  /** `words(normalized(c))` as ONE fused native kernel
    * ([[graft.functions.FastTokens]]) — byte-identical output (spec-
    * pinned), none of the composed form's two Java-regex passes, which
    * profiling showed to be the single dominant cost of every tokenizing
    * query at corpus scale. This is the spelling every operator uses;
    * `words`/`normalized` remain for callers composing differently.
    * Constructed DIRECTLY (not via the SQL registry) so no text
    * operator depends on a function lookup: the `fast_tokens` /
    * `graft_words` functions [[graft.functions.GraftExtensions]]
    * registers are only the SQL surface's spelling. */
  def tokens(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.FastTokens(
        org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  /** Whitespace-token count of raw text. */
  def tokenCountWs(c: Column): Column = size(split(trim(c), "\\s+"))

  /** BPE-ish subword proxy: alphabetic runs + single digits + punctuation
    * marks each count as one token. */
  def tokenCountRe(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Word n-gram shingles over a words array (empty when too short — the
    * guard matters: Spark's `sequence(1, 0)` throws). */
  def wordShingles(wordsCol: Column, n: Int): Column =
    when(size(wordsCol) >= n,
      transform(sequence(lit(1), size(wordsCol) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(j => element_at(wordsCol, i + j)): _*)))
      .otherwise(array())

  /** Character n-gram shingles. */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - (n - 1)), i => c.substr(i, lit(n))))
      .otherwise(array())

  /** Marker-word tables for the n-gram/stopword language-ID heuristic.
    * Presence of marker words votes for a language; ties resolve in this
    * fixed order. (A real pipeline swaps in char-trigram tables; the
    * mechanics — distinct-token intersection + argmax — are identical.) */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "a"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"),
    "es" -> Seq("el", "los", "las", "y", "una", "que"),
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht"),
    "zh" -> Seq("de", "shi", "le", "wo", "ni", "ta"))

  /** Per-language marker score: |distinct(words) ∩ markers|. */
  def langScore(wordsCol: Column, markers: Seq[String]): Column =
    size(array_intersect(array_distinct(wordsCol),
      array(markers.map(lit): _*)))

  /** Predicted language: argmax of marker scores, first-listed wins ties. */
  def langId(wordsCol: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> langScore(wordsCol, m) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s >= best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Occurrence count of stoplist words (occurrences, not distinct — a
    * quality signal, `filter` + `array_contains` stay codegen'd). */
  def stopwordCount(wordsCol: Column, stops: Seq[String]): Column =
    size(filter(wordsCol, w => array_contains(array(stops.map(lit): _*), w)))

  val enStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")

  /** Heuristic quality score in [0,1]: linear mix of stopword ratio, length
    * and digit-noise signals, clamped. Deliberately free of exp/log so the
    * value is bit-identical across engines. */
  def qualityScore(nWords: Column, stopRatio: Column, digitRatio: Column): Column =
    greatest(lit(0.0), least(lit(1.0),
      lit(0.2) + lit(0.6) * stopRatio
        + lit(0.002) * nWords.cast("double")
        - lit(0.3) * digitRatio))

  /** Document fingerprint: md5 of the canonical form — the exact-dedup key
    * and the cheap near-dup pre-filter. */
  def fingerprint(c: Column): Column = md5(normalized(c).cast("binary"))

  /** Email-shaped substrings. RE2-compatible (no backrefs/lookaround) so
    * the DuckDB oracle runs the same pattern; Java and RE2 agree on this
    * class syntax. */
  val emailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** URL-shaped substrings (scheme + non-space run). */
  val urlPattern: String = "https?://[^\\s]+"

  /** PII scrub: replace every URL, then every email, with a placeholder
    * token. URLs FIRST: a URL with userinfo (`https://user@host.com/x`)
    * contains an email-shaped substring, and redacting emails first would
    * rewrite its middle (and double-count it — ADVICE r6). Pure codegen'd
    * projection — the redaction stage of corpus release runs at scan
    * speed. */
  def redact(c: Column): Column =
    regexp_replace(regexp_replace(c, urlPattern, "<URL>"),
      emailPattern, "<EMAIL>")

  /** Match counts for the scrub report (what was redacted, per doc).
    * [[emailCount]] counts emails OUTSIDE URLs — it matches on the
    * URL-redacted text, mirroring [[redact]]'s order, so a userinfo URL
    * counts once as a URL and never as an email. */
  def emailCount(c: Column): Column =
    size(regexp_extract_all(regexp_replace(c, urlPattern, "<URL>"),
      lit(emailPattern), lit(0)))
  def urlCount(c: Column): Column =
    size(regexp_extract_all(c, lit(urlPattern), lit(0)))
}
