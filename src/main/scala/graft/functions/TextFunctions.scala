package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data
  * pipelines: normalization, tokenization (whitespace + BPE-ish regex),
  * language-ID (stopword-hit heuristic), quality scoring, and document
  * fingerprinting. Everything is pure `org.apache.spark.sql.functions`
  * composition — whole-stage-codegen'd, no UDFs — and every formula is
  * restricted to integer/IEEE-double arithmetic so a DuckDB oracle can
  * reproduce results bit-for-bit.
  */
object TextFunctions {

  /** Lowercase, collapse whitespace runs, trim. (A fused byte-scan
    * expression was prototyped and A/B-benched at parity — this trivial
    * compiled pattern is not a bottleneck, unlike the match-array
    * materializations and interpreted lambdas that were — so the
    * simpler regex form stays.) */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def tokens(text: Column): Column = split(normText(text), " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word token estimate: letter runs, single digits, and
    * single punctuation marks each count as one token (the shape of a
    * byte-pair pre-tokenizer split, without a vocab). Fused with
    * [[punctCount]] into one codepoint loop
    * ([[TextExprs.BpePunctCountsExpr]]) — both used in one projection
    * share the expression via subexpression elimination.
    */
  val PunctPattern = "[^A-Za-z0-9\\s]"
  val BpePattern = s"[A-Za-z]+|[0-9]|$PunctPattern"
  def bpeTokenCount(text: Column): Column =
    element_at(TextExprs.bpe_punct_counts(text), 1)

  def punctCount(text: Column): Column =
    element_at(TextExprs.bpe_punct_counts(text), 2)

  /** The regexp_extract_all forms the fused counts replaced — kept as
    * parity oracles for [[TextExprs.BpePunctCountsExpr]]. */
  def bpeTokenCountDeclarative(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  def punctCountDeclarative(text: Column): Column =
    size(regexp_extract_all(text, lit(PunctPattern), lit(0)))

  /** Tiny public stopword lists per language, for the n-gram/stopword
    * language-ID heuristic. Order of `Langs` is the deterministic
    * tie-break (first max wins).
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "a", "it"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "zu", "ein", "den"),
    "es" -> Seq("el", "los", "de", "que", "y", "en", "un", "se", "por", "con"),
    "fr" -> Seq("le", "les", "et", "des", "est", "une", "du", "dans", "pour", "sur"),
    "zh" -> Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这"))
  val Langs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** Count of tokens that are members of `words` — declarative form,
    * kept as the parity oracle for [[TextExprs.StopwordHitsExpr]]. */
  def stopwordHitsDeclarative(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(words)))

  /** Per-language stopword hit counts (`array<int>` in [[Langs]]
    * order), fused into one tokenize-and-count pass
    * ([[TextExprs.StopwordHitsExpr]]) — the replaced 5× interpreted
    * `filter(tokens, isInCollection)` passes dominated every query
    * touching language ID or quality.
    */
  def langHits(text: Column): Column =
    TextExprs.stopword_hits(normText(text), Langs.map(Stopwords))

  /** Predicted language from a materialized [[langHits]] array: argmax
    * of per-language hits, ties broken by `Langs` order; no hits at
    * all → "und" (undetermined).
    */
  def langIdFromHits(hits: Column): Column = {
    val hs = Langs.indices.map(i => element_at(hits, i + 1))
    val best = hs.reduce((a, b) => greatest(a, b))
    Langs.zip(hs).foldRight(lit("und")) { case ((l, h), acc) =>
      when(h === best && h > 0, lit(l)).otherwise(acc)
    }
  }

  def langId(text: Column): Column = langIdFromHits(langHits(text))

  /** Heuristic document quality score in [0,1] — length, punctuation
    * ratio, stopword ratio, word-length shape. Pure add/sub/mul/div
    * arithmetic (no transcendentals) so results are deterministic
    * across engines.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromHits(text, langHits(text))

  /** [[qualityScore]] with the stopword-hit array already materialized
    * as a column. Use this (with [[langIdFromHits]]) when one
    * projection derives BOTH quality and language: subexpression
    * elimination never hoists expressions out of lazily-evaluated
    * CaseWhen branches, so the composed forms re-tokenize per branch —
    * materializing `hits` in a first select makes every downstream
    * reference a cheap element_at.
    */
  def qualityScoreFromHits(text: Column, hits: Column): Column = {
    val chars = length(normText(text)).cast("double")
    val words = tokenCount(text).cast("double")
    val punct = punctCount(text).cast("double")
    val stops = element_at(hits, Langs.indexOf("en") + 1).cast("double")
    val lengthScore = least(words / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(punct / greatest(chars, lit(1.0)) * 5.0, lit(1.0))
    val stopScore = least(stops / greatest(words, lit(1.0)) * 3.0, lit(1.0))
    val awl = chars / greatest(words, lit(1.0))
    val wordLenScore = greatest(lit(0.0), lit(1.0) - abs(awl - 5.0) / 10.0)
    lengthScore * 0.3 + punctScore * 0.3 + stopScore * 0.2 + wordLenScore * 0.2
  }

  /** Training-data text cleaning: strip URLs and email-like tokens,
    * drop control characters, collapse runs of repeated punctuation to
    * one, then normalize whitespace. Fused into one byte scan
    * ([[TextExprs.CleanTextExpr]]); the regex chain it replaced stays
    * below as its parity oracle.
    */
  def cleanText(text: Column): Column = TextExprs.clean_text(text)

  /** The 5-pass regex chain [[cleanText]] replaced — kept as the parity
    * oracle for [[TextExprs.CleanTextExpr]]. Simple RE2-compatible
    * patterns so any engine's regex implementation agrees.
    */
  def cleanTextDeclarative(text: Column): Column = {
    val noUrl = regexp_replace(text, "https?://[^ \\t\\n\\r]+", " ")
    val noEmail = regexp_replace(noUrl, "[^ \\t\\n\\r]+@[^ \\t\\n\\r]+", " ")
    val noCtrl = regexp_replace(noEmail, "[\\x00-\\x1f]", " ")
    val onePunct = regexp_replace(noCtrl, "([!?.,;:])\\1+", "$1")
    lower(trim(regexp_replace(onePunct, "\\s+", " ")))
  }

  /** PII scrubbing patterns — RE2-compatible (no backrefs, no
    * lookaround) so Spark's Java regex and any RE2-based oracle engine
    * match identically. Whitespace is an EXPLICIT class, not `\s`:
    * Java's `\s` includes vertical tab (\x0B), RE2's does not, and the
    * one-engine-redacts-the-other-doesn't divergence would break the
    * cross-engine hash parity the oracle relies on. */
  val EmailPiiPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val SsnPiiPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** Phone-like digit runs: 9+ chars of digits/separators bounded by
    * digits. KNOWN-LOSSY BY DESIGN — this is a recall-first compliance
    * scrub, and regexes cannot tell a phone number from any other long
    * digit run. Documented false-positive classes (all redacted to
    * `<phone>`): ISO dates/datetimes ("2023-01-15 08" — the time's
    * colons stop the match, the date alone doesn't), ISBNs, IP-ish
    * dotted runs, version strings with 3+ numeric fields, and numeric
    * table rows. Pipelines that must preserve those should pre-mask
    * them or swap in a stricter pattern; tightening HERE would trade
    * silent PII leaks for the false positives, the wrong default for a
    * training-corpus scrub. */
  val PhonePiiPattern = "\\+?\\d[\\d \\t\\n\\f\\r().-]{7,}\\d"

  /** Redact common PII shapes (emails, SSN-style ids, phone-like digit
    * runs) to typed placeholders — the standard compliance scrub before
    * a corpus ships to training. A chained regexp_replace projection:
    * narrow, shuffle-free, parquet-scan-bound at any scale. Order
    * matters (SSNs would otherwise half-match the phone pattern), so
    * SSN runs before phone.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPiiPattern, "<email>"),
        SsnPiiPattern, "<ssn>"),
      PhonePiiPattern, "<phone>")

  /** Exact document fingerprint: md5 hex of the normalized text. */
  def fingerprintMd5(text: Column): Column =
    md5(normText(text).cast("binary"))

  /** Rolling (polynomial) fingerprint over codepoints:
    * `acc = (acc * 31 + cp) mod 1_000_000_007` — the classic
    * Rabin-Karp-style rolling hash, fused into one generated loop
    * ([[TextExprs.RollingHashExpr]]).
    */
  def rollingHash(text: Column): Column =
    TextExprs.rolling_hash(normText(text))

  /** The per-character `aggregate` HOF chain [[rollingHash]] replaced —
    * kept as the parity oracle for [[TextExprs.RollingHashExpr]]. */
  def rollingHashDeclarative(text: Column): Column =
    aggregate(
      // filter guards against engine-specific empty-string artifacts of
      // zero-width split, keeping the char sequence identical everywhere
      filter(split(normText(text), ""), c => c =!= ""),
      lit(0L),
      (acc, c) => (acc * 31L + ascii(c)) % 1000000007L)
}
