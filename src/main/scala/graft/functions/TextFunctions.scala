package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus curation, expressed as
  * compositions of built-in (codegen'd, pushdown-friendly) Spark functions —
  * no UDFs anywhere on this path, so a 100 TB scan of `documents` stays
  * inside WholeStageCodegen.
  *
  * Covers the training-data-pipeline surface: tokenization, token/char
  * statistics, quality scoring, language identification and fingerprinting.
  */
object TextFunctions {

  /** Whitespace tokens of lower-cased, trimmed text. Lower-cased by
    * [[graft.GraftFunctions.lowerIcu]] (same bytes as `lower`), so the
    * first tokenization in a JVM does not wait on Spark's collation
    * table build. */
  def tokens(text: Column): Column =
    split(trim(graft.GraftFunctions.lowerIcu(text)), "\\s+")

  /** Overlapping word n-grams of [[tokens]] as space-joined strings —
    * `array<string>` of length `size(tokens) - n + 1` (empty below n
    * tokens). SQL twin (DuckDB): `list_transform(range(1, len(ts)-n+2),
    * i -> array_to_string(ts[i : i+n-1], ' '))`. */
  def wordGrams(text: Column, n: Int): Column =
    wordGramsFromTokens(tokens(text), n)

  /** [[wordGrams]] over an already-computed token array column. Feed an
    * ATTRIBUTE (an aliased column from a previous select) on hot paths:
    * HOF lambdas re-evaluate captured subtrees per element (no CSE), so
    * an inlined `tokens(text)` tree re-splits the text once per gram —
    * O(tokens²) per document. An attribute is a row-field read. Same
    * staging discipline as `Dedup.windowHashesFromTokens`. */
  def wordGramsFromTokens(ts: Column, n: Int): Column = {
    require(n >= 1, "n-gram length must be >= 1")
    when(size(ts) >= n,
      transform(sequence(lit(1), size(ts) - lit(n - 1)),
        i => array_join(slice(ts, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** [[tokenCount]] excluding empty tokens: split("") yields [""], so
    * the raw size counts 1 phantom token for an empty/whitespace-only
    * document — use this wherever a zero-word document must count 0. */
  def tokenCountNonEmpty(text: Column): Column =
    size(filter(tokens(text), t => length(t) > 0)).cast("long")

  def charCount(text: Column): Column = length(text).cast("long")

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * non-alphanumeric-non-space chars — a cheap proxy for tokenizer cost. */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long")

  def digitCount(text: Column): Column =
    length(regexp_replace(text, "[^0-9]", "")).cast("long")

  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("long")

  def spaceCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", ""))).cast("long")

  def nonAsciiCount(text: Column): Column =
    length(regexp_replace(text, "[\\x00-\\x7F]", "")).cast("long")

  /** Integer division on non-negative long columns — THE one shared
    * definition (CorpusStats/Sketches/Curation delegate here). Spark's
    * `div` is integral divide: exact at any magnitude and engine-
    * portable (mirrors DuckDB's `//` for non-negative inputs), with no
    * double round-trip and hence no 2^53 precision cliff. */
  private[graft] def ldiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  private val stopwordsEn = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that")

  /** Count of English stopword tokens. */
  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(stopwordsEn: _*))).cast("long")

  /** Integer quality score in [0,100]: rewards stopword presence and word
    * density, penalises digit/punct-heavy text. Deterministic integer
    * arithmetic only — no float rounding to diverge between engines. */
  def qualityScore(text: Column): Column = {
    val tc = greatest(tokenCount(text), lit(1L))
    val cc = greatest(charCount(text), lit(1L))
    val stopPct = ldiv(stopwordCount(text) * lit(100L), tc)
    val digitPct = ldiv(digitCount(text) * lit(100L), cc)
    val punctPct = ldiv(punctCount(text) * lit(100L), cc)
    val lenScore = least(ldiv(cc, lit(20L)), lit(30L)) // saturate at 600 chars
    greatest(
      least(stopPct + lenScore + lit(40L) - digitPct - punctPct, lit(100L)),
      lit(0L))
  }

  /** Simple marker-based language guess (deterministic; mirrors the SQL
    * oracle exactly). The heavier n-gram profile scorer is `langIdNgram`. */
  def langGuessSimple(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    when(nonAsciiCount(text) > charCount(text) / lit(2L), lit("cjk"))
      .when(t.like("% the %") || t.like("% and %") || t.like("% is %"), lit("en"))
      .when(t.like("% le %") || t.like("% la %") || t.like("% et %"), lit("fr"))
      .when(t.like("% el %") || t.like("% los %") || t.like("% y %"), lit("es"))
      .when(t.like("% der %") || t.like("% und %") || t.like("% die %"), lit("de"))
      .otherwise(lit("other"))
  }

  /** Stopword-profile language scorer over {en,fr,es,de}: picks the language
    * whose stopword set hits the most tokens; `und` (undetermined) when no
    * profile hits. All-Column implementation — stays in codegen. */
  def langIdNgram(text: Column): Column = {
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
      "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que"),
      "es" -> Seq("el", "la", "los", "las", "de", "y", "un", "una", "es", "que"),
      "de" -> Seq("der", "die", "das", "und", "ein", "eine", "ist", "nicht", "mit", "von"))
    val toks = tokens(text)
    val scored = profiles.map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isin(words: _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Exact-dedup fingerprint: md5 hex of the raw text bytes. */
  def md5Fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** Canonical text normalization for curation pipelines: strip
    * NON-whitespace control chars, Unicode NFC (composed vs decomposed
    * accents hash identically), collapse runs of [ \t\n\x0B\f\r] to one
    * space, trim. Two ordering subtleties: controls are stripped BEFORE
    * NFC (a control between a base letter and its combining mark blocks
    * composition — stripping after would leave decomposed text), and
    * vertical-tab/form-feed are COLLAPSED to a space, not deleted (a
    * page-break must not fuse the words around it). Every step has an
    * exact DuckDB equivalent (`nfc_normalize` + the same explicit
    * character classes — NOT `\s`, whose Java and RE2 definitions differ
    * on \x0B), so the whole pipeline is oracle-checkable (tx01). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      graft.GraftFunctions.nfcNormalize(
        regexp_replace(text, "[\\x00-\\x08\\x0E-\\x1F\\x7F]", "")),
      "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Token n-grams ("shingles") of the lower-cased text, joined by single
    * spaces: input to MinHash / Jaccard dedup. Computed by the
    * `token_ngrams` expression (functions/TextExpressions.scala) — one
    * tight loop per row; [[tokenNgramsHof]] is the spec-pinned SQL/HOF
    * twin. */
  def tokenNgrams(text: Column, n: Int): Column = {
    require(n > 0)
    org.apache.spark.sql.functions.call_function(
      "token_ngrams", tokens(text), lit(n))
  }

  /** HOF twin of [[tokenNgrams]] — the executable statement of the SQL
    * formulation every oracle replays; not used in production plans. */
  private[graft] def tokenNgramsHof(text: Column, n: Int): Column = {
    require(n > 0)
    val toks = tokens(text)
    when(size(toks) < n, array())
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - lit(n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Duplicated fraction of a string array in permille (integer — exact
    * and engine-portable via `ldiv`): 1000 * (n - distinct) / n; 0 for
    * empty. */
  private def dupPermille(items: Column): Column = {
    val n = size(items)
    when(n <= 0, lit(0L)).otherwise(
      ldiv((n - size(array_distinct(items))).cast("long") * lit(1000L),
        n.cast("long")))
  }

  /** Gopher/RefinedWeb-style repetition signals — heavily repeated lines
    * or n-grams mark boilerplate/spam/generated text that token counts
    * and quality ratios miss. Both are pure Column work (one scan) with
    * DuckDB-exact integer permille outputs (oracle tx02). */

  /** Permille of non-empty trimmed lines that are duplicates of an
    * earlier line. Splits on `\r?\n` so CRLF documents don't keep a
    * trailing `\r` that excludes the final line from duplicate
    * matching. */
  def dupLinePermille(text: Column): Column =
    dupPermille(filter(
      transform(split(text, "\r?\n"), l => trim(l)), l => length(l) > 0))

  /** Permille of token n-grams that are duplicates (high = loops/chants/
    * keyword stuffing; Gopher drops docs with excessive duplicate
    * 2-4-grams). */
  def dupNgramPermille(text: Column, n: Int): Column =
    dupPermille(tokenNgrams(text, n))

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2's rule family,
    * re-expressed as engine-portable Column logic): a line SURVIVES iff
    *   1. it has at least `minWords` whitespace-separated words,
    *   2. it ends in terminal punctuation (`.` `!` `?` `"`) — C4's
    *      "terminal punctuation" rule (disable via `requireTerminal`),
    *   3. its lowercase form contains none of `markers` (cookie/JS
    *      boilerplate sentinels), and
    *   4. it is the FIRST occurrence of its exact text in the document
    *      (within-doc repeat collapse; a repeat whose first occurrence
    *      was itself dropped is dropped with it).
    * Survivors are re-joined with `\n`. Entirely map-side — per-line
    * predicates + an `array_position` first-occurrence test over the
    * doc's own lines (quadratic only in LINES PER DOC, which is small
    * and bounded by doc length, not corpus size). Every predicate is
    * chosen to replay byte-identically in SQL: Java `\s` is pinned to
    * `[ \t\n\x0B\f\r]` (tx02's convention), the terminal test is a
    * last-character IN list, markers use substring containment. */
  private def keptCleanLines(
      text: Column,
      minWords: Int,
      requireTerminal: Boolean,
      markers: Seq[String]): Column = {
    require(minWords >= 0, "minWords must be non-negative")
    val lines = split(text, "\r?\n")
    def wordCount(l: Column): Column =
      size(filter(split(trim(l), "\\s+"), w => length(w) > 0))
    def terminalOk(l: Column): Column =
      if (requireTerminal)
        substring(trim(l), -1, 1).isin(".", "!", "?", "\"")
      else lit(true)
    def markerFree(l: Column): Column =
      markers.map(m => !lower(l).contains(m))
        .reduceOption(_ && _).getOrElse(lit(true))
    filter(lines, (l, i) =>
      wordCount(l) >= minWords && terminalOk(l) && markerFree(l) &&
        array_position(lines, l) === (i + 1).cast("long"))
  }

  def cleanLines(
      text: Column,
      minWords: Int = 3,
      requireTerminal: Boolean = true,
      markers: Seq[String] = Seq("javascript", "cookie", "lorem ipsum")): Column =
    concat_ws("\n", keptCleanLines(text, minWords, requireTerminal, markers))

  /** Kept/dropped line counts for [[cleanLines]] under the same rules —
    * audit counters: (n_kept, n_dropped). */
  def cleanLinesCounts(
      text: Column,
      minWords: Int = 3,
      requireTerminal: Boolean = true,
      markers: Seq[String] = Seq("javascript", "cookie", "lorem ipsum"))
      : (Column, Column) = {
    val total = size(split(text, "\r?\n")).cast("long")
    val keptN =
      size(keptCleanLines(text, minWords, requireTerminal, markers)).cast("long")
    (keptN, total - keptN)
  }

  /** PII patterns, deliberately restricted to syntax that means the same
    * thing in Java regex and RE2 (no backreferences, no lookaround), so a
    * SQL oracle can run the identical pattern. Conservative by design:
    * high-precision shapes (explicit-looking emails, +international
    * phones, dotted-quad IPs), not a full PII taxonomy. */
  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phoneRe = "\\+[0-9][0-9\\-]{6,}[0-9]"
  private[graft] val ipRe = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** Redact emails, international-format phone numbers, and IPv4 addresses
    * to `<EMAIL>`/`<PHONE>`/`<IP>` — the standard pre-training scrub pass.
    * Replacement order matters (emails first, so their dotted domains are
    * gone before the IP pass) and is part of the contract. Pure
    * `regexp_replace` chain: codegen'd, scan-local, no shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>"),
      ipRe, "<IP>")

  /** Match counts for the three [[redactPii]] classes, as (emails,
    * phones, ips) long columns — audit counters for a scrub pass (how
    * much PII a source carries is itself a curation signal). Each class
    * is counted on the PROGRESSIVELY-REDACTED text, mirroring
    * [[redactPii]]'s cascade, so the counts are exactly the number of
    * `<EMAIL>`/`<PHONE>`/`<IP>` markers in the redacted output — a
    * phone-shaped digit run inside an email's local part, or an
    * IP-shaped email domain, counts once as the email that swallowed
    * it, never twice. */
  def piiCounts(text: Column): (Column, Column, Column) = {
    val afterEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, phoneRe, "<PHONE>")
    (regexp_count(text, lit(emailRe)).cast("long"),
      regexp_count(afterEmail, lit(phoneRe)).cast("long"),
      regexp_count(afterPhone, lit(ipRe)).cast("long"))
  }
}
