package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, TextScanCounts}

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * Everything here is a pure codegen'd Column expression (builtins +
  * higher-order functions, no UDFs): per-row map-side work with zero
  * shuffle, so throughput scales linearly with executors at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokens. Empty/blank text → empty array (split would
    * yield [""]).
    *
    * Whitespace here is Java's `\s` = `[ \t\n\x0B\f\r]`; RE2 (the
    * DuckDB oracle engine) excludes \x0B from its `\s`, so every
    * oracle states the explicit class instead of `\s` — same
    * cross-engine rule as [[normalized]]. */
  def wsTokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** One-pass native scoring counters (graft.functions.TextScanCounts):
    * `struct<chars, toks, punct, cjk, hits>` with `hits(0)` = EnStop
    * hits and `hits(1..)` = per-LangStops hits. Every public counter
    * below projects a field of this struct, so a query using several of
    * them (qualityScoreBp + languageId in text_curate) pays ONE string
    * walk per row — whole-stage codegen's subexpression elimination
    * dedups the identical struct calls. */
  private[graft] def scanCounts(text: Column): Column =
    GraftExtensions.column(TextScanCounts, text)

  /** Whitespace token count. Exactly `size(wsTokens(text))` including
    * the edges: Spark's `trim` removes only 0x20 spaces and
    * `split(_, re)` uses limit -1, so space-trimmed text that still
    * starts (ends) with \t\n\x0B\f\r contributes a leading (trailing)
    * empty token. Pinned bit-equal to [[tokenCountWsRegex]] and the
    * array formulation on adversarial whitespace by TextSpec. */
  def tokenCountWs(text: Column): Column = scanCounts(text).getField("toks")

  /** Flat-regex reference formulation of [[tokenCountWs]], kept as the
    * equivalence oracle for the native counter (TextSpec). */
  private[graft] def tokenCountWsRegex(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(
      regexp_count(trim(text), lit("\\S+")).cast("int")
        + when(trim(text).rlike("^\\s"), 1).otherwise(0)
        + when(trim(text).rlike("\\s$"), 1).otherwise(0))

  /** Canonical whitespace normalization: trim, collapse runs of the
    * explicit class `[ \t\n\x0B\f\r]` to one space, casefold. The
    * class is stated explicitly (not `\s`) because Java's `\s` includes
    * vertical tab \x0B while RE2's (the DuckDB oracle engine's) does
    * not; every operator AND oracle shares this one definition so
    * digests stay comparable across operators. */
  def normalized(text: Column): Column =
    lower(regexp_replace(trim(text), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** md5 of the normalized text — the cross-operator content identity
    * key (text_normalize, incremental dedup, train/test splitting). */
  def normalizedDigest(text: Column): Column =
    md5(normalized(text).cast("binary"))

  /** BPE-ish token count: letter runs, digit runs, and individual
    * punctuation marks each count as one token — a cheap, deterministic
    * stand-in for a learned subword vocab (same regex on the oracle
    * side). Projects the `bpe` field of the one-pass native scan, so a
    * query combining it with [[tokenCountWs]] (text_token_count) pays a
    * single string walk; pinned bit-equal to [[tokenCountBpeRegex]] by
    * TextSpec (mixed runs, astral code points, every sf0.001 doc). */
  val BpeTokenRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def tokenCountBpe(text: Column): Column = scanCounts(text).getField("bpe")

  /** Flat-regex reference formulation of [[tokenCountBpe]], kept as the
    * equivalence oracle for the native counter (TextSpec); the DuckDB
    * gate oracle states `len(regexp_extract_all(..))` of the same
    * pattern — only the count is observable. */
  private[graft] def tokenCountBpeRegex(text: Column): Column =
    regexp_count(text, lit(BpeTokenRe)).cast("int")

  /** English stopword list used by quality scoring and language ID
    * (small on purpose: broadcast as a literal array into codegen). */
  val EnStop = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")

  /** Count of tokens found in `stop` (duplicates counted).
    *
    * NOT a higher-order `filter(tokens, array_contains)`: HOFs are
    * CodegenFallback, so that formulation interprets ~|tokens|×|stop|
    * comparisons per row per language — measured ~6 s for 50k docs
    * at sf1 inside languageId's five lists. Instead the tokens are
    * space-joined once and the stops counted in ONE codegen'd regex
    * pass: each match consumes the token's leading space and
    * LOOKS AHEAD at the trailing one, so consecutive stopwords both
    * match. Exactly the membership count (tokens cannot contain
    * whitespace by construction; stop lists are plain words). */
  def stopHitCount(tokens: Column, stop: Seq[String]): Column = {
    val padded = concat(lit(" "), array_join(tokens, " "), lit(" "))
    regexp_count(padded, lit(" (?:" + stop.mkString("|") + ")(?= )")).cast("int")
  }

  /** [[stopHitCount]] straight off the text, NO token array: collapsing
    * whitespace runs to single spaces yields exactly
    * `array_join(wsTokens(text), " ")` in every case (including the
    * leading/trailing empty tokens split's limit -1 keeps — the join
    * renders them as the same boundary spaces the collapse leaves).
    * Keeps the whole scoring tree flat codegen with zero array
    * allocation per row. */
  def stopHitCountText(text: Column, stop: Seq[String]): Column = {
    val padded =
      concat(lit(" "), regexp_replace(trim(text), "\\s+", " "), lit(" "))
    regexp_count(padded, lit(" (?:" + stop.mkString("|") + ")(?= )")).cast("int")
  }

  /** Punctuation character count (`[^A-Za-z0-9\s]` code points). */
  def punctCount(text: Column): Column = scanCounts(text).getField("punct")

  /** Regex reference formulation of [[punctCount]] (TextSpec oracle). */
  private[graft] def punctCountRegex(text: Column): Column =
    regexp_count(text, lit("[^A-Za-z0-9\\s]")).cast("int")

  /** Heuristic quality score in integer basis points (0..10000):
    * 10000·(0.4·min(1, chars/500) + 0.3·stopword-ratio + 0.3·(1 − punct-ratio)).
    * Length rewards substance, stopwords reward natural prose, heavy
    * punctuation (markup/code debris) penalizes. Computed with
    * EXACT integer arithmetic: q_bp = round(10000·N/D) where
    * N = 2·m·t·c + 750·h·c + 750·(c−p)·t  and  D = 2500·t·c
    * (m = min(chars,500), t = max(tokens,1), c = max(chars,1),
    * h = stopword hits, p = punctuation chars). Same closed form is
    * stated in the DuckDB oracle, so the correctness gate is free of
    * cross-engine float-rounding boundaries (round(x, 4) on doubles
    * differs between engines exactly at .00005 edges). All terms fit a
    * long; the final floor() sits on a double whose value is ≥1e-9
    * away from the nearest integer, so it cannot misround.
    *
    * All counters come from the ONE-PASS native scan (scanCounts);
    * the arithmetic stays a flat codegen tree above it. (History: a
    * HOF `bound()` form was ~10 s of interpreted `transform` at sf1;
    * its flat-regex replacement still paid ~4 regex passes per row —
    * the scan is one walk, and TextSpec pins count equality against
    * the regex forms.) */
  def qualityScoreBp(text: Column): Column = {
    val ct = scanCounts(text)
    val c = greatest(ct.getField("chars"), lit(1)).cast("long")
    val m = least(ct.getField("chars"), lit(500)).cast("long")
    val t = greatest(ct.getField("toks"), lit(1)).cast("long")
    val h = ct.getField("hits").getItem(0).cast("long")
    val p = ct.getField("punct").cast("long")
    val n = lit(2L) * m * t * c + lit(750L) * h * c + lit(750L) * (c - p) * t
    val d = lit(2500L) * t * c
    floor((lit(10000L) * n + d / lit(2L)) / d).cast("long")
  }

  /** Regex reference formulation of [[qualityScoreBp]] (TextSpec
    * oracle; also the shape the DuckDB gate oracle states). */
  private[graft] def qualityScoreBpRegex(text: Column): Column = {
    val c = greatest(length(text), lit(1)).cast("long")
    val m = least(length(text), lit(500)).cast("long")
    val t = greatest(tokenCountWsRegex(text), lit(1)).cast("long")
    val h = stopHitCountText(text, EnStop).cast("long")
    val p = punctCountRegex(text).cast("long")
    val n = lit(2L) * m * t * c + lit(750L) * h * c + lit(750L) * (c - p) * t
    val d = lit(2500L) * t * c
    floor((lit(10000L) * n + d / lit(2L)) / d).cast("long")
  }

  /** Punctuation character ratio in exact integer basis points (see
    * qualityScoreBp). */
  def punctRatioBp(text: Column): Column = {
    val ct = scanCounts(text)
    val c = greatest(ct.getField("chars"), lit(1)).cast("long")
    val p = ct.getField("punct").cast("long")
    floor((lit(20000L) * p + c) / (lit(2L) * c)).cast("long")
  }

  /** Per-language stopword lists for language ID. */
  val LangStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "pas"),
    "es" -> Seq("el", "la", "los", "y", "es", "una", "que", "por", "con", "para"),
  )

  /** CJK character ratio (zh detector). */
  def cjkRatio(text: Column): Column = {
    val ct = scanCounts(text)
    ct.getField("cjk") / greatest(ct.getField("chars"), lit(1)).cast("double")
  }

  /** Regex reference formulation of [[cjkRatio]] (TextSpec oracle). */
  private[graft] def cjkRatioRegex(text: Column): Column =
    regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")).cast("int") /
      greatest(length(text), lit(1)).cast("double")

  /** n-gram/stopword-ratio language ID over {en,de,fr,es,zh}: the
    * language whose stopword-hit ratio (CJK char ratio for zh) is
    * highest; ties break to the lexicographically last language —
    * array_max over (score, lang) structs is total and deterministic.
    * All five ratios read the one-pass scan counters: hits(i+1) is the
    * i-th LangStops list, so adding a language costs zero extra string
    * passes (the old per-language alternation regexes each re-scanned
    * the text). */
  def languageId(text: Column): Column = {
    val ct = scanCounts(text)
    val t = greatest(ct.getField("toks"), lit(1)).cast("double")
    val scored = LangStops.zipWithIndex.map { case ((lang, _), i) =>
      struct((ct.getField("hits").getItem(i + 1) / t).as("score"), lit(lang).as("lang"))
    } :+ struct(
      (ct.getField("cjk") / greatest(ct.getField("chars"), lit(1)).cast("double")).as("score"),
      lit("zh").as("lang"))
    array_max(array(scored: _*)).getField("lang")
  }

  /** Regex reference formulation of [[languageId]] (TextSpec oracle). */
  private[graft] def languageIdRegex(text: Column): Column = {
    val scored = LangStops.map { case (lang, stops) =>
      struct((stopHitCountText(text, stops) /
        greatest(tokenCountWsRegex(text), lit(1)).cast("double")).as("score"),
        lit(lang).as("lang"))
    } :+ struct(cjkRatioRegex(text).as("score"), lit("zh").as("lang"))
    array_max(array(scored: _*)).getField("lang")
  }

  /** PII patterns used by detection/redaction. RE2-compatible subset
    * (no lookaround, no backrefs) so the DuckDB oracle can state the
    * SAME pattern text: `\b`, `\d`, and non-capturing groups mean the
    * same thing in Java regex and RE2. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  val PhoneRe = "\\b555-\\d{4}\\b"

  /** Count of matches of `re` in `text`. */
  def piiCount(text: Column, re: String): Column =
    regexp_count(text, lit(re)).cast("long")

  /** Redact emails, IPv4 addresses, and (test-prefix) phone numbers to
    * typed placeholders. Email first: its character class overlaps the
    * IP pattern's digits-and-dots, so the order is part of the
    * contract. Pure map-side codegen — redaction at 100 TB is a linear
    * scan, zero shuffle. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Winnowing document fingerprint (Schleimer, Wilkerson, Aiken —
    * SIGMOD'03 "local algorithms for document fingerprinting"):
    * hash all k-char grams, slide a window of w hashes, keep each
    * window's minimum, distinct + sort. Robust to small edits; two
    * documents sharing any selected gram share a fingerprint.
    *
    * Tight-loop UDF (the repo's fourth, same justification class as
    * the banded Levenshtein / MMR fold / PQ argmin): the Column
    * formulation is one interpreted lambda evaluation per character
    * PLUS one per window — ~50M for the sf1 corpus, measured 11.2 s,
    * vs one JVM pass per document here. Bit-equal to
    * [[fingerprintHof]] (TextSpec pins it, including astral code
    * points): grams are code-point substrings hashed exactly as
    * `xxhash64(substr(...))` hashes them (XxHash64Function over the
    * gram's UTF8 bytes, seed 42). */
  def fingerprint(text: Column, k: Int = 5, w: Int = 4): Column =
    winnowUdf(text, lit(k), lit(w))

  private lazy val winnowUdf =
    udf { (s: String, k: Int, w: Int) => winnowImpl(s, k, w) }

  private[graft] def winnowImpl(s: String, k: Int, w: Int): Array[Long] = {
    if (s == null) return null
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val b = u.getBytes
    // byte offset of every code point (+ end sentinel): grams slice
    // CODE POINTS like Substring does, not UTF-16 units
    val offs = new Array[Int](u.numChars + 1)
    var i = 0
    var c = 0
    while (i < b.length) {
      offs(c) = i
      c += 1
      i += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(b(i))
    }
    offs(c) = b.length
    val g = c - k + 1
    val m = g - w + 1
    // fewer grams than one full window (incl. text shorter than k):
    // no window minimum is selected — same empty result as the HOF
    if (m < 1) return Array.emptyLongArray
    val hashes = new Array[Long](g)
    i = 0
    while (i < g) {
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(b, offs(i), offs(i + k) - offs(i)),
        org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    val mins = new Array[Long](m)
    i = 0
    while (i < m) {
      var mn = hashes(i)
      var j = i + 1
      while (j < i + w) {
        if (hashes(j) < mn) mn = hashes(j)
        j += 1
      }
      mins(i) = mn
      i += 1
    }
    java.util.Arrays.sort(mins)
    var out = 0
    i = 0
    while (i < m) {
      if (out == 0 || mins(out - 1) != mins(i)) { mins(out) = mins(i); out += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(mins, out)
  }

  /** Reference Column formulation of [[fingerprint]], kept as the
    * equivalence oracle for the UDF (TextSpec). */
  private[graft] def fingerprintHof(text: Column, k: Int = 5, w: Int = 4): Column = {
    // sequence(1, n) DESCENDS when n < 1 — guard short inputs to an
    // empty index range instead
    def upTo(n: Column): Column =
      when(n < 1, array().cast("array<int>")).otherwise(sequence(lit(1), n))
    val grams = transform(
      upTo(length(text) - lit(k - 1)),
      i => xxhash64(text.substr(i, lit(k))))
    // bind the gram-hash array once: referenced inside the window-min
    // lambda, it would otherwise re-hash the whole document per window
    graft.similarity.Similarity.bound(grams) { gs =>
      val mins = transform(
        upTo(size(gs) - lit(w - 1)),
        i => array_min(slice(gs, i, lit(w))))
      sort_array(array_distinct(mins))
    }
  }
}
