package graft.pipeline

import com.ibm.icu.lang.UCharacter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines. All
  * run as map-side projections with zero shuffle and full
  * predicate/column pushdown underneath; nearly all are pure Catalyst
  * column expressions (codegen'd). The exceptions each wrap a JVM
  * kernel the expression language cannot reach — [[normalizeText]]
  * (java.text.Normalizer NFC), [[compressionRatio]] (Deflater), and
  * [[winnowingFingerprints]] (the rolling window-min loop) — and say so
  * in their own headers.
  */
object TextAnalysis {

  /** Canonical text normalization — the pre-step that makes exact dedup
    * and fingerprinting actually EXACT on multilingual corpora: Unicode
    * NFC (composed forms — "e" + COMBINING ACUTE and precomposed
    * U+00E9 are the same character and must hash the same), control
    * characters stripped (C0 + C1 + DEL), whitespace runs collapsed to
    * one space, ends trimmed. Null stays null.
    *
    * NFC is the stable canonical composition defined by Unicode (UAX
    * #15) — independently implemented engines (JVM Normalizer here,
    * utf8proc elsewhere) produce identical bytes, so the normalized text
    * is engine-portable and oracle-checkable. The UDF is the one
    * non-codegen step (the JVM's Normalizer); the strips and collapse
    * are codegen'd regexes on top.
    */
  def normalizeText(c: Column): Column = {
    val nfc = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    // control chars become SPACES before the collapse, never deletions:
    // stripping \n outright FUSED the words around every line break
    // ("hello\nworld" -> "helloworld"), corrupting the canonical text the
    // fingerprint/dedup stack keys on — the contract is "whitespace runs
    // collapse to one space", and line breaks are whitespace
    trim(regexp_replace(
      regexp_replace(nfc(c), "[\\x00-\\x1F\\x7F\\u0080-\\u009F]", " "),
      "\\s+", " "))
  }

  /** The words of a text column — the one word split every text operator
    * reads: Spark `trim` (U+0020 only), then a `\s+` regex split. An edge
    * empty word is kept (`"a b\n"` is `[a, b, ""]`, blank text is `[""]`),
    * exactly as the SQL oracles' `string_split_regex(trim(…), '\s+')`
    * gives it; each operator keeps its own rule for blank and short text.
    */
  private[pipeline] def words(c: Column): Column = split(trim(c), "\\s+")

  /** [[words]] of the lowercased text. */
  private[pipeline] def wordsLower(c: Column): Column = words(lower(c))

  /** Space-only trim, matching Spark's `trim` and DuckDB's `trim` (both
    * strip U+0020 only — Java's `String.trim` strips every char <= 0x20
    * and would diverge from the SQL oracle on tabs and carriage returns).
    */
  private[pipeline] def spaceTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** JVM twin of [[words]] (of [[wordsLower]] with `lower`, folding case
    * by [[lowerOf]]) for row kernels. NULL in, NULL out; the split limit
    * -1 keeps the trailing empty word that Spark's `split` keeps.
    */
  private[pipeline] def wordsOf(t: String, lower: Boolean = false): Array[String] =
    if (t == null) null
    else spaceTrim(if (lower) lowerOf(t) else t).split("\\s+", -1)

  /** Spark's `lower` of one string, step for step as Spark 4.1 runs it on
    * a UTF8_BINARY string at the default `spark.sql.icu.caseMappings.enabled`
    * (`CollationAwareUTF8String.toLowerCase`): all-ASCII text maps A-Z only;
    * any other text takes ICU's full case mapping under the JVM default
    * locale, so a `tr` locale folds `İ` to `i` on both sides. ICU is called
    * directly because Spark's class builds a 2.6 MB title-case table on
    * first use.
    */
  private def lowerOf(t: String): String =
    if (t.chars.allMatch(_ < 0x80)) t.toLowerCase(java.util.Locale.ROOT)
    else UCharacter.toLowerCase(t)

  /** One row per non-empty lowercased word of `textCol`, named `as`, after
    * the `extra` columns — the token stream the token statistics, BM25 and
    * BPE training read.
    */
  private[pipeline] def wordRows(
      df: DataFrame, textCol: String, as: String, extra: Column*): DataFrame =
    df.select(extra :+ explode(wordsLower(col(textCol))).as(as): _*)
      .filter(length(col(as)) > 0)

  /** Space-joined windows of `width` words of `toks`, one starting at
    * every `stride`-th word from 0 to `lastStart` (a slice past the end
    * shortens the window). Stride 1 gives the word n-grams; it indexes by
    * `i`, not `i * 1`, so the n-gram plans keep their expression trees.
    */
  private[pipeline] def wordWindows(
      toks: Column, lastStart: Column, width: Int, stride: Int = 1): Column =
    transform(sequence(lit(0), lastStart), i =>
      concat_ws(" ", slice(toks, (if (stride == 1) i else i * stride) + 1, lit(width))))

  /** Whitespace token count; empty/blank text counts 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(words(c)).cast("long"))

  /** A BPE-ish subword token estimate: word-piece boundaries at whitespace,
    * punctuation and case/digit changes; approximates tokenizer output
    * without a vocab (useful for budget estimates at corpus scale).
    */
  def subwordTokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L)).otherwise(
      size(split(trim(c),
        "\\s+|(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=\\d)|(?<=\\d)(?=[A-Za-z])|(?=[.,!?;:])")).cast("long"))

  /** Mean word length (characters per token), 0 for blank text. */
  def meanWordLength(c: Column): Column = {
    val toks = tokenCount(c)
    when(toks === 0, lit(0.0)).otherwise(
      length(regexp_replace(trim(c), "\\s+", "")).cast("double") / toks.cast("double"))
  }

  /** Fraction of characters that are punctuation. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
        length(c).cast("double"))

  /** Fraction of tokens that are common English stopwords. */
  def stopwordRatio(c: Column): Column = {
    // counted over TOKENS, not raw-text regex matches: "the,the" is ONE
    // whitespace token, but two \b-matches used to score ratio 2.0 — a
    // "fraction" above 1 that skewed every gate treating it as one.
    // A token counts when it equals a stopword after shedding leading/
    // trailing punctuation, so numerator <= denominator by construction.
    val stops = Seq("the", "and", "of", "to", "a", "in", "is", "it",
      "that", "for", "on", "with", "as", "was", "at", "by")
    val toks = tokenCount(c)
    val stopToks = size(filter(wordsLower(c), t =>
      regexp_replace(t, "^\\p{Punct}+|\\p{Punct}+$", "").isin(stops: _*)))
    when(toks === 0, lit(0.0)).otherwise(
      stopToks.cast("double") / toks.cast("double"))
  }

  /** Heuristic quality gate in the C4/Gopher style: keep documents with a
    * sane token count, word length and punctuation density.
    */
  def qualityOk(
      c: Column,
      minTokens: Long = 5, maxTokens: Long = 100000,
      minWordLen: Double = 2.0, maxWordLen: Double = 12.0,
      maxPunct: Double = 0.3): Column = {
    val toks = tokenCount(c)
    toks.between(minTokens, maxTokens) &&
      meanWordLength(c).between(minWordLen, maxWordLen) &&
      (punctRatio(c) < maxPunct)
  }

  /** Composite quality score in [0, 1] (1 = passes all gates, fractional
    * credit per gate).
    */
  def qualityScore(c: Column): Column =
    (when(tokenCount(c).between(5, 100000), 1.0).otherwise(0.0) +
      when(meanWordLength(c).between(2.0, 12.0), 1.0).otherwise(0.0) +
      when(punctRatio(c) < 0.3, 1.0).otherwise(0.0) +
      when(stopwordRatio(c) > 0.0, 1.0).otherwise(0.0)) / lit(4.0)

  /** Deflate compression ratio (compressed bytes / raw UTF-8 bytes) — the
    * repetition signal used by the large-crawl pipelines: machine-generated
    * loops and template spam compress far below natural prose, gibberish
    * and random noise barely compress at all, so gates keep a middle band.
    * Pure map-side kernel (one bounded Deflater per value, no shuffle);
    * deterministic per JVM but NOT engine-portable (zlib output depends on
    * the implementation), so its contract lives in TextMetricsSpec, not a
    * SQL oracle. Empty/null text scores null.
    */
  def compressionRatio(c: Column): Column = {
    val u = udf((t: String) => {
      if (t == null || t.isEmpty) null
      else {
        val raw = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
        try {
          d.setInput(raw)
          d.finish()
          val buf = new Array[Byte](8192)
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          java.lang.Double.valueOf(n.toDouble / raw.length)
        } finally d.end()
      }
    })
    u(c)
  }

  /** Fraction of a document's lines that are duplicates of another line
    * (the Gopher repetition filter's line-level signal). Pure projection:
    * split + array_distinct, no shuffle at any scale.
    */
  def duplicateLineFraction(c: Column): Column = {
    val lines = split(c, "\n")
    when(size(lines) <= 0, lit(0.0)).otherwise(
      (size(lines) - size(array_distinct(lines))).cast("double") /
        size(lines).cast("double"))
  }

  /** Fraction of word `n`-gram occurrences that repeat an earlier
    * occurrence (the Gopher repetition filter's n-gram signal — boilerplate
    * and looped generations score high). Ratio of two small ints, so the
    * double reproduces bit-for-bit in any engine.
    */
  def repeatedNgramFraction(c: Column, n: Int = 2): Column = {
    val toks = wordsLower(c)
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(wordWindows(toks, size(toks) - n, n))
    when(size(grams) <= 0, lit(0.0)).otherwise(
      (size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams).cast("double"))
  }

  /** Remove repeated lines within a document, keeping each line's first
    * occurrence in order (the intra-document half of line dedup —
    * [[CorpusStats.stripBoilerplateLines]] is the cross-document half).
    * Chat logs, scraped navigation, and looped generations repeat lines
    * inside one document; cross-corpus dedup never sees those. Spark's
    * `array_distinct` preserves first-occurrence order, so this is a pure
    * codegen'd projection — zero shuffle at any scale.
    */
  def dedupLines(c: Column): Column =
    array_join(array_distinct(split(c, "\n")), "\n")

  /** Overlapping token windows for embedding / retrieval indexing: the
    * document's tokens sliced into windows of `window` tokens starting
    * every `stride` tokens (stride < window ⇒ overlap). Windows start at
    * 0, stride, 2·stride, … up to the last start < n, so every token is
    * covered and tail windows may be shorter. Blank text yields no
    * windows. Pure Catalyst array expression: the explode that usually
    * follows is map-side — no shuffle from this operator at any scale.
    */
  def slidingWindows(c: Column, window: Int, stride: Int): Column = {
    require(window >= 1, "window must be positive")
    require(stride >= 1, "stride must be positive")
    require(stride <= window,
      s"stride ($stride) must not exceed window ($window): a larger stride " +
        "would skip tokens, breaking the every-token-covered contract")
    val toks = words(c)
    val n = size(toks)
    // int division: Column./ is double division; token counts stay far
    // below 2^53 so floor(double)/cast is exact, and sequence needs ints
    val lastIdx = floor((n - 1).cast("double") / lit(stride.toDouble)).cast("int")
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(wordWindows(toks, lastIdx, window, stride))
  }

  /** Mask personally-identifying / non-content spans with placeholder
    * tokens (the C4-style cleaning step): emails, URLs, and IPv4 literals.
    * Patterns stay RE2-compatible (no backreferences or lookaround), so
    * the same regexes run identically in Spark, DuckDB, and most engines;
    * applied longest-context-first so an email's host is not first eaten
    * by the URL or IP pass.
    */
  def maskPii(c: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val url = "https?://[^\\s]+"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(c, email, "<EMAIL>"),
        url, "<URL>"),
      ipv4, "<IP>")
  }

  /** Canonical document fingerprint: md5 of case-folded,
    * whitespace-collapsed text. Stable across engines (md5 is standard), so
    * exact-dup detection on fingerprints is portable.
    */
  def fingerprint(c: Column): Column =
    md5(encode(regexp_replace(lower(trim(c)), "\\s+", " "), "UTF-8"))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every `k`-gram of tokens with a polynomial rolling
    * hash, slide a window of `w` consecutive gram hashes, and keep each
    * window's minimum — the distinct minima are the document's fingerprint
    * set, robust to insertions/reorderings in a way a whole-document hash
    * is not. Tokenization (trim/lower/split) stays in Catalyst so its
    * semantics match SQL engines; the hashing runs in one tight JVM kernel
    * per row (a nested Catalyst higher-order-function formulation would
    * re-evaluate the token-hash array per lambda element — O(n^3) md5
    * calls per document). Token hashes are the first 4 md5 bytes (= the
    * first 8 hex chars, portable bit-for-bit to any engine) combined mod
    * 2^31-1 with base 131, so every intermediate stays far under 2^63 and
    * the arithmetic reproduces exactly in SQL.
    */
  def winnowingFingerprints(c: Column, k: Int = 4, w: Int = 5): Column = {
    require(k >= 1 && w >= 1)
    val u = udf((toks: Seq[String]) => {
      if (toks == null) null
      else {
        // shared kernel (RollingHash): md5-derived token hashes + base-131
        // gram fold — ONE definition with contentDefinedChunks so the
        // oracle-load-bearing constants cannot drift between the operators
        val th = RollingHash.tokenHashes(toks)
        val n = th.length
        if (n < k) Seq.empty[Long]
        else {
          val grams = new Array[Long](n - k + 1)
          var j = 0
          while (j < grams.length) {
            grams(j) = RollingHash.gramHash(th, j, k)
            j += 1
          }
          val mins =
            if (grams.length >= w) Array.tabulate(grams.length - w + 1) { p =>
              var m = Long.MaxValue
              var q = 0
              while (q < w) { m = math.min(m, grams(p + q)); q += 1 }
              m
            }
            else Array(grams.min)
          mins.distinct.toSeq
        }
      }
    })
    u(wordsLower(c))
  }

  /** Character n-gram based language ID over a fixed language set, as a
    * codegen'd scoring expression: counts hits of per-language marker
    * patterns (stopwords for latin scripts, script ranges for CJK) and takes
    * the argmax. Returns the ISO code or 'und'.
    */
  def languageId(c: Column): Column = {
    val markers: Seq[(String, String)] = Seq(
      "en" -> "(?i)\\b(the|and|of|to|is|in|that|it|for|you|with)\\b",
      "de" -> "(?i)\\b(der|die|das|und|ist|nicht|ein|eine|zu|den|von|mit)\\b",
      "es" -> "(?i)\\b(el|la|los|las|de|que|y|en|un|una|es|por|para)\\b",
      "fr" -> "(?i)\\b(le|la|les|et|est|que|des|une|dans|pour|qui|sur)\\b",
      "zh" -> "[\\p{IsHan}]")
    val scores = markers.map { case (lang, re) =>
      lang -> size(regexp_extract_all(c, lit(re), lit(0)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }
}
