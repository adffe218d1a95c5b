package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over a `documents`
  * table: token counting, quality scoring, language ID, fingerprinting.
  *
  * Column-returning members compose NATIVE Spark expressions (codegen'd,
  * pushdown-friendly); only the genuinely non-expressible kernels (n-gram
  * language profiles, rolling-hash fingerprints) are Scala UDFs — JVM
  * scalar functions, no Python boundary.
  */
object TextAnalysis {

  /** PII scrub (the C4/RefinedWeb-class pipeline step): emails →
    * `[EMAIL]`, `+CC-DDD-DDDD` phone numbers → `[PHONE]`, IPv4s → `[IP]`.
    * A pure `regexp_replace` chain — codegen'd, no UDF, one pass per
    * pattern over the column. Emails replace FIRST so a dotted mail
    * domain is never half-eaten by the IP pattern; phones and IPs are
    * disjoint (dashes vs dots). */
  def redactPii(c: Column): Column = {
    // octets restricted to 0-255: a bare dotted-quad pattern also ate
    // four-component version strings like 999.999.999.999 (round-4
    // review) — benign text must survive; a version that IS a valid
    // IPv4 spelling remains indistinguishable, the standard trade-off
    val octet = "(?:25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)"
    regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "\\+\\d{1,3}-\\d{3}-\\d{4}\\b", "[PHONE]"),
      s"\\b(?:$octet\\.){3}$octet\\b", "[IP]")
  }

  /** Whitespace token count — native expression. Empty/blank → 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** Punctuation ratio — native. */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "[^\\p{Punct}]", "")).cast("double") / length(c))

  /** Mean token length — native. */
  def meanTokenLen(c: Column): Column = {
    val toks = tokenCount(c)
    when(toks === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "\\s+", "")).cast("double") / toks)
  }

  /** Stopword hit ratio against a broadcast-sized list — native (the list is
    * inlined into the plan as a literal array, the classifier-model analog
    * of the reference's broadcast k-d model, main/kd.c:645-724). */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val toks = split(lower(trim(c)), "\\s+")
    when(length(trim(c)) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isInCollection(stopwords))).cast("double") / size(toks))
  }

  val enStopwords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
    "a", "on", "with", "as", "at", "by", "be", "this", "are", "or")

  /** Heuristic document quality score in [0,1] — composition of native
    * expressions: length band, punctuation sanity, mean-word-length band,
    * stopword presence. The Boilerpipe/trafilatura-class "quality scoring"
    * operator expressed as one codegen-friendly column. */
  def qualityScore(c: Column): Column = {
    val toks = tokenCount(c).cast("double")
    val lenScore = least(toks / 100.0, lit(1.0)) // saturates at 100 tokens
    val mtl = meanTokenLen(c)
    val wordLenScore = when(mtl.between(3.0, 10.0), 1.0).otherwise(0.3)
    val punctScore = when(punctRatio(c) <= 0.2, 1.0).otherwise(0.2)
    val stopScore = least(stopwordRatio(c, enStopwords) * lit(5.0), lit(1.0))
    round(lenScore * 0.4 + wordLenScore * 0.2 + punctScore * 0.2 + stopScore * 0.2, 4)
  }

  /** BPE-ish subword pre-tokenization pattern (the GPT-2 family, lookahead-
    * free): contractions, optional-leading-space letter runs, digit runs,
    * punctuation runs. Pure whitespace is never a match, so the match count
    * IS the subword token count. Java regex — evaluated by Spark's native
    * `regexp_count` (codegen, no UDF) and by the single-node oracle with
    * the identical engine. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  @transient private lazy val bpeCompiled = java.util.regex.Pattern.compile(bpePattern)

  /** Pure kernel mirror of [[bpeTokenCount]]. */
  def bpeTokenCountKernel(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    val m = bpeCompiled.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Subword (BPE-ish) token count — native `regexp_count` expression. */
  def bpeTokenCount(c: Column): Column =
    when(c.isNull || length(c) === 0, lit(0))
      .otherwise(regexp_count(c, lit(bpePattern)).cast("int"))

  // --- language identification (n-gram/stopword heuristic, SURVEY F13 analog)

  private val profiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "this"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von"),
    "fr" -> Set("le", "la", "les", "de", "et", "est", "un", "une", "que", "pour", "dans", "qui"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "es", "un", "una", "que", "por", "con"),
    "it" -> Set("il", "la", "di", "e", "che", "un", "una", "per", "non", "sono", "con", "del"))

  /** Pure kernel: script detection first (CJK/Hebrew/Arabic/Cyrillic), then
    * stopword-profile voting for latin-script languages. "und" = undetermined
    * (ISO 639-2 convention). */
  def langIdKernel(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0; var hebrew = 0; var arabic = 0; var cyrillic = 0; var letters = 0
    var i = 0
    val n = math.min(text.length, 2000)
    while (i < n) {
      val cp = text.charAt(i).toInt
      if (Character.isLetter(text.charAt(i))) {
        letters += 1
        if ((cp >= 0x4E00 && cp <= 0x9FFF) || (cp >= 0x3040 && cp <= 0x30FF)) cjk += 1
        else if (cp >= 0x0590 && cp <= 0x05FF) hebrew += 1
        else if (cp >= 0x0600 && cp <= 0x06FF) arabic += 1
        else if (cp >= 0x0400 && cp <= 0x04FF) cyrillic += 1
      }
      i += 1
    }
    if (letters == 0) return "und"
    if (cjk * 2 > letters) return "zh"
    if (hebrew * 2 > letters) return "he"
    if (arabic * 2 > letters) return "ar"
    if (cyrillic * 2 > letters) return "ru"
    val tokens = text.substring(0, n).toLowerCase.split("\\s+")
    var best = "und"; var bestHits = 0
    profiles.foreach { case (lang, words) =>
      val hits = tokens.count(words.contains)
      if (hits > bestHits) { best = lang; bestHits = hits }
    }
    if (bestHits * 20 >= tokens.length) best else "und" // need ≥5% stopword mass
  }

  val langId = udf(langIdKernel _)

  // --- fingerprinting (rolling hash, SURVEY P6/F11 analog)

  /** 64-bit document fingerprint: min of Karp-Rabin rolling hashes over
    * 8-char windows — stable under small appends, order-sensitive. */
  def fingerprintKernel(text: String): Long = {
    if (text == null || text.length < 8) return if (text == null) 0L else text.hashCode.toLong
    val B = 1000003L
    var pow = 1L
    var k = 0
    while (k < 7) { pow *= B; k += 1 }
    var h = 0L
    var min = Long.MaxValue
    var i = 0
    while (i < text.length) {
      h = h * B + text.charAt(i)
      if (i >= 7) {
        val mixed = fmix64(h)
        if (mixed < min) min = mixed
        h -= pow * text.charAt(i - 7) // slide: drop oldest char (coeff B^7)
      }
      i += 1
    }
    min
  }

  private[functions] def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33
    x
  }

  val fingerprint = udf(fingerprintKernel _)
}
