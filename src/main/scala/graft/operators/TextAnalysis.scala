package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All pure Catalyst expressions (codegen'd, oracle-reproducible);
  * generalizes the reference's text heuristics
  * (`/root/reference/etl/er.py:15-27` stopword classes,
  * `/root/reference/etl/reviews_jsonl.py:302-357` text hygiene).
  */
object TextAnalysis {

  /** Tiny per-language stopword marker sets for the n-gram/stopword-count
    * language heuristic. Deliberately small + deterministic. */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "por", "que"))

  private def toks(c: Column): Column = Dedup.tokens(c)

  /** Count of tokens present in a marker set. */
  def markerHits(c: Column, lang: String): Column =
    size(array_intersect(toks(c), array(markers(lang).map(lit): _*)))

  /** Heuristic language ID: the language with the most distinct marker-word
    * hits; zero-hit texts resolve to 'und'. Deterministic: ties break by
    * language code ascending (the when-chain runs in sorted code order). */
  def langId(c: Column): Column = {
    val langs = markers.keys.toSeq.sorted
    val hits = langs.map(l => l -> markerHits(c, l)).toMap
    langs.foldRight(lit("und")) { (l, acc) =>
      val isMax = langs.filter(_ != l)
        .map(o => hits(l) >= hits(o)).reduce(_ && _)
      when(isMax && hits(l) > 0, lit(l)).otherwise(acc)
    }
  }

  /** Script-block order for [[scriptCounts]] / [[dominantScript]] —
    * fixed, it IS the tie-break. */
  private val scriptBlocks: Seq[(String, String)] = Seq(
    // BMP-only blocks: Spark length() counts code points and DuckDB
    // length() counts code points, so length-diff counting agrees;
    // supplementary-plane scripts would need the same check first
    "latin" -> "[A-Za-z\\u00C0-\\u024F]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "greek" -> "[\\u0370-\\u03FF]",
    "arabic" -> "[\\u0600-\\u06FF]",
    "cjk" -> "[\\u3040-\\u30FF\\u4E00-\\u9FFF\\uAC00-\\uD7AF]")

  /** Per-script codepoint counts (`n_latin, n_cyrillic, n_greek,
    * n_arabic, n_cjk`) via the same length-diff trick the quality
    * features use — codegen'd regexp, no UDF. Latin includes the
    * supplement/extended accent blocks; cjk covers kana, unified
    * ideographs, and hangul. Digits/punct/space count toward nothing. */
  def scriptCounts(c: Column): Seq[(String, Column)] =
    scriptBlocks.map { case (name, clazz) =>
      s"n_$name" ->
        (length(c) - length(regexp_replace(c, clazz, ""))).cast("long")
    }

  /** The script with the most codepoints — ties break by
    * [[scriptBlocks]] order (latin first), all-zero texts resolve to
    * 'none'. The script-ID complement of [[langId]]: marker words only
    * work within a script family; a Cyrillic or CJK document needs the
    * codepoint census first. */
  def dominantScript(c: Column): Column = {
    val counts = scriptCounts(c).map { case (n, e) => n.stripPrefix("n_") -> e }
    val names = counts.map(_._1)
    val byName = counts.toMap
    names.foldRight(lit("none")) { (n, acc) =>
      val isMax = names.filter(_ != n).map(o => byName(n) >= byName(o))
        .reduce(_ && _)
      when(isMax && byName(n) > 0, lit(n)).otherwise(acc)
    }
  }

  /** Fraction of script-bearing codepoints that are non-Latin,
    * quantized to 1e-6; 0 when the text carries no script codepoints at
    * all. The first-cut multilingual routing signal. */
  def nonLatinRatio(c: Column): Column = {
    val counts = scriptCounts(c).toMap
    val nonLatin = Seq("n_cyrillic", "n_greek", "n_arabic", "n_cjk")
      .map(counts).reduce(_ + _)
    val total = nonLatin + counts("n_latin")
    when(total === 0, lit(0.0)).otherwise(
      floor(nonLatin.cast("double") / total * lit(1e6) + lit(0.5)) /
        lit(1e6))
  }

  /** One-pass JIT kernel for the whole quality block. The expression form
    * below drives interpreted higher-order functions per token (~0.5 ms/doc
    * on the corpus — same lesson as repetitionKernel); this kernel
    * replicates the EXACT arithmetic — codepoint-counted lengths (Spark
    * `length` counts code points, not UTF-16 units), the same sequential
    * double folds, round(x,6) as BigDecimal HALF_UP, the same composition
    * order — so oracle parity stays bit-exact (spec'd against the
    * expression form, including non-BMP text). Fields: (n_chars, n_tokens,
    * mean_token_len, punct_ratio, stopword_ratio, digit_ratio, quality). */
  def qualityKernel(text: String)
      : (Long, Long, Double, Double, Double, Double, Double) = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nChars = text.codePointCount(0, text.length)
    val n = nChars.toDouble
    val tk = Dedup.tokensKernel(text)
    val nTok = tk.length
    var sumLen = 0.0
    var stopHits = 0
    var i = 0
    while (i < nTok) {
      sumLen += tk(i).length
      if (enMarkerSet.contains(tk(i))) stopHits += 1
      i += 1
    }
    var punct = 0
    var digits = 0
    var j = 0
    while (j < text.length) {
      val ch = text.charAt(j)
      if (ch == '.' || ch == ',' || ch == ';' || ch == ':' ||
        ch == '!' || ch == '?') punct += 1
      if (ch >= '0' && ch <= '9') digits += 1
      j += 1
    }
    val meanTok = r6(if (nTok == 0) 0.0 else sumLen / nTok)
    val punctR = r6(if (n == 0) 0.0 else punct / n)
    val stopR = r6(if (nTok == 0) 0.0 else stopHits.toDouble / nTok)
    val digitR = r6(if (n == 0) 0.0 else digits / n)
    val lenScore = math.min(nTok.toDouble / 50.0, 1.0)
    val stopScore = math.min(stopR * 5.0, 1.0)
    val noise = punctR + digitR
    val quality = r6(math.max(0.0,
      lenScore * 0.4 + stopScore * 0.4 +
        (1.0 - math.min(noise * 5.0, 1.0)) * 0.2))
    (nChars.toLong, nTok.toLong, meanTok, punctR, stopR, digitR, quality)
  }
  private val enMarkerSet: Set[String] = markers("en").toSet
  private val qualityUdf = udf(qualityKernel _)

  /** Character-level Shannon entropy in BITS over the code-point
    * histogram — the classic gibberish/boilerplate signal (CCNet-style
    * pipelines pair it with LM perplexity): keyboard mash and repeated
    * padding sit far below natural-language entropy (~3.5-4.5 bits for
    * English prose), base64/random blobs far above. One pass per row,
    * no explode — at 100 TB the histogram must never become rows.
    *
    * Fixed arithmetic shape `(ln(n) − (Σ_c c·ln c)/n) / ln 2` over
    * code-point counts, replayed term-for-term by the oracle; the Σ is
    * the only order-sensitive double fold (covered by the round(6)
    * output discipline, like every other summed-double row). Empty or
    * null text scores 0. */
  def entropyKernel(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    val counts = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < text.length) {
      val cp = text.codePointAt(i)
      counts.merge(cp, 1L, (a, b) => a + b)
      n += 1
      i += Character.charCount(cp)
    }
    var s = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      s += c * math.log(c)
    }
    (math.log(n.toDouble) - s / n) / math.log(2.0)
  }
  private val entropyUdf = udf(entropyKernel _)

  /** Per-row character entropy (bits) — kernel-backed. */
  def charEntropy(c: Column): Column = entropyUdf(c)

  /** All quality features + composite score from ONE kernel evaluation,
    * as a struct column (fields _1.._7 per qualityKernel). */
  def qualityStruct(c: Column): Column = qualityUdf(c)

  /** Composite quality score in [0,1] — kernel-backed. */
  def qualityScore(c: Column): Column = qualityUdf(c).getField("_7")

  /** Expression-only form of the feature block (the kernel's definitional
    * reference; kept for the parity spec). */
  def qualityFeaturesExpr(c: Column): Seq[(String, Column)] = {
    val n = length(c).cast("double")
    val t = toks(c)
    val stop = array(markers("en").map(lit): _*)
    Seq(
      "n_chars" -> length(c).cast("long"),
      "n_tokens" -> size(t).cast("long"),
      "mean_token_len" -> round(
        when(size(t) === 0, 0.0)
          .otherwise(aggregate(t, lit(0.0), (a, x) => a + length(x)) / size(t)), 6),
      "punct_ratio" -> round(
        when(n === 0, 0.0).otherwise(
          (n - length(regexp_replace(c, "[\\.,;:!\\?]", ""))) / n), 6),
      "stopword_ratio" -> round(
        when(size(t) === 0, 0.0).otherwise(
          size(filter(t, x => array_contains(stop, x))).cast("double") / size(t)), 6),
      "digit_ratio" -> round(
        when(n === 0, 0.0).otherwise(
          (n - length(regexp_replace(c, "[0-9]", ""))) / n), 6))
  }

  /** Composite quality score in [0,1]: favors mid-length docs with low
    * punctuation/digit noise and a natural stopword rate (expression-only
    * definitional reference for the parity spec). */
  def qualityScoreExpr(c: Column): Column = {
    val f = qualityFeaturesExpr(c).toMap
    val lenScore = least(f("n_tokens").cast("double") / 50.0, lit(1.0))
    val stopScore = least(f("stopword_ratio") * 5.0, lit(1.0))
    val noise = f("punct_ratio") + f("digit_ratio")
    round(greatest(lit(0.0),
      lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - least(noise * 5.0, lit(1.0))) * 0.2), 6)
  }

  /** The Gopher rule-filter stopword list (Rae et al. 2021, A1.1: a doc
    * must contain at least two of these to survive). */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val bulletRe =
    java.util.regex.Pattern.compile("^[ \t\r\f\u000B]*[-*•]")
  private val ellipsisRe =
    java.util.regex.Pattern.compile("(\\.\\.\\.|…)[ \t\r\f\u000B]*$")

  /** One-pass kernel for the Gopher quality-rule block (Rae et al. 2021,
    * Table A1): whitespace WORDS (not the alnum tokenizer — symbols count
    * here), codepoint word lengths, symbol occurrences ('#', '…', and
    * leftmost non-overlapping '...'), alpha-bearing word fraction,
    * distinct required-stopword hits, and per-LINE bullet-start /
    * ellipsis-end fractions. All ratios round(…,6) as BigDecimal HALF_UP
    * and every split/regex uses the explicit [ \t\n\r\f\x0B] class, so a
    * RE2 oracle replays bit-for-bit (the htmlExtract precedent). Fields:
    * (n_words, mean_word_len, symbol_ratio, frac_alpha_words, stop_hits,
    * frac_bullet_lines, frac_ellipsis_lines, keep). */
  def gopherKernel(text: String)
      : (Long, Double, Double, Double, Long, Double, Double, Boolean) = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val words = text.split("[ \t\n\r\f\u000B]+").filter(_.nonEmpty)
    val nW = words.length
    var sumLen = 0L
    var alpha = 0
    for (w <- words) {
      sumLen += w.codePointCount(0, w.length)
      if (w.exists(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')))
        alpha += 1
    }
    var sym = 0
    var j = 0
    while (j < text.length) {
      val ch = text.charAt(j)
      if (ch == '#' || ch == '…') sym += 1
      j += 1
    }
    var idx = text.indexOf("...")
    while (idx >= 0) { sym += 1; idx = text.indexOf("...", idx + 3) }
    val stopHits =
      Dedup.tokensKernel(text).toSet.count(gopherStops.contains).toLong
    val lines = text.split("\n", -1)
    var bullet = 0
    var ellips = 0
    for (l <- lines) {
      if (bulletRe.matcher(l).find()) bullet += 1
      if (ellipsisRe.matcher(l).find()) ellips += 1
    }
    val meanLen = r6(if (nW == 0) 0.0 else sumLen.toDouble / nW)
    val symR = r6(if (nW == 0) 0.0 else sym.toDouble / nW)
    val alphaF = r6(if (nW == 0) 0.0 else alpha.toDouble / nW)
    val bulletF = r6(bullet.toDouble / lines.length)
    val ellipsF = r6(ellips.toDouble / lines.length)
    val keep = nW >= 50 && nW <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symR < 0.1 && alphaF >= 0.8 && stopHits >= 2 &&
      bulletF < 0.9 && ellipsF < 0.3
    (nW.toLong, meanLen, symR, alphaF, stopHits, bulletF, ellipsF, keep)
  }
  private val gopherUdf = udf(gopherKernel _)

  /** All Gopher rule features + the keep verdict from ONE kernel
    * evaluation, as a struct column (fields _1.._8 per gopherKernel). */
  def gopherRules(c: Column): Column = gopherUdf(c)

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(toks(c)).cast("long")

  /** BPE-ish subword count estimate: words are split at letter/digit
    * boundaries and every 4 chars — a cheap deterministic proxy for a real
    * tokenizer's piece count. Kernel-backed (the aggregate-HOF form is
    * interpreted per token); pure integer math, so parity is trivial. */
  def subwordCount(c: Column): Column = subwordUdf(c)
  def subwordKernel(text: String): Long = {
    val tk = Dedup.tokensKernel(text)
    var s = 0L
    var i = 0
    while (i < tk.length) {
      s += (tk(i).length + 3) / 4
      i += 1
    }
    s
  }
  private val subwordUdf = udf(subwordKernel _)

  /** Polynomial rolling-hash document fingerprint over tokens
    * (base 1000003, mod 2^31-1), engine-agnostic arithmetic.
    * Kernel-backed: the aggregate-HOF form computes an md5 per token
    * through interpreted expressions; the kernel is the same exact
    * integer fold (acc < 2^31, so acc*1000003 + h32 < 2^51 — no
    * overflow, and every value is non-negative so % == pmod). */
  def fingerprint(c: Column): Column = fingerprintUdf(c)
  def fingerprintKernel(text: String): Long = {
    val tk = Dedup.tokensKernel(text)
    var acc = 0L
    var i = 0
    while (i < tk.length) {
      acc = (acc * 1000003L + Dedup.md5Hash32Kernel(tk(i), 7)) % 2147483647L
      i += 1
    }
    acc
  }
  private val fingerprintUdf = udf(fingerprintKernel _)

  /** One-pass JIT kernel for both repetition signals. The expression form
    * (array_distinct/filter over word arrays) is interpreted per element
    * AND quadratic for the top-token count — measured 30s for the corpus
    * at sf0.1 vs ~1s for this kernel. Rounding replicates Spark's
    * round(x, 6) (BigDecimal HALF_UP) so oracle parity is bit-exact. */
  def repetitionKernel(text: String): (Double, Double) = {
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tk = Dedup.tokensKernel(text)
    if (tk.isEmpty) return (0.0, 0.0)
    // duplicate word-3-gram fraction (short texts fold to one shingle)
    val n = 3
    val total = math.max(tk.length - n + 1, 1)
    val seen = new java.util.HashSet[String]()
    if (tk.length < n) seen.add(tk.mkString(" "))
    else {
      var i = 0
      while (i <= tk.length - n) {
        seen.add(s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}")
        i += 1
      }
    }
    // most-common-token fraction
    val counts = new java.util.HashMap[String, Int]()
    var maxC = 0
    var j = 0
    while (j < tk.length) {
      val c = counts.merge(tk(j), 1, Integer.sum)
      if (c > maxC) maxC = c
      j += 1
    }
    (r6(1.0 - seen.size.toDouble / total), r6(maxC.toDouble / tk.length))
  }
  private val repetitionUdf = udf(repetitionKernel _)

  /** Duplicate-n-gram fraction (Gopher/RefinedWeb-style repetition
    * signal): 1 - distinct/total over word 3-grams. 0 for empty text. */
  def dupNgramFrac(c: Column, n: Int = 3): Column = {
    require(n == 3, "kernel is specialized to 3-grams")
    repetitionUdf(c).getField("_1")
  }

  /** Fraction of tokens that are the single most common token — the other
    * standard intra-doc repetition signal. 0 for empty text. */
  def topTokenFrac(c: Column): Column = repetitionUdf(c).getField("_2")

  /** PII patterns a training-data pipeline scrubs before the corpus ships:
    * emails, URLs, international-format phone runs, IPv4 literals. Plain
    * character-class regexes (no lookaround) so Java regex and RE2 agree
    * — the patterns are deliberately deterministic-first; a production
    * scrubber would widen them per locale. Replacement order matters:
    * emails before URLs (an address inside a URL query string must not be
    * half-eaten), phones before IPs (both are digit runs). */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", "https?://[^ ]+", "<URL>"),
    ("phone", "\\+[0-9][0-9 ]{6,}[0-9]", "<PHONE>"),
    ("ip", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"))

  /** Redacted text: every PII pattern replaced by its tag, codegen'd
    * regexp_replace chain (no UDF). */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (_, re, tag)) =>
      regexp_replace(acc, re, tag)
    }

  /** Per-pattern match count on the UNREDACTED text, one column per
    * pattern, named n_<kind>. */
  def piiCounts(c: Column): Seq[Column] =
    PiiPatterns.map { case (kind, re, _) =>
      size(regexp_extract_all(c, lit(re), lit(0))).as(s"n_$kind")
    }

  /** Token-window document chunking (context-length packing prep for LLM
    * training): fixed `chunkSize`-token windows advancing by
    * `chunkSize - overlap` so consecutive chunks share `overlap` tokens;
    * the final window is the (possibly short) tail, so every token lands
    * in at least one chunk. Docs with <= chunkSize tokens — including
    * empty ones — yield exactly one chunk.
    *
    * Shape at scale: tokenize + per-row explode, all codegen'd builtins
    * (sequence/slice/concat_ws), no shuffle and no UDF — a corpus chunks
    * in a single narrow stage regardless of size. Output:
    * (idCol, chunk_id, n_tokens, chunk_text). */
  def chunk(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String, chunkSize: Int = 64,
            overlap: Int = 16): org.apache.spark.sql.DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize): $overlap vs $chunkSize")
    val stride = chunkSize - overlap
    val n = size(col("tk"))
    val nChunks = when(n <= chunkSize, lit(1)).otherwise(
      ceil((n - lit(chunkSize)).cast("double") / lit(stride)).cast("int") + 1)
    val piece = slice(col("tk"), col("chunk_id") * stride + 1, lit(chunkSize))
    docs.select(col(idCol), toks(col(textCol)).as("tk"))
      .withColumn("chunk_id", explode(sequence(lit(0), nChunks - 1)))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        size(piece).cast("long").as("n_tokens"),
        concat_ws(" ", piece).as("chunk_text"))
  }

  /** Corpus TF-IDF: each document's top term by tf * (ln((N+1)/(df+1)) + 1)
    * (smoothed idf; ties broken by term ascending). Output columns:
    * (idCol, top_term, tfidf).
    *
    * Shape at scale: tokenize -> per-(doc, term) counts (map-side partial
    * agg) -> per-term document frequency (second partial agg over the much
    * smaller distinct set) -> equi-join back on term -> one
    * row_number window per doc. The corpus size N rides along as a
    * broadcast single-row frame, so nothing collects to the driver; every
    * stage is a hash aggregate or equi-join AQE can re-plan. Documents
    * with no tokens produce no row.
    *
    * Vocabulary skew: the join-back key is the TERM, and natural-language
    * term frequency is Zipfian — a stop word's partition carries a large
    * share of all (doc, term) rows. The build side is one row per term,
    * so AQE's skew-join split handles it (splitting the probe side is
    * always safe against a 1-row-per-key build side); when the distinct
    * vocabulary is known to fit in executor memory (it usually is: even
    * web-scale corpora hold ~10^7-10^8 terms), pass
    * `broadcastVocab = true` to skip the term shuffle entirely. */
  def tfidfTop(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String,
               broadcastVocab: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val terms = docs.select(col(idCol), explode(toks(col(textCol))).as("term"))
    val tf = terms.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq0 = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dfreq = if (broadcastVocab) broadcast(dfreq0) else dfreq0
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") *
        (log((col("n") + lit(1.0)) / (col("df") + lit(1.0))) + lit(1.0)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col(idCol), col("term").as("top_term"),
        round(col("tfidf"), 4).as("tfidf"))
  }

  /** Hashing-trick sparse feature vectorizer (Weinberger et al. 2009,
    * "Feature Hashing for Large Scale Multitask Learning"): each token
    * occurrence lands in bucket `h(tok) mod numBuckets`, with a SECOND
    * independent hash bit choosing the sign of its contribution — the
    * signed sum makes colliding features cancel in expectation instead
    * of stacking, which is what lets a fixed-width table stand in for an
    * unbounded vocabulary. No dictionary, no fit step, no driver state.
    *
    * Output is the sparse form (id, bucket, feat) — the dense vector
    * never materializes, so the width can be 2^20 at 100 TB without a
    * wide-row problem. Shape: explode -> map-side hash -> ONE
    * partial-aggregating shuffle on (id, bucket); integer-exact in any
    * engine (md5-prefix hash, the repo's cross-engine hash contract). */
  def hashFeatures(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, numBuckets: Int = 1024)
      : org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, "numBuckets must be >= 2")
    docs
      .select(col(idCol).as("id"), explode(toks(col(textCol))).as("tok"))
      .select(col("id"),
        pmod(Dedup.md5Hash32(col("tok"), lit(0)), lit(numBuckets.toLong))
          .as("bucket"),
        (Dedup.md5Hash32(col("tok"), lit(1)).bitwiseAND(lit(1L)) * lit(2L) -
          lit(1L)).as("sign"))
      .groupBy("id", "bucket").agg(sum("sign").as("feat"))
  }

  // ---------------------------------------------------------------
  // Learned quality/language classifier (multinomial Naive Bayes over
  // hashed token features — the fastText-filter shape of CCNet/LLaMA
  // corpus curation, reduced to pure aggregations both engines replay)
  // ---------------------------------------------------------------

  /** Train a multinomial Naive Bayes model over hashed unigram buckets:
    * per (label, bucket) the Laplace-smoothed log token probability,
    * per label the log document prior. The model frame is
    * labels x numBuckets rows — broadcastable however large the corpus —
    * and training is two partial-aggregated shuffles over the token
    * explode (the [[hashFeatures]]/DSIR bucket scheme, so features need
    * no dictionary or fit step at 100 TB).
    * @return (label, bucket, logp, logprior). */
  def nbTrain(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, labelCol: String,
              numBuckets: Int = 64): org.apache.spark.sql.DataFrame = {
    require(numBuckets >= 2, "numBuckets must be >= 2")
    val tokb = docs.select(col(labelCol).as("label"),
        explode(toks(col(textCol))).as("tok"))
      .select(col("label"),
        pmod(Dedup.md5Hash32(col("tok"), lit(0)), lit(numBuckets.toLong))
          .as("bucket"))
    // ONE shuffle over the token explode: per-label totals and the label
    // list derive from the model-sized counts frame (pinned — it feeds
    // three consumers), and the doc total folds out of the per-label doc
    // counts instead of a separate corpus-scan job
    val cnt = CacheScope.pin(
      tokb.groupBy("label", "bucket").agg(count(lit(1)).as("n")))
    val tot = cnt.groupBy("label").agg(sum("n").as("nn"))
    val nd = CacheScope.pin(docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("docs")))
    // coalesce: sum over an empty doc frame is SQL-NULL (the output is
    // empty in that case — every leg joins through nd/tot — so 0 never
    // reaches the logprior division; it only keeps the scalar read from
    // throwing on a degenerate input, the fixpointWeighted discipline)
    val total = nd.agg(coalesce(sum("docs"), lit(0L))).head().getLong(0)
    val buckets = docs.sparkSession.range(numBuckets).toDF("bucket")
    tot.select("label").crossJoin(buckets)
      .join(cnt, Seq("label", "bucket"), "left")
      .join(tot, "label").join(nd, "label")
      .select(col("label"), col("bucket").cast("long").as("bucket"),
        log((coalesce(col("n"), lit(0L)) + 1).cast("double") /
          (col("nn") + numBuckets).cast("double")).as("logp"),
        log(col("docs").cast("double") / lit(total.toDouble))
          .as("logprior"))
  }

  /** Score documents against an [[nbTrain]] model: per document the
    * argmax-label log posterior (sum of bucket log-probs weighted by the
    * doc's bucket counts, plus the prior; ties to the lexicographically
    * smaller label). One partial-aggregated bucket-count shuffle, one
    * broadcast join against the model, one argmax aggregation — no
    * per-document state, no window. Documents with zero tokens have no
    * posterior and are absent from the output. Score quantizes
    * floor(x*1e6+0.5)/1e6 (the DSIR log-arithmetic parity precedent).
    * @return (id, pred, score). */
  def nbClassify(docs: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, model: org.apache.spark.sql.DataFrame,
                 numBuckets: Int = 64): org.apache.spark.sql.DataFrame =
    nbScores(docs, idCol, textCol, model, numBuckets)
      .groupBy("id")
      .agg(min(struct((col("score") * lit(-1.0)).as("ns"),
        col("label").as("l"))).as("m"))
      .select(col("id"), col("m.l").as("pred"),
        (floor(col("m.ns") * lit(-1e6) + lit(0.5)) / lit(1e6)).as("score"))

  /** [[nbClassify]]'s predicted class with its SOFTMAX confidence —
    * the calibration-audit view: p(pred) = 1 / Σ_l exp(s_l − s_pred)
    * over [[nbScores]]' raw log posteriors, argmax and tie-break
    * identical to nbClassify (one code path, so the audit can never
    * drift from the classifier it audits).
    * @return (id, pred, conf) — conf raw double in (0, 1] */
  def nbConfidences(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    model: org.apache.spark.sql.DataFrame,
                    numBuckets: Int = 64): org.apache.spark.sql.DataFrame = {
    val sc = nbScores(docs, idCol, textCol, model, numBuckets)
    val m = sc.groupBy("id")
      .agg(min(struct((col("score") * lit(-1.0)).as("ns"),
        col("label").as("l"))).as("m"))
      .select(col("id"), col("m.l").as("pred"),
        (col("m.ns") * lit(-1.0)).as("smax"))
    sc.join(m, "id")
      .groupBy(col("id"), col("pred"), col("smax"))
      .agg(sum(exp(col("score") - col("smax"))).as("z"))
      .select(col("id"), col("pred"), (lit(1.0) / col("z")).as("conf"))
  }

  /** The pre-argmax frame [[nbClassify]] reduces — every (id, label)
    * RAW log posterior — exposed for evals that need the full class
    * distribution (softmax confidence, calibration audits). */
  def nbScores(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, model: org.apache.spark.sql.DataFrame,
               numBuckets: Int = 64): org.apache.spark.sql.DataFrame = {
    val db = docs.select(col(idCol).as("id"),
        explode(toks(col(textCol))).as("tok"))
      .select(col("id"),
        pmod(Dedup.md5Hash32(col("tok"), lit(0)), lit(numBuckets.toLong))
          .as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("c"))
    db.join(broadcast(model), "bucket")
      .groupBy("id", "label")
      .agg((sum(col("c") * col("logp")) + max(col("logprior")))
        .as("score"))
  }

  // ---------------------------------------------------------------
  // HTML text extraction (jusText-shaped boilerplate removal)
  // ---------------------------------------------------------------

  /** Block-level tags that delimit candidate text blocks. Non-capturing
    * group on purpose: the pattern feeds `split` in Spark (Java regex)
    * and `regexp_split_to_array` in an oracle engine (RE2), and both
    * must see the identical token stream. */
  val HtmlBlockPattern: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|title|head|body|html|header" +
      "|footer|nav|blockquote|section|article|table|tr|td)[^>]*>"

  /** Drop the non-content regions a browser never renders as text:
    * `<script>`/`<style>` elements (lazy match, so an element closes at
    * its own end tag) and HTML comments. Two separate element patterns
    * instead of a `\1` backreference — RE2-based oracle engines have no
    * backreferences, and the extraction contract is "one regex spec,
    * two engines". */
  def htmlStripNonContent(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " "),
        "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** One block's rendered text: strip remaining inline tags, decode the
    * minimal entity set (`&nbsp;` before whitespace collapse so it
    * collapses like a space; `&amp;` LAST so `&amp;lt;` decodes to the
    * literal string `&lt;`, not `<`), collapse whitespace, trim.
    * The whitespace class is spelled out (`[ \t\n\r\f\x0B]`) instead of
    * `\s` because Java's `\s` includes vertical tab while RE2's does
    * not — `\s` would silently fork the two engines' extractions on any
    * corpus carrying U+000B. */
  def htmlBlockText(b: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(regexp_replace(b, "<[^>]*>", " "),
              "&nbsp;", " "),
            "&lt;", "<"),
          "&gt;", ">"),
        "&amp;", "&"),
      "[ \\t\\n\\r\\f\\x0B]+", " "))

  /** The block's anchor-text, through the same canonicalization — its
    * length over the block text's length is the link density. */
  private def htmlLinkText(b: Column): Column =
    htmlBlockText(array_join(
      regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)), " "))

  /** jusText-shaped main-text extraction from raw HTML, entirely in
    * codegen'd built-ins (regexp_replace / split / filter / transform /
    * array_join) — a narrow map over the corpus, no shuffle, no UDF.
    *
    * Heuristic (deliberately small and integer-exact so any engine can
    * replay it): split on block-level tags after removing
    * script/style/comments, canonicalize each block to rendered text,
    * keep blocks with at least `minLen` characters whose anchor text is
    * under half the block text (`2*linkLen < textLen` — integer
    * comparison, no float division), join survivors with newlines.
    * Navigation bars, ad units, and short chrome (titles, footers) fall
    * to the two rules; article body survives. The full jusText adds
    * stopword-density classes and context smoothing; this is the
    * length x link-density core that does most of the work on real
    * corpora (Pomikalek 2011, chapter 4).
    *
    * At 100 TB this is the first stage of a web-corpus pipeline: one
    * narrow projection fused onto the scan — zero shuffles, zero UDFs
    * (the HOF lambdas keep it out of whole-stage codegen, but it stays
    * a per-row map) — so the downstream quality/dedup operators see
    * already-reduced text without an extra pass. */
  def htmlExtract(c: Column, minLen: Int = 25): Column = {
    val blocks = split(htmlStripNonContent(c), HtmlBlockPattern, -1)
    // canonicalize each block ONCE into (txt, ll) — the HOF lambdas get
    // no CSE, so filtering on raw blocks would re-run the 6-regex chain
    // up to 4x per block
    val scored = transform(blocks, b =>
      struct(htmlBlockText(b).as("txt"),
        length(htmlLinkText(b)).as("ll")))
    val kept = filter(scored, s =>
      length(s.getField("txt")) >= lit(minLen) &&
        s.getField("ll") * lit(2) < length(s.getField("txt")))
    array_join(transform(kept, _.getField("txt")), "\n")
  }
}
