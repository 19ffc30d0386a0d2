package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text normalization + similarity kernel.
  *
  * Column-expression forms are preferred (codegen'd); JVM kernels back the
  * few genuinely non-expressible pieces (NFKD deaccent, fuzzy ratios) as
  * UDFs. Re-expresses the reference's text stack:
  * deaccent/normalize `/root/reference/etl/utils.py:12-13,68-77`,
  * slug `/root/reference/etl/er.py:30-34`, tokenizer/stemmer
  * `/root/reference/etl/er.py:54-65`, stopwords `/root/reference/etl/er.py:15-27`,
  * rapidfuzz ratios `/root/reference/etl/utils.py:79-87` +
  * `/root/reference/etl/er.py:92-100`.
  */
object TextFunctions {

  // ---------------------------------------------------------------- kernels

  /** NFKD-decompose, then drop every non-ASCII char — combining marks and
    * non-decomposable letters (ß, ł) alike. This is the reference's
    * `.encode("ascii","ignore")` fold (`etl/utils.py:12-13,71`):
    * "straße" -> "strae", not "stra e". */
  private def asciiNfkd(s: String): String = {
    val n = Normalizer.normalize(s, Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(n.length)
    var i = 0
    while (i < n.length) {
      val c = n.charAt(i)
      if (c < 128) sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Reference `_deaccent_lower` (`etl/utils.py:12-13`): NFKD -> ascii
    * fold -> lower -> strip. */
  def deaccentLower(s: String): String = {
    if (s == null) return null
    asciiNfkd(s).toLowerCase.trim
  }

  /** Reference ER `_norm` (`etl/er.py:43-52`): lower, NFKD with combining
    * marks stripped (non-decomposable chars KEPT, so they become token
    * separators: "straße" -> "stra e"), non-alnum runs to single spaces,
    * trim. Distinct from [[normalizeName]] — the ER matcher deliberately
    * uses this lighter normalizer with no street-token rules. */
  def normText(s: String): String = {
    if (s == null) return ""
    val n = Normalizer.normalize(s, Normalizer.Form.NFKD)
      .replaceAll("\\p{M}+", "").toLowerCase
    n.replaceAll("[^a-z0-9]+", " ").trim
  }

  /** Unicode NFC normalization (UAX #15 canonical composition): the
    * ingest-time normal form that makes byte-level dedup/digest keys
    * agree across sources emitting composed vs decomposed forms ("é" vs
    * "e"+U+0301 hash apart but are canonically equal). Both JVM
    * `java.text.Normalizer` and DuckDB's `nfc_normalize` implement the
    * same UAX #15 algorithm, so parity is definitional. Kernel UDF —
    * Spark ships no NFC built-in (the UDF-where-builtin rule's genuine
    * exception, like the fuzzy kernels). */
  def nfc(s: String): String = {
    if (s == null) return null
    Normalizer.normalize(s, Normalizer.Form.NFC)
  }

  /** Reference `normalize_name` (`etl/utils.py:68-77`): ascii-fold+lower,
    * German street-token canonicalization, collapse punctuation runs to
    * single spaces, trim. The `str.` rule has NO leading word boundary in
    * the reference — suffix abbreviations canonicalize too
    * ("Hauptstr." -> "hauptstrasse"). */
  def normalizeName(s: String): String = {
    if (s == null) return null
    var t = asciiNfkd(s).toLowerCase
    t = t.replaceAll("str\\.|strasse\\b", "strasse")
    t = t.replaceAll("\\bpl\\.|platz\\b", "platz")
    t = t.replaceAll("[^a-z0-9 ]+", " ")
    t.replaceAll("\\s+", " ").trim
  }

  /** Reference `norm_name` canonical-ID mint (`etl/er.py:30-34`): trim,
    * lower, whitespace runs to '-', strip everything outside
    * [a-z0-9-:_.,] (NO deaccenting — accented chars are simply dropped),
    * truncate to 120. Used for `place_canonical_id` values. */
  def normName(s: String): String = {
    if (s == null) return ""
    var t = s.trim.toLowerCase
    t = t.replaceAll("\\s+", "-")
    t = t.replaceAll("[^a-z0-9\\-:_.,]+", "")
    t.substring(0, math.min(120, t.length))
  }

  /** JSONL-export slugify (`etl/reviews_jsonl.py:17-24`): NFKD ascii fold,
    * non-alnum runs to '-', squeeze, trim. */
  def slug(s: String): String = {
    if (s == null) return null
    val t = deaccentLower(s).replaceAll("[^a-z0-9]+", "-")
      .replaceAll("^-+|-+$", "")
    t.substring(0, math.min(120, t.length))
  }

  /** Reference `_tokens` (`etl/er.py:54-65`): `_norm` tokens >= 3 chars,
    * then the crude plural stem ies->y (len>4), es->"" (len>3),
    * s->"" (len>3). Length filter applies BEFORE stemming. */
  def stemTokens(s: String): Seq[String] = {
    if (s == null) return Seq.empty
    normText(s).split(" ").iterator.filter(_.length >= 3).map { t =>
      if (t.endsWith("ies") && t.length > 4) t.dropRight(3) + "y"
      else if (t.endsWith("es") && t.length > 3) t.dropRight(2)
      else if (t.endsWith("s") && t.length > 3) t.dropRight(1)
      else t
    }.toSeq
  }

  /** Reference `wv_title_candidates` (`etl/utils.py:15-37`): robust match
    * keys for a Wikivoyage page title — deaccented full title, pre-'/'
    * root, trailing-parenthetical stripped, trailing admin suffix stripped;
    * deduped in order, empties pruned. */
  def titleCandidates(title: String): Seq[String] = {
    val t0 = deaccentLower(if (title == null) "" else title)
    val raw = Seq(
      t0,
      if (t0.contains("/")) t0.substring(0, t0.indexOf("/")).trim else null,
      t0.replaceAll("\\s*\\([^)]*\\)\\s*$", "").trim,
      t0.replaceAll("\\b(district|province|region|prefecture|county)$", "").trim)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    raw.foreach(c => if (c != null && c.nonEmpty) out += c)
    out.toSeq
  }

  /** Reference `_hint_match_city_slug` per-city test (`etl/utils.py:40-50`):
    * does any title candidate of `hint` equal a deaccented city
    * name/slug/alias? */
  def hintMatchesCity(hint: String, name: String, slug: String,
                      aliases: Seq[String]): Boolean = {
    if (hint == null) return false
    val norm = (Seq(name, slug) ++ Option(aliases).getOrElse(Seq.empty))
      .filter(s => s != null && s.nonEmpty).map(deaccentLower).toSet
    titleCandidates(hint).exists(norm.contains)
  }

  // ------------------------------------------- content-token pair features

  /** Reference `_STOP` (`etl/er.py:23-27`). */
  val StopTokens: Set[String] = Set(
    "the", "and", "of", "in", "at", "to", "for", "on", "by", "with",
    "de", "del", "di", "da", "la", "le", "el", "al",
    "old", "new", "great", "little", "big", "upper", "lower",
    "west", "east", "north", "south",
    "visit", "explore", "discover", "browse", "see")

  /** Reference `_GENERIC` place-type tokens (`etl/er.py:19-22`). */
  val GenericTokens: Set[String] = Set(
    "tower", "gate", "church", "cathedral", "synagogue", "mosque", "market",
    "square", "museum", "bridge", "castle", "island", "statue", "monument",
    "hall", "garden", "park", "palace", "gallery", "gatehouse")

  /** Reference `_AREAL` area-class tokens (`etl/er.py:15-18`). */
  val ArealTokens: Set[String] = Set(
    "square", "park", "island", "bridge", "market", "plaza", "platz",
    "piazza", "boulevard", "embankment", "promenade")

  /** Stemmed tokens minus stopwords (reference `_content_tokens`,
    * `etl/er.py:67-68`). */
  def contentTokens(s: String): Set[String] = stemTokens(s).toSet -- StopTokens

  /** Jaccard over content tokens; 0 when either side is empty
    * (reference `_content_jaccard`, `etl/er.py:70-76`). */
  def contentJaccard(a: String, b: String): Double = {
    val ta = contentTokens(a)
    val tb = contentTokens(b)
    if (ta.isEmpty || tb.isEmpty) return 0.0
    val inter = ta.intersect(tb).size
    val union = ta.union(tb).size
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** Sorted-content-token string containment, min length 3
    * (reference `_has_substring`, `etl/er.py:78-82`). */
  def hasSubstring(a: String, b: String): Boolean = {
    val sa = contentTokens(a).toArray.sorted.mkString(" ")
    val sb = contentTokens(b).toArray.sorted.mkString(" ")
    val (x, y) = if (sa.length <= sb.length) (sa, sb) else (sb, sa)
    x.length >= 3 && y.contains(x)
  }

  /** Both names share at least one GENERIC type token
    * (reference `_type_overlap`, `etl/er.py:84-86`). */
  def typeOverlap(a: String, b: String): Boolean =
    GenericTokens.intersect(contentTokens(a)).intersect(contentTokens(b)).nonEmpty

  /** Name carries an areal-class token (reference `_is_areal`,
    * `etl/er.py:88-90`). */
  def isAreal(s: String): Boolean = contentTokens(s).intersect(ArealTokens).nonEmpty

  // ----------------------------------------------------- edit distance kernel

  /** Two-row dynamic-programming Levenshtein — the reference semantics and
    * the fallback for inputs the bit-parallel path can't take. */
  private def levenshteinDP(a: String, b: String): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 0
    while (i < a.length) {
      cur(0) = i + 1
      j = 0
      while (j < b.length) {
        val cost = if (a.charAt(i) == b.charAt(j)) 0 else 1
        cur(j + 1) = math.min(math.min(cur(j) + 1, prev(j + 1) + 1),
          prev(j) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  // reusable Peq table per thread: a fresh 2 KB array per call would be
  // pure GC churn on multi-million-pair joins; only the pattern's own
  // chars are dirtied and reset
  private val peqTL = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](256)
  }

  /** Exact Levenshtein distance, bit-parallel (Myers 1999 / Hyyrö): one
    * word-op pass per text char instead of an O(|a|*|b|) DP matrix —
    * ~10x less work for the ~40-char names the fuzzy join scores by the
    * million. Identical distances to the DP (property-tested), so
    * `1 - lev/maxlen` stays oracle-reproducible by any engine's
    * levenshtein. Falls back to the DP for patterns > 64 chars or
    * non-latin1 input. */
  def levenshteinFast(a: String, b: String): Int = {
    if (a == null || a.isEmpty) return if (b == null) 0 else b.length
    if (b == null || b.isEmpty) return a.length
    val (p, t) = if (a.length <= b.length) (a, b) else (b, a)
    val m = p.length
    if (m > 64) return levenshteinDP(a, b)
    var i = 0
    while (i < p.length) {
      if (p.charAt(i) >= 256) return levenshteinDP(a, b)
      i += 1
    }
    var j = 0
    while (j < t.length) {
      if (t.charAt(j) >= 256) return levenshteinDP(a, b)
      j += 1
    }
    val peq = peqTL.get()
    i = 0
    while (i < m) { peq(p.charAt(i)) |= 1L << i; i += 1 }
    var pv = -1L
    var mv = 0L
    var score = m
    val last = 1L << (m - 1)
    j = 0
    while (j < t.length) {
      val eq = peq(t.charAt(j))
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & last) != 0L) score += 1
      if ((mh & last) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      j += 1
    }
    // reset only the dirtied entries
    i = 0
    while (i < m) { peq(p.charAt(i)) = 0L; i += 1 }
    score
  }

  /** `1 - levenshtein/maxlen` with the exact arithmetic of the column form
    * (0-length pair -> NaN, matching Spark's 0.0/0.0). */
  def levRatio(a: String, b: String): Double = {
    val maxLen = math.max(a.length, b.length)
    1.0 - levenshteinFast(a, b).toDouble / maxLen
  }

  // ------------------------------------------------- fuzzy similarity kernel

  /** Longest common subsequence length (iterative DP, two rows). */
  private def lcsLen(a: String, b: String): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val (s, t) = if (a.length >= b.length) (a, b) else (b, a)
    val prev = new Array[Int](t.length + 1)
    val cur = new Array[Int](t.length + 1)
    var i = 0
    while (i < s.length) {
      var j = 0
      while (j < t.length) {
        cur(j + 1) =
          if (s.charAt(i) == t.charAt(j)) prev(j) + 1
          else math.max(prev(j + 1), cur(j))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, t.length + 1)
      i += 1
    }
    prev(t.length)
  }

  /** rapidfuzz `ratio` semantics: normalized InDel similarity in [0,1].
    * InDel distance = |a|+|b|-2*LCS; ratio = 1 - dist/(|a|+|b|) = 2*LCS/(|a|+|b|). */
  def ratio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val tot = a.length + b.length
    if (tot == 0) return 1.0
    2.0 * lcsLen(a, b) / tot
  }

  /** rapidfuzz `partial_ratio` semantics: best `ratio` of the shorter
    * string against every alignment window of the longer — INCLUDING the
    * prefix/suffix overlaps shorter than len(s) at the boundaries
    * (window l[max(0,i) : min(|l|, i+|s|)] for i in [1-|s|, |l|-1]), which
    * rapidfuzz's alignment also considers. Full-length windows alone under-
    * score edge-anchored matches ("bcd" vs "abc": window "bc" scores 0.8 vs
    * the best full window's 0.667) — and ER acceptance is threshold-
    * sensitive at 2 decimals. */
  def partialRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 1.0 else 0.0
    var best = 0.0
    var i = 1 - s.length
    while (i < l.length && best < 1.0) {
      val from = math.max(0, i)
      val until = math.min(l.length, i + s.length)
      val r = ratio(s, l.substring(from, until))
      if (r > best) best = r
      i += 1
    }
    best
  }

  private def sortedTokens(s: String): Array[String] =
    normalizeName(s).split(" ").filter(_.nonEmpty).sorted

  /** rapidfuzz `token_sort_ratio`: ratio over space-joined sorted tokens. */
  def tokenSortRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    ratio(sortedTokens(a).mkString(" "), sortedTokens(b).mkString(" "))
  }

  /** rapidfuzz `token_set_ratio`: max ratio over
    * (intersection, intersection+restA, intersection+restB) renderings. */
  def tokenSetRatio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val ta = sortedTokens(a)
    val tb = sortedTokens(b)
    val setA = ta.toSet
    val setB = tb.toSet
    val inter = (setA & setB).toArray.sorted
    val diffA = (setA -- setB).toArray.sorted
    val diffB = (setB -- setA).toArray.sorted
    val s0 = inter.mkString(" ")
    val s1 = (inter ++ diffA).mkString(" ")
    val s2 = (inter ++ diffB).mkString(" ")
    if (s0.nonEmpty && (diffA.isEmpty || diffB.isEmpty)) return 1.0
    math.max(ratio(s0, s1), math.max(ratio(s0, s2), ratio(s1, s2)))
  }

  /** Reference `name_similarity` (`etl/utils.py:79-87`): max of
    * token_set_ratio, QRatio (plain InDel ratio over normalized strings),
    * and token_sort_ratio over `normalize_name`d names. */
  def nameSimilarity(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val na = normalizeName(a)
    val nb = normalizeName(b)
    if (na.isEmpty || nb.isEmpty) return 0.0
    math.max(tokenSetRatio(na, nb), math.max(tokenSortRatio(na, nb), ratio(na, nb)))
  }

  /** Reference ER `_name_sim` (`etl/er.py:92-100`) — a DIFFERENT
    * composition than [[nameSimilarity]]: max of token_set_ratio,
    * token_sort_ratio, and partial_ratio over `_norm`ed (not
    * `normalize_name`d) strings. The ER acceptance rule is calibrated
    * against exactly this blend. */
  def erNameSimilarity(a: String, b: String): Double = {
    val na = normText(a)
    val nb = normText(b)
    if (na.isEmpty || nb.isEmpty) return 0.0
    math.max(tokenSetRatio(na, nb),
      math.max(tokenSortRatio(na, nb), partialRatio(na, nb)))
  }

  /** Reference `accept_pair_and_sim` (`etl/er.py:102-132`) — the full
    * language-agnostic ER acceptance decision. Returns (accepted, sim).
    *
    * Cross-source bands:  m<=65 & (s>=0.34 | substring | cj>=0.55);
    * m<=95 & (s>=0.46 | cj>=0.50 | (type & cj>=0.40));
    * m<=(130 if areal else 120) & type & (cj>=0.50 | s>=0.52).
    * Same-source bands (tighter, distinct nearby venues must not merge):
    * m<=25 & (s>=0.62 | substring | cj>=0.65);
    * m<=40 & s>=0.72 & cj>=0.50. */
  def acceptPairAndSim(aName: String, bName: String, meters: Double,
                       sameSource: Boolean): (Boolean, Double) = {
    val n1 = if (aName == null) "" else aName
    val n2 = if (bName == null) "" else bName
    val s = erNameSimilarity(n1, n2)
    val cj = contentJaccard(n1, n2)
    val typeHit = typeOverlap(n1, n2)
    val substr = hasSubstring(n1, n2)
    val areal = isAreal(n1) || isAreal(n2)
    val ok =
      if (!sameSource) {
        (meters <= 65 && (s >= 0.34 || substr || cj >= 0.55)) ||
        (meters <= 95 && (s >= 0.46 || cj >= 0.50 || (typeHit && cj >= 0.40))) ||
        (meters <= (if (areal) 130 else 120) && typeHit &&
          (cj >= 0.50 || s >= 0.52))
      } else {
        (meters <= 25 && (s >= 0.62 || substr || cj >= 0.65)) ||
        (meters <= 40 && s >= 0.72 && cj >= 0.50)
      }
    (ok, s)
  }

  // ------------------------------------------------------------------ UDFs

  val deaccentLowerUdf = udf(deaccentLower _)
  val nfcUdf = udf(nfc _)
  val normTextUdf = udf(normText _)
  val normalizeNameUdf = udf(normalizeName _)
  val normNameUdf = udf(normName _)
  val slugUdf = udf(slug _)
  val stemTokensUdf = udf(stemTokens _)
  val ratioUdf = udf(ratio _)
  val partialRatioUdf = udf(partialRatio _)
  val tokenSortRatioUdf = udf(tokenSortRatio _)
  val tokenSetRatioUdf = udf(tokenSetRatio _)
  val nameSimilarityUdf = udf(nameSimilarity _)
  val erNameSimilarityUdf = udf(erNameSimilarity _)
  val contentJaccardUdf = udf(contentJaccard _)
  val hasSubstringUdf = udf(hasSubstring _)
  val titleCandidatesUdf = udf(titleCandidates _)
  val hintMatchesCityUdf = udf(hintMatchesCity _)

  /** (accepted, sim) as a struct column — one tokenization pass per pair
    * for the full ER rule instead of five separate kernel calls. Lazy: the
    * tuple encoder is only resolvable once a live Spark context exists. */
  lazy val acceptPairAndSimUdf =
    udf((a: String, b: String, meters: Double, sameSource: Boolean) =>
      acceptPairAndSim(a, b, meters, sameSource))

  // ------------------------------------------------- column-expression forms

  /** A cheap name-similarity proxy for oracle-checkable fuzzy joins:
    * 1 - levenshtein/maxlen, computed by the bit-parallel kernel through a
    * codegen'd expression (same value as the built-in levenshtein —
    * property-tested — at a fraction of the per-pair cost; the UDF kernels
    * above carry the rapidfuzz-parity semantics). */
  def levRatioCol(a: Column, b: Column): Column =
    graft.plans.FuzzyExpressions.levRatio(a, b)

  /** SHA1 composite ID, byte-parity with the reference's `_sha1_id`
    * (`etl/reviews_jsonl.py:39-46`, `etl/airbnb/reviews_jsonl.py:10-16`):
    * every part is utf-8 encoded and followed by a 0x1f separator —
    * including the LAST part (the reference appends the separator inside
    * its loop, so the digest input is `p1<0x1f>p2<0x1f>…pn<0x1f>`, not
    * `p1<0x1f>…pn`). None/null parts hash as "". Pinned against an
    * independently generated hashlib fixture in `Sha1ParitySpec`. */
  def sha1Id(parts: Column*): Column =
    sha1(concat(parts.flatMap(p =>
      Seq(coalesce(p.cast("string"), lit("")), lit("\u001f"))): _*))

  /** The older pipe-suffixed variant (`etl/reviews.py:32-36`): each part is
    * `str(p) + "|"` — again with the trailing separator on the last part.
    * NOTE: this variant has NO None->"" guard in the reference; a Python
    * None becomes the literal string "None". Nulls here are passed through
    * (concat of a null is null), so callers replicating the reference's
    * `(r.get('review_text') or '')` call sites should pre-coalesce. */
  def sha1IdPipe(parts: Column*): Column =
    sha1(concat(parts.flatMap(p =>
      Seq(p.cast("string"), lit("|"))): _*))

  /** Full review-id mint of the reference's Yelp/Reddit JSONL export
    * (`etl/reviews_jsonl.py:211-215,263-267`): newline-normalized text
    * truncated to 512 CODEPOINTS, then `<source>:sha1(place_id, ts, text)`.
    * Spark's `substring` counts codepoints like Python slicing, so the
    * truncation is parity-exact even across non-BMP characters. */
  def reviewId(source: Column, placeId: Column, scrapedAt: Column,
               text: Column): Column =
    concat(source, lit(":"),
      sha1Id(placeId, scrapedAt, substring(newlineNormalizeCol(text), 1, 512)))

  /** Airbnb synthesized review id (`etl/airbnb/reviews_jsonl.py:128-132`):
    * sha1Id("airbnb", listing_id, date, reviewer_id, text[:256]) — no
    * source prefix outside the hash. */
  def airbnbReviewId(listingId: Column, date: Column, reviewerId: Column,
                     text: Column): Column =
    sha1Id(lit("airbnb"), listingId, date, reviewerId,
      substring(newlineNormalizeCol(text), 1, 256))

  /** CRLF/CR -> LF as a column expr (reference `_normalize_text`,
    * `etl/reviews_jsonl.py:48-52`). */
  def newlineNormalizeCol(c: Column): Column =
    regexp_replace(c, "\r\n|\r", "\n")
}
