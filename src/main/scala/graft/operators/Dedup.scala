package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale document deduplication operators.
  *
  * Every variant keeps its core as pure Catalyst expressions (md5-based
  * hashing, array ops) so plans stay in whole-stage codegen and — being
  * engine-agnostic arithmetic — are exactly reproducible by the DuckDB
  * oracle. Generalizes the reference's ER pairing machinery
  * (`/root/reference/etl/er.py:70-100,164-194`) to the text-dedup shapes a
  * 100 TB training-data pipeline needs.
  *
  * Scale notes: exact dedup is one shuffle on a 128-bit digest; MinHash-LSH
  * shuffles on (band, signature-slice) keys so candidate generation never
  * goes quadratic; pair verification only touches LSH survivors.
  */
object Dedup {

  /** Whitespace/alnum shingle tokens. */
  def tokens(c: Column): Column =
    filter(split(trim(regexp_replace(lower(c), "[^a-z0-9]+", " ")), " "),
      t => length(t) > 0)

  /** Word n-gram shingles of a text column (distinct, order-insensitive). */
  def shingles(c: Column, n: Int): Column = {
    val toks = tokens(c)
    val idx = sequence(lit(0), greatest(size(toks) - n, lit(0)))
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(idx, i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  // ------------------------------------------------------- JVM kernels
  // Tokenize/shingle/hash chains are hot and interpreted as expressions;
  // these kernels produce byte-identical results (same Java regex, same
  // md5-hex-prefix hashing) with JIT-compiled loops.

  private val tokenRe = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** Same tokens as `tokens(c)`: lowercase, non-alnum runs to spaces,
    * trim, split, drop empties. */
  def tokensKernel(text: String): Array[String] = {
    if (text == null) return Array.empty
    tokenRe.matcher(text.toLowerCase(java.util.Locale.ROOT)).replaceAll(" ").trim
      .split(" ").filter(_.nonEmpty)
  }

  /** Same value as md5Hash32: first 8 hex chars of md5(seed + ":" + s). */
  def md5Hash32Kernel(s: String, seed: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((seed.toString + ":" + s).getBytes("UTF-8"))
    // first 4 bytes == first 8 hex chars, as unsigned
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** Distinct word n-gram shingles hashed under seed 0 — identical to
    * transform(shingles(c, n), s => md5Hash32(s, 0)) over distinct
    * shingles. */
  def hashedShinglesKernel(text: String, n: Int): Seq[Long] = {
    val toks = tokensKernel(text)
    val shingles = new java.util.LinkedHashSet[String]()
    if (toks.length < n) shingles.add(toks.mkString(" "))
    else {
      var i = 0
      while (i <= toks.length - n) {
        val sb = new StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        shingles.add(sb.toString)
        i += 1
      }
    }
    val out = new Array[Long](shingles.size)
    val it = shingles.iterator()
    var j = 0
    while (it.hasNext) { out(j) = md5Hash32Kernel(it.next(), 0); j += 1 }
    out.toSeq
  }
  private val hashedShinglesUdf = udf(hashedShinglesKernel _)

  /** Token hashes under seed 0 (multiset, order preserved) — identical to
    * transform(tokens(c), t => md5Hash32(t, 0)). */
  def hashedTokensKernel(text: String): Seq[Long] =
    tokensKernel(text).map(t => md5Hash32Kernel(t, 0)).toSeq

  /** Exact duplicate removal: group identical normalized texts by md5 digest,
    * keep the smallest id. Returns (keep_id, dup_count, digest). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Deterministic 32-bit hash of a string under seed i, derived from md5 —
    * identical in any engine with md5 + hex parsing (oracle-reproducible). */
  def md5Hash32(c: Column, seed: Column): Column =
    conv(substring(md5(concat(seed.cast("string"), lit(":"), c)), 1, 8), 16, 10)
      .cast("long")

  /** MinHash signature from PRE-HASHED shingles: slot i applies a cheap
    * integer permutation to each base hash and takes the min. One md5 per
    * shingle total (not per slot) — the permutations are multiply-add mod a
    * 32-bit prime, exact in any engine's 64-bit integers. */
  def minHashSignature(baseHashes: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      // empty input -> slot 0, matching minHashSigKernel (array_min over an
      // empty array is null; the kernel returns 0) — unreachable via
      // shingles() today, but the two forms must stay value-identical
      i => coalesce(array_min(transform(baseHashes,
        h => (h * (i * 2 + 3) + i * lit(12582917L)) % 4294967291L)), lit(0L)))

  /** (id, h1) with h1 = distinct md5-hashed word n-gram shingles, keyed
    * by id behind an exchange. Only for a caller that reads the arrays
    * more than once ([[ngramJaccardPairs]]: the signature, then both
    * sides of the pair verify): exchange reuse makes those reads share
    * one shuffle of the arrays instead of re-shingling the text per read.
    * A single-consumer caller gets its per-document value from a kernel
    * in a plain projection instead ([[signedDocs]], [[ngramContamination]]),
    * which shuffles no array at all. */
  def hashedShingleDocs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        hashedShinglesUdf(col(textCol), lit(shingleN)).as("h1"))
      .repartition(col("id"))

  /** (id, sig): each document's MinHash signature from one
    * [[shingleSigKernel]] call in a plain projection, so the text is read
    * once per document and only the fixed-width signature leaves the scan
    * stage. */
  private def signedDocs(docs: DataFrame, idCol: String, textCol: String,
                         shingleN: Int, numHashes: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      shingleSigUdf(col(textCol), lit(shingleN), lit(numHashes)).as("sig"))

  /** LSH banding over an (id, sig) frame: one bucket key per band (md5 of
    * the band's signature slice). Returns (id, sig, band, bucket) —
    * candidate pairs are docs sharing any (band, bucket), always a
    * shuffle equi-join, never all-pairs. The band explode is a Generate
    * over the signature projection, which Catalyst never collapses into
    * it, so the signature is computed once per document, not once per
    * band row. */
  private def lshBanded(signed: DataFrame, bands: Int,
                        rowsPerBand: Int): DataFrame =
    signed.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => md5(concat_ws("_",
          concat(array(b.cast("string")),
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
              x => x.cast("string"))))))))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "band")

  /** Candidate pair rows (a_id, b_id, a_sig, b_sig), a_id < b_id, from LSH
    * banding of an (id, sig) frame: one row per shared (band, bucket), so
    * a pair repeats once per band it shares. Callers verify first and
    * dedup what they keep, so the dedup shuffles only surviving pairs. */
  private def lshCandidates(signed: DataFrame, bands: Int,
                            rowsPerBand: Int): DataFrame = {
    val banded = lshBanded(signed, bands, rowsPerBand)
    val a = banded.select(col("band"), col("bucket"),
      col("id").as("a_id"), col("sig").as("a_sig"))
    val b = banded.select(col("band"), col("bucket"),
      col("id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_sig"), col("b_sig"))
  }

  /** Public candidate generator: distinct LSH candidate id pairs
    * (a_id < b_id) with no verify stage — the scale-safe blocking
    * primitive for any downstream verifier (exact jaccard, edit
    * distance, embedding cosine). Recall contract: a pair whose
    * shingle-set jaccard is j surfaces with probability
    * 1-(1-j^rowsPerBand)^bands (S-curve threshold ~
    * (1/bands)^(1/rowsPerBand)); pairs well below that are dropped,
    * which is the documented trade for never materializing
    * all-pairs-in-block. */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2): DataFrame =
    lshCandidates(
      signedDocs(docs, idCol, textCol, shingleN, bands * rowsPerBand),
      bands, rowsPerBand)
      .select(col("a_id"), col("b_id")).distinct()

  /** Persistable LSH index of a corpus: (id, sig, band, bucket). Write it
    * once (e.g. parquet partitioned/bucketed by `bucket`) and append
    * batches probe it via [[incrementalMinHash]] — the indexed corpus is
    * never re-shingled, re-signed, or re-paired against itself. At 100 TB
    * this turns steady-state dedup from O(corpus) per ingest into
    * O(batch + matching buckets). */
  def minHashIndex(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, bands: Int = 8,
                   rowsPerBand: Int = 2): DataFrame =
    lshBanded(signedDocs(docs, idCol, textCol, shingleN, bands * rowsPerBand),
      bands, rowsPerBand)

  /** Persist a [[minHashIndex]] bucketed (and sorted) by its probe keys
    * (band, bucket): every [[incrementalMinHash]] probe then plans with
    * NO exchange on the index side — only the (small) append batch
    * shuffles, which is the whole point of keeping a standing index at
    * 100 TB. Parquet bucketing needs a catalog entry, hence table name +
    * explicit path. */
  def writeMinHashIndex(index: DataFrame, table: String, path: String,
                        numBuckets: Int = 8): Unit =
    index.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(table)

  /** Append-batch near-dup detection: candidate pairs between the new
    * batch and an existing [[minHashIndex]] (`kind = vs_index`, a = index
    * side) plus within the batch itself (`kind = within_batch`, a_id <
    * b_id), both verified on full-signature agreement like [[minHashLSH]].
    * Index and batch must share band/rowsPerBand geometry (same bucket
    * keys) — the verify stage then needs no text access at all.
    * Output: (a_id, b_id, kind, sig_sim). */
  def incrementalMinHash(index: DataFrame, newDocs: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 3, bands: Int = 8,
                         rowsPerBand: Int = 2,
                         simThreshold: Double = 0.5): DataFrame =
    incrementalMinHashBuckets(index,
      minHashIndex(newDocs, idCol, textCol, shingleN, bands, rowsPerBand),
      bands * rowsPerBand, simThreshold)

  /** [[incrementalMinHash]]'s probe over an ALREADY-banded batch — the
    * form the streaming skeleton uses so a micro-batch bands exactly
    * once (probe + index append share the frame). */
  def incrementalMinHashBuckets(index: DataFrame, newBanded: DataFrame,
                                numHashes: Int,
                                simThreshold: Double): DataFrame = {
    def side(df: DataFrame, p: String) = df.select(col("band"), col("bucket"),
      col("id").as(s"${p}_id"), col("sig").as(s"${p}_sig"))
    val vsIndex = side(index, "a").join(side(newBanded, "b"),
        Seq("band", "bucket"))
      .where(col("a_id") =!= col("b_id")) // re-ingested id is not its own dup
      .withColumn("kind", lit("vs_index"))
    val within = side(newBanded, "a").join(side(newBanded, "b"),
        Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .withColumn("kind", lit("within_batch"))
    vsIndex.unionByName(within)
      .dropDuplicates("a_id", "b_id", "kind")
      .withColumn("sig_sim",
        size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
          e => e)).cast("double") / numHashes)
      .where(col("sig_sim") >= simThreshold)
      .select(col("a_id"), col("b_id"), col("kind"), col("sig_sim"))
  }

  /** FLAG-mode incremental TEXT dedup — [[embedDedupCollapse]] for the
    * MinHash modality, closing the same scale hole: exact-duplicate
    * TEXTS share every band bucket, so a duplicate mega-group makes
    * pair emission quadratic by construction. Each batch collapses to
    * min-id reps by text digest (identical text ⇒ identical signature
    * ⇒ sig_sim exactly 1, so the collapse is always sound — no
    * float-ulp gate needed, unlike the cosine side), reps probe the
    * standing [[minHashIndex]] and each other, and the output is
    * per-id keep flags with the rep-multiplicity audit. Only reps'
    * band rows join the index.
    *
    * @return (flags(id, rep_id, n_rep, keep), repBanded) */
  def minHashDedupCollapse(index: DataFrame, newDocs: DataFrame,
                           idCol: String, textCol: String,
                           shingleN: Int = 3, bands: Int = 8,
                           rowsPerBand: Int = 2,
                           simThreshold: Double = 0.5)
      : (DataFrame, DataFrame) = {
    val rows = newDocs.select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("gk", md5(col("text")))
    val groups = rows.groupBy("gk")
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_rep"))
    // two consumers: the reps' banding and the final flag join-back
    val withRep = rows.join(groups, "gk")
      .select(col("id"), col("text"), col("rep_id"), col("n_rep"))
      .transform(CacheScope.pin)
    val repBanded = minHashIndex(
      withRep.where(col("id") === col("rep_id"))
        .select(col("id"), col("text")),
      "id", "text", shingleN, bands, rowsPerBand)
    val droppedReps = incrementalMinHashBuckets(index, repBanded,
        bands * rowsPerBand, simThreshold)
      .select(col("b_id").as("rep_id")).distinct()
    val flags = withRep
      .join(droppedReps.withColumn("hit", lit(1)), Seq("rep_id"), "left")
      .select(col("id"), col("rep_id"), col("n_rep"),
        when(col("id") =!= col("rep_id") || col("hit").isNotNull, 0)
          .otherwise(1).as("keep"))
    (flags, repBanded)
  }

  /** MinHash + LSH banding: near-duplicate candidate pairs with verified
    * signature similarity >= simThreshold.
    *
    * bands x rowsPerBand = numHashes. Each doc emits one bucket key per band
    * (md5 of the band's signature slice); docs sharing any bucket become a
    * candidate pair (deduped), then pairs are verified on full-signature
    * agreement rate — an unbiased jaccard estimate. The only exchanges
    * are the bucket self-join's (reused by both sides) and the dedup of
    * verified (id, id, sig_sim) rows; none carries text or shingles.
    *
    * Output: (a_id, b_id, sig_sim). */
  def minHashLSH(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                 simThreshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    verified(lshCandidates(
        signedDocs(docs, idCol, textCol, shingleN, numHashes), bands,
        rowsPerBand), numHashes, simThreshold)
      .select(col("a_id"), col("b_id"), col("sig_sim"))
      .distinct()
  }

  /** [[lshCandidates]] rows with their `sig_sim`, kept where it is at
    * least `simThreshold`. */
  private def verified(pairs: DataFrame, numHashes: Int,
                       simThreshold: Double): DataFrame =
    pairs.withColumn("sig_sim",
        size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
          e => e)).cast("double") / numHashes)
      .where(col("sig_sim") >= simThreshold)

  /** The ids [[minHashLSH]] drops — the `b_id` of every verified pair —
    * without pairing exact copies. Documents with one signature (the
    * copies of a text, or texts with one shingle set) pair with each
    * other at `sig_sim` 1, so every id but the smallest per signature is
    * dropped outright, and only those smallest ids are banded. A text
    * with m copies costs m rows of one (id, sig) exchange instead of
    * m(m-1)/2 candidate pairs per band.
    *
    * The set is the same: a pair (y, x) shares its buckets and `sig_sim`
    * with (y', x), y' the smallest id of y's signature, so x is dropped
    * over the smallest ids exactly when it is over all of `docs`.
    *
    * Output: (id), once per (verified pair, band) it loses — callers
    * take the distinct ids together with whatever else they drop. */
  def minHashDupIds(docs: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                    simThreshold: Double = 0.5): DataFrame = {
    // above 1, identical signatures would not verify
    require(simThreshold <= 1.0,
      s"simThreshold must be at most 1, got $simThreshold")
    val numHashes = bands * rowsPerBand
    // one exchange, read by both branches below
    val signed = signedDocs(docs, idCol, textCol, shingleN, numHashes)
      .withColumn("rep", min(col("id")).over(Window.partitionBy(col("sig"))))
    val copies = signed.where(col("id") =!= col("rep")).select(col("id"))
    val reps = signed.where(col("id") === col("rep"))
      .select(col("id"), col("sig"))
    copies.union(
      verified(lshCandidates(reps, bands, rowsPerBand), numHashes,
        simThreshold).select(col("b_id").as("id")))
  }

  /** Extract bit j (Column) of h as 0/1 via div/mod arithmetic — engine-
    * agnostic (no shift-by-column), exact for h < 2^52. */
  private def bitAt(h: Column, j: Column): Column =
    pmod(floor(h / pow(lit(2.0), j)).cast("long"), lit(2L))

  /** SimHash fingerprint from pre-computed token hashes: bit j of the
    * fingerprint = majority vote of token-hash bit j. One pass over the
    * hash array, accumulating all 32 votes via unrolled integer shifts
    * (compile-time bit indices keep everything codegen'd — no pow()). */
  def simHashFromHashes(hashes: Column): Column = {
    val zeros = array((0 until 32).map(_ => lit(0L)): _*)
    val powers = array((0 until 32).map(j => lit(1L << j)): _*)
    val votes = aggregate(hashes, zeros, (acc, h) => {
      val hBits = array((0 until 32).map(j =>
        shiftright(h, j).bitwiseAND(1L) * 2L - 1L): _*)
      zip_with(acc, hBits, (a, b) => a + b)
    })
    aggregate(zip_with(votes, powers,
      (v, p) => when(v > 0, p).otherwise(0L)), lit(0L), (acc, x) => acc + x)
  }

  /** 32-bit SimHash over token multiset, md5-derived (oracle-reproducible). */
  def simHash(textCol: Column): Column =
    simHashFromHashes(transform(tokens(textCol), t => md5Hash32(t, lit(0))))

  /** JIT-compiled kernel identical to simHashFromHashes — higher-order
    * functions are interpreted per element, so the hot pairs path uses this
    * JVM loop instead (same math, same result). */
  def simHashKernel(hashes: Seq[Long]): Long = {
    val votes = new Array[Long](32)
    val it = hashes.iterator
    while (it.hasNext) {
      val h = it.next()
      var j = 0
      while (j < 32) {
        votes(j) += ((h >> j) & 1L) * 2L - 1L
        j += 1
      }
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) fp += 1L << j
      j += 1
    }
    fp
  }

  /** SimHash fingerprint of a text in one kernel call —
    * `simHashKernel(hashedTokensKernel(text))`. */
  def textSimHashKernel(text: String): Long =
    simHashKernel(hashedTokensKernel(text))
  private val textSimHashUdf = udf(textSimHashKernel _)

  /** JIT-compiled MinHash slots, identical math to minHashSignature. */
  def minHashSigKernel(baseHashes: Seq[Long], numHashes: Int): Seq[Long] = {
    val sig = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      var m = Long.MaxValue
      val it = baseHashes.iterator
      while (it.hasNext) {
        val h = it.next()
        val v = (h * (i * 2 + 3) + i * 12582917L) % 4294967291L
        if (v < m) m = v
      }
      sig(i) = if (baseHashes.isEmpty) 0L else m
      i += 1
    }
    sig.toSeq
  }
  private val minHashSigUdf = udf(minHashSigKernel _)

  /** MinHash signature of a text's distinct hashed word n-gram shingles in
    * one kernel call — `minHashSigKernel(hashedShinglesKernel(text, n),
    * numHashes)`, so a plain projection over the text yields the
    * signature and no shingle array ever becomes a column. */
  def shingleSigKernel(text: String, n: Int, numHashes: Int): Seq[Long] =
    minHashSigKernel(hashedShinglesKernel(text, n), numHashes)
  private val shingleSigUdf =
    udf(shingleSigKernel _).withName("shingle_minhash_sig")

  /** Bit layout for pigeonhole SimHash blocking: `maxHamming + 1` chunks
    * covering the 32 fingerprint bits as evenly as possible. A pair with
    * hamming <= maxHamming flips bits in at most maxHamming chunks, so at
    * least one of the maxHamming+1 chunks matches exactly — guaranteed
    * recall, not probabilistic. Returns (startBit, width) per chunk. */
  def simHashChunkLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val numChunks = maxHamming + 1
    require(numChunks >= 1 && numChunks <= 32,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val base = 32 / numChunks
    val rem = 32 % numChunks
    val widths = (0 until numChunks).map(k => base + (if (k < rem) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** SimHash near-dup pairs: hamming distance <= maxHamming, blocked on
    * `maxHamming + 1` bit-chunks of the fingerprint (pigeonhole: some chunk
    * is equal for every pair within the hamming budget — exact recall).
    * Tradeoff: larger maxHamming means narrower chunks and so coarser
    * buckets; past ~7 (4-bit chunks) bucket sizes approach corpus/2^width
    * and the blocked join degrades toward quadratic — prefer small budgets
    * on a 32-bit fingerprint. Output (a_id, b_id, hamming). */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    // one kernel call per document in a plain projection; the chunk
    // explode reads the projected fingerprint, so nothing re-hashes
    fingerprintHammingPairs(docs.select(col(idCol).as("id"),
      textSimHashUdf(col(textCol)).as("fp")), maxHamming)

  /** Pigeonhole hamming pairs over ANY (id, fp) 32-bit fingerprint frame
    * — the [[simHashPairs]] blocking generalized so image phash / audio
    * H-K fingerprints reuse it: `maxHamming + 1` bit-chunk buckets give
    * exact recall within the budget, the verify is one codegen'd
    * xor+popcount per candidate. Fingerprints must use (only) the low 32
    * bits — a narrower fp makes the top chunk a single all-corpus bucket
    * and the join quadratic. Output (a_id, b_id, hamming). */
  def fingerprintHammingPairs(fps: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    val chunkExprs = simHashChunkLayout(maxHamming).map { case (start, width) =>
      shiftright(col("fp"), start).bitwiseAND((1L << width) - 1L)
    }
    val chunked = fps.select(col("id"), col("fp"),
      posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("id").as("a_id"), col("fp").as("a_fp"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("id").as("b_id"), col("fp").as("b_fp"))
    // hamming = popcount of xor — single codegen'd instruction pair per
    // candidate instead of 32 div/mod bit extractions
    val hamming = bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).cast("long")
    // verify before the pair dedup: a pair meeting in several chunks has
    // the same hamming in each, so the dedup's exchange carries only the
    // verified (id, id, hamming) rows, not every candidate
    a.join(b, Seq("chunk_idx", "chunk")).where(col("a_id") < col("b_id"))
      .withColumn("hamming", hamming)
      .where(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
      .distinct()
  }

  /** JIT jaccard over two DISTINCT long arrays: |A∩B| / (|A|+|B|-|A∩B|) —
    * identical to size(array_intersect)/size(array_union) on distinct
    * inputs, without per-pair boxed array-expression evaluation. */
  def jaccardKernel(a: Seq[Long], b: Seq[Long]): Double = {
    val (small, large) = if (a.length <= b.length) (a, b) else (b, a)
    val set = new java.util.HashSet[Long](small.length * 2)
    small.foreach(set.add)
    var inter = 0
    val it = large.iterator
    while (it.hasNext) if (set.contains(it.next())) inter += 1
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
  private val jaccardUdf = udf(jaccardKernel _)

  /** Exact n-gram Jaccard near-dup pairs: MinHash-LSH generates the
    * candidate pairs (banded bucket equi-join — recall tunable via
    * bands/rowsPerBand, never quadratic, no skewable natural-language
    * blocking key), then each candidate is verified with TRUE shingle-set
    * jaccard >= threshold. An earlier first-token blocking scheme was both
    * recall-unsafe ("The report…" vs "Report…" never paired) and skew-unsafe
    * (a stopword first token makes one block quadratic) — the exact hazard
    * SURVEY §7.4.5 warns about.
    *
    * Shingles are md5-hashed to longs once per document and shuffled once,
    * keyed by id ([[hashedShingleDocs]]): the arrays have three readers
    * (the signatures, then both verify sides), which reuse that one
    * exchange. The per-pair set math runs as a JIT-compiled kernel and the
    * jaccard value is identical (distinct shingles -> distinct hashes). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, threshold: Double = 0.8,
                        bands: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val sh = hashedShingleDocs(docs, idCol, textCol, shingleN)
    val signed = sh.select(col("id"),
      minHashSigUdf(col("h1"), lit(bands * rowsPerBand)).as("sig"))
    val cand = lshCandidates(signed, bands, rowsPerBand)
      .select(col("a_id"), col("b_id")).distinct()
    // join the (small) candidate set back to the shingle arrays by id —
    // carrying full arrays through the band explode would multiply them
    cand.join(sh.select(col("id").as("a_id"), col("h1").as("a_sh")), "a_id")
      .join(sh.select(col("id").as("b_id"), col("h1").as("b_sh")), "b_id")
      .withColumn("jaccard", jaccardUdf(col("a_sh"), col("b_sh")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT-recall token-set similarity self-join via prefix filtering
    * (the PPJoin family, Xiao et al. 2008 — public algorithm): under a
    * global rarest-first token order, any pair with distinct-token
    * Jaccard >= t shares at least one token inside EACH side's
    * (n - ceil(t*n) + 1)-token prefix — J >= t forces overlap
    * o >= t*|A∪B| >= t*n for both n, and if a side's prefix missed all
    * common tokens the remaining ceil(t*n) - 1 < o positions could not
    * hold them — so joining prefixes only is lossless. That is the
    * complement of [[ngramJaccardPairs]]: exact recall at the threshold
    * instead of LSH's probabilistic recall.
    *
    * Shape: distinct (id, token) postings -> global df counts (one
    * partial agg) -> per-doc rarest-first prefix (per-DOC window,
    * bounded by doc length) -> prefix equi-join + Jaccard length bound
    * (min n >= t * max n) -> exact intersection-count verify. Joining
    * on the RAREST tokens is what bounds candidate fan-out: a token's
    * join bucket is its df, prefixes preferentially hold low-df tokens,
    * and stopword-class tokens land outside every prefix at realistic
    * thresholds. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.95): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // The distinct postings feed FIVE physical consumers (sizes, df
    // counts, both prefix self-join sides via the window, and both
    // id-array verify sides); the prefix frame feeds two more. Without
    // materialization Spark re-executes the scan+explode+distinct once
    // per occurrence — measured 8-10x at sf0.1, 41.6 s -> ~13 s with
    // these persists. Same discipline as dupShingleFraction: persist
    // (MEMORY_AND_DISK, LRU-evicted — the same bytes a shuffle spill
    // would write) rather than pinning any user-forced exchange, so the
    // planner's own partial aggs + AQE skew handling stay in charge of
    // the Zipf-skewed token key. The blocks stay pinned until the caller
    // materializes the (lazy) result — long-lived sessions should wrap
    // the call in [[CacheScope.materialized]] (Bench/Verify blanket-clear
    // instead).
    val toks = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .distinct()
      .transform(CacheScope.pin)
    val sz = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("tok"))
    // prefix length carries the same - 0.5 float slack as the candidate
    // bounds below: ceil(n*t) computed on a double that lands a sub-ulp
    // ABOVE an exact integer would shorten the prefix by one and break
    // exact recall; ceil(n*t - 0.5) can only lengthen it (extra
    // candidates, verified away), never shorten
    val prefix = toks.join(dfreq, "tok").join(sz, "id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <=
        col("n") - ceil(col("n") * threshold - lit(0.5)) + 1)
      .select(col("id"), col("tok"), col("n"), col("rn"))
      .transform(CacheScope.pin)
    // candidate pruning, both lossless:
    // - Jaccard length bound: J >= t needs min(n) >= t * max(n);
    // - PPJoin positional bound: all common tokens of a qualifying pair
    //   sit at or after its FIRST common token (position rn in each
    //   prefix), so overlap <= 1 + min(na - pa, nb - pb); J >= t needs
    //   overlap >= t/(1+t) * (na+nb). The first common token of a true
    //   pair passes, so filtering per joined row keeps exact recall
    //   (the + 0.5 slack keeps sub-ulp float error from ever pruning an
    //   integer-boundary true pair).
    val cand = prefix.select(col("id").as("a_id"), col("tok"),
        col("n").as("na"), col("rn").as("pa"))
      .join(prefix.select(col("id").as("b_id"), col("tok"),
        col("n").as("nb"), col("rn").as("pb")), "tok")
      .where(col("a_id") < col("b_id") &&
        least(col("na"), col("nb")).cast("double") >=
          lit(threshold) * greatest(col("na"), col("nb")).cast("double") &&
        (least(col("na") - col("pa"), col("nb") - col("pb")) + lit(1))
          .cast("double") + lit(0.5) >=
          lit(threshold / (1 + threshold)) *
            (col("na") + col("nb")).cast("double"))
      .select("a_id", "b_id").distinct()
    // verify on per-doc token-ID ARRAYS, one codegen'd intersect per
    // pair — a posting-level count join would shuffle |pair| x |doc|
    // rows, and long-array intersects run ~10x cheaper than string-array
    // ones at 2M+ candidates. Token ids come from Ranking.globalRank
    // over the distinct vocabulary (dense, EXACT, collision-free —
    // unlike hashing, which would diverge from the token-level oracle;
    // and no single-task window). The id-array frame is one row per doc
    // but O(corpus) rows total, so no broadcast hint — both verify joins
    // are keyed equi-joins on the doc id, and Spark/AQE picks broadcast
    // only when the side actually fits under the threshold; at 100 TB
    // corpus the scale-safe shuffled hash join is the default.
    val tids = graft.operators.Ranking.globalRank(
      dfreq.select("tok"), Seq(col("tok").asc), "tid")
    val arr = toks.join(tids, "tok")
      .groupBy("id").agg(sort_array(collect_list(col("tid"))).as("ts"))
      .transform(CacheScope.pin)
    cand
      .join(arr.select(col("id").as("a_id"), col("ts").as("a_ts")), "a_id")
      .join(arr.select(col("id").as("b_id"), col("ts").as("b_ts")), "b_id")
      .withColumn("o",
        size(array_intersect(col("a_ts"), col("b_ts"))).cast("long"))
      .withColumn("jaccard", col("o").cast("double") /
        (size(col("a_ts")) + size(col("b_ts")) - col("o")))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"),
        (round(col("jaccard"), 6) + 0.0).as("jaccard"))
  }

  /** Deterministic 60-bit hash of a string (first 15 md5 hex chars) —
    * oracle-reproducible like [[md5Hash32]], with a collision space wide
    * enough that shingle-array intersects stay exact in practice
    * (~300k distinct shingles at sf1 → P(any collision) ≈ 2·10⁻⁸). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Kernel twin of [[md5Hash60]]: first 15 md5 hex chars == first 8
    * digest bytes big-endian, dropped low nibble. */
  def md5Hash60Kernel(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** DISTINCT 60-bit hashes of a doc's word n-gram shingles — the JIT'd
    * kernel form of `transform(shingles(c, n), md5Hash60)` (the
    * hashedShinglesKernel/DSIR lesson: shingling as a layered HOF
    * expression re-evaluates the tokenizer per element — measured 8.9 s
    * vs sub-second for the kernel over the same sf0.1 scan). Distinct
    * applies to the HASHES, so a (vanishingly rare) within-doc collision
    * still yields a set. */
  def shingles60Kernel(text: String, n: Int): Seq[Long] = {
    if (text == null) return null // shingles(c, n) is null on null text
    val toks = tokensKernel(text)
    val hashes = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length < n) hashes.add(md5Hash60Kernel(toks.mkString(" ")))
    else {
      var i = 0
      while (i <= toks.length - n) {
        val sb = new StringBuilder(toks(i))
        var k = 1
        while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
        hashes.add(md5Hash60Kernel(sb.toString))
        i += 1
      }
    }
    val out = new Array[Long](hashes.size)
    val it = hashes.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
  private val shingles60Udf = udf(shingles60Kernel _)

  /** Asymmetric CONTAINMENT self-join over distinct word 3-gram
    * shingles (Broder 1997's containment, the forgotten half of
    * resemblance): pairs where C(a→b) = |Sh(A) ∩ Sh(B)| / |Sh(A)| ≥ t.
    * The operator resemblance-Jaccard cannot express: a short document
    * quoted verbatim inside a long one scores near-zero Jaccard (the
    * union is dominated by the container) but containment 1.0 — the
    * quote/boilerplate-inclusion detector an LLM corpus needs alongside
    * [[prefixJaccardPairs]]. Shingles, not tokens, deliberately:
    * contiguous n-grams make "contained" mean "appears as passages",
    * and the shingle space stays Zipf-sparse even on a tiny-vocabulary
    * corpus (this corpus has 31 distinct TOKENS — token postings make
    * every prefix bucket corpus-sized, measured 18-56 s at sf0.1, while
    * the 27k-shingle space runs the same plan in seconds).
    *
    * Exact recall by the one-sided PPJoin prefix argument: under the
    * global rarest-first shingle order, C ≥ t forces overlap o ≥ t·n_a,
    * so if all of A's (n − ceil(t·n) + 1)-shingle prefix missed B, the
    * remaining ceil(t·n) − 1 < o positions could not hold the common
    * shingles. Only the CONTAINED side is prefix-pruned — the container
    * side joins its full postings (no length upper bound exists for
    * it). Two lossless per-row prunes: the container must hold at least
    * ceil(t·n_a) shingles, and the positional bound o ≤ 1 + (n_a − p_a)
    * must leave room for t·n_a (the prefixJaccard +0.5 float-slack
    * discipline). Verification intersects per-doc sorted 60-bit
    * shingle-hash arrays ([[md5Hash60]] — one codegen'd long-array
    * intersect per candidate, both engines hashing identically).
    *
    * @param contained ids (in `idCol`) forming the contained side
    *                  (the batch-screening shape); None = every doc
    * @return (a_id contained, b_id container, containment) — both
    *         directions emitted when containment is mutual */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.9,
                       contained: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // postings carry DISTINCT 60-bit shingle hashes straight from the
    // JIT'd kernel — strings never leave the scan stage; the frame
    // feeds five consumers (sizes, df, prefix, the container join side,
    // both verify arrays) — the prefixJaccard materialization
    // discipline
    val sh = docs
      .select(col(idCol).as("id"),
        explode(shingles60Udf(col(textCol), lit(3))).as("h"))
      .transform(CacheScope.pin)
    val sz = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val aSh = contained.fold(sh)(ids => sh.join(
      ids.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi"))
    val w = Window.partitionBy("id").orderBy(col("df"), col("h"))
    // same - 0.5 prefix slack as prefixJaccardPairs: never let float
    // error SHORTEN the prefix (recall break); lengthening only adds
    // candidates the exact verify discards
    val prefix = aSh.join(dfreq, "h").join(sz, "id")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <=
        col("n") - ceil(col("n") * threshold - lit(0.5)) + 1)
      .select(col("id"), col("h"), col("n"), col("rn"))
    val full = sh.join(sz, "id")
      .select(col("id").as("b_id"), col("h"), col("n").as("nb"))
    val cand = prefix.select(col("id").as("a_id"), col("h"),
        col("n").as("na"), col("rn").as("pa"))
      .join(full, "h")
      .where(col("a_id") =!= col("b_id") &&
        col("nb").cast("double") + lit(0.5) >=
          lit(threshold) * col("na").cast("double") &&
        (col("na") - col("pa") + lit(1)).cast("double") + lit(0.5) >=
          lit(threshold) * col("na").cast("double"))
      .select("a_id", "b_id").distinct()
    val arr = sh
      .groupBy("id").agg(sort_array(collect_list(col("h"))).as("ts"))
      .transform(CacheScope.pin)
    cand
      .join(arr.select(col("id").as("a_id"), col("ts").as("a_ts")), "a_id")
      .join(arr.select(col("id").as("b_id"), col("ts").as("b_ts")), "b_id")
      .withColumn("o",
        size(array_intersect(col("a_ts"), col("b_ts"))).cast("long"))
      .withColumn("containment",
        col("o").cast("double") / size(col("a_ts")))
      .where(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"),
        (round(col("containment"), 6) + 0.0).as("containment"))
  }

  /** Blocking-quality report: the two numbers that decide whether a
    * candidate-generation scheme is usable at scale — pairs
    * completeness (what fraction of TRUE pairs the blocking catches)
    * and reduction ratio (what fraction of the all-pairs space it
    * avoids; you want both near 1). One row out; every count is a
    * 1-row aggregate frame crossJoin-broadcast together — the all-pairs
    * denominator comes from the doc count, never a cartesian.
    *
    * @param cand  candidate pairs (a_id, b_id), a < b
    * @param truth ground-truth pairs (a_id, b_id), a < b */
  def blockingQuality(cand: DataFrame, truth: DataFrame,
                      docs: DataFrame, idCol: String): DataFrame = {
    // both pair sets feed two counting consumers each (their own count
    // + the semi-join hit count) — persist so candidate generation and
    // the truth pipeline run once, not twice (pair frames are id pairs,
    // KBs per million pairs)
    val c = cand.select(col("a_id"), col("b_id")).distinct()
      .transform(CacheScope.pin)
    val t = truth.select(col("a_id"), col("b_id")).distinct()
      .transform(CacheScope.pin)
    val nc = c.agg(count(lit(1)).as("n_candidates"))
    val nt = t.agg(count(lit(1)).as("n_truth"))
    val nh = t.join(c, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    val nd = docs.select(col(idCol)).distinct()
      .agg(count(lit(1)).cast("double").as("n_docs"))
    nc.crossJoin(broadcast(nt)).crossJoin(broadcast(nh))
      .crossJoin(broadcast(nd))
      .select(col("n_candidates"), col("n_truth"), col("n_hit"),
        (round(col("n_hit").cast("double") / col("n_truth"), 6) + 0.0)
          .as("pairs_completeness"),
        (round(lit(1.0) - col("n_candidates").cast("double") /
          (col("n_docs") * (col("n_docs") - lit(1.0)) / lit(2.0)), 6) + 0.0)
          .as("reduction_ratio"))
  }

  /** Exact Jaccard-truth pairs RESTRICTED to pairs touching a seeded
    * document sample — the linear-in-corpus truth leg that makes
    * [[blockingQuality]] runnable on the corpus blocking exists to
    * protect. The full-corpus truth ([[prefixJaccardPairs]]) has
    * quadratic OUTPUT potential and pays an all-pairs-shaped prefix
    * self-join; here the sample's postings are broadcast against one
    * corpus token scan, so cost is O(|corpus tokens| x sample hit
    * rate) — the `knnRecallSampled` discipline applied to dedup
    * blocking. Completeness estimated on sampled truth is an unbiased
    * estimator of true completeness when the sample is independent of
    * the blocking scheme (a fixed id-hash sample is); the estimate is
    * fully deterministic, so an oracle replays it exactly.
    *
    * @param sampleIds one column of document ids (small, broadcast)
    * @return (a_id, b_id) a < b, exact Jaccard >= threshold, at least
    *         one endpoint in the sample */
  def sampledJaccardTruthPairs(docs: DataFrame, sampleIds: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double = 0.95): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    // distinct postings feed the overlap join and both size lookups —
    // pin once (same multi-consumer discipline as prefixJaccardPairs)
    val toks = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .distinct()
      .transform(CacheScope.pin)
    val sz = toks.groupBy("id").agg(count(lit(1)).as("n"))
    // the sample's postings: fixed-size -> broadcast, so the overlap
    // count is ONE map-side hash-join pass over the corpus postings
    val st = toks
      .join(sampleIds.select(col(idCol).as("id")).distinct(), "id")
      .select(col("id").as("s_id"), col("tok"))
    val ov = broadcast(st)
      .join(toks.select(col("id").as("c_id"), col("tok")), "tok")
      .where(col("s_id") =!= col("c_id"))
      .groupBy(col("s_id"), col("c_id")).agg(count(lit(1)).as("o"))
    // exact Jaccard on integer counts (identical arithmetic to the
    // oracle's); least/greatest-normalized + distinct because a pair
    // with BOTH endpoints sampled is seen from each side
    ov.join(sz.select(col("id").as("s_id"), col("n").as("na")), "s_id")
      .join(sz.select(col("id").as("c_id"), col("n").as("nb")), "c_id")
      .where(col("o").cast("double") /
        (col("na") + col("nb") - col("o")) >= threshold)
      .select(least(col("s_id"), col("c_id")).as("a_id"),
        greatest(col("s_id"), col("c_id")).as("b_id"))
      .distinct()
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, with coarse
    * magnitude bucketing as the blocking key (norm-ball blocking); see
    * Similarity.scala for the top-k search variants. */
  def embeddingCosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95,
                           blockKeyExpr: Column): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      blockKeyExpr.as("blk"))
    val a = e.select(col("blk"), col("id").as("a_id"), col("v").as("a_v"))
    val b = e.select(col("blk"), col("id").as("b_id"), col("v").as("b_v"))
    a.join(b, "blk").where(col("a_id") < col("b_id"))
      .withColumn("cosine", Similarity.cosineCol(col("a_v"), col("b_v")))
      .where(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** Benchmark decontamination: flag corpus docs sharing >= `minHits`
    * distinct word n-grams with any probe (benchmark/test-set) document —
    * the step a training pipeline runs so eval data doesn't leak into the
    * corpus. One equi-join on the hashed n-gram, probe side tiny in
    * practice; per-doc shingles are pre-deduped so the per-(doc, probe)
    * count IS the distinct overlap. Hot boilerplate n-grams are the skew
    * risk — raise `shingleN` (real pipelines use 8-13-grams) so shared
    * grams mean real contamination, not common phrases. Each side
    * explodes the shingle kernel's output straight from the text scan, so
    * the join's exchanges carry (id, hash) rows only. */
  def ngramContamination(docs: DataFrame, probes: DataFrame, idCol: String,
                         textCol: String, shingleN: Int = 3,
                         minHits: Int = 2): DataFrame = {
    def grams(df: DataFrame, id: String) = df.select(col(idCol).as(id),
      explode(hashedShinglesUdf(col(textCol), lit(shingleN))).as("g"))
    grams(docs, "doc_id").join(grams(probes, "probe_id"), "g")
      .groupBy("doc_id", "probe_id").agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") >= minHits)
      .select("doc_id", "probe_id", "n_hits")
  }

  /** Per-document duplicated-text fraction: the share of a doc's
    * DISTINCT word n-gram shingles that appear in >= `minDocs` docs
    * corpus-wide — the cleanliness signal behind "drop mostly-
    * boilerplate documents" filters (C4/RefinedWeb-style), and the
    * document-level complement of the pairwise dedup operators.
    *
    * Shape: per-doc distinct shingles explode -> corpus shingle
    * document-frequency (partial agg; per-doc distinctness makes the
    * count a doc count) -> df join-back on the shingle (the documented
    * vocab-skew key, same as TF-IDF) -> per-doc counts. No pairs, no
    * cartesian — linear in total shingles at any corpus size.
    *
    * dup_frac quantizes with floor(f*1e6 + 0.5)/1e6: ratios of shingle
    * counts are dyadic whenever the denominator is a power of two, so
    * decimal-round midpoints are REACHABLE (the ts_interp pitfall). */
  def dupShingleFraction(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (1 would flag everything)")
    // JIT kernel + cache: shingles hash to LONGS map-side
    // (hashedShinglesKernel — the string-shingle explode shuffles ~10x
    // the bytes and the interpreted transform chain costs 1.5x on top).
    // The shingle frame feeds TWO consumers (the df agg and the
    // join-back); persisting it keeps the kernel single-execution
    // WITHOUT pinning an exchange on `g` — shingle document-frequency
    // is Zipfian (this operator exists to find high-df boilerplate), so
    // a user-forced repartition(g) would put a 1e8-doc shingle's rows
    // in ONE partition that AQE refuses to skew-split (user-specified
    // repartition origin). With planner-inserted exchanges instead, the
    // groupBy's partial agg bounds the hot key map-side and AQE's
    // skew-join split handles the join-back's probe side (the df build
    // side is one row per key) — the same vocab-skew rule as ta_tfidf.
    // The cache is MEMORY_AND_DISK and LRU-evicted; at cluster scale it
    // is the same bytes the dropped repartition wrote to shuffle disk.
    // Hash collisions merge shingles — the same deterministic contract
    // as ngramContamination, mirrored by the oracle.
    val sh = docs.select(col(idCol).as("doc_id"),
      explode(hashedShinglesUdf(col(textCol), lit(n))).as("g"))
      .transform(CacheScope.pin)
    val df = sh.groupBy("g").agg(count(lit(1)).as("df"))
    sh.join(df, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") >= minDocs, lit(1))).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        (floor(col("n_dup").cast("double") / col("n_shingles").cast("double")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("dup_frac"))
  }

  /** POSITIONAL shingle hashes: one hash per n-gram start position, in
    * position order (NOT distinct — [[hashedShinglesKernel]]'s set form
    * serves df counting; this one serves span extraction). Short docs
    * (< n tokens) yield their whole text as position 0. */
  def positionalShinglesKernel(text: String, n: Int): Seq[Long] = {
    val toks = tokensKernel(text)
    if (toks.length < n)
      return Seq(md5Hash32Kernel(toks.mkString(" "), 0))
    val out = new Array[Long](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new StringBuilder(toks(i))
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)); k += 1 }
      out(i) = md5Hash32Kernel(sb.toString, 0)
      i += 1
    }
    out.toSeq
  }
  private val positionalShinglesUdf = udf(positionalShinglesKernel _)

  /** Duplicated-SPAN extraction — the actionable complement of
    * [[dupShingleFraction]]'s score: the maximal token ranges of each
    * document whose every n-gram appears in >= `minDocs` docs
    * corpus-wide (C4/RefinedWeb-style "remove the duplicated passage,
    * keep the document" cleaning). Positions whose shingle is
    * corpus-duplicated merge into islands (consecutive start positions
    * -> one span); output (doc_id, start_tok, end_tok, n_shingles)
    * with end_tok = last covered token index inclusive.
    *
    * Shape: positional explode (linear in tokens) -> per-shingle doc
    * frequency (per-doc-distinct partial agg on the hashed-long key —
    * the dupShingleFraction vocab-skew rules apply: planner exchanges
    * only, AQE skew-splits the join-back) -> per-doc island windows
    * (partitioned by doc, bounded by doc length). No pairs, no
    * cartesian at any corpus size. */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (1 would flag everything)")
    val sh = docs.select(col(idCol).as("doc_id"),
        posexplode(positionalShinglesUdf(col(textCol), lit(n))))
      .withColumnRenamed("pos", "p").withColumnRenamed("col", "g")
      .transform(CacheScope.pin)
    val dfreq = sh.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
    val dup = sh.join(dfreq.where(col("df") >= minDocs), "g")
    val w = Window.partitionBy("doc_id").orderBy("p")
    dup.withColumn("island", col("p") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min("p").as("start_tok"),
        (max("p") + lit(n - 1)).as("end_tok"),
        count(lit(1)).as("n_shingles"))
      .select("doc_id", "start_tok", "end_tok", "n_shingles")
  }

  /** Unigrams + bigrams in ONE tokenizer pass — the DSIR feature set.
    * Expression-level alternatives (transform/sequence/element_at over
    * the token array) interpret the lambda per element AND re-evaluate
    * the tokenization per access under projection collapse — measured
    * 15x slower than this kernel at sf0.1. */
  def unigramBigramKernel(text: String): Seq[String] = {
    val toks = tokensKernel(text)
    if (toks.isEmpty) return Nil
    val out = new Array[String](toks.length * 2 - 1)
    var i = 0
    while (i < toks.length) { out(i) = toks(i); i += 1 }
    i = 0
    while (i < toks.length - 1) {
      out(toks.length + i) = toks(i) + " " + toks(i + 1)
      i += 1
    }
    out.toSeq
  }
  val unigramBigramUdf = udf(unigramBigramKernel _)

  /** Tokens of [[tokensKernel]] WITH character offsets over the
    * lowercased text: (token, start_char, end_char_exclusive). Token set
    * and order are identical to tokensKernel (maximal [a-z0-9] runs);
    * offsets index the LOWERCASED string — identical to the original for
    * ASCII, and the only self-consistent frame when a locale lowercasing
    * changes length. */
  def tokenOffsetsKernel(text: String): IndexedSeq[(String, Int, Int)] = {
    if (text == null) return Vector.empty
    val lc = text.toLowerCase(java.util.Locale.ROOT)
    // IndexedSeq, NOT a List: positionalShingleSpansKernel indexes this
    // positionally — list traversal would make long docs O(tokens^2)
    val out = Vector.newBuilder[(String, Int, Int)]
    var i = 0
    while (i < lc.length) {
      val c = lc.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < lc.length && {
          val d = lc.charAt(j)
          (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        out += ((lc.substring(i, j), i, j))
        i = j
      } else i += 1
    }
    out.result()
  }

  /** [[positionalShinglesKernel]] extended with character spans: element i
    * is (hash of tokens i..i+n-1, start_char of token i, end_char of token
    * i+n-1, exclusive). Short docs (< n tokens) hash their whole token
    * sequence spanning first-to-last token chars; token-free docs yield
    * nothing. */
  def positionalShingleSpansKernel(text: String, n: Int): Seq[(Long, Int, Int)] = {
    val toks = tokenOffsetsKernel(text)
    if (toks.isEmpty) return Nil
    if (toks.length < n)
      return Seq((md5Hash32Kernel(toks.map(_._1).mkString(" "), 0),
        toks.head._2, toks.last._3))
    val out = new Array[(Long, Int, Int)](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new StringBuilder(toks(i)._1)
      var k = 1
      while (k < n) { sb.append(' ').append(toks(i + k)._1); k += 1 }
      out(i) = (md5Hash32Kernel(sb.toString, 0), toks(i)._2, toks(i + n - 1)._3)
      i += 1
    }
    out.toSeq
  }
  private val positionalShingleSpansUdf = udf(positionalShingleSpansKernel _)

  /** Exact duplicated substrings with the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") MINIMUM-LENGTH
    * contract: maximal character ranges whose every token n-gram repeats
    * in >= `minDocs` docs corpus-wide, kept only when the range spans at
    * least `minChars` characters (the paper's 50-char substring floor).
    *
    * Equivalence note: the paper finds length->=50 exact repeats by
    * suffix array. A character range every one of whose n-token shingles
    * is corpus-duplicated is the shingle-granular approximation of the
    * same object — any exact repeat of >= n tokens is covered by such a
    * run, and the island merge recovers its maximal extent; granularity
    * is token-level rather than byte-level (a repeat cannot begin
    * mid-token here). Linear in corpus tokens — positional explode, one
    * doc-frequency partial agg, per-doc island windows; no suffix array,
    * no pairs, nothing quadratic.
    *
    * @return (doc_id, start_char, end_char  [exclusive, in the lowercased
    *         text], len_chars, n_shingles), len_chars >= minChars */
  def dupSpansExact(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, minDocs: Int = 2,
                    minChars: Int = 50): DataFrame = {
    require(minDocs >= 2, "minDocs >= 2 (1 would flag everything)")
    require(minChars >= 1, "minChars must be positive")
    val sh = docs.select(col(idCol).as("doc_id"),
        posexplode(positionalShingleSpansUdf(col(textCol), lit(n))))
      .select(col("doc_id"), col("pos").as("p"), col("col._1").as("g"),
        col("col._2").as("sc"), col("col._3").as("ec"))
      .transform(CacheScope.pin)
    val dfreq = sh.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
    val dup = sh.join(dfreq.where(col("df") >= minDocs), "g")
    val w = Window.partitionBy("doc_id").orderBy("p")
    dup.withColumn("island", col("p") - row_number().over(w))
      .groupBy("doc_id", "island")
      .agg(min("sc").as("start_char"), max("ec").as("end_char"),
        count(lit(1)).as("n_shingles"))
      .withColumn("len_chars", col("end_char") - col("start_char"))
      .where(col("len_chars") >= minChars)
      .select("doc_id", "start_char", "end_char", "len_chars", "n_shingles")
  }

  /** SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then drop near-duplicate pairs WITHIN each cluster only —
    * the clustering bounds the quadratic pair work to cluster-sized
    * blocks (corpus/k on average), which is the whole trick: semantic
    * near-dups land in the same cluster, so cross-cluster pairs never
    * need scoring.
    *
    * Composition of existing scale paths: [[Similarity.kmeans]] (Lloyd,
    * deterministic seeding, model-sized driver state) assigns clusters;
    * the within-cluster pair scan is a cluster-keyed equi-join (a_id <
    * b_id) + exact cosine; a doc is dropped when it has cosine >=
    * `threshold` with ANY lower-id doc of its cluster (deterministic
    * min-id keep — the set-property formulation, independent of
    * partitioning). Memory contract: one cluster's pair scan is
    * quadratic in that cluster — size k to the expected cluster mass
    * (the paper's operating point).
    *
    * MEGA-CLUSTER GUARD (`maxBlock`): dedup's own workload fights the
    * average-case bound — near-duplicate-heavy corpora (the reason you
    * run SemDedup) concentrate mass into few clusters, and ONE
    * mega-cluster turns the cluster-keyed shuffle into all-pairs on one
    * key. Clusters whose size exceeds `maxBlock` therefore switch from
    * the exact all-pairs-in-cluster scan to SRP sub-blocking WITHIN the
    * cluster (the [[embeddingLshPairs]] machinery, candidates =
    * same (cluster, table, bucket), exact-cosine verify unchanged):
    * per-bucket work is quadratic in the BUCKET, never the cluster.
    * Contract change above the bound, stated not silent: recall within
    * an oversized cluster drops from exact to SRP recall (a pair at
    * angle theta shares >= 1 of `tables` tables' buckets with prob
    * 1-(1-(1-theta/pi)^numPlanes)^tables; byte-identical vectors hash
    * identically, so TRUE duplicates always pair). Per the no-silent-
    * caps rule, audit which clusters crossed the bound with
    * [[semanticDedupOversized]] (the `gr_link_capped` precedent).
    *
    * @return (idCol, cluster, keep:int) for EVERY input row. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 2,
                    threshold: Double = 0.9,
                    maxBlock: Int = 1 << 16,
                    numPlanes: Int = 8, tables: Int = 4,
                    collapseExactDups: Boolean = true): DataFrame = {
    require(maxBlock >= 1, s"maxBlock must be positive, got $maxBlock")
    val assign = Similarity.kmeans(emb, idCol, vecCol, k, iters)
      .select(col(idCol).as("id"), col("cluster"))
    // four consumers (both self-join sides of whichever branch each row
    // lands in + the final flag join-back)
    val v = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(assign, "id")
      .transform(CacheScope.pin)

    // EXACT-duplicate pre-collapse (skew-probed: the mega-cluster SRP
    // guard cannot split identical vectors — they share every bucket of
    // every table — so a duplicate-heavy corpus went quadratic ANYWAY
    // before this). Identical nonzero vectors have cosine 1, so within a
    // group only the min id can survive: collapse each (cluster, vector)
    // group to its min-id representative, pair-scan representatives
    // only, and drop the other members outright. Exactness: a row b is
    // dropped iff some a<b in its cluster has cos>=t; any such a's group
    // min is ALSO < b with the same cosine, so the rep-scan preserves
    // the verdict for every rep, and non-reps always have their own
    // group's min as a witness. Guard rails: zero-norm vectors get
    // cosine 0 against everything (including their own copies), so they
    // never collapse; thresholds above 0.99 disable the collapse so a
    // float-ulp cosine of "identical" arithmetic can never be assumed
    // past an exact-1.0 gate.
    // collapseExactDups=false is the caller's opt-out for corpora KNOWN
    // unique (e.g. post-exact-dedup pipelines): the window path is
    // skipped ENTIRELY (no (cluster, vector) shuffle at all), at the
    // price of the duplicate-skew guarantee — measured in SCALE.md
    val collapse = collapseExactDups && threshold <= 0.99
    // zero-norm vectors never collapse: the kernel guards their cosine
    // to 0.0, so the pairwise contract KEEPS identical copies. (NaN
    // vectors are NOT exempt: both engines' SQL comparison semantics
    // order NaN above every value, so cos(NaN, x) >= threshold is TRUE
    // and identical NaN copies legitimately drop — collapsing them
    // matches the pair scan's verdict, spec'd.) Empty vectors need an
    // explicit disjunct: array_max over an empty array is null.
    val uncollapsible = size(col("v")) === 0 ||
      array_max(transform(col("v"), x => abs(x))) <= lit(0f)
    val (reps, dupDropped) =
      if (!collapse)
        (v.select("cluster", "id", "v"), v.select("id").limit(0))
      else {
        val keyed = v.withColumn("gk",
          when(uncollapsible, concat(lit("u:"), col("id")))
            .otherwise(concat(lit("g:"), md5(col("v").cast("string")))))
        val wk = Window.partitionBy(col("cluster"), col("gk"))
          .orderBy(col("id"))
        val ranked = keyed.withColumn("rn", row_number().over(wk))
        (ranked.where(col("rn") === 1).select("cluster", "id", "v"),
          ranked.where(col("rn") > 1).select("id"))
      }

    // k-row model frame: broadcast the size flag back onto the reps
    // (the guard bounds the PAIR-SCAN block, which now holds reps only)
    val sizes = reps.groupBy("cluster").agg(count(lit(1)).as("cl_n"))
    val flagged = reps.join(broadcast(sizes), "cluster")
    val small = flagged.where(col("cl_n") <= maxBlock)
      .select("cluster", "id", "v")
    val big = flagged.where(col("cl_n") > maxBlock)
      .select("cluster", "id", "v")
    val exactDropped = small.select(col("cluster"), col("id").as("a_id"),
        col("v").as("a_v"))
      .join(small.select(col("cluster"), col("id").as("b_id"),
        col("v").as("b_v")), "cluster")
      .where(col("a_id") < col("b_id") &&
        Similarity.cosineCol(col("a_v"), col("b_v")) >= threshold)
      .select(col("b_id").as("id"))
    val bigBuckets = big.select(col("cluster"), col("id"), col("v"),
        posexplode(srpTablesUdf(col("v"), lit(numPlanes), lit(tables))))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val lshDropped = bigBuckets.select(col("cluster"), col("table"),
        col("bucket"), col("id").as("a_id"), col("v").as("a_v"))
      .join(bigBuckets.select(col("cluster"), col("table"), col("bucket"),
        col("id").as("b_id"), col("v").as("b_v")),
        Seq("cluster", "table", "bucket"))
      .where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id") // one cosine per candidate pair
      .where(Similarity.cosineCol(col("a_v"), col("b_v")) >= threshold)
      .select(col("b_id").as("id"))
    val dropped = exactDropped.unionByName(lshDropped)
      .unionByName(dupDropped).distinct()
    v.join(dropped.withColumn("drop", lit(1)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        when(col("drop").isNotNull, 0).otherwise(1).as("keep"))
  }

  /** [[semanticDedup]]'s no-silent-caps audit: per-cluster sizes with the
    * oversized flag — exactly which blocks the mega-cluster guard moved
    * from exact within-cluster recall to SRP recall, so a skewed corpus
    * is VISIBLE instead of silently degraded (the `gr_link_capped`
    * precedent). k-row output; same deterministic clustering as the
    * dedup itself, so the two frames correspond cluster-for-cluster.
    * @return (cluster, cl_size, n_reps, oversized:int) — cl_size raw
    *         rows, n_reps distinct-vector representatives (what the
    *         pair-scan actually holds), oversized judged on n_reps. */
  def semanticDedupOversized(emb: DataFrame, idCol: String, vecCol: String,
                             k: Int = 8, iters: Int = 2,
                             maxBlock: Int = 1 << 16,
                             threshold: Double = 0.9,
                             collapseExactDups: Boolean = true): DataFrame = {
    val assign = Similarity.kmeans(emb, idCol, vecCol, k, iters)
      .select(col(idCol), col("cluster"))
    // mirror semanticDedup's EFFECTIVE rep keying under the same
    // threshold/collapse configuration (the audit must judge what the
    // pair scan actually holds): with the collapse active, one rep per
    // distinct vector (zero-norm rows never collapse); with it
    // disabled, every row is its own rep and n_reps == cl_size
    val collapse = collapseExactDups && threshold <= 0.99
    val uncollapsible = size(col(vecCol)) === 0 ||
      array_max(transform(col(vecCol), x => abs(x))) <= lit(0f)
    val repKey =
      if (!collapse) concat(lit("u:"), col(idCol).cast("string"))
      else when(uncollapsible, concat(lit("u:"), col(idCol).cast("string")))
        .otherwise(concat(lit("g:"), md5(col(vecCol).cast("string"))))
    emb.select(col(idCol), col(vecCol)).join(assign, idCol)
      .groupBy("cluster").agg(
        count(lit(1)).as("cl_size"),
        countDistinct(repKey).as("n_reps"))
      .withColumn("oversized",
        when(col("n_reps") > maxBlock, 1).otherwise(0))
      .select("cluster", "cl_size", "n_reps", "oversized")
  }

  /** SRP bucketing shared with [[Similarity.srpBucketed]] — the same
    * registered UDF, aliased here so the mega-cluster guard buckets WITH
    * the cluster column kept in the row (srpBucketed projects it away). */
  private def srpTablesUdf = Similarity.srpBucketsUdf

  /** SRP-bucket index rows for an embedding frame — the EMBEDDING analog
    * of [[minHashIndex]]: (id, v, table, bucket), one row per hash table.
    * Persist/bucket it at rest and [[incrementalEmbedLshBuckets]] probes
    * it per batch without rebucketing history. */
  def embedLshIndex(emb: DataFrame, idCol: String, vecCol: String,
                    numPlanes: Int = 8, tables: Int = 4): DataFrame =
    Similarity.srpBucketed(emb, idCol, vecCol, numPlanes, tables)

  /** Persist an [[embedLshIndex]] bucketed (and sorted) by its probe keys
    * (table, bucket) — the [[writeMinHashIndex]] layout for the embedding
    * index: the standing side of every [[incrementalEmbedLshBuckets]]
    * probe plans with NO exchange. */
  def writeEmbedIndex(index: DataFrame, table: String, path: String,
                      numBuckets: Int = 8): Unit =
    index.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, "table", "bucket").sortBy("table", "bucket")
      .saveAsTable(table)

  /** Incremental embedding near-dup detection against a STANDING SRP
    * index — [[incrementalMinHash]] for vectors: the new batch, already
    * bucketed by [[embedLshIndex]] (so a micro-batch buckets exactly
    * once: probe + index append share the frame), probes the index
    * (kind `vs_index`) and itself (kind `within_batch`) via (table,
    * bucket) equi-joins, and exact cosine verifies every candidate.
    * Per-batch cost is O(batch + matching buckets), independent of
    * history size — the index IS the state.
    * Output (a_id, b_id, kind, cosine >= threshold). */
  def incrementalEmbedLshBuckets(index: DataFrame, newBuckets: DataFrame,
                                 threshold: Double): DataFrame = {
    def side(df: DataFrame, p: String) = df.select(col("table"),
      col("bucket"), col("id").as(s"${p}_id"), col("v").as(s"${p}_v"))
    val vsIndex = side(index, "a").join(side(newBuckets, "b"),
        Seq("table", "bucket"))
      .where(col("a_id") =!= col("b_id")) // re-ingested id is not its own dup
      .withColumn("kind", lit("vs_index"))
    val within = side(newBuckets, "a").join(side(newBuckets, "b"),
        Seq("table", "bucket"))
      .where(col("a_id") < col("b_id"))
      .withColumn("kind", lit("within_batch"))
    vsIndex.unionByName(within)
      .dropDuplicates("a_id", "b_id", "kind")
      .withColumn("cosine", Similarity.cosineCol(col("a_v"), col("b_v")))
      .where(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("kind"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** FLAG-mode incremental embedding dedup — the scale-safe DEFAULT
    * for streaming ingest: exact-duplicate rows COLLAPSE to a min-id
    * representative BEFORE the LSH probe (the [[semanticDedup]] rep
    * collapse applied per batch), so an exact-duplicate mega-group
    * costs one rep row plus n-1 collapse flags instead of the n²/2
    * pairs pair-emission genuinely owes on it (3.2B pairs at n = 80k —
    * SCALE.md, "Round 12: FLAG-mode streaming embedding dedup"). Pair
    * emission ([[incrementalEmbedLshBuckets]]) stays the explicit opt-in
    * for when the pairs ARE the product.
    *
    * Verdicts (min-id keep, the semanticDedup discipline): a non-rep
    * (identical vector, larger id) drops against its rep; a rep drops
    * if it cosine-matches the standing index or a SMALLER within-batch
    * rep at `threshold`. Zero-norm vectors never collapse or drop
    * (cosine guarded to 0); threshold > 0.99 disables the collapse (a
    * float-ulp cosine of identical arithmetic is never assumed past an
    * exact-1.0 gate) — every row is then its own rep and flags purely
    * through the probe.
    *
    * @return (flags(id, rep_id, n_rep, keep), repBuckets) — repBuckets
    *         are the REPS' index rows, what the caller appends to the
    *         standing index: identical non-reps match later batches
    *         through their rep (same vector, same buckets, cosine 1),
    *         so the index stays collapse-small without losing matches */
  def embedDedupCollapse(index: DataFrame, newEmb: DataFrame,
                         idCol: String, vecCol: String,
                         threshold: Double = 0.9, numPlanes: Int = 8,
                         tables: Int = 4): (DataFrame, DataFrame) = {
    val rows = newEmb.select(col(idCol).as("id"), col(vecCol).as("v"))
    val collapse = threshold <= 0.99
    // explicit empty-vector disjunct: array_max over an empty array is
    // null, and a null predicate would route empty (zero-norm) vectors
    // into the collapse branch against the documented contract
    val uncollapsible = size(col("v")) === 0 ||
      array_max(transform(col("v"), x => abs(x))) <= lit(0f)
    val keyed = rows.withColumn("gk",
      if (!collapse) concat(lit("u:"), col("id"))
      else when(uncollapsible, concat(lit("u:"), col("id")))
        .otherwise(concat(lit("g:"), md5(col("v").cast("string")))))
    val groups = keyed.groupBy("gk")
      .agg(min(col("id")).as("rep_id"), count(lit(1)).as("n_rep"))
    // two consumers: the reps' bucketing and the final flag join-back
    val withRep = keyed.join(groups, "gk")
      .select(col("id"), col("v"), col("rep_id"), col("n_rep"))
      .transform(CacheScope.pin)
    val repBuckets = embedLshIndex(
      withRep.where(col("id") === col("rep_id"))
        .select(col("id"), col("v")),
      "id", "v", numPlanes, tables)
    // vs_index and within_batch pairs both carry the DROPPED side as
    // b_id (index rows and smaller reps win)
    val droppedReps =
      incrementalEmbedLshBuckets(index, repBuckets, threshold)
        .select(col("b_id").as("rep_id")).distinct()
    val flags = withRep
      .join(droppedReps.withColumn("hit", lit(1)), Seq("rep_id"), "left")
      .select(col("id"), col("rep_id"), col("n_rep"),
        when(col("id") =!= col("rep_id") || col("hit").isNotNull, 0)
          .otherwise(1).as("keep"))
    (flags, repBuckets)
  }

  /** SEMANTIC decontamination: flag corpus documents whose embedding
    * sits within cosine `threshold` of ANY probe (benchmark/eval-set)
    * embedding — the paraphrase-robust complement of
    * [[ngramContamination]] (an eval item rewritten in different words
    * shares no n-grams but lands next to the original in embedding
    * space; modern pretraining decontamination runs BOTH). Candidates
    * come from the SRP bucket equi-join ([[incrementalEmbedLshBuckets]]'s
    * probe shape with the probe set as the standing side), exact cosine
    * verifies, and the output keeps per-doc evidence: nearest probe +
    * max cosine + hit count.
    *
    * @return (doc_id, probe_id, max_cosine, n_hits) — one row per
    *         contaminated corpus doc; probe_id = argmax-cosine probe
    *         (min id on ties). */
  def semanticContamination(docs: DataFrame, probes: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double = 0.9, numPlanes: Int = 8,
                            tables: Int = 4): DataFrame = {
    val p = embedLshIndex(probes, idCol, vecCol, numPlanes, tables)
      .select(col("table"), col("bucket"), col("id").as("probe_id"),
        col("v").as("p_v"))
    val d = embedLshIndex(docs, idCol, vecCol, numPlanes, tables)
      .select(col("table"), col("bucket"), col("id").as("doc_id"),
        col("v").as("d_v"))
    d.join(p, Seq("table", "bucket"))
      .dropDuplicates("doc_id", "probe_id")
      .withColumn("cosine", Similarity.cosineCol(col("d_v"), col("p_v")))
      .where(col("cosine") >= threshold)
      .groupBy("doc_id")
      .agg(min_by(col("probe_id"), struct(negate(col("cosine")),
          col("probe_id"))).as("probe_id"),
        (round(max(col("cosine")), 6) + 0.0).as("max_cosine"),
        count(lit(1)).as("n_hits"))
  }

  /** Embedding near-dup pairs with NO caller-supplied block key: SRP-LSH
    * buckets (sign pattern over random hyperplanes, `tables` independent
    * hash tables for recall) generate candidates as a bucket equi-join,
    * then exact cosine verifies. The scale path for
    * [[embeddingCosinePairs]], whose quadratic-in-block contract needed a
    * good caller key. Recall: a pair at angle theta shares one table's
    * bucket with probability (1 - theta/pi)^numPlanes; `tables` tables
    * union those chances — e.g. cosine 0.9 / 8 planes / 4 tables ->
    * ~0.86. */
  def embeddingLshPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.9, numPlanes: Int = 8,
                        tables: Int = 4): DataFrame = {
    val b = Similarity.srpBucketed(emb, idCol, vecCol, numPlanes, tables)
    val a2 = b.select(col("table"), col("bucket"),
      col("id").as("a_id"), col("v").as("a_v"))
    val b2 = b.select(col("table"), col("bucket"),
      col("id").as("b_id"), col("v").as("b_v"))
    a2.join(b2, Seq("table", "bucket")).where(col("a_id") < col("b_id"))
      .dropDuplicates("a_id", "b_id")
      .withColumn("cosine", Similarity.cosineCol(col("a_v"), col("b_v")))
      .where(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("cosine"), 6).as("cosine"))
  }

  /** C4-style corpus-wide LINE dedup (Raffel et al. 2020 §2.2): any line
    * of at least `minLen` characters that occurs more than once in the
    * corpus keeps only its FIRST occurrence (smallest (doc, line_no)),
    * and every document is rebuilt from its surviving lines in order.
    * Short lines are never dedup candidates (headers, bullets, blanks —
    * the standard carve-out, and the determinism guard for trivia).
    *
    * Shape at scale: explode to (doc, line_no, line) — a narrow map —
    * then ONE partial-aggregated groupBy(line) over the distinct-line
    * space (map-side combine collapses repeats before the shuffle), an
    * equi-join back on the line key, and one groupBy(doc) rebuild. No
    * windows, no driver-side state; the heavy shuffle moves distinct
    * lines, not corpus rows. At 100 TB the line key would carry a
    * 128-bit hash alongside for shuffle-width, with the string equality
    * kept by the equi-join exactly as here (Spark shuffles on the
    * hashed key either way).
    *
    * First-occurrence keys pack as doc*maxLines+line_no — exact while
    * every doc has under `maxLines` lines (require'd on the parameter;
    * a 2^20-line document is a pathology the caller should split).
    * Output: (idCol, text, n_lines, n_dropped) — every input doc
    * appears, even if all its lines were dropped (empty text). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                minLen: Int = 10, maxLines: Long = 1L << 20): DataFrame = {
    require(maxLines > 0, s"maxLines must be positive: $maxLines")
    // two consumers (first-occurrence agg + the join back) re-run the
    // upstream text pass; pinning was A/B'd SLOWER (4.85 vs 4.41 s at
    // sf0.1) — the payload IS the line strings, so caching writes more
    // bytes than the narrow recompute costs (SCALE.md persist rule)
    val lines = docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n", -1)))
      .toDF("id", "line_no", "line")
      .withColumn("k", col("id") * lit(maxLines) + col("line_no"))
    val firsts = lines.where(length(col("line")) >= minLen)
      .groupBy("line").agg(min(col("k")).as("first_k"))
    lines.join(firsts, Seq("line"), "left")
      .withColumn("keep", col("first_k").isNull || col("first_k") === col("k"))
      .groupBy("id")
      .agg(
        array_join(transform(array_sort(collect_list(
            when(col("keep"), struct(col("line_no"), col("line"))))),
          _.getField("line")), "\n").as("text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
      .select(col("id").as(idCol), col("text"), col("n_lines"),
        col("n_dropped"))
  }

  // -------------------------------------------- content-defined chunking

  /** Content-defined chunking over the TOKEN stream (gear-hash family,
    * FastCDC's insight applied at word granularity): a chunk boundary
    * falls AFTER token `t` whenever `md5Hash32(t) % avgLen == 0`, so cut
    * points are a function of local content only. Inserting or deleting
    * text re-chunks ONLY the neighborhood of the edit — every chunk
    * outside it keeps its exact text and hash, which is what makes
    * chunk-level exact dedup robust to shifts (a fixed-stride splitter
    * would re-align every downstream chunk and miss all of them).
    *
    * Expected chunk length is `avgLen` tokens (boundary probability
    * 1/avgLen per token, geometric run lengths); no min/max clamp — the
    * unclamped variant keeps the cut decision purely local, which both
    * engines reproduce with one hash per token.
    *
    * Scale shape: cut points, slices, and chunk hashes are all per-doc
    * array expressions on the tokenize scan — ZERO shuffles here; the
    * only exchange in a downstream dedup is the final groupBy on
    * chunk_hash. The token array is materialized to a column first and
    * indexed via element_at (the HOF-over-unmaterialized-array trap
    * measured at 7-15x in SCALE.md).
    *
    * @return (id, chunk_id, n_tokens, chunk_hash) — chunk_id is the
    *         0-based position of the chunk within its doc, chunk_hash =
    *         md5 of the space-joined chunk tokens; empty docs contribute
    *         no rows. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                avgLen: Int = 16): DataFrame = {
    require(avgLen > 0, s"avgLen must be positive, got $avgLen")
    val cut = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      // empty docs contribute no chunks; dropping them here also keeps
      // sequence(1, size) ascending (Spark descends when stop < start)
      .where(size(col("tk")) > 0)
      .select(col("id"), col("tk"),
        // indices i (1-based) whose token closes a chunk, then the cut
        // vector [0, cuts..., len] — consecutive slice bounds; a trailing
        // boundary or empty doc yields an empty final slice, filtered by
        // the n_tokens > 0 guard below
        concat(array(lit(0)),
          filter(sequence(lit(1), size(col("tk"))),
            i => pmod(md5Hash32(element_at(col("tk"), i), lit(7)),
              lit(avgLen.toLong)) === 0),
          array(size(col("tk")))).as("cuts"))
    cut
      .select(col("id"), col("tk"), col("cuts"),
        explode(sequence(lit(1), size(col("cuts")) - 1)).as("j"))
      .select(col("id"), (col("j") - 1).cast("long").as("chunk_id"),
        slice(col("tk"), element_at(col("cuts"), col("j")) + 1,
          element_at(col("cuts"), col("j") + 1) -
            element_at(col("cuts"), col("j"))).as("ch"))
      .where(size(col("ch")) > 0)
      .select(col("id").as(idCol), col("chunk_id"),
        size(col("ch")).cast("long").as("n_tokens"),
        md5(array_join(col("ch"), " ")).as("chunk_hash"))
  }

  /** Cross-document duplicated CDC chunks: chunk-level exact dedup over
    * [[cdcChunks]]. One partial-agg shuffle on chunk_hash; only chunks
    * seen in more than one distinct doc survive.
    * @return (chunk_hash, n_tokens, n_docs, n_occurrences) */
  def cdcDuplicateChunks(docs: DataFrame, idCol: String, textCol: String,
                         avgLen: Int = 16): DataFrame =
    cdcChunks(docs, idCol, textCol, avgLen)
      .groupBy("chunk_hash")
      .agg(max(col("n_tokens")).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .where(col("n_docs") > 1)
}
