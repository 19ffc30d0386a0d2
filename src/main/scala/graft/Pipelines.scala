package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.CheckpointOps

import graft.operators.{BpeTrainer, CacheScope, Dedup, LanguageModel, Sampling, TextAnalysis}

/** The library-facing corpus-pipeline composers behind the `pipe_*`
  * registry rows (generalizing the reference's end-to-end dataflow,
  * `/root/reference/etl/pipeline.py`).
  *
  * Every build gates its documents, pins the gated frame once (a lazy
  * local checkpoint holding only the columns used downstream), and drops
  * one id set from it ([[curate]]): the exact copies, the near
  * duplicates and, for the training corpus, the contaminated documents.
  * Finding them shuffles ids, MinHash signatures and hashed shingles,
  * never the text.
  *
  * Two surfaces per pipeline:
  *  - `build*` returns the composed frame after running ONE small job
  *    eagerly: the drop ids, materialised so the final anti join plans
  *    on their measured size. That job also lands the gated pin; every
  *    other stage runs at the caller's first action. The CALLER owns the
  *    lifetime of all these blocks — the registry rows rely on the
  *    engine's runners blanket-clearing between queries;
  *  - the apply-style entry (`cleanCorpus(docs)(_.write.parquet(out))`)
  *    runs the build under [[CacheScope.materialized]], so a caller
  *    embedding the pipeline in a long-lived session gets the cleanup
  *    contract BY DEFAULT: every operator-pinned block and
  *    localCheckpoint the build created is released once the caller's
  *    action finishes — zero persistent-RDD growth per call (spec'd).
  */
object Pipelines {

  /** Quality gate -> language filter -> exact dedup (keep min id per
    * digest) -> MinHash-LSH near-dup removal.
    * Output: (doc_id, pred_lang, q). */
  def buildCleanCorpus(docs: DataFrame,
                       minQuality: Double = 0.5,
                       lang: String = "en"): DataFrame =
    curate(cleanGate(docs, minQuality, lang))
      .select(col("doc_id"), lit(lang).as("pred_lang"), col("q"))

  /** (doc_id, text, q) of [[qualityGate]]'s documents. */
  private[graft] def cleanGate(docs: DataFrame, minQuality: Double,
                               lang: String): DataFrame =
    qualityGate(docs, minQuality, lang)
      .select(col("doc_id"), col("text"), col("q"))

  /** `docs` with their quality score `q`, kept where it is at least
    * `minQuality` and the text is in `lang`. The language is then the
    * same on every row, so no gate pins a column for it: the builds emit
    * `lang` as `pred_lang`. */
  private def qualityGate(docs: DataFrame, minQuality: Double,
                          lang: String): DataFrame =
    docs.withColumn("q", TextAnalysis.qualityScore(col("text")))
      .where(col("q") >= minQuality &&
        TextAnalysis.langId(col("text")) === lang)

  def cleanCorpus[T](docs: DataFrame, minQuality: Double = 0.5,
                     lang: String = "en")(materialize: DataFrame => T): T =
    CacheScope.materialized(docs.sparkSession)(
      buildCleanCorpus(docs, minQuality, lang))(materialize)

  /** The full training-data pipeline: quality + language + repetition
    * gates -> exact dedup -> LSH near-dup removal -> n-gram
    * decontamination against `probes` -> deterministic per-source mixing
    * -> PII-redacted digest. Output: (doc_id, source, pred_lang, q,
    * redacted_md5). */
  def buildTrainingCorpus(docs: DataFrame, probes: DataFrame,
                          mixWeights: Map[String, Double], seed: Int,
                          minQuality: Double = 0.5, lang: String = "en",
                          maxRepetition: Double = 0.2): DataFrame = {
    val clean = curate(trainingGate(docs, minQuality, lang, maxRepetition),
      contaminated(_, probes))
    Sampling.mixBySource(clean, "doc_id", "source", mixWeights, seed)
      .select(col("doc_id"), col("source"), lit(lang).as("pred_lang"),
        col("q"), md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
  }

  /** (doc_id, source, text, q): [[cleanGate]]'s documents whose
    * duplicated 3-gram fraction is at most `maxRepetition`. */
  private[graft] def trainingGate(docs: DataFrame, minQuality: Double,
                                  lang: String,
                                  maxRepetition: Double): DataFrame =
    qualityGate(docs, minQuality, lang)
      .where(TextAnalysis.dupNgramFrac(col("text"), 3) <= maxRepetition)
      .select(col("doc_id"), col("source"), col("text"), col("q"))

  /** Ids of the `kept` documents sharing >= 2 distinct 3-grams with a
    * probe document. */
  private[graft] def contaminated(kept: DataFrame,
                                  probes: DataFrame): DataFrame =
    Dedup.ngramContamination(kept, probes, "doc_id", "text", shingleN = 3,
      minHits = 2).select("doc_id")

  def trainingCorpus[T](docs: DataFrame, probes: DataFrame,
                        mixWeights: Map[String, Double], seed: Int)(
      materialize: DataFrame => T): T =
    CacheScope.materialized(docs.sparkSession)(
      buildTrainingCorpus(docs, probes, mixWeights, seed))(materialize)

  /** The web-corpus front end: jusText-shaped extraction over a raw
    * `html` column, then [[buildCleanCorpus]] over the extracted text.
    * Input: (doc_id, source, html). Output: (doc_id, source, pred_lang,
    * q). */
  def buildHtmlCorpus(pages: DataFrame, htmlCol: String = "html",
                      minQuality: Double = 0.5,
                      lang: String = "en"): DataFrame =
    curate(htmlGate(pages, htmlCol, minQuality, lang))
      .select(col("doc_id"), col("source"), lit(lang).as("pred_lang"),
        col("q"))

  /** (doc_id, source, text, q): the pages' extracted text, through
    * [[qualityGate]]. */
  private[graft] def htmlGate(pages: DataFrame, htmlCol: String,
                              minQuality: Double, lang: String): DataFrame =
    qualityGate(pages.select(col("doc_id"), col("source"),
        TextAnalysis.htmlExtract(col(htmlCol)).as("text")), minQuality, lang)
      .select(col("doc_id"), col("source"), col("text"), col("q"))

  def htmlCorpus[T](pages: DataFrame, htmlCol: String = "html")(
      materialize: DataFrame => T): T =
    CacheScope.materialized(pages.sparkSession)(
      buildHtmlCorpus(pages, htmlCol))(materialize)

  /** The C4-shaped curation recipe (Raffel et al. 2020 §2.2 + the Gopher
    * rule gate): corpus-wide LINE dedup first — boilerplate lines vanish
    * before any doc-level signal is computed, so the rule features score
    * the retained prose — then the Gopher rules on the REBUILT text,
    * then exact dedup + MinHash-LSH near-dup removal.
    *
    * The gate is the kernel's own keep conjunction with the two
    * corpus-calibration knobs exposed (word-count floor, required
    * distinct stopwords); at the defaults it is EXACTLY gopherRules'
    * keep field (spec'd against it, so the two cannot drift).
    * Output: (doc_id, n_lines, n_dropped, n_words, text_md5). */
  def buildC4Corpus(docs: DataFrame, minLineLen: Int = 10,
                    minWords: Int = 50, minStopHits: Int = 2): DataFrame =
    curate(c4Gate(docs, minLineLen, minWords, minStopHits))
      .select(col("doc_id"), col("n_lines"), col("n_dropped"),
        col("n_words"), md5(col("text")).as("text_md5"))

  /** Line dedup, then the Gopher rule gate on the rebuilt text — ONE copy
    * shared by [[buildC4Corpus]] and the pretraining recipes so the keep
    * conjunction cannot drift between them.
    * Output: (doc_id, text, n_lines, n_dropped, n_words). */
  private[graft] def c4Gate(docs: DataFrame, minLineLen: Int, minWords: Int,
                            minStopHits: Int): DataFrame =
    Dedup.lineDedup(docs, "doc_id", "text", minLen = minLineLen)
      .withColumn("g", TextAnalysis.gopherRules(col("text")))
      .where(col("g._1") >= minWords && col("g._1") <= 100000 &&
        col("g._2") >= 3.0 && col("g._2") <= 10.0 &&
        col("g._3") < 0.1 && col("g._4") >= 0.8 &&
        col("g._5") >= minStopHits &&
        col("g._6") < 0.9 && col("g._7") < 0.3)
      .select(col("doc_id"), col("text"), col("n_lines"), col("n_dropped"),
        col("g._1").as("n_words"))

  /** The full pretraining-corpus recipe — the engine's capstone
    * composition: C4-style line dedup, the Gopher rule gate on the
    * rebuilt text, exact + MinHash-LSH dedup (all [[buildC4Corpus]]'s
    * stages via the same shared internals), then the CCNet stage the
    * per-row operators provide: an interpolated-KN bigram LM trained on
    * the SURVIVING corpus's reference split scores every survivor, and
    * the high-perplexity tail tercile is dropped. Every stage is the
    * library operator; the oracle composes the same shared CTE chains
    * the per-stage rows replay.
    *
    * Output: (doc_id, n_words, logppl, bucket ∈ {head, middle}). */
  def buildPretrainCorpus(docs: DataFrame, minLineLen: Int = 10,
                          minWords: Int = 50,
                          minStopHits: Int = 2): DataFrame = {
    val survivors = curate(c4Gate(docs, minLineLen, minWords, minStopHits))
      .select(col("doc_id"), col("text"), col("n_words"))
      .localCheckpoint(eager = false) // feeds the LM train AND score legs
    val scored = LanguageModel.knLogPerplexity(survivors, "doc_id", "text",
      pmod(col("doc_id"), lit(4)) =!= 0)
    survivors
      .join(LanguageModel.perplexityBuckets(scored), Seq("doc_id"))
      .where(col("bucket") =!= "tail")
      .select(col("doc_id"), col("n_words"), col("logppl"), col("bucket"))
  }

  def pretrainCorpus[T](docs: DataFrame, minLineLen: Int = 10,
                        minWords: Int = 50, minStopHits: Int = 2)(
      materialize: DataFrame => T): T =
    CacheScope.materialized(docs.sparkSession)(
      buildPretrainCorpus(docs, minLineLen, minWords, minStopHits))(
      materialize)

  /** [[buildPretrainCorpus]] closed through the TRAINED tokenizer — the
    * capstone v2: after the perplexity gate, a BPE merge table is
    * LEARNED from the kept corpus itself ([[BpeTrainer.bpeTrain]], the
    * batched sequentially-exact rounds) and the packing/metering stage
    * runs on those learned subwords (the ds_pack_tokens shape —
    * contiguous greedy fill into `seqLen`-subword bins per
    * (bucket, source) shard), so the token budget the output reports is
    * the one the training run would actually meter with, not a proxy
    * word count or a foreign tokenizer's.
    *
    * @param sources (doc_id, source) shard keys for the packing window
    *                — per-(bucket, source) partitions, never a global
    *                single-task window
    * @return (doc_id, source, n_words, logppl, bucket, n_subwords,
    *         seq_id) */
  def buildPretrainCorpusTokenized(docs: DataFrame, sources: DataFrame,
      minLineLen: Int = 10, minWords: Int = 50, minStopHits: Int = 2,
      nMerges: Int = 6, seqLen: Int = 512): DataFrame = {
    val survivors = curate(c4Gate(docs, minLineLen, minWords, minStopHits))
      .select(col("doc_id"), col("text"), col("n_words"))
      .localCheckpoint(eager = false) // feeds the LM train AND score legs
    val scored = LanguageModel.knLogPerplexity(survivors, "doc_id", "text",
      pmod(col("doc_id"), lit(4)) =!= 0)
    // the final kept corpus feeds tokenizer TRAINING and the metering
    // scan — checkpoint so the whole upstream pipeline runs once
    val fin = survivors
      .join(LanguageModel.perplexityBuckets(scored), Seq("doc_id"))
      .where(col("bucket") =!= "tail")
      .select(col("doc_id"), col("text"), col("n_words"), col("logppl"),
        col("bucket"))
      .localCheckpoint(eager = false)
    val merges = BpeTrainer.bpeTrain(fin, "text", nMerges)
    val metered = BpeTrainer.subwordCounts(fin, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_subwords"))
    val w = Window.partitionBy("bucket", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fin.join(metered, Seq("doc_id"))
      .join(sources.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("cum", sum("n_subwords").over(w))
      .withColumn("seq_id", expr(s"(cum - n_subwords) div $seqLen"))
      .select(col("doc_id"), col("source"), col("n_words"), col("logppl"),
        col("bucket"), col("n_subwords"), col("seq_id"))
  }

  def c4Corpus[T](docs: DataFrame, minLineLen: Int = 10, minWords: Int = 50,
                  minStopHits: Int = 2)(materialize: DataFrame => T): T =
    CacheScope.materialized(docs.sparkSession)(
      buildC4Corpus(docs, minLineLen, minWords, minStopHits))(materialize)

  /** `gated` minus its exact copies, its near duplicates and the ids
    * `moreDrops` finds in it. `gated` is pinned once, as a lazy local
    * checkpoint that [[dropIds]] and the final anti join both read, so
    * the gate expressions run once per document. The drop ids form one
    * frame that [[CheckpointOps.materialize]] runs eagerly — a small
    * id-only job, which also lands the pin — so the anti join plans on
    * its MEASURED size: Spark's own `autoBroadcastJoinThreshold`
    * broadcasts a small drop set before any stage of the join runs and
    * the pinned text is never shuffled for it, while a drop set too big
    * to broadcast still plans a shuffled join (no hint: the set is
    * unbounded at scale). The pinned blocks live until released: the
    * apply-style entries' enclosing [[CacheScope.materialized]] does that
    * per call, the engine's own runners blanket-clear between queries;
    * any other caller of a bare build* owns the lifetime. */
  private def curate(gated: DataFrame,
                     moreDrops: (DataFrame => DataFrame)*): DataFrame = {
    val pinned = gated.localCheckpoint(eager = false)
    val drops = dropIds(pinned, moreDrops.map(_(pinned)): _*)
    pinned.join(CheckpointOps.materialize(drops).df, Seq("doc_id"),
      "left_anti")
  }

  /** The distinct ids to drop from `docs` (doc_id, text, ...): the exact
    * copies, the near duplicates and the `doc_id`s of `moreDrops`.
    *
    * [[Dedup.minHashDupIds]] finds the first two from one exchange of
    * (doc_id, MinHash signature): every id but the smallest per
    * signature — which holds each id but the smallest per text — and the
    * higher id of every verified MinHash-LSH pair among the smallest ids.
    * Only ids and signatures cross it, and a large cluster of copies is
    * not paired with itself.
    *
    * Finding the near duplicates and `moreDrops` over `docs` rather than
    * over `docs` minus its copies drops the same set: a pair (copy, x)
    * has the signatures of (original, x), and the original's id is the
    * smaller; a per-document predicate such as contamination flags an
    * original exactly when it flags its copies. */
  private[graft] def dropIds(docs: DataFrame, moreDrops: DataFrame*): DataFrame = {
    val dups = Dedup.minHashDupIds(docs, "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.5)
      .select(col("id").as("doc_id"))
    (dups +: moreDrops).reduce(_ union _).distinct()
  }
}
