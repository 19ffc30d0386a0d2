package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.operators.{BpeTrainer, Dedup, LanguageModel, Sampling,
  TextAnalysis}

/** Every corpus build drops exact copies by id, next to its near
  * duplicates and contaminated documents, from one pin of the gated
  * frame. [[PipelineEquivalenceSpec.Reference]] keeps the former form —
  * an `md5(text)` window keeps the smallest id per digest, and the near
  * duplicates and contamination are found over that kept frame only —
  * and every build must give its rows exactly. */
class PipelineEquivalenceSpec extends SparkTestBase {
  import PipelineEquivalenceSpec._
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private lazy val docs = corpusDocs.toDF("doc_id", "source", "text")
  private lazy val probes = probeDocs.toDF("doc_id", "text")
  private lazy val lined = linedDocs.toDF("doc_id", "source", "text")
  private lazy val pages = docs.select(col("doc_id"), col("source"),
    concat(lit("<html><body><p>"), col("text"),
      lit("</p></body></html>")).as("html"))
  private val mix = Map("s0" -> 1.0, "s1" -> 0.7, "s2" -> 1.0, "s3" -> 0.5)

  /** (name, new build, reference) over the fixtures. The "und" cases
    * admit the empty and short texts, which no English gate passes. */
  private val cases: Seq[(String, () => DataFrame, () => DataFrame)] =
    Seq(
      ("clean", () => Pipelines.buildCleanCorpus(docs),
        () => Reference.clean(docs, 0.5, "en")),
      ("clean_und", () => Pipelines.buildCleanCorpus(docs, 0.0, "und"),
        () => Reference.clean(docs, 0.0, "und")),
      ("training", () => Pipelines.buildTrainingCorpus(docs, probes, mix, 7),
        () => Reference.training(docs, probes, mix, 7, 0.5, "en", 0.2)),
      ("training_und", () => Pipelines.buildTrainingCorpus(docs, probes, mix,
          7, 0.0, "und", 1.0),
        () => Reference.training(docs, probes, mix, 7, 0.0, "und", 1.0)),
      ("html", () => Pipelines.buildHtmlCorpus(pages),
        () => Reference.html(pages, 0.5, "en")),
      ("html_und", () => Pipelines.buildHtmlCorpus(pages, "html", 0.0, "und"),
        () => Reference.html(pages, 0.0, "und")),
      ("c4", () => Pipelines.buildC4Corpus(lined, minStopHits = 1),
        () => Reference.c4(lined)),
      ("pretrain", () => Pipelines.buildPretrainCorpus(lined, minStopHits = 1),
        () => Reference.pretrain(lined)),
      ("pretrain_tokenized", () => Pipelines.buildPretrainCorpusTokenized(
          lined, lined.select("doc_id", "source"), minStopHits = 1),
        () => Reference.pretrainTokenized(lined,
          lined.select("doc_id", "source"))))

  test("the fixture reaches every drop path: exact copies of near " +
    "duplicates and of contaminated documents, copies that differ only " +
    "in source, empty and short texts; the drop set holds every copy") {
    val gated = Pipelines.trainingGate(docs, 0.5, "en", 0.2)
    val copyIds = gated
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .where(col("rn") > 1).select("doc_id").as[Long].collect().toSet
    val drops = Pipelines.dropIds(gated).as[Long].collect().toSet
    assert(copyIds.size >= 5 && copyIds.subsetOf(drops), (copyIds, drops))
    val copies = gated.groupBy(md5(col("text"))).agg(count(lit(1)).as("n"),
        countDistinct(col("source")).as("n_src"))
    assert(copies.where(col("n") > 1).count() >= 3)
    assert(copies.where(col("n") > 1 && col("n_src") > 1).count() >= 1)
    val kept = Reference.exactDedup(gated)
    val pairs = Dedup.minHashLSH(kept, "doc_id", "text")
    val near = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
    val dirty = Pipelines.contaminated(kept, probes).distinct()
    // gated rows sharing a digest with a listed id: more than the ids
    // themselves once one of them has an exact copy
    def withCopies(ids: DataFrame) = gated.join(ids, "doc_id")
      .select(md5(col("text")).as("d"))
      .join(gated.select(md5(col("text")).as("d")), "d").count()
    assert(near.count() >= 2 && withCopies(near) > near.count())
    assert(dirty.count() >= 1 && withCopies(dirty) > dirty.count())
    val und = Pipelines.cleanGate(docs, 0.0, "und")
      .select(size(Dedup.tokens(col("text"))).as("n")).as[Int].collect()
    assert(und.count(_ == 0) >= 2 && und.count(n => n > 0 && n < 3) >= 2,
      und.toSeq)
    val c4 = Pipelines.c4Gate(lined, 10, 50, 1)
      .groupBy(md5(col("text"))).count()
    assert(c4.where(col("count") > 1).count() >= 2)
  }

  for ((name, build, reference) <- cases)
    test(s"$name: the build gives the reference's rows") {
      val got = rows(build())
      val want = rows(reference())
      assert(got.nonEmpty)
      assert(got == want, s"\n got: $got\nwant: $want")
    }

  test("a large copy cluster and many tokenless texts: every document " +
    "passes the gate, and the build gives the reference's rows") {
    val big = copyClusterDocs.toDF("doc_id", "source", "text")
    assert(Pipelines.cleanGate(big, 0.0, "und").count() ==
      copyClusterDocs.size)
    val got = rows(Pipelines.buildCleanCorpus(big, 0.0, "und"))
    assert(got == rows(Reference.clean(big, 0.0, "und")))
    // the cluster's smallest id, the first tokenless text and the others
    assert(got.size == 2 + copyClusterDistinct, got.size)
  }
}

object PipelineEquivalenceSpec {

  private val stops = Seq("the", "and", "of", "to", "with", "that", "is",
    "in", "for", "on")

  /** A letters-only word for `n`, so no digit reads as noise. */
  private def word(n: Int): String = {
    val sb = new StringBuilder
    var x = n
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    "w" + sb.toString
  }

  /** Sixty tokens of English prose, every third a stopword; its content
    * words are its own, so no two base texts are near each other. */
  private def prose(i: Int): String =
    (0 until 60).map(j => if (j % 3 == 0) stops((i + j) % stops.size)
      else word(i * 100 + j)).mkString(" ")

  /** `t` with its 5th and 20th tokens replaced: a near duplicate. */
  private def nudge(t: String, tag: Int): String = {
    val ws = t.split(" ")
    ws(4) = word(90000 + tag); ws(19) = word(91000 + tag)
    ws.mkString(" ")
  }

  /** (doc_id, source, text). Ids interleave so a copy's original is not
    * always the lower id of a pair. */
  val corpusDocs: Seq[(Long, String, String)] = {
    val base = (0 until 16).map(i => prose(i))
    val near1 = nudge(base(1), 1)
    val near2 = nudge(base(2), 2)
    val dirty = base(3) // shares a probe's 3-grams
    Seq[(Long, String, String)](
      (10, "s0", base(0)), (11, "s1", base(1)), (12, "s2", base(2)),
      (13, "s3", base(3)), (14, "s0", base(4)), (15, "s1", base(5)),
      (16, "s2", base(6)), (17, "s3", base(7)), (18, "s0", base(8)),
      (19, "s1", base(9)), (20, "s2", base(10)), (21, "s3", base(11)),
      // near duplicates, and exact copies of them
      (5, "s0", near1), (30, "s1", near1), (31, "s2", near1),
      (32, "s3", near2), (6, "s3", near2), (9, "s0", near2),
      // exact copies of a contaminated document, one differing in source
      (7, "s2", dirty), (33, "s3", dirty),
      // copies that differ only in source
      (34, "s3", base(12)), (35, "s0", base(12)), (8, "s1", base(12)),
      (36, "s0", base(13)), (37, "s1", base(14)), (38, "s2", base(15)),
      // texts no English gate passes: empty, tokenless and short
      (40, "s0", ""), (41, "s1", ""), (42, "s2", "!!"),
      (43, "s3", "zz"), (44, "s0", "zz"), (45, "s1", "qq rr"),
      (46, "s2", "qq rr"))
  }

  /** A probe quoting six words of document 13 and six of document 20. */
  val probeDocs: Seq[(Long, String)] = {
    def quote(t: String, from: Int) = t.split(" ").slice(from, from + 6)
    Seq((1L, (quote(prose(3), 10) ++ quote(prose(10), 30)).mkString(" ")))
  }

  /** Docs for the line-deduped recipes: every line shorter than the
    * 10-character line-dedup floor, so copies keep their text through
    * line dedup and reach the exact-copy stage. */
  val linedDocs: Seq[(Long, String, String)] = {
    def lines(i: Int): String = {
      // four-letter content words keep the mean word length above 3
      def ch(n: Int) = ('a' + n % 26).toChar
      val ws = (0 until 60).map(j => if (j % 4 == 0) stops((i + j) % 4)
        else s"${ch(i * 7 + j * 3)}${ch(i + j * 5)}${ch(i * 3 + j)}${ch(j)}")
      ws.grouped(2).map(_.mkString(" ")).mkString("\n")
    }
    def nudged(i: Int): String = {
      val ls = lines(i).split("\n")
      ls(3) = "the zzq"; ls.mkString("\n")
    }
    val base = (0 until 20).map(lines)
    (0 until 20).map(i => (100L + i, s"s${i % 4}", base(i))) ++ Seq(
      (90L, "s1", base(1)), (121L, "s2", base(1)), (122L, "s0", base(5)),
      (91L, "s3", nudged(2)), (123L, "s1", nudged(2)))
  }

  /** Distinct texts in [[copyClusterDocs]] besides the cluster and the
    * tokenless ones. */
  val copyClusterDistinct = 200

  /** (doc_id, source, text), every text in no gated language: 1000
    * copies of one text, 100 distinct tokenless texts (one shingle set,
    * so one MinHash signature) and [[copyClusterDistinct]] distinct texts.
    * Ids are shuffled, so the cluster's smallest id is not its first. */
  val copyClusterDocs: Seq[(Long, String, String)] = {
    // "q" keeps every word off the stopword markers ("w" + "ith" is one)
    def text(i: Int) = (0 until 40).map(j => "q" + word(i * 100 + j))
      .mkString(" ")
    val texts = Seq.fill(1000)(text(0)) ++
      (1 to 100).map(i => "!" * i) ++
      (1 to copyClusterDistinct).map(text)
    val ids = new scala.util.Random(20261019L).shuffle(texts.indices.toList)
    texts.zip(ids).map { case (t, id) => (id.toLong, s"s${id % 4}", t) }
  }

  /** The builds as they were before exact copies joined the drop set. */
  object Reference {
    def exactDedup(gated: DataFrame): DataFrame = {
      val wd = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      gated.withColumn("rn", row_number().over(wd))
        .where(col("rn") === 1).drop("rn")
        .localCheckpoint(eager = false)
    }

    def dropNearDups(kept: DataFrame, moreDrops: DataFrame*): DataFrame = {
      val near = Dedup.minHashLSH(kept, "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.5)
        .select(col("b_id").as("doc_id"))
      val drops = (near +: moreDrops).reduce(_ union _).distinct()
      kept.join(CheckpointOps.materialize(drops).df, Seq("doc_id"),
        "left_anti")
    }

    def clean(docs: DataFrame, minQuality: Double, lang: String): DataFrame = {
      val gated = docs
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .where(col("q") >= minQuality && col("pred_lang") === lang)
      dropNearDups(exactDedup(gated))
        .select(col("doc_id"), col("pred_lang"), col("q"))
    }

    def training(docs: DataFrame, probes: DataFrame,
                 mixWeights: Map[String, Double], seed: Int,
                 minQuality: Double, lang: String,
                 maxRepetition: Double): DataFrame = {
      val gated = docs
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .withColumn("rep", TextAnalysis.dupNgramFrac(col("text"), 3))
        .where(col("q") >= minQuality && col("pred_lang") === lang &&
          col("rep") <= maxRepetition)
      val kept = exactDedup(gated)
      val clean = dropNearDups(kept, Dedup.ngramContamination(kept, probes,
          "doc_id", "text", shingleN = 3, minHits = 2).select("doc_id"))
      Sampling.mixBySource(clean, "doc_id", "source", mixWeights, seed)
        .select(col("doc_id"), col("source"), col("pred_lang"), col("q"),
          md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
    }

    def html(pages: DataFrame, minQuality: Double, lang: String): DataFrame = {
      val gated = pages.select(col("doc_id"), col("source"),
          TextAnalysis.htmlExtract(col("html")).as("text"))
        .withColumn("q", TextAnalysis.qualityScore(col("text")))
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .where(col("q") >= minQuality && col("pred_lang") === lang)
      dropNearDups(exactDedup(gated))
        .select(col("doc_id"), col("source"), col("pred_lang"), col("q"))
    }

    private def gopherGate(docs: DataFrame): DataFrame =
      Dedup.lineDedup(docs, "doc_id", "text", minLen = 10)
        .withColumn("g", TextAnalysis.gopherRules(col("text")))
        .where(col("g._1") >= 50 && col("g._1") <= 100000 &&
          col("g._2") >= 3.0 && col("g._2") <= 10.0 &&
          col("g._3") < 0.1 && col("g._4") >= 0.8 &&
          col("g._5") >= 1 && col("g._6") < 0.9 && col("g._7") < 0.3)
        .select(col("doc_id"), col("text"), col("n_lines"),
          col("n_dropped"), col("g._1").as("n_words"))

    def c4(docs: DataFrame): DataFrame =
      dropNearDups(exactDedup(gopherGate(docs)))
        .select(col("doc_id"), col("n_lines"), col("n_dropped"),
          col("n_words"), md5(col("text")).as("text_md5"))

    private def survivors(docs: DataFrame): DataFrame =
      dropNearDups(exactDedup(gopherGate(docs)))
        .select(col("doc_id"), col("text"), col("n_words"))
        .localCheckpoint(eager = false)

    private def bucketed(surv: DataFrame): DataFrame = {
      val scored = LanguageModel.knLogPerplexity(surv, "doc_id", "text",
        pmod(col("doc_id"), lit(4)) =!= 0)
      surv.join(LanguageModel.perplexityBuckets(scored), Seq("doc_id"))
        .where(col("bucket") =!= "tail")
    }

    def pretrain(docs: DataFrame): DataFrame =
      bucketed(survivors(docs))
        .select(col("doc_id"), col("n_words"), col("logppl"), col("bucket"))

    def pretrainTokenized(docs: DataFrame, sources: DataFrame): DataFrame = {
      val fin = bucketed(survivors(docs))
        .select(col("doc_id"), col("text"), col("n_words"), col("logppl"),
          col("bucket"))
        .localCheckpoint(eager = false)
      val merges = BpeTrainer.bpeTrain(fin, "text", 6)
      val metered = BpeTrainer.subwordCounts(fin, "doc_id", "text", merges)
        .select(col("doc_id"), col("n_subwords"))
      val w = Window.partitionBy("bucket", "source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      fin.join(metered, Seq("doc_id"))
        .join(sources.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("cum", sum("n_subwords").over(w))
        .withColumn("seq_id", expr("(cum - n_subwords) div 512"))
        .select(col("doc_id"), col("source"), col("n_words"), col("logppl"),
          col("bucket"), col("n_subwords"), col("seq_id"))
    }
  }
}
