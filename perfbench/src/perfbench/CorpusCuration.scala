package perfbench

import org.apache.spark.perfbench.Probe
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Pipelines
import graft.operators.{CacheScope, Dedup, Retrieval, Sampling, Similarity,
  TextAnalysis}

/** The LLM-data half: the training-corpus pipeline (quality, language and
  * repetition gates, exact and MinHash-LSH dedup, decontamination,
  * per-source mixing, PII-redacted digests), then IVF vector search and
  * BM25 retrieval over the same documents. */
final class CorpusCuration(spark: SparkSession, probe: Probe, work: String,
                           seed: Long, scale: Double)
    extends Workload(spark, probe, work, seed, scale) {
  val name = "corpus_curation"
  val why = "CPU-bound text kernels and LSH band shuffles; without it " +
    "TextAnalysis, Dedup, Similarity and Retrieval go unmeasured."

  private val nDocs = math.max(200, (1000 * scale).toInt)
  private val k = 10
  private val nProbe = 2
  private val mix = Map("web" -> 0.6, "books" -> 1.0, "forums" -> 0.5)
  private var dir: String = _
  private var input: Gen.CorpusInput = _
  private var lastCounts: (Long, Long) = (0L, 0L)
  private var lastDigest = ""
  private var checked: (Seq[Long], Seq[CorpusCuration.Hit],
    Seq[CorpusCuration.Hit], Seq[String]) = (Nil, Nil, Nil, Nil)

  def setup(rep: Int): Unit = {
    import spark.implicits._
    dir = s"$root/corpus$rep"
    input = Gen.corpus(seed, nDocs)
    input.docs.toDF().write.mode("overwrite").parquet(s"$dir/docs")
    input.probes.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/probes")
    input.vectors.toDF("doc_id", "vec").write.mode("overwrite")
      .parquet(s"$dir/vectors")
    input.queries.toDF("q_id", "vec").write.mode("overwrite")
      .parquet(s"$dir/queries")
    input.centroids.toDF("cent_id", "cent_v").write.mode("overwrite")
      .parquet(s"$dir/centroids")
    input.termQueries.toDF("q_id", "q_terms").write.mode("overwrite")
      .parquet(s"$dir/term_queries")
  }

  def inputProps: Map[String, Any] = input.props

  private def read(n: String): DataFrame = spark.read.parquet(s"$dir/$n")

  /** `Pipelines.buildTrainingCorpus`, spelled out layer by layer for the
    * traced run (same public functions, same order). */
  private def trainingCorpusTraced(c: Ctx, docs: DataFrame,
                                   probes: DataFrame): DataFrame = {
    val gated = c.layer("TextAnalysis")(c.feed(docs
      .withColumn("q", TextAnalysis.qualityScore(col("text")))
      .withColumn("pred_lang", TextAnalysis.langId(col("text")))
      .withColumn("rep", TextAnalysis.dupNgramFrac(col("text"), 3))
      .where(col("q") >= 0.5 && col("pred_lang") === "en" &&
        col("rep") <= 0.2)))
    val kept = c.layer("Dedup") {
      val wd = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
      c.feed(gated.withColumn("rn", row_number().over(wd))
        .where(col("rn") === 1).drop("rn"))
    }
    val contaminated = c.layer("Dedup")(c.feed(Dedup.ngramContamination(
        kept, probes, "doc_id", "text", shingleN = 3, minHits = 2)
      .select("doc_id").distinct()))
    // every candidate pair with its signature similarity; the pipeline's
    // own call keeps those at >= 0.5, which this run filters below
    val pairs = c.layer("Dedup")(c.feed(Dedup.minHashLSH(kept, "doc_id",
      "text", shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.0)))
    val verified = pairs.where(col("sig_sim") >= 0.5)
    lastCounts = (pairs.count(), verified.count())
    val clean = kept.join(verified.select(col("b_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
    val mixed = c.layer("Sampling")(c.feed(
      Sampling.mixBySource(clean, "doc_id", "source", mix, seed.toInt)))
    mixed.select(col("doc_id"), col("source"), col("pred_lang"), col("q"),
      md5(TextAnalysis.redactPii(col("text"))).as("redacted_md5"))
  }

  private def run(c: Ctx, sink: (String, DataFrame) => Unit): Unit = {
    val docs = read("docs")
    val probes = read("probes")
    if (!c.layered)
      Pipelines.trainingCorpus(docs, probes, mix, seed.toInt)(sink("corpus", _))
    else CacheScope.materialized(spark)(trainingCorpusTraced(c, docs, probes)) {
      out => c.layer("TextAnalysis")(sink("corpus", out))
    }
    c.layer("Similarity")(CacheScope.materialized(spark)(Similarity.ivfTopK(
      read("vectors"), read("queries"), "doc_id", "q_id", "vec",
      read("centroids"), "cent_id", "cent_v", k, nProbe))(sink("ivf", _)))
    c.layer("Retrieval")(CacheScope.materialized(spark)(Retrieval.bm25TopK(
      docs, "doc_id", "text", read("term_queries"), k))(sink("bm25", _)))
  }

  def op(): Map[String, Double] = { run(new Ctx(None), (_, df) => noop(df)); Map.empty }

  def opTraced(t: Tracer): Map[String, Double] = {
    run(new Ctx(Some(t)), (_, df) => noop(df))
    Map.empty
  }

  override def layerExtras(t: Tracer, ops: Int): Map[String, Double] = {
    val ivf = Similarity.ivfTopK(read("vectors"), read("queries"), "doc_id",
        "q_id", "vec", read("centroids"), "cent_id", "cent_v", k, nProbe)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val exact = Similarity.bruteForceTopK(read("vectors"), read("queries"),
        "doc_id", "q_id", "vec", k)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    Map("Dedup.lsh_precision" ->
        lastCounts._2.toDouble / math.max(1L, lastCounts._1),
      "Similarity.recall_at_k" ->
        (ivf & exact).size.toDouble / math.max(1, exact.size))
  }

  def checks(traced: Boolean): Seq[(String, Boolean)] = {
    import CorpusCuration._
    val out = scala.collection.mutable.Map.empty[String, Array[Row]]
    run(new Ctx(None), (k, df) => out(k) = df.collect())
    val rows = out.map { case (k, rs) => k -> rs.map(_.mkString("|")).sorted.toSeq }
    lastDigest = Workload.sha(rows.toSeq.sortBy(_._1).flatMap { case (k, rs) =>
      rs.map(k + "|" + _) })
    val kept = out("corpus").map(_.getLong(0)).toSeq
    val ivf = out("ivf").map(hit).toSeq
    val bm25 = out("bm25").map(hit).toSeq
    checked = (kept, ivf, bm25, rows("corpus"))
    val text = input.docs.map(d => d.doc_id -> d.text).toMap
    Seq("no_exact_duplicate_survives" ->
        noExactDuplicate(kept, text, input.exactDupOf),
      "ivf_is_exact_ivf_top_k" -> isTopK(ivf, ivfWant, k, 1e-6),
      "bm25_is_exact_top_k" -> isTopK(bm25, bm25Want, k, 1.5e-6)) ++
      (if (!traced) Nil else {
        // the traced run's spelled-out pipeline over the same inputs
        val layered = CacheScope.materialized(spark)(trainingCorpusTraced(
            new Ctx(None, true), read("docs"), read("probes")))(
          _.collect().map(_.mkString("|")).sorted.toSeq)
        Seq("corpus_layered_equals_entry" -> (layered == rows("corpus")))
      })
  }

  /** Candidates of the IVF search, scored locally: each vector's cell is
    * its most similar centroid, each query probes its `nProbe` most
    * similar cells. */
  private def ivfWant: Map[Long, Map[Long, Double]] = {
    import CorpusCuration.cosine
    def nearest(v: Array[Float], n: Int): Seq[Long] = input.centroids
      .map { case (id, c) => (id, cosine(v, c)) }
      .sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)
    val cells = input.vectors.groupBy(v => nearest(v._2, 1).head)
    input.queries.map { case (q, qv) =>
      q -> nearest(qv, nProbe).flatMap(c => cells.getOrElse(c, Nil))
        .map { case (id, v) => id -> cosine(qv, v) }.toMap
    }.toMap
  }

  private def bm25Want: Map[Long, Map[Long, Double]] =
    CorpusCuration.bm25(input.docs.map(d => d.doc_id -> d.text),
      input.termQueries)

  def perturbed(): Seq[(String, Boolean)] = {
    import CorpusCuration._
    val (kept, ivf, bm25, corpusRows) = checked
    // an exact copy of a kept document slips through beside it
    val orig = kept.head
    val copy = input.docs.map(_.doc_id).max + 1
    val text = input.docs.map(d => d.doc_id -> d.text).toMap
    Seq("no_exact_duplicate_survives" -> noExactDuplicate(
        kept :+ copy, text.updated(copy, text(orig)),
        input.exactDupOf.updated(copy, orig)),
      "ivf_is_exact_ivf_top_k" -> isTopK(wrongHit(ivf, ivfWant), ivfWant, k, 1e-6),
      "bm25_is_exact_top_k" ->
        isTopK(wrongHit(bm25, bm25Want), bm25Want, k, 1.5e-6),
      // the spelled-out pipeline kept one document too many
      "corpus_layered_equals_entry" ->
        ((corpusRows :+ corpusRows.head).sorted == corpusRows))
  }

  def digest(): (String, String) = ("outputs", lastDigest)
}

object CorpusCuration {
  /** One search hit: (query, document, score, rank). */
  type Hit = (Long, Long, Double, Int)

  def hit(r: Row): Hit = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    for (i <- a.indices) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** BM25 (k1 1.2, b 0.75) of every document holding a term of each
    * query, over lower-cased alphanumeric tokens, rounded to 1e-6:
    * query -> document -> score. */
  def bm25(docs: Seq[(Long, String)], queries: Seq[(Long, Seq[String])],
           k1: Double = 1.2, b: Double = 0.75): Map[Long, Map[Long, Double]] = {
    val toks = docs.map { case (id, t) => id ->
      t.toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq }
    val n = docs.size.toDouble
    val avgdl = toks.map(_._2.size).sum / n
    val tf = toks.map { case (id, ts) => id -> ts.groupBy(identity)
      .map { case (t, xs) => t -> xs.size } }
    val dl = toks.map { case (id, ts) => id -> ts.size }.toMap
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (t, xs) => t -> xs.size }
    queries.map { case (q, terms) =>
      val ts = terms.distinct
      q -> tf.flatMap { case (id, f) =>
        val parts = ts.flatMap(t => f.get(t).map { c =>
          math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * (c * (k1 + 1.0)) /
            (c + k1 * (1.0 - b + b * dl(id) / avgdl))
        })
        if (parts.isEmpty) None
        else Some(id -> math.floor(parts.sum * 1e6 + 0.5) / 1e6)
      }.toMap
    }.toMap
  }

  /** `hits` are a top-k of the scored candidates `want`: per query, ranks
    * 1..min(k, candidates) over distinct candidates in score order, each
    * with its own score and none below the k-th best; scores agree
    * within `tol` (the outputs' rounding). */
  def isTopK(hits: Seq[Hit], want: Map[Long, Map[Long, Double]], k: Int,
             tol: Double): Boolean = {
    val byQ = hits.groupBy(_._1)
    byQ.keySet == want.filter(_._2.nonEmpty).keySet && byQ.forall { case (q, qh) =>
      val hs = qh.sortBy(_._4)
      val cand = want(q)
      val n = math.min(k, cand.size)
      val kth = cand.values.toSeq.sorted.reverse(n - 1)
      hs.map(_._4) == (1 to n) && hs.map(_._2).distinct.size == n &&
        hs.forall(h => cand.get(h._2).exists(s => math.abs(s - h._3) <= tol) &&
          h._3 >= kth - tol) &&
        hs.zip(hs.drop(1)).forall { case (x, y) => x._3 >= y._3 }
    }
  }

  /** A wrong result: the top hit of the first query that has unreturned
    * candidates is replaced by its worst candidate, with that
    * candidate's true score. */
  def wrongHit(hits: Seq[Hit], want: Map[Long, Map[Long, Double]]): Seq[Hit] = {
    val byQ = hits.groupBy(_._1)
    val q = byQ.keys.toSeq.sorted.find(q => want(q).size > byQ(q).size)
      .getOrElse(byQ.keys.min)
    val (worst, s) = want(q).minBy { case (id, sc) => (sc, -id) }
    hits.map(h => if (h._1 == q && h._4 == 1) (q, worst, s, 1) else h)
  }

  /** No kept document shares its text with another kept document, and no
    * injected exact copy is kept beside its original. */
  def noExactDuplicate(kept: Seq[Long], text: Map[Long, String],
                       dupOf: Map[Long, Long]): Boolean = {
    val ks = kept.toSet
    kept.map(text).distinct.size == kept.size &&
      dupOf.forall { case (d, o) => !(ks(d) && ks(o)) }
  }
}
