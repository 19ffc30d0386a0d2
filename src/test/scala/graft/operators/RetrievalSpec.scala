package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins BM25 and phrase-match semantics on hand-built corpora. The BM25
  * expectation is recomputed by an independent definitional implementation
  * (plain Scala collections, textbook formula) inside the test — the same
  * discipline as the fuzzy ground-truth fixture. */
class RetrievalSpec extends SparkTestBase {

  import spark.implicits._

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  // ---------------------------------------------------------------- bm25

  /** Definitional BM25 (Lucene idf), quantized like the operator. */
  private def bm25Expected(corpus: Seq[(Long, String)],
                           queries: Seq[(Long, Seq[String])], k: Int,
                           k1: Double = 1.2, b: Double = 0.75)
      : Seq[(Long, Long, Double, Int)] = {
    def toks(s: String): Seq[String] = Dedup.tokensKernel(s).toSeq
    val tokenized = corpus.map { case (id, t) => id -> toks(t) }
    val n = tokenized.size.toDouble
    val avgdl = tokenized.map(_._2.size).sum.toDouble / n
    val dfm = tokenized.flatMap { case (_, tk) => tk.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.size }
    queries.flatMap { case (qid, qts) =>
      val scored = tokenized.flatMap { case (docId, tk) =>
        val tfm = tk.groupBy(identity).map { case (t, xs) => t -> xs.size }
        val raw = qts.distinct.flatMap { t =>
          tfm.get(t).map { tf =>
            val df = dfm(t).toDouble
            math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
              (tf * (k1 + 1.0)) /
              (tf + k1 * (1.0 - b + b * tk.size / avgdl))
          }
        }.sum
        if (qts.distinct.exists(tfm.contains))
          Some((docId, math.floor(raw * 1e6 + 0.5) / 1e6))
        else None
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k).zipWithIndex
        .map { case ((docId, s), i) => (qid, docId, s, i + 1) }
    }
  }

  test("bm25TopK matches the definitional formula, rank and score") {
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat naps on the warm mat",
      3L -> "foxes and dogs are common household animals",
      4L -> "quantum chromodynamics binds quarks inside hadrons",
      5L -> "a fox a fox a fox repeated thrice for term frequency")
    val queries = Seq(10L -> Seq("fox", "dog"), 11L -> Seq("quick"))
    val q = queries.toDF("q_id", "q_terms")
    val got = Retrieval.bm25TopK(docsDf(corpus: _*), "doc_id", "text", q,
        k = 3)
      .as[(Long, Long, Double, Int)].collect().toSeq
      .sortBy(r => (r._1, r._4))
    assert(got == bm25Expected(corpus, queries, 3))
  }

  test("bm25TopK: disjunctive — docs sharing no query term never appear") {
    val corpus = Seq(1L -> "alpha beta", 2L -> "gamma delta")
    val q = Seq((7L, Seq("alpha"))).toDF("q_id", "q_terms")
    val got = Retrieval.bm25TopK(docsDf(corpus: _*), "doc_id", "text", q,
      k = 10).select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("bm25TopK: identical docs tie on score and rank by doc id") {
    val corpus =
      Seq(9L -> "same words here", 3L -> "same words here", 5L -> "other")
    val q = Seq((1L, Seq("same", "words"))).toDF("q_id", "q_terms")
    val got = Retrieval.bm25TopK(docsDf(corpus: _*), "doc_id", "text", q,
        k = 5)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(3L, 9L))
    assert(got(0)._3 == got(1)._3)
    assert(got.map(_._4) == Seq(1, 2))
  }

  test("bm25TopK and bm25TopKIndexed take int q_ids, negative ones " +
    "included, in generated and interpreted code") {
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat naps on the warm mat",
      3L -> "a fox a fox a fox repeated thrice for term frequency")
    val queries = Seq(-7L -> Seq("fox", "dog"), 11L -> Seq("quick"),
      -2147483648L -> Seq("mat", "fox"))
    val q = queries.map { case (i, t) => (i.toInt, t) }.toDF("q_id", "q_terms")
    val docs = docsDf(corpus: _*)
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_idx_int").toString
    Retrieval.writeSearchIndex(docs, "doc_id", "text", path, nBuckets = 4)
    val want = bm25Expected(corpus, queries, 2).sortBy(r => (r._1, r._4))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val keys = Seq("spark.sql.codegen.factoryMode",
        "spark.sql.codegen.wholeStage")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), mode == "CODEGEN_ONLY")
      try {
        val inline = Retrieval.bm25TopK(docs, "doc_id", "text", q, k = 2)
          .as[(Long, Long, Double, Int)].collect().toSeq
          .sortBy(r => (r._1, r._4))
        val indexed = Retrieval.bm25TopKIndexed(spark, path, q, k = 2,
            nBuckets = 4)
          .as[(Long, Long, Double, Int)].collect().toSeq
          .sortBy(r => (r._1, r._4))
        assert(inline == want, mode)
        assert(indexed == want, mode)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("bm25TopK: k bounds the per-query result") {
    val corpus = (1L to 20L).map(i => i -> s"shared token plus t$i")
    val q = Seq((1L, Seq("shared"))).toDF("q_id", "q_terms")
    val got = Retrieval.bm25TopK(docsDf(corpus: _*), "doc_id", "text", q,
      k = 4).collect()
    assert(got.length == 4)
  }

  test("bm25TopKIndexed answers exactly like the inline scorer") {
    val corpus = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat naps on the warm mat",
      3L -> "foxes and dogs are common household animals",
      4L -> "a fox a fox a fox repeated thrice for term frequency")
    val q = Seq((10L, Seq("fox", "dog")), (11L, Seq("quick", "mat")))
      .toDF("q_id", "q_terms")
    val docs = docsDf(corpus: _*)
    val path = java.nio.file.Files
      .createTempDirectory("graft_search_idx").toString
    Retrieval.writeSearchIndex(docs, "doc_id", "text", path, nBuckets = 8)
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text", q, k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val indexed = Retrieval
      .bm25TopKIndexed(spark, path, q, k = 3, nBuckets = 8)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(indexed == inline)
    assert(indexed.nonEmpty)
  }

  test("bm25TopK and bm25TopKIndexed equal the definitional BM25 on " +
    "random corpora: repeated and absent query terms, docs sharing no " +
    "query term, identical docs, k above the candidate count, empty " +
    "texts") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val word = Gen.oneOf("alpha", "Beta", "gamma", "delta", "eps", "zeta",
      "eta", "x1", "a.b", "THETA!")
    val text = Gen.frequency(
      1 -> Gen.oneOf("", " ", "--"),
      2 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")),
      4 -> Gen.choose(4, 25).flatMap(Gen.listOfN(_, word)).map(_.mkString(" ")))
    // query terms: corpus tokens, repeated at random, and terms no
    // document holds
    val term = Gen.frequency(5 -> Gen.oneOf("alpha", "beta", "gamma",
      "delta", "eps", "zeta", "eta", "x1", "a", "b", "theta"),
      1 -> Gen.oneOf("absent", "nowhere"))
    val caseGen = for {
      n <- Gen.choose(1, 12)
      texts <- Gen.listOfN(n, text)
      // some documents are exact copies of an earlier one
      copies <- Gen.listOfN(n, Gen.choose(0, 3))
      ids <- Gen.pick(n, 0L until 100L)
      nq <- Gen.choose(1, 4)
      qs <- Gen.listOfN(nq, Gen.choose(0, 5).flatMap(Gen.listOfN(_, term)))
      k <- Gen.oneOf(1, 3, 50)
    } yield {
      val ts = texts.zip(copies).zipWithIndex.map { case ((t, c), i) =>
        if (c == 0 && i > 0) texts(i - 1) else t }
      (ids.toSeq.zip(ts), qs.zipWithIndex.map { case (q, i) => (i + 1L, q) },
        k)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_bm25_prop")
    var run = 0
    val prop = Prop.forAllNoShrink(caseGen) { case (corpus, queries, k) =>
      run += 1
      val docs = docsDf(corpus: _*)
      val q = queries.toDF("q_id", "q_terms")
      val want = bm25Expected(corpus, queries, k).sortBy(r => (r._1, r._4))
      val inline = Retrieval.bm25TopK(docs, "doc_id", "text", q, k)
        .as[(Long, Long, Double, Int)].collect().toSeq
        .sortBy(r => (r._1, r._4))
      val path = s"$root/idx$run"
      Retrieval.writeSearchIndex(docs, "doc_id", "text", path, nBuckets = 4)
      val indexed = Retrieval.bm25TopKIndexed(spark, path, q, k,
          nBuckets = 4)
        .as[(Long, Long, Double, Int)].collect().toSeq
        .sortBy(r => (r._1, r._4))
      inline == want && indexed == want
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  // ----------------------------------------------------------------- rrf

  test("rrfFuse: both-leg docs outrank equal single-leg ranks, ties " +
    "break by doc_id, a doc missing from a leg just loses that term") {
    val lex = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("q_id", "doc_id", "rank")
    val sem = Seq((1L, 13L, 1), (1L, 10L, 2), (1L, 14L, 3))
      .toDF("q_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(lex, sem), k = 5)
      .orderBy("rank")
      .as[(Long, Long, Double, Long, Int)].collect()
    // 10: 1/61 + 1/62 (both legs) beats every single-leg doc;
    // 13 (1/61) > 11 (1/62) > {12, 14} tied at 1/63 -> doc_id asc
    assert(got.map(_._2).toSeq == Seq(10L, 13L, 11L, 12L, 14L))
    assert(got.map(_._4).toSeq == Seq(2L, 1L, 1L, 1L, 1L))
    assert(got.map(_._5).toSeq == Seq(1, 2, 3, 4, 5))
    val exp10 = math.floor((1.0 / 61 + 1.0 / 62) * 1e9 + 0.5) / 1e9
    assert(got.head._3 == exp10)
  }

  // ---------------------------------------------------------------- eval

  test("evalTopK: recall/rr/ndcg on a handmade fixture; a query with no " +
    "judgments scores rr = ndcg = 0 and NULL recall") {
    // q1 truth: 10 (rel 3), 11 (rel 1), 12 (rel 2); ranked [11, 99, 10]
    val results = Seq((1L, 11L, 1), (1L, 99L, 2), (1L, 10L, 3), (2L, 5L, 1))
      .toDF("q_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L, 3.0), (1L, 11L, 1.0), (1L, 12L, 2.0))
      .toDF("q_id", "doc_id", "rel")
    val got = Retrieval.evalTopK(results, qrels, k = 10)
      .orderBy("q_id")
      .as[(Long, Long, Long, Option[Double], Double, Double)].collect()
    def q6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val dcg = (math.pow(2, 1) - 1) / math.log(2) +
      (math.pow(2, 3) - 1) / math.log(4)
    val idcg = (math.pow(2, 3) - 1) / math.log(2) +
      (math.pow(2, 2) - 1) / math.log(3) +
      (math.pow(2, 1) - 1) / math.log(4)
    assert(got(0) == ((1L, 3L, 2L, Some(q6(2.0 / 3)), q6(1.0),
      q6(dcg / idcg))))
    assert(got(1) == ((2L, 0L, 0L, None, 0.0, 0.0)))
  }

  test("evalTopK: perfect ranking scores ndcg = recall = rr = 1; ranks " +
    "beyond k are ignored") {
    val results = Seq((7L, 1L, 1), (7L, 2L, 2), (7L, 3L, 4))
      .toDF("q_id", "doc_id", "rank")
    val qrels = Seq((7L, 1L, 2.0), (7L, 2L, 1.0))
      .toDF("q_id", "doc_id", "rel")
    val got = Retrieval.evalTopK(results, qrels, k = 3)
      .as[(Long, Long, Long, Option[Double], Double, Double)].collect()
    assert(got.toSeq == Seq((7L, 2L, 2L, Some(1.0), 1.0, 1.0)))
  }

  // -------------------------------------------------------------- phrase

  private def phraseDf(rows: (Long, Seq[String])*) =
    rows.toDF("q_id", "terms")

  test("phraseMatch counts contiguous occurrences, not bag overlap") {
    val docs = docsDf(
      1L -> "to be or not to be that is the question",
      2L -> "be to or to be not", // "to be" once (pos 3-4)
      3L -> "be be be to to to") // bag matches, no contiguous "to be"
    val got = Retrieval.phraseMatch(docs, "doc_id", "text",
        phraseDf(1L -> Seq("to", "be")))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((1L, 1L, 2L), (1L, 2L, 1L)))
  }

  test("phraseMatch: repeated term in the phrase needs every slot") {
    val docs = docsDf(
      1L -> "a b a trailing words",
      2L -> "a b c then a b again", // has "a b" but never "a b a"
      3L -> "x a b a b a y") // overlapping: starts at 1 and 3
    val got = Retrieval.phraseMatch(docs, "doc_id", "text",
        phraseDf(5L -> Seq("a", "b", "a")))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(got == Seq((5L, 1L, 1L), (5L, 3L, 2L)))
  }

  test("phraseMatch: phrase longer than the doc yields nothing") {
    val docs = docsDf(1L -> "tiny doc")
    val got = Retrieval.phraseMatch(docs, "doc_id", "text",
      phraseDf(1L -> Seq("tiny", "doc", "overflow"))).collect()
    assert(got.isEmpty)
  }

  test("phraseMatch: multiple phrases score independently") {
    val docs = docsDf(1L -> "red green blue red green")
    val got = Retrieval.phraseMatch(docs, "doc_id", "text",
        phraseDf(1L -> Seq("red", "green"), 2L -> Seq("green", "blue")))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 1L, 2L), (2L, 1L, 1L)))
  }
}
