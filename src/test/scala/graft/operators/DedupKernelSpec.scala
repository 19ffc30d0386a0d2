package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The fused text kernels the dedup operators project per document, held
  * to the forms they fuse, and the source guard that keeps shingle arrays
  * from being shuffled by a single-consumer operator. */
class DedupKernelSpec extends SparkTestBase {
  import spark.implicits._

  test("the fused kernels equal the chains they fuse and the expression " +
    "forms on random texts (empty, shorter than n, duplicate shingles, " +
    "unicode): shingleSigKernel vs minHashSigKernel(hashedShinglesKernel) " +
    "and minHashSignature; textSimHashKernel vs " +
    "simHashKernel(hashedTokensKernel) and simHash") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    // unicode words: accents and CJK drop out as separators, the Kelvin
    // sign and dotted capital I lowercase to ascii letters
    val word = Gen.oneOf("alpha", "Beta", "GAMMA", "x", "42", "a.b", "--",
      "naïve", "Straße", "日本語", "😀", "K", "İstanbul")
    val sep = Gen.oneOf(" ", "  ", "\n", ", ", "\t")
    def join(ws: Seq[String]): Gen[String] =
      Gen.listOfN(ws.size, sep).map(ss => ws.zip(ss).map { case (w, s) =>
        w + s }.mkString)
    val text = Gen.frequency(
      1 -> Gen.oneOf("", " ", "--", "\n"),
      3 -> Gen.choose(1, 3).flatMap(Gen.listOfN(_, word)).flatMap(join),
      4 -> Gen.choose(4, 30).flatMap(Gen.listOfN(_, word)).flatMap(join),
      // a repeated phrase: the same shingle several times
      2 -> (for {
        phrase <- Gen.choose(2, 4).flatMap(Gen.listOfN(_, word))
        k <- Gen.choose(2, 5)
        t <- join(Seq.fill(k)(phrase).flatten)
      } yield t))
    val caseGen = for {
      texts <- Gen.listOfN(30, text)
      n <- Gen.choose(1, 4)
      k <- Gen.oneOf(1, 5, 16)
    } yield (texts, n, k)
    val prop = Prop.forAllNoShrink(caseGen) { case (texts, n, k) =>
      val expr = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("id"), Dedup.minHashSignature(
          transform(Dedup.shingles(col("text"), n),
            s => Dedup.md5Hash32(s, lit(0))), k),
          Dedup.simHash(col("text")))
        .as[(Long, Seq[Long], Long)].collect()
        .map { case (id, sig, fp) => id -> (sig, fp) }.toMap
      texts.zipWithIndex.forall { case (t, i) =>
        val (sigExpr, fpExpr) = expr(i.toLong)
        val sig = Dedup.shingleSigKernel(t, n, k)
        val fp = Dedup.textSimHashKernel(t)
        sig.size == k &&
          sig == Dedup.minHashSigKernel(Dedup.hashedShinglesKernel(t, n), k) &&
          sig == sigExpr &&
          fp == Dedup.simHashKernel(Dedup.hashedTokensKernel(t)) &&
          fp == fpExpr
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("Dedup.scala repartitions by id only inside hashedShingleDocs") {
    val f = new java.io.File("src/main/scala/graft/operators/Dedup.scala")
    assert(f.isFile, s"source not found at ${f.getAbsolutePath}")
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val defs = """\bdef\s+(\w+)""".r.findAllMatchIn(src)
      .map(m => m.start -> m.group(1)).toSeq
    val owners = """repartition\(\s*col\(\s*"id"\s*\)\s*\)""".r
      .findAllMatchIn(src).map(m => defs.takeWhile(_._1 < m.start).last._2)
      .toSeq
    assert(owners == Seq("hashedShingleDocs"),
      s"repartition(col(\"id\")) inside: ${owners.mkString(", ")}")
  }
}
