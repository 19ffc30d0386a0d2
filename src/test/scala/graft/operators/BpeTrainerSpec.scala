package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.graft.WorkCounter

/** Pins the BPE training contract: the greedy merge kernel's
  * overlapping-run behavior, the classic low/lower/lowest hand example
  * with deterministic tie-breaks, early stop, layout invariance, and
  * batched rounds: the sequential table in fewer Spark jobs. */
class BpeTrainerSpec extends SparkTestBase {
  import spark.implicits._

  // the committed fixture corpus
  private def fixture = Seq((1L, "low low low"), (2L, "lower lowest"),
    (3L, "slow slower")).toDF("doc_id", "text")

  test("greedy kernel: left-to-right, skip after merge") {
    assert(BpeTrainer.mergeKernel(Seq("a", "a", "a"), "a", "a") ==
      Seq("aa", "a"))
    assert(BpeTrainer.mergeKernel(Seq("a", "a", "a", "a", "a"), "a", "a") ==
      Seq("aa", "aa", "a"))
    assert(BpeTrainer.mergeKernel(Seq("a", "b", "a", "b"), "a", "b") ==
      Seq("ab", "ab"))
    assert(BpeTrainer.mergeKernel(Seq("x", "a", "b", "y"), "a", "b") ==
      Seq("x", "ab", "y"))
    assert(BpeTrainer.mergeKernel(Seq("a", "b"), "b", "a") ==
      Seq("a", "b"))
  }

  test("hand-traced merges on the classic low/lower/lowest corpus") {
    val docs = Seq((1L, "low low low"), (2L, "lower lowest"))
      .toDF("doc_id", "text")
    val m = BpeTrainer.bpeTrain(docs, "text", nMerges = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // pair counts over {low x3, lower, lowest}: (l,o)=5 and (o,w)=5 tie
    // -> lex picks (l,o); then (lo,w)=5; then (low,e)=2; then the rank-4
    // tie among count-1 pairs resolves to (lowe,r) by rhs order.
    assert(m.toSeq == Seq(
      (1, "l", "o", 5L), (2, "lo", "w", 5L),
      (3, "low", "e", 2L), (4, "lowe", "r", 1L)))
  }

  test("early stop when no adjacent pairs remain") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val m = BpeTrainer.bpeTrain(docs, "text", nMerges = 3)
    assert(m.count() == 0)
    assert(m.columns.toSeq == Seq("rank", "lhs", "rhs", "pair_count"))
  }

  test("subwordCounts: learned merges re-tokenize the corpus; " +
    "encode folds merges in rank order") {
    // after (l,o), (lo,w): "low" -> [low]? no — 2 merges give [low]
    // only with a third (lo+w happens at rank 2): low -> l o w ->
    // lo w -> low = 1 symbol; lower -> lo w e r -> low e r = 3
    assert(BpeTrainer.encodeKernel("low",
      Seq("l", "lo"), Seq("o", "w")) == 1)
    assert(BpeTrainer.encodeKernel("lower",
      Seq("l", "lo"), Seq("o", "w")) == 3)
    val docs = Seq((1L, "low low low"), (2L, "lower lowest"))
      .toDF("doc_id", "text")
    val merges = BpeTrainer.bpeTrain(docs, "text", 4)
    val got = BpeTrainer.subwordCounts(docs, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // merges: (l,o)(lo,w)(low,e)(lowe,r): low->1 sym x3 words;
    // lower -> lower(1): lowe r -> lower after rank 4 = 1;
    // lowest -> lowe s t = 3
    assert(got(1L) == ((3L, 3L)))
    assert(got(2L) == ((4L, 2L)))
  }

  test("merge table is partitioning-invariant") {
    val a = BpeTrainer.bpeTrain(fixture, "text", 5).collect().toSeq
    val b = BpeTrainer.bpeTrain(fixture.repartition(7), "text", 5)
      .collect().toSeq
    assert(a == b)
  }

  test("batched rounds produce the IDENTICAL merge table as the " +
    "one-merge-per-round loop, including tie-heavy and spawner corpora") {
    // all-frequency-1 corpus: every pair count ties, exercising the
    // tie-cutoff and equal-count spawner guards hard
    val ties = Seq("cab", "dog", "dig", "bad", "cad", "god", "gag",
      "abab", "zazb").zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    // spawner shape: merging (a,b) spawns (c,ab), which ties the
    // disjoint (d,q) candidate and lex-beats it — a naive
    // disjoint-only batch would emit (d,q) at rank 2, sequential
    // emits (c,ab)
    val spawn = (1L to 5L).map(i => (i, "cab dq")).toDF("doc_id", "text")
    for (docs <- Seq(fixture, ties, spawn); n <- Seq(4, 8)) {
      val seqTable = BpeTrainer.bpeTrain(docs, "text", n, maxBatch = 1)
        .collect().toSeq
      val batTable = BpeTrainer.bpeTrain(docs, "text", n, maxBatch = 64)
        .collect().toSeq
      assert(batTable == seqTable,
        s"n=$n:\nbatched   $batTable\nsequential $seqTable")
    }
  }

  test("batched rounds run fewer Spark jobs than one merge per round") {
    def jobs(maxBatch: Int) = WorkCounter.work(spark.sparkContext) {
      BpeTrainer.bpeTrain(fixture, "text", 8, maxBatch).collect()
    }.jobs
    val (sequential, batched) = (jobs(1), jobs(64))
    info(s"batched $batched jobs, sequential $sequential")
    assert(batched < sequential, s"batched $batched jobs, sequential $sequential")
  }

  test("batched == sequential on symbol-string-collision-prone corpora") {
    // Concat-collision shape: an accepted merge's l+r string equal to a
    // pre-existing snapshot symbol would conflate their spawned pairs.
    // Run-length corpora ("aaaa…") and tiny-alphabet ambiguous
    // segmentations ("abab", "aab", "ba") are where every multi-char
    // symbol string is a substring of every other — the densest
    // collision surface reachable under global greedy merging.
    val runs = Seq("aaa", "aaaa", "aaaaa", "aaaaaaa", "aa")
      .zipWithIndex.map { case (w, i) => (i.toLong, (w + " ") * (i + 1)) }
      .toDF("doc_id", "text")
    val ambiguous = Seq((1L, "ba ba ba aba abab aab ab abx xbab aabab"),
      (2L, "abab abab aba ba aab"), (3L, "bab ab aaba abba"))
      .toDF("doc_id", "text")
    // seeded pseudo-random two-letter corpus: hammers tie, spawner and
    // collision guards together across many snapshot shapes
    val rng = new scala.util.Random(20260815L)
    val fuzz = (1L to 40L).map { i =>
      val words = (0 until 6).map { _ =>
        (0 until (2 + rng.nextInt(6)))
          .map(_ => if (rng.nextBoolean()) "a" else "b").mkString
      }
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    for (docs <- Seq(runs, ambiguous, fuzz); n <- Seq(6, 12)) {
      val seqTable = BpeTrainer.bpeTrain(docs, "text", n, maxBatch = 1)
        .collect().toSeq
      val batTable = BpeTrainer.bpeTrain(docs, "text", n, maxBatch = 64)
        .collect().toSeq
      assert(batTable == seqTable,
        s"n=$n:\nbatched   $batTable\nsequential $seqTable")
    }
  }
}
