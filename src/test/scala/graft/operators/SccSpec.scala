package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** [[ConnectedComponents.scc]] — strongly connected components via
  * hash-pivot forward-backward decomposition. Labels are set-stable
  * (min member id), so every case checks the full (node -> scc) map. */
class SccSpec extends SparkTestBase {
  import spark.implicits._

  private def sccMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.scc(pairs.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  /** Driver-side truth: Warshall closure, scc(v) = min mutual-reach id. */
  private def brute(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val r = Array.fill(n, n)(false)
    pairs.foreach { case (a, b) => r(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
      if (r(i)(k) && r(k)(j)) r(i)(j) = true
    nodes.map { v =>
      val i = idx(v)
      val mutual = nodes.filter { u =>
        val j = idx(u)
        u == v || (r(i)(j) && r(j)(i))
      }
      v -> mutual.min
    }.toMap
  }

  test("scc separates a cycle from its tail and a DAG into singletons") {
    // 3-cycle with a tail hanging off it
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    assert(sccMap(cyc) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    // pure DAG: every node is its own SCC
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(sccMap(dag) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    // two 2-cycles bridged one-way: the bridge must NOT merge them
    // (undirected CC would — this is exactly what scc adds over run)
    val two = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L), (2L, 3L))
    assert(sccMap(two) == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("scc degenerate inputs: empty edges, self-loops, isolated pairs") {
    assert(ConnectedComponents.scc(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
    // a self-loop keeps its node (singleton); it adds no reachability
    assert(sccMap(Seq((5L, 5L))) == Map(5L -> 5L))
    assert(sccMap(Seq((5L, 5L), (1L, 2L))) ==
      Map(5L -> 5L, 1L -> 1L, 2L -> 2L))
  }

  test("scc on a long directed chain needs O(log n) FW-BW passes, not " +
    "one pass per node (the hash-pivot quicksort split)") {
    // 24 singleton SCCs in a line — the adversarial case for min-id
    // pivots (they would peel ONE node per pass — 24 passes — and blow
    // this cap; the hash pivot splits segments like quicksort)
    val chain = (1L until 24L).map(i => (i, i + 1))
    val got = ConnectedComponents.scc(chain.toDF("src", "dst"),
        maxOuterRounds = 12)
      .as[(Long, Long)].collect().toMap
    assert(got == (1L to 24L).map(v => v -> v).toMap)
  }

  test("sccCondense collapses components to min-member labels and " +
    "counts distinct inter-component edges") {
    // {1,2} and {3,4} are SCCs bridged by TWO distinct edges; 5 is a
    // singleton sink fed from {3,4}
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L),
      (2L, 3L), (1L, 4L), (4L, 5L))
    val got = ConnectedComponents.sccCondense(edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 2L), (3L, 5L, 1L)))
    // a DAG condenses to itself (every node its own component)
    val dag = Seq((1L, 2L), (2L, 3L))
    assert(ConnectedComponents.sccCondense(dag.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet ==
      Set((1L, 2L, 1L), (2L, 3L, 1L)))
    // a single cycle condenses to ZERO edges (but scc still labels it)
    val cyc = Seq((7L, 8L), (8L, 7L))
    assert(ConnectedComponents.sccCondense(cyc.toDF("src", "dst"))
      .count() == 0L)
    assert(ConnectedComponents.sccCondense(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
  }

  test("incrementalMerge folds batches into the standing labeling " +
    "bit-identically to a from-scratch run over all edges") {
    def ccMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.as[(Long, Long)].collect().toMap
    // initial: {5,6} and {9,10}; batch1 bridges them AND introduces new
    // nodes {1,2}; batch2 merges the batch1-created component with the
    // merged old one — exercising the alias REMAP (the 9→5 entry must
    // follow 5 into the final min-1 component)
    val initial = Seq((5L, 6L), (9L, 10L))
    val batch1 = Seq((5L, 9L), (1L, 2L))
    val batch2 = Seq((2L, 6L))
    val all = initial ++ batch1 ++ batch2
    val folded = ccMap(ConnectedComponents.incrementalFold(
      initial.toDF("src", "dst"),
      Seq(batch1.toDF("src", "dst"), batch2.toDF("src", "dst"))))
    val rebuilt = ccMap(ConnectedComponents.run(all.toDF("src", "dst")))
    assert(folded == rebuilt)
    assert(folded.values.toSet == Set(1L)) // everything merged to min 1
    // a new node SMALLER than every standing label becomes the canon
    val f2 = ccMap(ConnectedComponents.incrementalFold(
      Seq((5L, 6L)).toDF("src", "dst"),
      Seq(Seq((2L, 5L)).toDF("src", "dst"))))
    assert(f2 == Map(2L -> 2L, 5L -> 2L, 6L -> 2L))
    // replaying a batch is a no-op (all endpoints share a component, so
    // the merge graph has no non-identity rows)
    val f3 = ccMap(ConnectedComponents.incrementalFold(
      Seq((5L, 6L)).toDF("src", "dst"),
      Seq(Seq((2L, 5L)).toDF("src", "dst"),
        Seq((2L, 5L)).toDF("src", "dst"))))
    assert(f3 == f2)
    // empty initial load: the first batch bootstraps everything
    val f4 = ccMap(ConnectedComponents.incrementalFold(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(Seq((3L, 4L)).toDF("src", "dst"))))
    assert(f4 == Map(3L -> 3L, 4L -> 3L))
  }

  private def mergeParts(base: Set[(Long, Long)], alias: Set[(Long, Long)],
      batch: Seq[(Long, Long)], maxPoint: Int)
      : (Set[(Long, Long)], Set[(Long, Long)]) = {
    val (ins, na) = ConnectedComponents.incrementalMergeParts(
      base.toSeq.toDF("node", "component"), alias.toSeq.toDF("c", "canon"),
      batch.toDF("src", "dst"), maxPointLookup = maxPoint)
    (ins.as[(Long, Long)].collect().toSet,
      na.as[(Long, Long)].collect().toSet)
  }

  test("the point-lookup and broadcast-semi base probes produce " +
    "identical merge parts (the oversized-batch fallback is exact)") {
    // the point path also solves the merge graph in one union-find task,
    // the fallback with the distributed fixpoint; both must agree
    val b0 = ConnectedComponents.run(
      Seq((5L, 6L), (9L, 10L)).toDF("src", "dst")).as[(Long, Long)]
      .collect().toSet
    val batch0 = Seq((5L, 9L), (1L, 2L))
    assert(mergeParts(b0, Set.empty, batch0, 0) == mergeParts(b0,
      Set.empty, batch0, ConnectedComponents.MaxPointLookupNodes))
    // a multi-hop merge graph that also remaps an existing alias entry:
    // standing state: {10,11,20,21} already merged (alias 20 → 10),
    // {30,31}, {40,41}
    val base = Set(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 40L)
    val alias = Set(20L -> 10L)
    // label graph: the chain 40 — 30 — 10 — 5 (21 resolves through the
    // alias to 10; 5 is new and smaller than every standing label) plus
    // the fresh pair 60 — 61
    val batch = Seq((41L, 30L), (31L, 21L), (11L, 5L), (60L, 61L))
    val point = mergeParts(base, alias, batch,
      ConnectedComponents.MaxPointLookupNodes)
    assert(point == mergeParts(base, alias, batch, 0))
    assert(point._1 == Set(5L -> 5L, 60L -> 60L, 61L -> 61L))
    // the existing entry 20 → 10 follows 10 into the new root 5
    assert(point._2 == Set(20L -> 5L, 10L -> 5L, 30L -> 5L, 40L -> 5L,
      61L -> 60L))
    // replay against the state the batch produced: nothing inserts and
    // the alias is rewritten unchanged, on both paths
    for (maxPoint <- Seq(0, ConnectedComponents.MaxPointLookupNodes))
      assert(mergeParts(base ++ point._1, point._2, batch, maxPoint) ==
        ((Set.empty[(Long, Long)], point._2)))
  }

  test("merge parts agree across both solvers and the fold equals a " +
    "from-scratch run on random graphs (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val edge = for (a <- Gen.choose(0L, 24L); b <- Gen.choose(0L, 24L))
      yield (a, b)
    val batchGen = Gen.choose(1, 6).flatMap(Gen.listOfN(_, edge))
    val caseGen = for {
      init <- Gen.choose(0, 12).flatMap(Gen.listOfN(_, edge))
      batches <- Gen.listOfN(3, batchGen)
    } yield (init, batches)
    val prop = Prop.forAllNoShrink(caseGen) { case (init, batches) =>
      var base = ConnectedComponents.run(init.toDF("src", "dst"))
        .as[(Long, Long)].collect().toSet
      var alias = Set.empty[(Long, Long)]
      val agree = batches.forall { b =>
        val point = mergeParts(base, alias, b,
          ConnectedComponents.MaxPointLookupNodes)
        val same = point == mergeParts(base, alias, b, 0)
        base ++= point._1
        alias = point._2
        same
      }
      val canon = alias.toMap
      val folded = base.map { case (n, c) => n -> canon.getOrElse(c, c) }
        .toMap
      val rebuilt = ConnectedComponents.run((init ++ batches.flatten)
        .toDF("src", "dst")).as[(Long, Long)].collect().toMap
      agree && folded == rebuilt
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(4).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("sccTopoLevels peels the condensation into longest-path levels") {
    def topo(pairs: Seq[(Long, Long)]): Map[Long, Int] =
      ConnectedComponents.sccTopoLevels(pairs.toDF("src", "dst"))
        .as[(Long, Int)].collect().toMap
    // chain DAG: levels are the positions
    assert(topo(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // diamond + shortcut: level = LONGEST path in (1->2->3->4, 1->4),
    // so the sink sits at 3, not 1
    assert(topo(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))) ==
      Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    // cycles collapse first: {2,3} is one level-1 SCC between source
    // and sink; the second component {7,8} peels independently at 0
    assert(topo(Seq((1L, 2L), (2L, 3L), (3L, 2L), (3L, 4L), (7L, 8L))) ==
      Map(1L -> 0, 2L -> 1, 4L -> 2, 7L -> 0, 8L -> 1))
    // a pure cycle condenses to ONE source node at level 0
    assert(topo(Seq((5L, 6L), (6L, 5L))) == Map(5L -> 0))
    // empty input
    assert(ConnectedComponents.sccTopoLevels(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
  }

  test("scc round-cap failure frees every pinned round frame before " +
    "throwing (no state leak for callers that catch)") {
    val chain = (1L until 24L).map(i => (i, i + 1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.scc(chain.toDF("src", "dst"), maxOuterRounds = 1)
        .count()
    }
    assert(e.getMessage.contains("FW-BW passes"))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"round frames left pinned: $leaked")
    // the inner flood-fill cap frees through the same path
    val e2 = intercept[IllegalArgumentException] {
      ConnectedComponents.scc(chain.toDF("src", "dst"), maxInnerRounds = 2)
        .count()
    }
    assert(e2.getMessage.contains("flood fill"))
    val leaked2 = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked2.isEmpty, s"round frames left pinned: $leaked2")
  }

  test("scc matches the brute-force closure on a pseudo-random directed " +
    "graph with mixed component sizes") {
    // deterministic arithmetic graph on 0..39: i -> (2i+1) mod 40 and
    // i -> (3i) mod 40, plus a planted 4-cycle and a planted mutual pair
    val base = (0L until 40L).flatMap(i =>
      Seq((i, (2 * i + 1) % 40), (i, (3 * i) % 40)))
    val planted = Seq((50L, 51L), (51L, 52L), (52L, 53L), (53L, 50L),
      (60L, 61L), (61L, 60L), (40L, 50L), (50L, 60L))
    val pairs = (base ++ planted).filter(p => p._1 != p._2).distinct
    assert(sccMap(pairs) == brute(pairs))
  }
}
