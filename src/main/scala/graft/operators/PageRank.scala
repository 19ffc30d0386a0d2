package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps
import org.apache.spark.storage.StorageLevel

/** Power-iteration PageRank over an edge DataFrame — the second iterative
  * consumer of the [[org.apache.spark.sql.graft.CheckpointOps]] round
  * machinery (after [[ConnectedComponents]]), showing the fixpoint
  * pattern generalizes: materialize each round, free the previous round's
  * blocks, keep carried stats truncated so planning cost stays flat.
  *
  * Semantics: directed edges, uniform teleport `(1-d)/N`, dangling mass
  * NOT redistributed (the simplified formulation: a dangling node keeps
  * only its teleport share; downstream ranks renormalize by total mass).
  * A FIXED iteration count keeps the result deterministic and
  * oracle-reproducible — no convergence epsilon on floating point.
  *
  * The input is read once: its `(src, dst)` projection is checkpointed,
  * and one aggregate over it yields every node with its out-degree
  * `deg` (0 = dangling). Rank state is (node, rank, deg) — tiny relative
  * to edges, and it broadcasts into each round's edge join because
  * checkpoints carry measured stats. Each round is contribution-scatter
  * + sum: one shuffle on dst (partial aggregation map-side) + one join
  * back onto the rank state.
  */
/** Named fail-fast for the EXACT pair-state centrality legs: their state
  * is Σ|B_h(v)| pair rows — quadratic in the worst case — and on a graph
  * whose ball mass the executors can't hold the failure mode is not an
  * error but a 10-100x memory-pressure thrash (measured: the cold sf1
  * closeness probe spent 18.4 min re-trying 1 GiB task-page allocations,
  * SCALE.md r14). The guard converts that into THIS error the moment a
  * round's materialized row count crosses the budget, naming the two
  * escape hatches: the sketch-state scale path and a smaller radius /
  * source sample. */
final class CentralityStateBudgetExceeded(
    val round: Int, val rows: Long, val budget: Long, hint: String)
    extends RuntimeException(
      s"pair-state centrality round $round materialized $rows rows, over " +
        s"the state budget of $budget. This exact leg is the small-graph " +
        s"calibration tool; at this ball mass $hint Override " +
        "stateBudgetRows to raise the budget deliberately.")

object PageRank {

  /** Default pair-state budget: the rows a round may materialize before
    * [[CentralityStateBudgetExceeded]] fires. Anchored to the MEASURED
    * thrash point, not a back-of-envelope row size: the r14 cold sf1
    * closeness run spent 18.4 min retrying 1 GiB task-page allocations
    * at 63.8M pair rows in a 24 GiB heap (heap/376 rows) — the at-rest
    * UnsafeRow is ~40 B, but a round's peak demand is several times
    * that (two pinned round copies during the handoff, the min-merge
    * shuffle's build-side hash relation, task pages), so the budget is
    * heap/1000 rows: comfortably below the observed thrash while
    * leaving the sf0.1 calibration graph (~0.7M pair rows) an order of
    * magnitude of headroom. A heuristic, deliberately: the guard exists
    * to turn silent memory thrash into a named error, not to be a
    * precise admission controller; callers with real clusters pass
    * their own.
    *
    * The relevant heap is the EXECUTOR's (the thrash is task-page
    * allocation), so the default derives from `spark.executor.memory`
    * when the active session sets it; in local mode — where driver and
    * executors share one JVM and the conf is usually unset — it falls
    * back to the driver's `Runtime.maxMemory`, which IS the executor
    * heap there (the deployment the constant was calibrated on). */
  def defaultStateBudgetRows: Long = {
    val executorMem = org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.executor.memory"))
      .flatMap(parseMemoryBytes)
    stateBudgetRowsFor(executorMem)
  }

  /** The budget derivation, pure for spec'ing: heap/1000 rows (see
    * [[defaultStateBudgetRows]]), floored at 1M. */
  private[graft] def stateBudgetRowsFor(executorMemBytes: Option[Long])
      : Long =
    math.max(1000000L,
      executorMemBytes.getOrElse(Runtime.getRuntime.maxMemory()) / 1000L)

  /** Parse a Spark memory string ("4g", "512m", "2048k",
    * case-insensitive, optional trailing "b") — None if malformed, so a
    * bad conf degrades to the local-mode fallback instead of failing
    * centrality calls. A SUFFIX-LESS number is MiB, matching how Spark
    * itself reads `spark.executor.memory` (ByteUnit.MiB default) —
    * treating "8192" as bytes would floor the budget to its 1M-row
    * minimum and trip the guard spuriously on an 8 GiB executor. */
  private[graft] def parseMemoryBytes(s: String): Option[Long] = {
    val m = "(?i)^\\s*(\\d+)\\s*([kmgt]?)b?\\s*$".r
    s match {
      case m(num, unit) =>
        val shift = unit.toLowerCase match {
          case ""  => 20 // Spark's spark.executor.memory default unit
          case "k" => 10
          case "m" => 20
          case "g" => 30
          case "t" => 40
        }
        try Some(math.multiplyExact(num.toLong, 1L << shift))
        catch { case _: ArithmeticException | _: NumberFormatException => None }
      case _ => None
    }
  }

  /** A PageRank input read once: the edge checkpoint and the node
    * checkpoint with its row count (see [[graph]]). */
  private[graft] final case class Graph(
      edges: DataFrame, edgesRdd: RDD[InternalRow],
      nodes: DataFrame, nodesRdd: RDD[InternalRow], n: Long)

  /** The input read [[run]], [[weighted]] and [[personalized]] share:
    * the `(src, dst[, w])` projection checkpointed once, and ONE
    * aggregate over `src → 1 ∪ dst → 0` (checkpointed with its count)
    * giving every node its out-degree `deg` — 0 means dangling — plus
    * the weighted out-degree `wdeg` when a weight column is given and
    * the 0/1 seed flag `s` when seeds are. Both read the edge
    * checkpoint, so the caller's (typically lazy, join-built) input is
    * evaluated exactly once. */
  private[graft] def graph(input: DataFrame, srcCol: String, dstCol: String,
                           weightCol: Option[String] = None,
                           seeds: Option[DataFrame] = None): Graph = {
    val w = weightCol.map(c => col(c).cast("double").as("w")).toSeq
    val (e, eRdd) = CheckpointOps.checkpoint(
      input.select(Seq(col(srcCol).as("src"), col(dstCol).as("dst")) ++ w: _*))
    val wOut = weightCol.map(_ => col("w").as("wd")).toSeq
    val wIn = weightCol.map(_ => lit(0.0).as("wd")).toSeq
    val wdeg = weightCol.map(_ => sum(col("wd")).as("wdeg")).toSeq
    val agg = e.select(Seq(col("src").as("node"), lit(1L).as("d")) ++ wOut: _*)
      .union(e.select(Seq(col("dst").as("node"), lit(0L).as("d")) ++ wIn: _*))
      .groupBy(col("node")).agg(sum(col("d")).as("deg"), wdeg: _*)
    val withSeeds = seeds.fold(agg) { sd =>
      agg.join(sd.select(col("node")).distinct()
          .select(col("node"), lit(1.0).as("s")), Seq("node"), "left")
        .withColumn("s", coalesce(col("s"), lit(0.0)))
    }
    val (nodes, nodesRdd, n) = CheckpointOps.checkpointCount(withSeeds)
    Graph(e, eRdd, nodes, nodesRdd, n)
  }

  /** `iterations` rounds of `round` from `start` (a projection of the
    * [[Graph]] node checkpoint `startRdd`), each round materialized
    * before the previous one's blocks are freed. */
  private def iterate(start: DataFrame, startRdd: RDD[InternalRow],
                      iterations: Int)(round: DataFrame => DataFrame)
      : DataFrame = {
    var (ranks, ranksRdd) = (start, startRdd)
    for (_ <- 1 to iterations) {
      val (next, nextRdd) = CheckpointOps.checkpoint(round(ranks))
      ranksRdd.unpersist(false)
      ranks = next
      ranksRdd = nextRdd
    }
    ranks
  }

  /** @param redistributeDangling when true, each round adds the total
    *        rank mass sitting on dangling nodes (`deg = 0`) back
    *        uniformly — the standard formulation where ranks sum to 1.
    *        The redistribution term is ONE extra aggregate per round
    *        over the rank state itself (a 1-row broadcast); false keeps
    *        the simplified teleport-only dangling handling.
    * @return DataFrame(node, rank) for every node appearing as src or dst.
    *
    * The input is evaluated once (see [[graph]]). A round joins the
    * edges to the non-dangling rank rows, which broadcast (the rank
    * state is node-sized and checkpoints carry measured stats), so the
    * edge side never re-shuffles; what remains per round is the
    * contribution aggregate's shuffle and the join back onto the state. */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          iterations: Int = 5, damping: Double = 0.85,
          redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val g = graph(edges, srcCol, dstCol)
    val ranks = iterate(
      g.nodes.select(col("node"), lit(1.0 / g.n).as("rank"), col("deg")),
      g.nodesRdd, iterations)(runRound(g, _, damping, redistributeDangling))
    g.edgesRdd.unpersist(false)
    ranks.select("node", "rank")
  }

  /** One [[run]] round over `g` from the (node, rank, deg) state. */
  private[graft] def runRound(g: Graph, ranks: DataFrame, damping: Double,
                              redistributeDangling: Boolean): DataFrame = {
    val nNodes = g.n.toDouble
    val teleport = (1.0 - damping) / nNodes
    val withIn = withInMass(g, ranks, col("rank") / col("deg"))
    if (!redistributeDangling) {
      withIn.select(col("node"),
        (lit(teleport) + lit(damping) * coalesce(col("in_mass"), lit(0.0)))
          .as("rank"), col("deg"))
    } else {
      withIn.crossJoin(danglingMass(ranks))
        .select(col("node"),
          (lit(teleport) + lit(damping) *
            (coalesce(col("in_mass"), lit(0.0)) + col("d_mass") / lit(nNodes)))
            .as("rank"), col("deg"))
    }
  }

  /** The rank state with this round's `in_mass` beside it: Σ `term` over
    * each node's in-edges, `term` reading the source's state columns.
    * Only non-dangling rows meet the edges; they are node-sized, so they
    * broadcast and the edge side is never shuffled. */
  private def withInMass(g: Graph, ranks: DataFrame, term: Column)
      : DataFrame = {
    val contribs = g.edges
      .join(ranks.where(col("deg") > 0).withColumnRenamed("node", "src"),
        "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(term).as("in_mass"))
    ranks.join(contribs, Seq("node"), "left")
  }

  /** The round's rank mass on dangling (`deg = 0`) nodes: one row,
    * broadcast so the update stays one distributed expression. */
  private def danglingMass(ranks: DataFrame): DataFrame =
    broadcast(ranks.where(col("deg") === 0)
      .agg(coalesce(sum(col("rank")), lit(0.0)).as("d_mass")))

  /** WEIGHTED PageRank: a node's rank splits over its out-edges in
    * proportion to edge weight (contribution = rank * w / weighted
    * out-degree) instead of uniformly — the standard variant for
    * affinity/traffic graphs. Identical round shape to [[run]]'s
    * simplified formulation: the weighted degree rides on the rank
    * state (computed once), each round is one partial-agg contribution
    * shuffle + the join back onto the state. Rank sums are
    * floating-point order-dependent; callers round (the oracle rounds to
    * 6, like the other PageRank rows).
    *
    * @param edges (src, dst, w) with positive weights */
  def weighted(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", weightCol: String = "w",
               iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = graph(edges, srcCol, dstCol, weightCol = Some(weightCol))
    val nNodes = g.n.toDouble
    val teleport = (1.0 - damping) / nNodes
    val ranks = iterate(
      g.nodes.select($"node", lit(1.0 / nNodes).as("rank"), $"deg", $"wdeg"),
      g.nodesRdd, iterations) { ranks =>
      withInMass(g, ranks, $"rank" * $"w" / $"wdeg")
        .select($"node",
          (lit(teleport) + lit(damping) * coalesce($"in_mass", lit(0.0)))
            .as("rank"), $"deg", $"wdeg")
    }
    g.edgesRdd.unpersist(false)
    ranks.select($"node", $"rank")
  }

  /** Personalized PageRank: the teleport (and dangling) mass restarts
    * at the SEED set — uniformly over seeds — instead of over all
    * nodes, turning rank into proximity-to-seeds (the recommendation /
    * similarity primitive). Same round shape as [[run]]: contribution
    * scatter + partial-agg sum, one 1-row dangling aggregate broadcast
    * per round; the restart vector rides as a 0/1 flag `s` on the rank
    * state so no per-round join against the seed list. Dangling mass
    * returns to the seeds, so total mass stays exactly 1.
    *
    * @param seeds DataFrame with a `node` column; seeds outside the
    *              graph's node set are ignored (at least one must be
    *              inside). */
  def personalized(edges: DataFrame, seeds: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   iterations: Int = 5, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    import spark.implicits._
    val g = graph(edges, srcCol, dstCol, seeds = Some(seeds))
    if (g.n == 0) {
      // empty edge set -> no nodes at all: the rank table is empty (the
      // same answer the SQL formulation gives), not an error
      g.edgesRdd.unpersist(false)
      g.nodesRdd.unpersist(false)
      return g.nodes.select($"node", $"s".as("rank"))
    }
    val nSeeds = g.nodes.agg(sum($"s")).head.getDouble(0)
    require(nSeeds > 0, "no seed is present in the graph")
    val ranks = iterate(
      g.nodes.select($"node", ($"s" / nSeeds).as("rank"), $"deg", $"s"),
      g.nodesRdd, iterations) { ranks =>
      withInMass(g, ranks, $"rank" / $"deg")
        .crossJoin(danglingMass(ranks))
        .select($"node",
          (($"s" / nSeeds) * (lit(1.0 - damping) + lit(damping) * $"d_mass")
            + lit(damping) * coalesce($"in_mass", lit(0.0))).as("rank"),
          $"deg", $"s")
    }
    g.edgesRdd.unpersist(false)
    ranks.select($"node", $"rank")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 46(5) 1999): mutual
    * reinforcement over a DIRECTED graph — a round updates authority
    * scores from in-neighbor hub scores, L1-normalizes, then hub
    * scores from out-neighbor authority scores, L1-normalizes. A FIXED
    * iteration count keeps the result deterministic (the [[run]]
    * discipline: no float convergence epsilon), and L1 normalization
    * (divide by the round's score sum) replaces the classic L2 so the
    * oracle's unrolled SQL composes the identical IEEE expression
    * shapes with no sqrt.
    *
    * Round shape: two contribution scatters (shuffle on dst, then on
    * src — both partial-agg) and two 1-row normalizer aggregates that
    * enter by broadcast cross join; state is (node, hub, auth), tiny
    * relative to edges, checkpointed per round so lineage stays flat.
    * Nodes with no in-edges have authority 0; no out-edges, hub 0.
    *
    * @return DataFrame(node, hub, auth) for every node in src ∪ dst. */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
           iterations: Int = 5): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    import spark.implicits._
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val (nodes, nodesRdd) = CheckpointOps.checkpoint(
      e.select($"src".as("node")).union(e.select($"dst".as("node"))).distinct())
    var (state, stateRdd) = CheckpointOps.checkpoint(
      nodes.select($"node", lit(1.0).as("hub"), lit(0.0).as("auth")))
    var iter = 0
    while (iter < iterations) {
      // each scatter result feeds multiple consumers (its normalizer
      // aggregate, the node join, and — for auths — the hub scatter AND
      // the final zip); without persists every consumer re-runs the
      // edge-sized join, ~6 edge scatters per round instead of 2
      // (measured 6.9 s -> 2.9 s at sf0.1). The persisted frames are
      // node-sized; all are dropped once the round's checkpoint has
      // materialized.
      val authRaw = e.join(state.select($"node".as("src"), $"hub"), "src")
        .groupBy($"dst".as("node")).agg(sum($"hub").as("raw"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val authNorm = authRaw.agg(sum($"raw").as("s"))
      val auths = nodes.join(authRaw, Seq("node"), "left")
        .crossJoin(broadcast(authNorm))
        .select($"node", (coalesce($"raw", lit(0.0)) / $"s").as("auth"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hubRaw = e.join(auths.select($"node".as("dst"), $"auth"), "dst")
        .groupBy($"src".as("node")).agg(sum($"auth").as("raw"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val hubNorm = hubRaw.agg(sum($"raw").as("s"))
      val next = nodes
        .join(hubRaw, Seq("node"), "left")
        .crossJoin(broadcast(hubNorm))
        .select($"node", (coalesce($"raw", lit(0.0)) / $"s").as("hub"))
        .join(auths, Seq("node"))
        .select($"node", $"hub", $"auth")
      val (nextFlat, nextRdd) = CheckpointOps.checkpoint(next)
      authRaw.unpersist(false)
      auths.unpersist(false)
      hubRaw.unpersist(false)
      stateRdd.unpersist(false)
      state = nextFlat
      stateRdd = nextRdd
      iter += 1
    }
    eRdd.unpersist(false)
    nodesRdd.unpersist(false)
    state
  }

  /** The wedge set of the DEGREE-oriented graph: every undirected edge
    * {u,v} (directions/dups collapsed, self-loops dropped) is directed
    * from the (degree, id)-smaller endpoint to the larger, and a wedge is
    * a pair of out-edges (ctr->x, ctr->y) with x before y in the same
    * order. Low-degree-first orientation is what bounds the wedge count
    * by O(m^1.5) on skewed graphs — a hub of degree d under id
    * orientation can center Θ(d²) wedges, but under degree orientation
    * its out-degree (and every node's) is at most O(sqrt(m)).
    * Exposed for the skew spec; [[closedWedges]] closes these. */
  /** Canonical undirected simple edges: {a < b}, dups/self-loops gone. */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame = {
    import edges.sparkSession.implicits._
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where($"a" =!= $"b").distinct()
  }

  private def wedgesOf(und: DataFrame): DataFrame = {
    import und.sparkSession.implicits._
    val deg = und.select($"a".as("n")).union(und.select($"b".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select($"n".as("a"), $"d".as("da")), "a")
      .join(deg.select($"n".as("b"), $"d".as("db")), "b")
    // orient low (degree, id) -> high; carry the head's order key so the
    // wedge pairing below needs no extra degree join
    val loFirst = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    val oriented = withDeg.select(
      when(loFirst, $"a").otherwise($"b").as("u"),
      when(loFirst, $"b").otherwise($"a").as("v"),
      when(loFirst, $"db").otherwise($"da").as("dv"))
    oriented.as("o1")
      .join(oriented.as("o2"), col("o1.u") === col("o2.u"))
      .where(col("o1.dv") < col("o2.dv") ||
        (col("o1.dv") === col("o2.dv") && col("o1.v") < col("o2.v")))
      .select(col("o1.u").as("ctr"), col("o1.v").as("x"),
        col("o2.v").as("y"))
  }

  def orientedWedges(edges: DataFrame, srcCol: String = "src",
                     dstCol: String = "dst"): DataFrame =
    wedgesOf(undirected(edges, srcCol, dstCol))

  /** Exact global triangle enumeration over an UNDIRECTED edge set: the
    * oriented two-join formulation — each triangle appears exactly once
    * as a wedge at its (degree, id)-smallest vertex, closed by the
    * oriented edge between the other two. Two shuffle equi-joins; with
    * the low-degree-first orientation of [[orientedWedges]] no row set
    * ever exceeds O(m^1.5) even on hub-skewed graphs. Rows are returned
    * id-sorted (a < b < c) regardless of degree order. */
  def closedWedges(edges: DataFrame, srcCol: String = "src",
                   dstCol: String = "dst"): DataFrame = {
    import edges.sparkSession.implicits._
    val und = undirected(edges, srcCol, dstCol)
    // wedge legs (x, y) are (degree, id)-ordered; the closing edge is
    // stored id-canonical, so the semi-join canonicalizes the pair
    wedgesOf(und)
      .join(und, least($"x", $"y") === und("a") &&
        greatest($"x", $"y") === und("b"), "left_semi")
      .select(array_sort(array($"ctr", $"x", $"y")).as("t"))
      .select($"t".getItem(0).as("a"), $"t".getItem(1).as("b"),
        $"t".getItem(2).as("c"))
  }

  def triangleCount(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): Long =
    closedWedges(edges, srcCol, dstCol).count()

  /** SYNCHRONOUS label propagation (community detection) for a fixed
    * iteration count: every node starts as its own label; each round
    * every node adopts the most frequent label among its neighbors,
    * ties broken toward the SMALLEST label — fully deterministic (the
    * async/random-order variants of LPA are not reproducible, and a
    * fixed round count sidesteps the oscillation non-termination of
    * synchronous LPA on bipartite structures).
    *
    * Per round: one (node, label) count shuffle + one argmax partial
    * agg (`max(struct(count, -label))` — map-side combinable, no
    * window). State is (node, label) only, on the CheckpointOps round
    * machinery like [[run]].
    *
    * @param edges treated as directed influence dst <- src; pass a
    *              symmetrized list for the usual undirected semantics */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst",
                       iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "need at least one iteration")
    val spark = edges.sparkSession
    import spark.implicits._
    // edge frame materialized once for the node init + every round
    // (the HyperBallState.init rationale); labels are checkpoint-
    // backed, so the edge blocks free when the loop ends
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    val (nodes, nodesRdd) = CheckpointOps.checkpoint(
      e.select($"src".as("node")).union(e.select($"dst".as("node"))).distinct())
    var (labels, labelsRdd) = CheckpointOps.checkpoint(
      nodes.select($"node", $"node".as("label")))
    var iter = 0
    while (iter < iterations) {
      val counts = e
        .join(labels.select($"node".as("src"), $"label"), "src")
        .groupBy($"dst", $"label").agg(count(lit(1)).as("c"))
      // argmax(count) with min-label tiebreak, as one partial agg:
      // max over (c, -label) picks the largest count, then the most
      // negative -label = smallest label
      val next = counts
        .groupBy($"dst".as("node"))
        .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
        .select($"node", (-$"m.nl").as("label"))
      val (nextFlat, nextRdd) = CheckpointOps.checkpoint(
        nodes.join(next, Seq("node"), "left") // isolated dsts keep a row
          .select($"node", coalesce($"label", $"node").as("label")))
      labelsRdd.unpersist(false)
      labels = nextFlat
      labelsRdd = nextRdd
      iter += 1
    }
    eRdd.unpersist(false)
    nodesRdd.unpersist(false)
    labels
  }

  /** Multi-source BFS shortest hop distances, bounded at `maxHops`
    * rounds: the frontier pattern — each round joins ONLY the nodes
    * first reached in the previous round against the edge list, then
    * min-merges into the distance state. Two shuffles per round (edge
    * join + min agg) on the [[org.apache.spark.sql.graft.CheckpointOps]]
    * round machinery; state is (node, dist) only, and the per-round join
    * input shrinks to the frontier, not the whole reached set.
    *
    * Directed along src->dst; pass a symmetrized edge list for
    * undirected distance. Unreached nodes are absent from the output
    * (callers left-join if they want nulls).
    *
    * @param sources DataFrame with a `node` column (distance-0 seeds) */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   srcCol: String = "src", dstCol: String = "dst",
                   maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    // edge frame materialized once for the maxHops frontier joins (the
    // HyperBallState.init rationale); the returned distances are
    // checkpoint-backed, so the edge blocks free on exit
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    var (dist, distRdd) = CheckpointOps.checkpoint(
      sources.select($"node").distinct().select($"node", lit(0).as("dist")))
    var hop = 1
    while (hop <= maxHops) {
      val frontier = dist.where($"dist" === (hop - 1)).select($"node")
      val reached = e.join(frontier.select($"node".as("src")), "src")
        .select($"dst".as("node"), lit(hop).as("dist"))
      val next = dist.union(reached)
        .groupBy($"node").agg(min($"dist").as("dist"))
      val (nextFlat, nextRdd) = CheckpointOps.checkpoint(next)
      distRdd.unpersist(false)
      dist = nextFlat
      distRdd = nextRdd
      hop += 1
    }
    eRdd.unpersist(false)
    dist
  }

  /** Bounded k-core peeling: `rounds` SYNCHRONOUS rounds of deleting
    * every node whose degree in the surviving subgraph is < k; the
    * fixpoint of this process is the exact k-core, and the bounded
    * version is deterministic at any round count (synchronous removal
    * has no peel-order dependence, unlike sequential peeling). Returns
    * the surviving nodes with their within-subgraph degree.
    *
    * Per round: one partial-agg degree count + two semi-joins keeping
    * only edges whose BOTH endpoints survive. The edge set shrinks
    * monotonically, so per-round cost decays; state is the edge list
    * itself on the CheckpointOps round machinery.
    *
    * @param edges symmetrized, duplicate-free undirected edge list
    *              (each arc once per direction) — degree = out-degree */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int,
                srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    var (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    var round = 0
    while (round < rounds) {
      val keep = e.groupBy($"src").agg(count(lit(1)).as("deg"))
        .where($"deg" >= k).select($"src".as("node"))
      val (e2, e2Rdd) = CheckpointOps.checkpoint(
        e.join(keep.select($"node".as("src")), Seq("src"), "left_semi")
          .join(keep.select($"node".as("dst")), Seq("dst"), "left_semi")
          .select($"src", $"dst"))
      eRdd.unpersist(false)
      e = e2
      eRdd = e2Rdd
      round += 1
    }
    e.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
  }

  /** Bounded-round single/multi-source shortest paths over WEIGHTED edges
    * (integer weights — FP min-merge would be engine-dependent at ties):
    * frontier-relaxation Bellman-Ford. Round r relaxes only the out-edges
    * of nodes whose distance improved in round r-1, then min-merges into
    * the distance state; after `maxRounds` rounds the state holds the
    * exact minimum weight over all paths of at most `maxRounds` edges
    * (any ≤r-edge path's prefix value settled by round r-1 and its
    * improvement round triggered the extension's relaxation — frontier
    * pruning drops only relaxations that cannot improve anything).
    *
    * Per round: one shuffle on dst (map-side partial min) + one
    * full-outer min-merge join on the (node, dist) state — the same
    * frontier discipline as [[bfsDistances]] with weights replacing hop
    * counts, on the CheckpointOps round machinery. Unreached nodes are
    * absent from the output.
    *
    * @param edges   (src, dst, w) with non-negative integral w
    * @param sources DataFrame with a `node` column (distance-0 seeds) */
  def shortestPaths(edges: DataFrame, sources: DataFrame,
                    srcCol: String = "src", dstCol: String = "dst",
                    weightCol: String = "w", maxRounds: Int = 3): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be non-negative")
    val spark = edges.sparkSession
    import spark.implicits._
    // edge frame materialized once for the maxRounds relaxations (the
    // HyperBallState.init rationale); distances are checkpoint-backed
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w")))
    var (dist, distRdd) = CheckpointOps.checkpoint(
      sources.select($"node").distinct()
        .select($"node", lit(0L).as("dist")))
    var frontier = dist
    var round = 1
    while (round <= maxRounds) {
      val relax = e
        .join(frontier.select($"node".as("src"), $"dist"), "src")
        .select($"dst".as("node"), ($"dist" + $"w").as("cand"))
        .groupBy($"node").agg(min($"cand").as("cand"))
      // full-outer min-merge: keep the improved flag so the next round
      // relaxes only nodes this round actually changed
      val (merged, mergedRdd) = CheckpointOps.checkpoint(
        dist.join(relax, Seq("node"), "full_outer")
          .select($"node",
            least(coalesce($"dist", $"cand"), coalesce($"cand", $"dist"))
              .as("dist"),
            ($"cand".isNotNull && ($"dist".isNull || $"cand" < $"dist"))
              .as("improved")))
      distRdd.unpersist(false)
      dist = merged.select($"node", $"dist")
      frontier = merged.where($"improved").select($"node", $"dist")
      distRdd = mergedRdd
      round += 1
    }
    eRdd.unpersist(false)
    dist
  }

  /** EXACT bounded-radius harmonic centrality: for every node v with at
    * least one out-edge, `harmonic(v) = Σ_{u: 1 ≤ d(u,v) ≤ maxHops}
    * 1/d(u,v)` (Boldi & Vigna, "Axioms for centrality", Internet Math.
    * 2014 — harmonic is their recommended geometric centrality because
    * it handles unreachable pairs without a convention). Pass a
    * symmetrized edge list for the undirected form.
    *
    * Plan shape: PAIR-state multi-source BFS — state (src, node, dist)
    * seeded with every node at distance 0 from itself, one frontier
    * edge-join + one (src, node) min-merge per round, then a single
    * per-node aggregation folding the distance histogram into
    * `c1/1 + c2/2 + … + cH/H` (counts divided term-by-term in fixed
    * order, so the double result is an order-proof function of the
    * graph). State is Σ_v |B_maxHops(v)| pair rows — QUADRATIC in the
    * worst case, which is exactly why this is the small-graph
    * cross-check: the 100 TB path is [[HyperBall.hyperBallPacked]],
    * whose register state is a fixed m slots per node, and whose
    * estimate this row's exact values calibrate (the
    * dd_blocking_quality exact/sampled pairing, applied to
    * centrality). */
  def harmonicExact(edges: DataFrame, maxHops: Int = 3,
                    srcCol: String = "src", dstCol: String = "dst",
                    stateBudgetRows: Long = defaultStateBudgetRows)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val state = pairHopDistances(edges, maxHops, srcCol, dstCol,
      stateBudgetRows)
    val terms = (1 to maxHops).map(h =>
      sum(when($"dist" === h, 1L).otherwise(0L)) / lit(h.toDouble))
    state.where($"dist" >= 1)
      .groupBy($"node")
      .agg(terms.reduce(_ + _).as("harmonic"))
  }

  /** Bounded-radius CLOSENESS centrality off the same pair-state BFS:
    * `closeness(v) = r / Σd` over the nodes u with 1 ≤ d(u,v) ≤
    * maxHops (r = their count, Σd = the sum of their distances) — the
    * truncated form of classic closeness, which needs a reachability
    * convention on disconnected graphs; harmonic ([[harmonicExact]])
    * avoids that by construction, which is why Boldi & Vigna prefer it,
    * but closeness completes the textbook family and both fall out of
    * ONE distance-histogram aggregation. Integer count and sum, one
    * division per node — order-proof. */
  def closenessExact(edges: DataFrame, maxHops: Int = 3,
                     srcCol: String = "src", dstCol: String = "dst",
                     stateBudgetRows: Long = defaultStateBudgetRows)
      : DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    pairHopDistances(edges, maxHops, srcCol, dstCol, stateBudgetRows)
      .where($"dist" >= 1)
      .groupBy($"node")
      .agg((count(lit(1)).cast("double") / sum($"dist"))
        .as("closeness"))
  }

  /** The shared pair-state BFS under [[harmonicExact]] /
    * [[closenessExact]]: (src, node, dist) for every ordered pair
    * within `maxHops`, min-merged per round on the CheckpointOps round
    * machinery. Quadratic state by nature — the exact cross-check leg;
    * [[HyperBall.hyperBallPacked]] is the sketch-state scale path. */
  private def pairHopDistances(edges: DataFrame, maxHops: Int,
                               srcCol: String, dstCol: String,
                               stateBudgetRows: Long): DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    require(stateBudgetRows >= 1, "state budget must be positive")
    val spark = edges.sparkSession
    import spark.implicits._
    // edge frame materialized once for the seed + every BFS round (the
    // HyperBallState.init rationale); the returned state is a union
    // of checkpointed pair frames, so the edge blocks free on exit —
    // including the budget-trip error path (finally)
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst")))
    // FRONTIER-frame accumulation: each round materializes only the
    // newly-reached (src, node) pairs (first reach == min dist on an
    // unweighted graph); the cumulative state is the lazy union of the
    // per-round frames. Total writes are Σ|B_maxHops| rows ONCE — the
    // earlier cumulative re-checkpoint rewrote the whole state every
    // round (O(maxHops · state) write amplification, the dominant cost
    // of the exact legs at sf1).
    val (seed, seedRdd, seedRows) = CheckpointOps.checkpointCount(
      e.select($"esrc".as("src")).distinct()
        .select($"src", $"src".as("node"), lit(0).as("dist")))
    var frameRdds = Vector[RDD[InternalRow]](seedRdd)
    var total = seedRows
    checkBudget(0, total, stateBudgetRows, frameRdds)
    var state = seed
    var frontier = seed
    var hop = 1
    try {
      while (hop <= maxHops && total > 0) {
        val step = e.join(frontier.select($"src", $"node".as("esrc")), "esrc")
          .select($"src", $"edst".as("node")).distinct()
        val (fresh, freshRdd, n) = CheckpointOps.checkpointCount(
          step.join(state.select($"src", $"node"), Seq("src", "node"),
              "left_anti")
            .select($"src", $"node", lit(hop).as("dist")))
        frameRdds :+= freshRdd
        total += n
        checkBudget(hop, total, stateBudgetRows, frameRdds)
        if (n == 0) {
          // BFS exhausted early — no pair can appear at a later hop
          freshRdd.unpersist(false)
          hop = maxHops
        } else {
          state = state.union(fresh)
          frontier = fresh
        }
        hop += 1
      }
    } finally eRdd.unpersist(false)
    state
  }

  /** The budget trip shared by [[pairHopDistances]] and
    * [[betweennessBounded]]'s forward pass: frees every materialized
    * frame (nothing downstream will consume them) and raises the named
    * error. Checked AFTER each round lands — the count is the free
    * byproduct of the round's own materialization
    * ([[CheckpointOps.checkpointCount]]), so the guard costs zero jobs;
    * the round that crosses the line is the last one paid for. `rows`
    * is the CUMULATIVE pair state across frames. */
  private def checkBudget(round: Int, rows: Long, budget: Long,
                          rdds: Seq[RDD[InternalRow]]): Unit =
    if (rows > budget) {
      rdds.foreach(_.unpersist(false))
      throw new CentralityStateBudgetExceeded(round, rows, budget,
        "use the sketch-state scale path (HyperBall.hyperBallPacked / " +
          "hyperBallCloseness) or shrink maxHops / the source sample.")
    }

  /** [[HyperBall.hyperBallNeighborhood]] under its earlier name: the
    * benchmark's stream_ingest check (perfbench `StreamIngest`) calls
    * it here, so this forwarder stays while that caller does. */
  def hyperBallNeighborhood(edges: DataFrame, maxHops: Int = 3,
                            p: Int = 6): DataFrame =
    HyperBall.hyperBallNeighborhood(edges, maxHops, p)

  /** Bounded-radius, sampled-source betweenness centrality (Brandes,
    * "A faster algorithm for betweenness centrality", J. Math. Sociol.
    * 2001, with the two standard scale reductions: a SOURCE SAMPLE
    * instead of all sources — Brandes & Pich 2007 — and shortest paths
    * truncated at `maxHops`). For each source s the forward pass is a
    * pair-state BFS carrying σ(s,v) = the number of shortest s→v paths
    * (integer-exact: new nodes at round h sum their round-(h−1)
    * predecessors' σ); the backward pass unrolls the dependency
    * accumulation level by level, δ(v) = Σ_{w ∈ succ(v)}
    * (σv/σw)·(1+δw), and bc(v) = Σ_s δ_s(v).
    *
    * Plan shape: maxHops keyed edge-join + partial-agg rounds forward,
    * maxHops−1 level joins backward — no cartesian, no window; state is
    * (source, node) pairs bounded by the sampled sources' ball mass
    * (the sample size is the cost dial, exactly why Brandes-Pich sample
    * sources at scale). All arithmetic before the final δ sums is
    * integer; δ terms are composed in the fixed shape
    * (σv/σw)·(1+δw) so the oracle replays them operation for
    * operation.
    *
    * @param sources DataFrame with a `node` column (the source sample)
    * @return (node, bc) for every node within maxHops of a source,
    *         sources included (a source scores 0 unless it lies on
    *         another source's shortest paths) */
  def betweennessBounded(edges: DataFrame, sources: DataFrame,
                         maxHops: Int = 3, srcCol: String = "src",
                         dstCol: String = "dst",
                         stateBudgetRows: Long = defaultStateBudgetRows)
      : DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    require(stateBudgetRows >= 1, "state budget must be positive")
    val spark = edges.sparkSession
    import spark.implicits._
    // edge frame materialized once — both passes consume it every level
    // (2·maxHops−1 joins), and an un-materialized spatial-join edge plan
    // re-executes per consumer; freed on exit including the budget trip
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst")))
    try {
    // forward pass as HOP-INDEXED frontier frames (the pairHopDistances
    // discipline): round h materializes only the pairs first reached at
    // h with their σ — Σ ball-mass rows written ONCE instead of a
    // cumulative state rewritten every round — and the backward pass
    // reads each level's frame directly instead of filtering the full
    // union per level.
    val (seed, seedRdd, seedRows) = CheckpointOps.checkpointCount(
      sources.select($"node").distinct()
        .select($"node".as("s"), $"node", lit(1L).as("sigma")))
    var frames = Vector(seed)
    var frameRdds = Vector[RDD[InternalRow]](seedRdd)
    var total = seedRows
    checkBudget(0, total, stateBudgetRows, frameRdds)
    var seen = seed.select($"s", $"node")
    var hop = 1
    while (hop <= maxHops) {
      val frontier = frames(hop - 1)
        .select($"s", $"node".as("esrc"), $"sigma")
      // σ of a node first reached at round h = Σ σ over its dist-(h−1)
      // predecessors (all final by round h−1) — integer-exact
      val cand = e.join(frontier, "esrc")
        .groupBy($"s", $"edst".as("node"))
        .agg(sum($"sigma").as("sigma"))
      val (fresh, freshRdd, n) = CheckpointOps.checkpointCount(
        cand.join(seen, Seq("s", "node"), "left_anti"))
      frames :+= fresh
      frameRdds :+= freshRdd
      total += n
      checkBudget(hop, total, stateBudgetRows, frameRdds)
      seen = seen.union(fresh.select($"s", $"node"))
      hop += 1
    }
    // backward: δ at the radius boundary is 0; each level pulls from the
    // one below through the edges that realize the shortest paths. The
    // per-level δ frames all feed the final per-node sum, so instead of
    // pinning every level until the end, a running cumulative union is
    // re-checkpointed per level and the superseded accumulator + the
    // consumed previous level free immediately — peak pinned state is
    // two accumulator copies during the handoff, not maxHops frames.
    var delta = frames(maxHops)
      .select($"s", $"node", lit(0.0).as("delta"))
    var deltaRdd: RDD[InternalRow] = null
    var (accum, accumRdd) = CheckpointOps.checkpoint(delta)
    delta = accum
    var level = maxHops - 1
    while (level >= 1) {
      val v = frames(level)
        .select($"s", $"node", $"sigma")
      val w = frames(level + 1)
        .select($"s".as("ws"), $"node".as("wnode"), $"sigma".as("wsigma"))
        .join(delta.select($"s".as("ws"), $"node".as("wnode"),
          $"delta".as("wdelta")), Seq("ws", "wnode"))
      val contrib = v
        .join(e, $"node" === $"esrc")
        .join(w, $"s" === $"ws" && $"edst" === $"wnode")
      val scored = contrib
        .groupBy($"s", $"node")
        .agg(sum(($"sigma".cast("double") / $"wsigma")
          * (lit(1.0) + $"wdelta")).as("acc"))
      val nextDelta = v.select($"s", $"node")
        .join(scored, Seq("s", "node"), "left_outer")
        .select($"s", $"node", coalesce($"acc", lit(0.0)).as("delta"))
      val (flat, flatRdd) = CheckpointOps.checkpoint(nextDelta)
      val (nextAccum, nextAccumRdd) =
        CheckpointOps.checkpoint(accum.union(flat))
      if (deltaRdd != null) deltaRdd.unpersist(false)
      accumRdd.unpersist(false)
      delta = flat
      deltaRdd = flatRdd
      accum = nextAccum
      accumRdd = nextAccumRdd
      level -= 1 // level 0 (the source itself) never scores, so the
    }            // backward pass stops at level 1
    if (deltaRdd != null) deltaRdd.unpersist(false)
    accum.groupBy($"node").agg(sum($"delta").as("bc"))
    } finally eRdd.unpersist(false)
  }

  /** Common-neighbor link prediction over the undirected graph: for every
    * NON-adjacent pair (x, y) sharing at least `minCommon` neighbors, the
    * three classic scores — common-neighbor count, Jaccard similarity of
    * the two neighbor sets `cn / (deg(x) + deg(y) - cn)`, and Adamic–Adar
    * `Σ_w 1/ln(deg(w))` over the shared neighbors w (Adamic & Adar 2003,
    * "Friends and neighbors on the Web").
    *
    * Plan shape: wedge enumeration — the adjacency list self-joined on
    * the CENTER node, so a center of degree d fans out to d·(d−1)/2
    * candidate pairs. That quadratic-per-hub blow-up is the scale hazard,
    * and `maxCenterDegree` is the standard mitigation: super-hub centers
    * are excluded from wedge generation (their per-neighbor evidence is
    * weakest — an AA weight of 1/ln(d) ≈ 0 — which is exactly why the
    * literature drops them). Jaccard denominators still use the FULL
    * degrees, so the cap only thins the candidate/evidence set, never
    * distorts a surviving pair's denominator. Shuffles: adjacency degree
    * partial-agg, the wedge self-join on the center key, the (x, y)
    * score partial-agg, and two node-sized degree join-backs — all
    * equi-joins AQE can skew-split; nothing is collected to the driver.
    *
    * The cap is never silent: [[linkPredictWithAudit]] returns the pair
    * frame TOGETHER with a 1-row audit frame of the dropped-center count,
    * and [[cappedCenterCount]] computes the same audit standalone. (A
    * `Dataset.observe` metric on the degree frame was tried first — under
    * AQE the CollectMetrics node lands inside materialized query stages
    * and the observed-metrics map comes back empty, so the audit is a
    * regular node-sized aggregate instead.)
    *
    * @return DataFrame(x, y, cn, jaccard, adamic_adar) with x < y. */
  def linkPredict(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst", minCommon: Int = 2,
                  maxCenterDegree: Int = 10000): DataFrame = {
    require(minCommon >= 1, "minCommon must be >= 1")
    require(maxCenterDegree >= 2, "maxCenterDegree must be >= 2")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, srcCol, dstCol)
    val adj = und.select($"a".as("n"), $"b".as("nbr"))
      .union(und.select($"b".as("n"), $"a".as("nbr")))
    val deg = adj.groupBy($"n").agg(count(lit(1)).as("d"))
    val ctr = adj.join(deg, "n").where($"d" <= maxCenterDegree)
    val wedges = ctr.select($"n", $"nbr".as("x"), $"d")
      .join(ctr.select($"n", $"nbr".as("y")), "n")
      .where($"x" < $"y")
    val scored = wedges.groupBy($"x", $"y")
      .agg(count(lit(1)).as("cn"), sum(lit(1.0) / log($"d")).as("aa"))
      .where($"cn" >= minCommon)
      .join(und, $"x" === $"a" && $"y" === $"b", "left_anti")
    scored
      .join(deg.select($"n".as("x"), $"d".as("dx")), "x")
      .join(deg.select($"n".as("y"), $"d".as("dy")), "y")
      .select($"x", $"y", $"cn",
        (round($"cn" / ($"dx" + $"dy" - $"cn"), 6) + 0.0).as("jaccard"),
        (round($"aa", 6) + 0.0).as("adamic_adar"))
  }

  /** [[linkPredict]] plus its cap audit: the pair frame and a 1-row
    * `(n_capped_centers: long)` frame counting the centers
    * `maxCenterDegree` excluded from wedge generation — materialize both
    * and the cap is accounted for (the repo's "no silent caps" rule).
    * The audit is one node-sized degree aggregate. */
  def linkPredictWithAudit(edges: DataFrame, srcCol: String = "src",
                           dstCol: String = "dst", minCommon: Int = 2,
                           maxCenterDegree: Int = 10000)
      : (DataFrame, DataFrame) =
    (linkPredict(edges, srcCol, dstCol, minCommon, maxCenterDegree),
      cappedCenterCount(edges, srcCol, dstCol, maxCenterDegree))

  /** Direct audit of [[linkPredict]]'s `maxCenterDegree` cap: how many
    * centers were excluded from wedge generation. One node-sized degree
    * aggregate — run it alongside any capped linkPredict (the repo's
    * "no silent caps" rule); 0 means the cap changed nothing.
    *
    * @return 1-row DataFrame(n_capped_centers: long) */
  def cappedCenterCount(edges: DataFrame, srcCol: String = "src",
                        dstCol: String = "dst",
                        maxCenterDegree: Int = 10000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirected(edges, srcCol, dstCol)
    val adj = und.select($"a".as("n")).union(und.select($"b".as("n")))
    adj.groupBy($"n").agg(count(lit(1)).as("d"))
      .agg(sum(when($"d" > maxCenterDegree, 1L).otherwise(0L))
        .as("n_capped_centers"))
  }

  /** Newman modularity per community — the quality metric that makes a
    * community detection result MEASURABLE (the graph-family analog of
    * the retrieval family's evalTopK): for each community c over a
    * bidirectional edge list E, q_c = e_c/|E| − (d_c/|E|)², where e_c
    * counts directed intra-community edges and d_c sums member degrees;
    * Σ q_c is the classic Q in [−1/2, 1). Positive q_c = denser inside
    * than the degree-preserving random expectation.
    *
    * Scale shape: two keyed equi-joins tag edge endpoints with labels
    * (node-sized label frame), degree and intra counts are partial
    * aggregations, |E| is a 1-row broadcast — community-count-sized
    * output, nothing quadratic.
    *
    * @param edges  bidirectional (src, dst) — both directions present,
    *               like [[labelPropagation]]'s input
    * @param labels (node, label) community assignment to score
    * @return (label, n_nodes, intra_edges, degree_sum, q_contrib) with
    *         q_contrib quantized to 1e-6 */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val lab = labels.select($"node", $"label")
    val e = edges.select($"src", $"dst")
    val tot = e.agg(count(lit(1)).cast("double").as("m2"))
    val intra = e
      .join(lab.select($"node".as("src"), $"label".as("src_lab")), "src")
      .join(lab.select($"node".as("dst"), $"label".as("dst_lab")), "dst")
      .where($"src_lab" === $"dst_lab")
      .groupBy($"src_lab".as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = e.groupBy($"src").agg(count(lit(1)).as("d"))
      .join(lab.select($"node".as("src"), $"label"), "src")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("degree_sum"))
    deg.join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(tot))
      .select($"label", $"n_nodes", $"intra_edges", $"degree_sum",
        (floor(($"intra_edges" / $"m2" -
          ($"degree_sum" / $"m2") * ($"degree_sum" / $"m2")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("q_contrib"))
  }

  /** [[modularity]] generalized to INTEGER-WEIGHTED edges with
    * self-loops — the scorer for [[contract]]ed graphs: q_c =
    * w_c/Σw − (D_c/Σw)² with w_c the directed intra weight (a (c, c)
    * self-loop row counts once, carrying the full directed intra sum —
    * the [[contract]] convention) and D_c = Σ src-weighted degrees.
    * Under that convention modularity is INVARIANT under contraction:
    * score a labeling on the original graph or the identity labeling
    * on its contraction, same numbers (spec'd — the invariant that
    * makes multi-level Louvain's per-level gains commensurable). */
  def modularityWeighted(edges: DataFrame, labels: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val lab = labels.select($"node", $"label")
    val e = edges.select($"src", $"dst", $"w")
    val tot = e.agg(sum($"w").cast("double").as("m2"))
    val intra = e
      .join(lab.select($"node".as("src"), $"label".as("src_lab")), "src")
      .join(lab.select($"node".as("dst"), $"label".as("dst_lab")), "dst")
      .where($"src_lab" === $"dst_lab")
      .groupBy($"src_lab".as("label"))
      .agg(sum($"w").as("intra_w"))
    val deg = e.groupBy($"src").agg(sum($"w").as("d"))
      .join(lab.select($"node".as("src"), $"label"), "src")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("degree_sum"))
    deg.join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("intra_w"))
      .crossJoin(broadcast(tot))
      .select($"label", $"n_nodes", $"intra_w", $"degree_sum",
        (floor(($"intra_w" / $"m2" -
          ($"degree_sum" / $"m2") * ($"degree_sum" / $"m2")) * lit(1e6) +
          lit(0.5)) / lit(1e6)).as("q_contrib"))
  }

  /** One synchronized Louvain local-move round (Blondel et al. 2008 —
    * the modularity-ASCENT refinement [[labelPropagation]]'s frequency
    * heuristic lacks): every node simultaneously evaluates moving to
    * each neighbor community against the CURRENT labels and takes the
    * best strictly-positive modularity gain,
    *
    *   ΔQ(i: a→b) = 2(k_ib − k_ia) / m2
    *              − 2·k_i·(D_b − D_a + k_i) / m2²
    *
    * (bidirectional-edge convention shared with [[modularity]]: m2 =
    * directed edge count, D_c = community degree sum, k_ic = i's edges
    * into c). Ties break toward the smallest target label; gain ≤ 0
    * stays. The synchronized round is deterministic and oracle-
    * replayable — iterate to taste, re-scoring with [[modularity]].
    *
    * Scale shape: degree/community frames are node-/community-sized;
    * candidates are edge-sized grouped to (node, neighbor-community);
    * the argmax is a max-of-struct partial aggregation; m2 rides a
    * 1-row broadcast. Nothing quadratic, no window.
    *
    * @return (node, old_label, new_label, gain) — gain quantized 1e-9,
    *         0 for stayers */
  def louvainMoveRound(edges: DataFrame, labels: DataFrame): DataFrame =
    louvainMoveRoundWeighted(
      edges.select(col("src"), col("dst")).withColumn("w", lit(1L)), labels)

  /** [[louvainMoveRound]] generalized to INTEGER-WEIGHTED edges with
    * self-loops — the shape [[contract]]ion produces, where a
    * super-node's self-loop carries its community's directed intra
    * weight and w counts collapsed parallel edges. Same ΔQ with
    * weighted sums (m2 = Σw, k_i = Σ_src w including self-loops,
    * k_ic = Σ w(i→c∖{i})); the self-loop is EXCLUDED from k_ic — it
    * moves with the node and contributes identically to every target,
    * so counting it into k_ia would bias every move against staying.
    * Unweighted w=1 self-loop-free input reproduces
    * [[louvainMoveRound]] exactly (count ≡ sum of ones).
    *
    * @param edges (src, dst, w: long) bidirectional; a self-loop is ONE
    *              (c, c, w) row whose w is the full directed intra sum */
  def louvainMoveRoundWeighted(edges: DataFrame,
                               labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
    // coalesce: sum over an empty edge frame is SQL-NULL; the move
    // frame is empty anyway in that case (every leg joins through e),
    // so 0.0 never reaches a ΔQ division — it only keeps the eager
    // scalar collect from throwing on a degenerate input
    louvainMoveCore(e, labels,
      e.groupBy(col("src").as("node")).agg(sum(col("w")).as("ki")),
      e.agg(coalesce(sum(col("w")), lit(0L)).cast("double"))
        .head().getDouble(0))
  }

  /** [[louvainMoveRoundWeighted]] with the ROUND-INVARIANT inputs
    * factored out: `deg` (per-node weighted degree) and `m2` (the Σw
    * scalar, one collected double — the k-means model-sized-driver-
    * traffic precedent) depend only on the edge frame, so
    * [[fixpointWeighted]] computes them ONCE instead of paying an
    * edge-sized aggregation plus a 1-row broadcast-exchange crossJoin
    * in every round's plan — fixed per-round cost, the dominant term
    * on the community-sized graphs every level after the first runs
    * on. The inlined literal is the identical double the former
    * broadcast carried, so gains are bit-identical. */
  private def louvainMoveCore(e: DataFrame, labels: DataFrame,
                              deg: DataFrame, m2v: Double): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val m2 = lit(m2v)
    val lab = labels.select($"node", $"label")
    val dsum = deg.join(lab, "node").groupBy($"label")
      .agg(sum($"ki").as("dc"))
    val kic = e.where($"src" =!= $"dst")
      .join(lab.select($"node".as("dst"), $"label".as("c")), "dst")
      .groupBy($"src".as("node"), $"c").agg(sum($"w").as("kic"))
    // own community is always a candidate (k_ia may be 0)
    val cands = kic.unionByName(
        lab.select($"node", $"label".as("c")).withColumn("kic", lit(0L)))
      .groupBy($"node", $"c").agg(sum($"kic").as("kic"))
    val own = lab.select($"node", $"label".as("a"))
    val kown = cands.join(own, "node").where($"c" === $"a")
      .select($"node", $"kic".as("kown"))
    // left joins + zero-fills: an edgeless labeled node has no degree
    // row and its singleton community no degree sum — it must come BACK
    // (own community, gain 0), never silently vanish; the gain branch
    // only evaluates for nodes with a neighbor (c != a), so the zero
    // fills never reach a division
    val full = cands.join(own, "node").join(deg, Seq("node"), "left")
      .na.fill(0L, Seq("ki"))
      .join(dsum.select($"label".as("c"), $"dc".as("dtc")),
        Seq("c"), "left")
      .join(dsum.select($"label".as("a"), $"dc".as("dac")),
        Seq("a"), "left")
      .na.fill(0L, Seq("dtc", "dac"))
      .join(kown, "node")
    val gain = when($"c" === $"a", lit(0.0)).otherwise(
      lit(2.0) * ($"kic" - $"kown") / m2 -
        lit(2.0) * $"ki" * ($"dtc" - $"dac" + $"ki") / (m2 * m2))
    full.select($"node", $"a", $"c", gain.as("g"))
      .groupBy($"node", $"a")
      .agg(max(struct($"g", (-$"c").as("negc"))).as("m"))
      .select($"node", $"a".as("old_label"),
        when($"m.g" > 0, -$"m.negc").otherwise($"a").cast("long")
          .as("new_label"),
        (when($"m.g" > 0, floor($"m.g" * 1e9 + 0.5) / 1e9)
          .otherwise(lit(0.0)) + 0.0).as("gain"))
  }

  /** [[louvainMoveRound]] iterated to a fixpoint (or `maxRounds`) under
    * the CC loop discipline: edges pinned once across rounds, each
    * round's labels materialized with capped stats, the previous
    * round's blocks released. Rounds are MOVE-GATED (see
    * [[fixpointWeighted]]): round r applies only the md5(node:r)-coin
    * half's moves, so symmetric structures converge instead of
    * oscillating; stop = a round where no node even wants to move.
    * Each gated round is deterministic, so the whole loop is replayable
    * round by round. */
  def louvain(edges: DataFrame, labels0: DataFrame,
              maxRounds: Int = 10): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = CacheScope.pin(edges.select(col("src"), col("dst"))
      .withColumn("w", lit(1L)))
    val (lab, _, _) = fixpointWeighted(e, labels0, maxRounds)
    e.unpersist(false) // lab is checkpoint-backed; the edge pin is dead
    lab
  }

  /** [[louvainMoveRoundWeighted]] iterated to a fixpoint (or
    * `maxRounds`) over an already-materialized weighted edge frame —
    * the [[org.apache.spark.sql.graft.CheckpointOps]] loop discipline:
    * each round materializes through checkpointDiff (stats CAPPED —
    * `Dataset.localCheckpoint` carries origin stats forward, and a
    * per-round join tree over last round's checkpoint compounds
    * sizeInBytes DOUBLE-exponentially until stats estimation spends
    * minutes multiplying million-digit BigInts; measured as rounds
    * 3/4/5 taking 48 s/96 s/8 min on a 12-node graph), the move count
    * fused into the same pass (no second convergence-probe job), the
    * previous round's blocks released the moment the next lands.
    *
    * MOVE GATING: round r applies only the moves of nodes with
    * md5(node:r) % 2 == 0 — the distributed-Louvain coloring trick
    * with a ROUND-VARYING coin. Fully synchronized rounds OSCILLATE on
    * symmetric structures (two mutually-best communities adopt each
    * other's label forever and never merge); a static per-node parity
    * breaks only cross-parity pairs, while the round-varying hash
    * splits any given mutual pair in each round with probability 1/2
    * independently — so a pair survives r rounds ungated only with
    * probability 2^-r (overwhelmingly likely to merge well within the
    * budget, though a pair sharing coin parity through every budgeted
    * round is possible; the oracle replays the same gating, so results
    * stay exact either way). Note this gating makes louvain()'s public
    * round semantics GATED, not the fully-synchronized label update of
    * the classic description. Stopping reads
    * the UNGATED decision: a round where no node even WANTS to move
    * (pending == 0) is a true fixpoint regardless of gating, so unrolled
    * replays of further rounds are provable no-ops. Deterministic end
    * to end (seeded md5), oracle-replayable round by round.
    *
    * @return (labels, blocks-handle, settled) — settled means the last
    *         round had zero PENDING moves (a real fixpoint), not just
    *         the round budget running out */
  private def fixpointWeighted(e: DataFrame, labels0: DataFrame,
      maxRounds: Int): (DataFrame, RDD[InternalRow], Boolean) = {
    var (lab, labRdd) = CheckpointOps.checkpoint(
      labels0.select(col("node"), col("label")))
    // round-invariant inputs computed ONCE: the per-node weighted
    // degree (pinned) and the Σw scalar (collected — 1 double), where
    // before every round's plan re-paid an edge-sized aggregation AND
    // a 1-row broadcast-exchange crossJoin. sum over an EMPTY edge
    // frame is SQL-NULL, so the read is coalesced; an empty (or
    // all-zero-weight) graph is a trivially converged partition —
    // every label is already a fixpoint, and at scale per-scope empty
    // graphs WILL occur — so return labels0 settled instead of
    // entering rounds whose ΔQ would divide by zero.
    val m2v = e.agg(coalesce(sum(col("w")), lit(0L)).cast("double"))
      .head().getDouble(0)
    if (m2v == 0.0) return (lab, labRdd, true)
    val deg = CacheScope.pin(
      e.groupBy(col("src").as("node")).agg(sum(col("w")).as("ki")))
    var rounds = 0
    var pending = 1L
    while (rounds < maxRounds && pending > 0) {
      val r = rounds + 1
      val gate = pmod(Dedup.md5Hash32(
        concat(col("node").cast("string"), lit(s":$r")), lit(0)),
        lit(2L)) === 0
      // columns (node, old_label, want, new_label): the 1-vs-2 diff
      // counts nodes that WANT to move (pre-gate), accumulated during
      // the same materialization pass — zero proves the fixpoint
      val (step, stepRdd, diff) = CheckpointOps.checkpointDiff(
        louvainMoveCore(e, lab, deg, m2v)
          .select(col("node"), col("old_label"),
            col("new_label").as("want"),
            when(gate, col("new_label")).otherwise(col("old_label"))
              .as("new_label")), 1, 2)
      pending = diff
      lab = step.select(col("node"), col("new_label").as("label"))
      labRdd.unpersist(false)
      labRdd = stepRdd
      rounds += 1
    }
    deg.unpersist(false)
    (lab, labRdd, pending == 0)
  }

  /** Community contraction (Blondel phase 2): collapse each community
    * to a super-node, parallel edges summed, the full directed INTRA
    * weight landing on ONE (c, c, w) self-loop row — so the contracted
    * graph's weighted degrees equal its communities' summed member
    * degrees and Σw is preserved, which keeps [[modularity]] of a
    * labeling on the contracted graph equal to the unfolded labeling's
    * on the original. Community-count-sized output; one keyed agg. */
  def contract(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("node").as("src"), col("label").as("ca")),
        "src")
      .join(labels.select(col("node").as("dst"), col("label").as("cb")),
        "dst")
      .groupBy(col("ca").as("src"), col("cb").as("dst"))
      .agg(sum(col("w")).as("w"))

  /** Multi-level Louvain (Blondel et al. 2008, both phases): local-move
    * rounds to a fixpoint, then CONTRACT communities to super-nodes and
    * repeat on the coarsened graph, composing the level mappings back
    * down — the step single-level local moves lack, without which
    * hierarchical graphs under-merge (a community of communities is
    * invisible until its members are single nodes).
    *
    * Replayability contract (the unrolled-CTE oracle depends on it):
    * the loop runs exactly `maxLevels` levels of `maxRounds` rounds
    * unless a level ends in a PROVABLE no-op state — its final round
    * moved nothing AND contraction merged nothing — in which case every
    * further level is an isomorphic no-move replay and early exit
    * returns the same labeling the full unroll would.
    *
    * Scale shape: level 0 runs on the edge-sized graph; every later
    * level runs on a community-sized contraction (typically orders of
    * magnitude smaller). Mapping composition is a node-sized keyed
    * join per level. Same checkpoint lifecycle as [[louvain]].
    *
    * @return (node, label) — original nodes, final-level communities */
  def louvainMulti(edges: DataFrame, labels0: DataFrame,
                   maxRounds: Int = 10, maxLevels: Int = 3): DataFrame =
    louvainMultiWeighted(
      edges.select(col("src"), col("dst")).withColumn("w", lit(1L)),
      labels0, maxRounds, maxLevels)

  /** [[louvainMulti]] over an INTEGER-WEIGHTED input graph (src, dst,
    * w) — affinity/co-occurrence graphs where edge multiplicity IS the
    * signal; level 0 already runs the weighted ΔQ, so the only change
    * is that the input's own weights seed the level-0 graph instead of
    * w = 1. Same gating, contraction, and replayability contracts. */
  def louvainMultiWeighted(edges: DataFrame, labels0: DataFrame,
                           maxRounds: Int = 10,
                           maxLevels: Int = 3): DataFrame = {
    require(maxRounds >= 1 && maxLevels >= 1,
      "maxRounds and maxLevels must be >= 1")
    var (g, gRdd) = CheckpointOps.checkpoint(
      edges.select(col("src"), col("dst"), col("w")))
    var mapping: DataFrame = null // original node -> current community
    var mapRdd: RDD[InternalRow] = null
    var curLabels = labels0.select(col("node"), col("label"))
    // a level's fix frame is still lazily referenced by the NEXT
    // level's start labels, so its blocks are released one level late —
    // after fixpointWeighted has eagerly checkpointed those labels
    // (its first action)
    var pendingFixRdd: RDD[InternalRow] = null
    var level = 0
    var done = false
    while (level < maxLevels && !done) {
      val (fix, fixRdd, settled) =
        fixpointWeighted(g, curLabels, maxRounds)
      if (pendingFixRdd != null) pendingFixRdd.unpersist(false)
      val (newMapping, newMapRdd) = CheckpointOps.checkpoint(
        if (mapping == null) fix
        else mapping.select(col("node"), col("label").as("sn"))
          .join(fix.select(col("node").as("sn"), col("label")), "sn")
          .select(col("node"), col("label")))
      if (mapRdd != null) mapRdd.unpersist(false)
      mapping = newMapping
      mapRdd = newMapRdd
      // one job for both convergence counts, not two
      val cnt = fix.agg(count(lit(1)), countDistinct(col("label")))
        .head()
      val nNodes = cnt.getLong(0)
      val nSuper = cnt.getLong(1)
      // provable no-op state only: a level that stopped on its round
      // BUDGET (moves pending) or that merged nodes must still contract
      // and recurse, or the result would depend on the budget in a way
      // the unrolled oracle can't see
      done = settled && nSuper == nNodes
      if (!done && level + 1 < maxLevels) {
        // eager: reads g + fix now
        val (g2, g2Rdd) = CheckpointOps.checkpoint(contract(g, fix))
        gRdd.unpersist(false)
        g = g2
        gRdd = g2Rdd
        curLabels = fix.select(col("label")).distinct()
          .select(col("label").as("node"), col("label"))
      }
      pendingFixRdd = fixRdd
      level += 1
    }
    if (pendingFixRdd != null) pendingFixRdd.unpersist(false)
    gRdd.unpersist(false)
    mapping
  }

  /** k-CORE: the maximal subgraph where every node keeps >= k
    * neighbors — the classic degeneracy peel (Seidman 1983; the
    * dense-cluster extractor community pipelines run before
    * modularity methods). Synchronized peeling rounds: drop every
    * node whose degree WITHIN the current survivor set is < k,
    * repeat; a round that drops nothing is the fixpoint, so the
    * unrolled-CTE oracle's extra rounds replay as no-ops (the
    * louvainMulti replayability contract). Rounds materialize through
    * [[org.apache.spark.sql.graft.CheckpointOps]] (capped stats, one
    * job per round); per-round frames are node-sized, the degree count
    * is one edge-sized keyed aggregation.
    *
    * @param edges bidirectional (src, dst) — both directions present,
    *              the [[modularity]] convention
    * @return (node, core_deg) — survivors of the k-core with their
    *         within-core degree. If the peel stops on the maxRounds
    *         BUDGET rather than a fixpoint, this is the unpeeled
    *         frontier of that round — rows may still carry
    *         core_deg < k (the louvainMulti budget-stop convention);
    *         size maxRounds for the graph's peel depth when the exact
    *         core is required */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 20): DataFrame = {
    require(k >= 1 && maxRounds >= 1, "k and maxRounds must be >= 1")
    val e = CacheScope.pin(edges.select(col("src"), col("dst")))
    var (nodes, nodesRdd) = CheckpointOps.checkpoint(
      e.select(col("src").as("node")).distinct())
    var before = nodes.count()
    var rounds = 0
    var dropped = 1L
    while (rounds < maxRounds && dropped > 0 && before > 0) {
      val deg = e
        .join(nodes.select(col("node").as("src")), "src")
        .join(nodes.select(col("node").as("dst")), "dst")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
      val (next, nextRdd) = CheckpointOps.checkpoint(
        deg.where(col("d") >= k).select(col("node")))
      val after = next.count()
      dropped = before - after
      before = after
      nodesRdd.unpersist(false)
      nodes = next
      nodesRdd = nextRdd
      rounds += 1
    }
    // within-core degrees over the FINAL set (== the last round's deg
    // only at a true fixpoint, so recompute); checkpointed so the
    // returned frame owns its blocks and the pins below can release
    val (out, _) = CheckpointOps.checkpoint(e
      .join(nodes.select(col("node").as("src")), "src")
      .join(nodes.select(col("node").as("dst")), "dst")
      .groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg")))
    nodesRdd.unpersist(false)
    e.unpersist(false)
    out
  }

  /** DETERMINISTIC truncated random walks — the DeepWalk/node2vec
    * data-prep operator: the walk corpus a skip-gram embedding trains
    * on, generated at graph scale. Each node starts `walksPerNode`
    * walks; step s of walk (node, j) moves to the current node's
    * md5(node:j:s)-th neighbor (neighbors ranked by id — engine-
    * replayable, no RNG state), so the corpus is a pure function of
    * (graph, seed) and the oracle unrolls the steps exactly.
    *
    * Scale shape: the neighbor index is edge-sized with a per-src rank
    * (degree-bounded window, the coreness shape); each step is one
    * keyed equi-join of the walk frontier (n·W rows) against it —
    * `length` joins total, frontier checkpointed per step.
    *
    * @param edges bidirectional (src, dst); every node must have at
    *              least one out-edge (true for bidirectional graphs)
    * @return (node, walk, step, visited) — step 0 is the start node */
  def randomWalks(edges: DataFrame, walksPerNode: Int = 2,
                  length: Int = 4, seed: Int = 11): DataFrame = {
    require(walksPerNode >= 1 && length >= 1,
      "walksPerNode and length must be >= 1")
    // edge frame materialized once — the neighbor index AND the walk
    // seed both read it (an un-materialized spatial-join edge plan
    // would execute twice); freed with the index once the steps land
    val (e, eRdd) = CheckpointOps.checkpoint(
      edges.select(col("src"), col("dst")))
    val w = Window.partitionBy("src").orderBy("dst")
    val nbr = CacheScope.pin(e
      .withColumn("rn", row_number().over(w) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src"))))
    var (cur, _) = CheckpointOps.checkpoint(
      e.select(col("src").as("node")).distinct()
        .withColumn("walk",
          explode(sequence(lit(0), lit(walksPerNode - 1))))
        .select(col("node"), col("walk"), lit(0).as("step"),
          col("node").as("visited")))
    val outs = scala.collection.mutable.ListBuffer(cur)
    var s = 1
    while (s <= length) {
      val pick = pmod(Dedup.md5Hash32(
        concat(col("node").cast("string"), lit(":"),
          col("walk").cast("string"), lit(":"), lit(s.toString)),
        lit(seed)), col("deg"))
      val (next, _) = CheckpointOps.checkpoint(cur
        .select(col("node"), col("walk"), col("visited").as("src"))
        .join(nbr, "src")
        .where(col("rn") === pick)
        .select(col("node"), col("walk"), lit(s).as("step"),
          col("dst").as("visited")))
      outs += next
      // every step frame is PART of the output, so its blocks stay
      // alive; the caller owns them all (blanket-clear or CacheScope
      // releases them per the loop convention)
      cur = next
      s += 1
    }
    nbr.unpersist(false)
    eRdd.unpersist(false)
    outs.reduce(_ unionByName _)
  }

  /** FULL coreness decomposition — every node's maximal k such that it
    * survives the k-core peel — via the H-INDEX iteration (Lü et al.
    * 2016: c₀ = degree, c_{t+1}(v) = H of v's neighbors' c_t values;
    * the sequence is monotonically non-increasing and its fixpoint IS
    * the coreness), which distributes where the sequential bucket peel
    * cannot: each round is one edge-sized join + a per-node H-index.
    * The H-index reads off a per-node descending rank (max over i of
    * min(cᵢ, i)) — window partitions are DEGREE-bounded (parallel
    * across nodes, the ds_shard_shuffle shape; a hub's partition is its
    * adjacency, which any neighborhood operator pays). A round that
    * changes no node proves the fixpoint, so unrolled oracle rounds
    * replay as no-ops; rounds materialize through CheckpointOps with
    * the changed-count fused into the pass.
    *
    * @param edges bidirectional (src, dst)
    * @return (node, coreness: long) */
  def coreness(edges: DataFrame, maxRounds: Int = 30): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = CacheScope.pin(edges.select(col("src"), col("dst")))
    var (core, coreRdd) = CheckpointOps.checkpoint(
      e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).cast("long").as("core")))
    // one H-index round as a PLAN over the current estimate — kept
    // unmaterialized so two rounds fuse into one checkpoint job (the
    // CC double-hop precedent): h-values are monotone non-increasing
    // per round, so old == new-after-two-rounds forces the middle
    // round unchanged too and the fused diff still proves the fixpoint
    def hRound(cur: DataFrame): DataFrame = {
      val w = Window.partitionBy("node").orderBy(col("nc").desc)
      e.join(cur.select(col("node").as("dst"), col("core").as("nc")),
          "dst")
        .select(col("src").as("node"), col("nc"))
        .withColumn("rn", row_number().over(w))
        .groupBy("node")
        .agg(max(least(col("nc"), col("rn"))).cast("long").as("core"))
    }
    var rounds = 0
    var changed = 1L
    while (rounds < maxRounds && changed > 0) {
      val steps = math.min(2, maxRounds - rounds)
      val hx = (1 to steps).foldLeft(core)((cur, _) => hRound(cur))
      // (node, old, new): the fused diff counts changed nodes
      val (step, stepRdd, diff) = CheckpointOps.checkpointDiff(
        core.join(hx.select(col("node"), col("core").as("h")), "node")
          .select(col("node"), col("core"), col("h")), 1, 2)
      changed = diff
      core = step.select(col("node"), col("h").as("core"))
      coreRdd.unpersist(false)
      coreRdd = stepRdd
      rounds += steps
    }
    e.unpersist(false)
    core
  }
}
