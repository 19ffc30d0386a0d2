package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

/** HyperBall (Boldi & Vigna, ICDMW 2013) — the ONE module that knows
  * the packed register format: the public batch, incremental and
  * adaptive entry points, the packed register helpers and folds, the
  * standing-state stores and algorithms ([[HyperBallState]],
  * [[HyperBallAdaptive]]) and the [[RegisterMaxMerge]] aggregator. The
  * at-rest form ([[graft.streaming.HbStream]]) calls it. */
object HyperBall {

  /** HyperBall (Boldi & Vigna, "In-core computation of geometric
    * centralities with HyperBall", ICDMW 2013): approximate harmonic
    * centrality for EVERY node via HyperLogLog counters propagated
    * along edges. Each node starts with the HLL register file of its
    * own id ([[Sketches.hllRegister]], the repo's md5 parity hash, so
    * the whole computation — including the estimate — is deterministic
    * and oracle-reproducible). Round h max-merges every node's
    * registers with its in-neighbors'; register max commutes with set
    * union, so after round h a node's registers ARE the exact HLL
    * sketch of its inverse ball B_h(v) (spec'd as an identity against
    * directly-sketched exact balls). Harmonic estimate:
    * `Σ_h (N̂_h − N̂_{h−1}) / h` with N̂_h the round-h cardinality
    * estimate.
    *
    * Registers are PACKED: one m-slot int-array row per node merged by
    * [[RegisterMaxMerge]] (the layout HyperBall itself uses — register
    * files, not register tuples), so each round is one keyed edge join
    * + one per-node max-agg with map-side partial combine, O(E) array
    * rows of shuffle. State is one m = 2^p register file per node (KB
    * of sketch, never pairs), where the exact computation
    * ([[PageRank.harmonicExact]]) carries a pair row per reachable
    * (src, node).
    * Accuracy is the standard HLL 1.04/√m relative error on each ball
    * size. The estimator's register fold sums exact powers of two
    * (exponents in [−(32−p)−1, 0], ≤ m terms), exactly representable in
    * an IEEE double at any summation order, so the estimate equals
    * hllEstimate's over the same registers bit for bit.
    *
    * A batch run is the standing state of [[hyperBallIncremental]] with
    * no batches: [[HyperBallState.init]] propagates every hop once.
    *
    * @return (node, harmonic_est) for every node with an out-edge */
  def hyperBallPacked(edges: DataFrame, maxHops: Int = 3, p: Int = 6,
                      srcCol: String = "src",
                      dstCol: String = "dst"): DataFrame =
    harmonicFold(hyperBallIncrementalEstimates(edges, Nil, maxHops, p,
      srcCol, dstCol))

  /** CLOSENESS off the same HyperBall register propagation — the
    * sketch-state counterpart of [[PageRank.closenessExact]] (Boldi &
    * Vigna's point is that the per-round ball-size estimates N̂_0..N̂_H support
    * ALL geometric centralities, so both folds read the SAME register
    * tables): reachable-count estimate r̂ = N̂_H − N̂_0, distance-sum
    * estimate Σd̂ = Σ_h h·(N̂_h − N̂_{h−1}), closeness = r̂ / Σd̂ — exactly
    * the truncated r/Σd [[PageRank.closenessExact]] computes, with ball
    * sizes replaced by their HLL estimates. Fixed fold order (h ascending,
    * numerator before denominator), so the oracle replays the doubles
    * term for term. Deterministic under the md5 parity hash, like the
    * harmonic fold.
    *
    * @return (node, closeness_est) for every node with an out-edge */
  def hyperBallCloseness(edges: DataFrame, maxHops: Int = 3, p: Int = 6,
                         srcCol: String = "src",
                         dstCol: String = "dst"): DataFrame = {
    val joined = hyperBallIncrementalEstimates(edges, Nil, maxHops, p,
        srcCol, dstCol)
      .reduce((a, b) => a.join(b, Seq("node")))
    val reach = col(s"n$maxHops") - col("n0")
    val distSum = (1 to maxHops)
      .map(h => lit(h.toDouble) * (col(s"n$h") - col(s"n${h - 1}")))
      .reduce(_ + _)
    joined.select(col("node"), (reach / distSum).as("closeness_est"))
  }

  /** The NEIGHBORHOOD FUNCTION off the same HyperBall registers — the
    * statistic HyperBall was invented for (Boldi & Vigna 2013 built it
    * to compute Facebook's "four degrees of separation"): NF(h) =
    * Σ_v |B_h(v)|, the number of ordered pairs within distance h, one
    * row per hop with the cumulative fraction of NF(maxHops). The
    * corpus-graph shape/diameter audit at a cost of the register
    * propagation — the exact equivalent is the all-pairs state the
    * budget guard refuses.
    *
    * Engine-parity: per-node estimates quantize to 1e-6 LONGS before
    * the global sum (a distributed double sum over every node would be
    * order-dependent; the integer sum is exact — the ivfDriftAudit
    * discipline), and the fraction floor-quantizes per the midpoint
    * rule.
    *
    * @return (hop, nf, frac) for hop 0..maxHops */
  def hyperBallNeighborhood(edges: DataFrame, maxHops: Int = 3,
                            p: Int = 6, srcCol: String = "src",
                            dstCol: String = "dst"): DataFrame =
    nfFold(hyperBallIncrementalEstimates(edges, Nil, maxHops, p, srcCol,
      dstCol))

  /** The NF fold off per-hop estimate frames (frame h carries column
    * n$h): folds each hop's estimates DIRECTLY into its global sum — no
    * per-node join of the hop columns, and no re-execution of the
    * estimator per hop selection. (The first cut selected hop columns
    * out of the joined per-node table, which re-ran all maxHops+1
    * estimate aggregations AND the node-keyed join once per hop: the
    * sf1 probe read 351 s against gr_hyperball's 32 s on the same
    * registers. This shape reads ~35 s — one estimator pass per hop.)
    * Shared by the batch and INCREMENTAL neighborhood functions, so
    * fold-vs-rebuild parity rests on one copy of the fold arithmetic. */
  private[graft] def nfFold(estFrames: Seq[DataFrame]): DataFrame = {
    val maxHop = estFrames.size - 1
    val perHopRaw = estFrames.zipWithIndex.map { case (df, h) =>
        df.select(lit(h).as("hop"),
          floor(col(s"n$h") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      }.reduce(_ union _)
      .groupBy("hop")
      .agg((sum(col("q")).cast("double") / lit(1e6)).as("nf"))
    // maxHops+2 consumers read this (hops+1)-row frame (the total
    // broadcast and the final select; effectiveDiameter adds more) —
    // pin it so the register-table folds above run exactly once
    val perHop = CacheScope.pin(perHopRaw)
    val total = perHop.where(col("hop") === maxHop)
      .select(col("nf").as("nf_total"))
    perHop.crossJoin(broadcast(total))
      .select(col("hop"), col("nf"),
        (floor(col("nf") / col("nf_total") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("frac"))
  }

  /** EFFECTIVE DIAMETER from the neighborhood function — the smallest
    * (interpolated) distance covering `alpha` of all reachable-within-
    * maxHops pairs (Palmer et al. 2002's convention, alpha = 0.9 the
    * standard): d = (h−1) + (alpha·NF(H) − NF(h−1)) / (NF(h) − NF(h−1))
    * at the first hop h whose NF crosses the threshold; 0 when NF(0)
    * already covers it. The interpolation denominator is positive by
    * construction at the FIRST crossing hop (NF(h−1) is strictly below
    * the threshold there). One model-sized frame in, one row out —
    * fully SQL-expressible, so the oracle replays the interpolation
    * arithmetic term for term. */
  def effectiveDiameter(edges: DataFrame, maxHops: Int = 3, p: Int = 6,
                        alpha: Double = 0.9, srcCol: String = "src",
                        dstCol: String = "dst"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val spark = edges.sparkSession
    import spark.implicits._
    val nf = hyperBallNeighborhood(edges, maxHops, p, srcCol, dstCol)
      .select($"hop", $"nf")
    val total = nf.where($"hop" === maxHops)
      .select(($"nf" * lit(alpha)).as("thr"))
    val crossed = nf.crossJoin(broadcast(total)).where($"nf" >= $"thr")
      .groupBy($"thr").agg(min($"hop").as("h"))
    val prev = nf.select($"hop".as("hp"), $"nf".as("nf_prev"))
    val cur = nf.select($"hop".as("h"), $"nf".as("nf_cur"))
    crossed.join(cur, "h")
      .join(prev, $"hp" === $"h" - 1, "left")
      .select(
        (floor(when($"h" === 0, lit(0.0))
          .otherwise(($"h" - 1).cast("double") +
            ($"thr" - $"nf_prev") / ($"nf_cur" - $"nf_prev")) * lit(1e6)
          + lit(0.5)) / lit(1e6)).as("eff_diameter"))
  }

  /** Hop-0 PACKED register table: the m-slot HLL self-sketch per node.
    * ONE copy (every HyperBall form starts here), so the
    * register-content identity the oracles replay survives edits. */
  private[graft] def packedInitRegs(nodes: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val (idx, rho) = Sketches.hllRegister(col("node").cast("string"), p)
    nodes.select(col("node"),
      transform(sequence(lit(0), lit(m - 1)),
        j => when(j === idx.cast("int"), rho.cast("int"))
          .otherwise(lit(0))).as("regs"))
  }

  /** One PACKED propagation round: every node max-merges its
    * in-neighbors' registers with its own. ONE copy shared by the
    * initial load, adaptive growth and the probes — the
    * fold-equals-rebuild and adaptive-vs-fixed bit-identity contracts
    * rest on the round being literally the same expression tree
    * everywhere. */
  private[graft] def packedPropagateRound(e: DataFrame, regs: DataFrame,
                                   m: Int): DataFrame =
    maxMergeByNode(
      e.join(regs.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("regs"))
        .union(regs),
      m)

  /** Max-merge a (node, regs) frame to one register file per node
    * ([[RegisterMaxMerge]], with map-side partial combine) — the
    * propagation round's merge and the resolution of a standing stack
    * in every store and in compaction. */
  private[graft] def maxMergeByNode(regs: DataFrame, m: Int): DataFrame =
    regs.groupBy(col("node"))
      .agg(udaf(new RegisterMaxMerge(m)).apply(col("regs")).as("regs"))

  /** Per-node ball-size estimate off a PACKED register table — the
    * identical estimator shapes as Sketches.hllEstimate, off the
    * packed fold (empty slots contribute pow(2, -0) = 1 directly);
    * the correction CASE is Sketches.hllCorrection — ONE copy, so the
    * packed/hllEstimate bit-identity contract survives threshold
    * edits. */
  private[graft] def packedEstimate(r: DataFrame, name: String, m: Int,
                                    keep: Seq[String] = Nil): DataFrame =
    r.select(col("node") +: keep.map(col) :+
      packedEstExpr(col("regs"), m).as(name): _*)

  /** The per-node ball-size estimate as ONE column expression over a
    * packed register array — exactly the arithmetic the staged selects
    * of the original packedEstimate composed (Catalyst collapsed those
    * projections to this tree), factored out so batch-bounded consumers
    * (the fold's incremental ball-sum deltas, which evaluate it on
    * CHANGED rows' old and new registers side by side) share the one
    * copy the oracles replay. */
  private[graft] def packedEstExpr(regs: Column, m: Int): Column = {
    val sAll = aggregate(regs, lit(0.0),
      (acc, x) => acc + pow(lit(2.0), -x))
    val v = (lit(m) - size(filter(regs, x => x > lit(0)))).cast("double")
    val raw = lit(Sketches.hllAlpha(m) * m.toDouble * m) / sAll
    Sketches.hllCorrection(raw, v, m)
  }

  /** ⌊N̂(regs)·1e6 + 0.5⌋ as a long column — ONE copy of the adaptive
    * stop's per-node quantization (the sums fused into the
    * materializing passes of [[HyperBallState]], the fold's incremental
    * sum deltas, and [[HyperBallAdaptive.qsAll]] all reduce to this
    * floor arithmetic), so the quantized sums cannot drift between the
    * fused, incremental, and aggregate-job forms the oracles replay. */
  private[graft] def packedQExpr(regs: Column, m: Int): Column =
    floor(packedEstExpr(regs, m) * lit(1e6) + lit(0.5)).cast("long")

  /** [[hyperBallNeighborhood]] with the ADAPTIVE saturation stop: the
    * quantized global ball-sum q_h = Σ_v ⌊N̂_h(v)·1e6 + 0.5⌋ per hop,
    * propagated until SATURATION — the first h ≥ 1 with
    * (q_h − q_{h−1}) < ε·q_h — or `hopCap`. This is Boldi & Vigna's
    * termination (HyperBall runs "until the value … stabilizes", not
    * for a fixed radius): a fixed maxHops silently reports ≈maxHops on
    * any graph whose effective diameter exceeds it, and keeps paying
    * propagation rounds past convergence on any graph whose diameter
    * is smaller. The stop comparison is evaluated on the quantized
    * LONGS (one scalar per hop on the driver — model-sized traffic),
    * so an oracle can replay it term for term; the fraction
    * floor-quantizes with pure IEEE ops, so the output is oracle-exact.
    * The standing state of [[hyperBallNeighborhoodIncrementalAdaptive]]
    * with no batches.
    *
    * @return (hop, nf, frac) for hop 0..stop, empty if the graph has no
    *         edges */
  def hyperBallNeighborhoodAdaptive(edges: DataFrame, hopCap: Int = 5,
                                    epsilon: Double = 0.05, p: Int = 6,
                                    srcCol: String = "src",
                                    dstCol: String = "dst"): DataFrame =
    hyperBallNeighborhoodIncrementalAdaptive(edges, Nil, hopCap, epsilon,
      p, srcCol, dstCol)

  /** INCREMENTAL neighborhood function — maintain the per-hop HyperBall
    * register tables as APPEND-ONLY standing state and fold edge
    * batches in by MONOTONE DELTA PROPAGATION, without re-running the
    * propagation over the corpus. Register max-merge is monotone and
    * idempotent (registers only GROW and ∪ is associative/commutative),
    * which buys two things:
    *
    *  - the standing state per hop can be a stack of append-only
    *    frames whose TRUE registers are just the max-merge groupBy —
    *    no rewrite on update, no ordering to respect (the CC
    *    base+alias discipline, with max-merge instead of an alias);
    *  - a batch's effect is confined to the nodes whose registers
    *    actually changed: per hop, the changed set flows along the
    *    standing edges (delta BROADCAST — the corpus edge set scans
    *    but never shuffles), the batch's new edges flow their sources'
    *    full hop-(h−1) registers, a node's own growth carries up
    *    (r_h ⊇ r_{h−1}), and everything merges against the OLD
    *    registers of just the candidate nodes (semi-probed from the
    *    standing frames). Unchanged nodes are never touched, so
    *    per-batch work is O(batch ball × hops + corpus scans), where
    *    the rebuild pays maxHops corpus-wide register SHUFFLES.
    *
    * Fold == rebuild BIT-IDENTICALLY: resolution reproduces the exact
    * rebuild registers (max-merge is order-free), the estimates reuse
    * [[packedEstimate]], and the fold reuses [[nfFold]] — the registry
    * row's oracle is [[hyperBallNeighborhood]]'s over ALL edges,
    * verbatim. Replaying a batch is a structural no-op (no register
    * grows, so no frame appends). Contract: a batch's affected ball
    * must be broadcast-sized (the micro-batch regime — corpus-scale
    * batches should rebuild instead), like the CC ingest contract.
    *
    * @return (hop, nf, frac) for hop 0..maxHops over initial ∪ batches */
  def hyperBallNeighborhoodIncremental(initialEdges: DataFrame,
                                       batches: Seq[DataFrame],
                                       maxHops: Int = 3, p: Int = 6,
                                       srcCol: String = "src",
                                       dstCol: String = "dst"): DataFrame = {
    val ests = hyperBallIncrementalEstimates(initialEdges, batches,
      maxHops, p, srcCol, dstCol)
    nfFold(ests)
  }

  /** HARMONIC centrality off the SAME incremental standing registers —
    * the Boldi-Vigna point carried to the standing-state form: one
    * delta-folded register history serves every geometric centrality,
    * so this row and [[hyperBallNeighborhoodIncremental]] differ only
    * in the final fold (per-node join of the resolved hop estimates +
    * the [[hyperBallPacked]] harmonic sum, one copy of each). Fold ==
    * rebuild bit-identically, same argument as the NF form.
    *
    * @return (node, harmonic_est) — [[hyperBallPacked]] over
    *         initial ∪ batches, exactly */
  def hyperBallIncremental(initialEdges: DataFrame,
                           batches: Seq[DataFrame],
                           maxHops: Int = 3, p: Int = 6,
                           srcCol: String = "src",
                           dstCol: String = "dst"): DataFrame =
    harmonicFold(hyperBallIncrementalEstimates(initialEdges, batches,
      maxHops, p, srcCol, dstCol))

  /** The harmonic-centrality fold off per-hop estimate frames (frame h
    * carries column n$h): per-node join, then Σ_h (n_h − n_{h−1})/h in
    * fixed order, so the IEEE result is reproducible term for term by
    * the oracle — ONE copy shared by the batch, in-memory incremental
    * and at-rest table forms ([[graft.streaming.HbStream]]), so their
    * outputs cannot drift. */
  private[graft] def harmonicFold(ests: Seq[DataFrame]): DataFrame = {
    val maxHops = ests.size - 1
    val joined = ests.reduce((a, b) => a.join(b, Seq("node")))
    val harmonic = (1 to maxHops)
      .map(h => (col(s"n$h") - col(s"n${h - 1}")) / lit(h.toDouble))
      .reduce(_ + _)
    joined.select(col("node"), harmonic.as("harmonic_est"))
  }

  /** The shared register machinery of every fixed-hop form: build the
    * standing per-hop frames over the initial load
    * ([[HyperBallState.init]]), delta-fold each batch
    * ([[HyperBallState.foldBatch]] — ONE copy, shared with the at-rest
    * table form in [[graft.streaming.HbStream]]), and return the
    * RESOLVED per-hop estimate frames (node, n$h), so every downstream
    * fold is one shared copy. A batch run passes no batches. The
    * store's transient blocks (corpus-sized edge frames, empty deltas)
    * free on close — the estimates only read the standing register
    * frames, so a long-lived session doesn't accumulate dead edge
    * blocks per call. */
  private def hyperBallIncrementalEstimates(initialEdges: DataFrame,
                                            batches: Seq[DataFrame],
                                            maxHops: Int, p: Int,
                                            srcCol: String,
                                            dstCol: String)
      : Seq[DataFrame] = {
    require(maxHops >= 1, "need at least one hop")
    val store = new InMemoryHbRegStore(initialEdges.sparkSession, p)
    HyperBallState.init(store, initialEdges, maxHops, srcCol, dstCol)
    batches.foreach(b => HyperBallState.foldBatch(store, b, srcCol, dstCol))
    val ests = HyperBallState.estimates(store)
    store.close()
    ests
  }

  /** [[hyperBallNeighborhoodIncremental]] under the ADAPTIVE saturation
    * stop (see [[hyperBallNeighborhoodAdaptive]]): the standing per-hop
    * register stacks GROW hops lazily — the initial load propagates
    * only until the quantized rule q_h − q_{h−1} < ε·q_h fires (or
    * `hopCap`), each batch delta-folds into the maintained hops, and
    * when a batch un-saturates the top (its new edges shortened paths
    * enough that the ball sums grow again) the state extends by corpus
    * rounds off the RESOLVED top registers until the rule fires again.
    * The emitted hops re-derive the stop over the FINAL corpus sums, so
    * the output is [[hyperBallNeighborhoodAdaptive]] over
    * initial ∪ batches BIT-identically (max-merge resolution reproduces
    * the rebuild registers; growth rounds are the same shared
    * propagation round) — the oracle replays the stop over the full
    * corpus verbatim.
    *
    * @return (hop, nf, frac) for hop 0..stop; empty if the final graph
    *         has no edges */
  def hyperBallNeighborhoodIncrementalAdaptive(
      initialEdges: DataFrame, batches: Seq[DataFrame], hopCap: Int = 5,
      epsilon: Double = 0.05, p: Int = 6, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame =
    HyperBallAdaptive.emit(initialEdges.sparkSession,
      hyperBallAdaptiveSums(initialEdges, batches, hopCap, epsilon, p,
        srcCol, dstCol))

  /** The adaptive forms' stopped sums q_0..q_stop (empty when the final
    * graph has no edges) off an in-memory standing store. Every sum
    * comes out of the pass that materializes its frame (init / growth /
    * the fold's tracked deltas) — no corpus-wide register re-scan per
    * batch: a batch grows balls at ALL hops, but resolution-after =
    * max-merge(resolution-before, delta frame), so q_h advances by the
    * batch's changed-node delta EXACTLY (long arithmetic; bit-identical
    * to the qsAll re-derivation). The result is driver-local, so every
    * standing frame is dead state on return and is freed. */
  private def hyperBallAdaptiveSums(initialEdges: DataFrame,
                                    batches: Seq[DataFrame], hopCap: Int,
                                    epsilon: Double, p: Int,
                                    srcCol: String,
                                    dstCol: String): Vector[Long] = {
    require(hopCap >= 1, "need at least one hop")
    require(epsilon > 0.0 && epsilon < 1.0, "epsilon must be in (0, 1)")
    val store = new InMemoryHbRegStore(initialEdges.sparkSession, p)
    var qs = HyperBallAdaptive.growUntilSaturated(store,
      HyperBallState.init(store, initialEdges, maxHops = 1, srcCol, dstCol,
        trackQ = true),
      hopCap, epsilon)
    batches.foreach { b =>
      val dq = HyperBallState.foldBatch(store, b, srcCol, dstCol,
        trackQ = true)
      qs = qs.indices.toVector.map(h => qs(h) + dq(h))
      // extend if the top is no longer past the stop rule
      qs = HyperBallAdaptive.growUntilSaturated(store, qs, hopCap, epsilon)
    }
    val topHop = store.maxHop
    store.closeAll()
    HyperBallAdaptive.stopped(qs, topHop, hopCap, epsilon)
  }

  /** [[effectiveDiameter]] off the ADAPTIVE neighborhood function — on
    * a graph whose effective diameter exceeds a fixed radius the fixed
    * form silently answers ≈maxHops, while this one keeps propagating
    * until the ball sums saturate (or `hopCap`); on a small-diameter
    * graph it stops paying for rounds past convergence. Interpolation
    * arithmetic is the fixed form's, term for term, against NF(stop).
    *
    * @return one (eff_diameter) row; empty if the graph has no edges */
  def effectiveDiameterAdaptive(edges: DataFrame, hopCap: Int = 5,
                                epsilon: Double = 0.05, p: Int = 6,
                                alpha: Double = 0.9,
                                srcCol: String = "src",
                                dstCol: String = "dst"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val spark = edges.sparkSession
    import spark.implicits._
    val qs = hyperBallAdaptiveSums(edges, Nil, hopCap, epsilon, p, srcCol,
      dstCol)
    if (qs.isEmpty) return Seq.empty[Double].toDF("eff_diameter")
    val nf = qs.map(_.toDouble / 1e6)
    val thr = nf.last * alpha
    val h = nf.indexWhere(_ >= thr) // exists: nf.last >= thr by alpha <= 1
    val d =
      if (h == 0) 0.0
      else (h - 1).toDouble + (thr - nf(h - 1)) / (nf(h) - nf(h - 1))
    Seq(math.floor(d * 1e6 + 0.5) / 1e6).toDF("eff_diameter")
  }
}

/** Storage backend for STANDING incremental-HyperBall state: per-hop
  * stacks of append-only register frames plus the standing edge set.
  * Register max-merge is monotone, idempotent, and order-free, so the
  * true registers at hop h are just the max-merge of everything ever
  * appended to stack h — no alias table, no rewrite on update (the
  * [[graft.streaming.CcStream]] base+alias discipline, with max-merge
  * instead of an alias).
  *
  * Two backends share ONE fold loop ([[HyperBallState.foldBatch]]) —
  * the bit-parity-critical delta propagation exists exactly once:
  *
  *  - [[InMemoryHbRegStore]]: session-local localCheckpoint frames
  *    (the registry rows' deterministic batch-sequenced form);
  *  - [[graft.streaming.HbStream]]'s table store: `bucketBy(node)`
  *    catalog tables, append per delta (the at-rest form — frame count
  *    becomes FILE count, so resolution stays ONE bucketed scan no
  *    matter how many batches folded, and `compact()` max-merges each
  *    hop back to one frame).
  */
private[graft] trait HbRegStore {
  /** HLL precision (register count m = 1 << p). */
  def p: Int

  /** Top maintained hop (stacks exist for 0..maxHop). */
  def maxHop: Int

  /** Registers of `keys` nodes at hop h, max-merged — must never
    * shuffle the corpus-sized standing state (broadcast-semi or
    * pushed-down point probe only); absent nodes produce no row. */
  def resolveFor(h: Int, keys: DataFrame): DataFrame

  /** Hop-0 nodes present among the (batch-bounded) key nodes. */
  def seen0Nodes(keys: DataFrame): DataFrame

  /** Append a MATERIALIZED (checkpointed) delta frame to hop h's
    * standing stack. Each appended frame is node-unique (they are all
    * groupBy/distinct outputs), but nodes repeat ACROSS frames. */
  def appendDelta(h: Int, delta: DataFrame, rdd: RDD[InternalRow]): Unit

  /** Append a materialized edge frame to the standing edge set. */
  def appendEdges(e: DataFrame): Unit

  /** The full standing edge set (initial load ∪ every appended batch). */
  def allEdges: DataFrame

  /** Candidate rows (node, regs) from propagating a delta's registers
    * one hop along the standing edges: every dst whose src carries a
    * delta register gets that register. The corpus edge set may SCAN
    * but never shuffles (delta broadcast; the table store additionally
    * pushes the delta's src set down as an In predicate to prune the
    * scan itself). */
  def propagateAlong(delta: DataFrame): DataFrame

  /** Full max-merge resolution of hop h's standing stack. */
  def resolved(h: Int): DataFrame

  /** Track a batch/init-local materialized RDD (edge frames, empty
    * deltas) that is DEAD once the last fold lands — freed by
    * [[close]], so a long-lived session doesn't accumulate
    * corpus-scale blocks that nothing will read again. */
  def trackTransient(rdd: RDD[InternalRow]): Unit

  /** Free every transient block. Standing register frames (the live
    * state backing [[resolved]]) are NOT touched. Call after the last
    * fold/growth — the resolved estimates never read the edges. */
  def close(): Unit
}

/** The session-local backend: frames are localCheckpoint blocks, the
  * in-memory mirror of the at-rest table layout. Backs the registry
  * rows' deterministic batch-sequenced folds. */
private[graft] final class InMemoryHbRegStore(
    val spark: SparkSession, val p: Int) extends HbRegStore {
  private val m = 1 << p
  private var frames = Vector.empty[Vector[DataFrame]]
  private var edgeFrames = Vector.empty[DataFrame]
  private val transients =
    scala.collection.mutable.ArrayBuffer.empty[RDD[InternalRow]]
  private val frameRdds =
    scala.collection.mutable.ArrayBuffer.empty[RDD[InternalRow]]

  def maxHop: Int = frames.size - 1

  def resolveFor(h: Int, keys: DataFrame): DataFrame = {
    val probed =
      frames(h).map(_.join(broadcast(keys), Seq("node"), "left_semi"))
    // a single-frame stack's probe is already node-unique (every frame
    // is a groupBy/distinct output), so its max-merge is the identity —
    // skipping the agg drops an exchange per probe in the common case
    // (the resolved() fast path, applied to the semi-probed subset)
    if (probed.size == 1) probed.head
    else HyperBall.maxMergeByNode(probed.reduce(_ union _), m)
  }

  def seen0Nodes(keys: DataFrame): DataFrame = {
    val probed =
      frames(0).map(_.join(broadcast(keys), Seq("node"), "left_semi"))
    if (probed.size == 1) probed.head.select(col("node"))
    else probed.reduce(_ union _).select(col("node")).distinct()
  }

  def appendDelta(h: Int, delta: DataFrame, rdd: RDD[InternalRow]): Unit = {
    frameRdds += rdd
    if (h == frames.size) frames :+= Vector(delta)
    else frames = frames.updated(h, frames(h) :+ delta)
  }

  def appendEdges(e: DataFrame): Unit = edgeFrames :+= e

  def allEdges: DataFrame = edgeFrames.reduce(_ unionByName _)

  def propagateAlong(delta: DataFrame): DataFrame =
    allEdges
      .join(broadcast(delta.withColumnRenamed("node", "src")), "src")
      .select(col("dst").as("node"), col("regs"))

  def resolved(h: Int): DataFrame =
    // every frame is node-unique, so a single-frame stack IS its own
    // resolution — skipping the agg keeps the initial-load hop chain
    // (and post-compact reads) free of redundant exchanges
    if (frames(h).size == 1) frames(h).head
    else HyperBall.maxMergeByNode(frames(h).reduce(_ unionByName _), m)

  def trackTransient(rdd: RDD[InternalRow]): Unit = transients += rdd

  def close(): Unit = {
    transients.foreach(_.unpersist(false))
    transients.clear()
  }

  /** [[close]] plus the STANDING register frames — for callers whose
    * output is driver-local (the adaptive rows), where nothing will
    * ever resolve the frames again. */
  def closeAll(): Unit = {
    close()
    frameRdds.foreach(_.unpersist(false))
    frameRdds.clear()
    frames = Vector.empty
    edgeFrames = Vector.empty
  }
}

/** The ONE copy of the standing-state HyperBall algorithms — initial
  * load and monotone delta-propagation fold — shared verbatim by the
  * in-memory registry form and the at-rest table form, so
  * stream == fold == rebuild is structural, not incidental. */
private[graft] object HyperBallState {

  /** Initial load: the edge projection checkpointed once, hop-0
    * self-sketches for its source nodes, then one [[growHop]] per hop
    * chained on the previous hop's frame. Every batch HyperBall row is
    * this load with no batches folded, so fold == rebuild is the same
    * code. The edge frame is materialized because each round and the
    * node init consume it, and an un-materialized edge plan re-executes
    * per consumer (the registry rows pass a spatial self-join worth
    * ~1 s per execution at sf0.1, GraphBuildProbe r17); it is a
    * transient, freed by [[HbRegStore.close]] — the estimates read only
    * the register frames.
    *
    * With `trackQ`, every hop's quantized global ball-sum
    * (Σ_v ⌊N̂_h(v)·1e6 + 0.5⌋ for h = 0..maxHops) comes out of its
    * frame's own materializing pass — the adaptive consumer's starting
    * sums WITHOUT a corpus-wide re-scan of the frames the init just
    * wrote. Long addition is order-free, so the vector is bit-identical
    * to [[HyperBallAdaptive.qsAll]] over the same state. Without it the
    * sums read 0 and the plans carry no q column. */
  def init(store: HbRegStore, initialEdges: DataFrame, maxHops: Int,
           srcCol: String, dstCol: String,
           trackQ: Boolean = false): Vector[Long] = {
    val (e0, e0Rdd) = CheckpointOps.checkpointTruncated(
      initialEdges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    store.trackTransient(e0Rdd)
    store.appendEdges(e0)
    val m = 1 << store.p
    val (r0, r0Rdd, _, q0) = materializeRegs(
      HyperBall.packedInitRegs(
        e0.select(col("src").as("node")).distinct(), store.p),
      HyperBall.packedQExpr(col("regs"), m), trackQ)
    store.appendDelta(0, r0, r0Rdd)
    q0 +: Vector.fill(maxHops)(growHop(store, trackQ))
  }

  /** Grow the state one hop: propagate the resolved top registers one
    * [[HyperBall.packedPropagateRound]] over ALL standing edges and
    * append the result as the new top stack — the initial load's hop
    * chain and the lazy-hop move of the adaptive saturation stop. A
    * single-frame top resolves to that frame itself, so the initial
    * load chains the raw previous hop. Returns the new hop's quantized
    * ball-sum under `trackQ` (see [[init]]), else 0. */
  def growHop(store: HbRegStore, trackQ: Boolean = false): Long = {
    val m = 1 << store.p
    val (next, nextRdd, _, q) = materializeRegs(
      HyperBall.packedPropagateRound(store.allEdges,
        store.resolved(store.maxHop), m),
      HyperBall.packedQExpr(col("regs"), m), trackQ)
    store.appendDelta(store.maxHop + 1, next, nextRdd)
    q
  }

  /** Materialize a register frame's (node, regs) columns, returning the
    * frame, its RDD handle, its row count and — under `trackQ` — the
    * sum of the long column `q` over its rows, taken by the
    * materializing pass itself
    * ([[CheckpointOps.checkpointCountSumTruncated]]), so a per-hop
    * scalar costs no second scan of the frame. Without `trackQ` the
    * plan is the plain checkpoint of (node, regs), no q column. */
  private def materializeRegs(regs: DataFrame, q: Column, trackQ: Boolean)
      : (DataFrame, RDD[InternalRow], Long, Long) =
    if (trackQ) {
      val (f, rdd, n, s) = CheckpointOps.checkpointCountSumTruncated(
        regs.select(col("node"), col("regs"), q.as("q")), 2)
      (f.select(col("node"), col("regs")), rdd, n, s)
    } else {
      val (f, rdd, n) = CheckpointOps.checkpointCountTruncated(
        regs.select(col("node"), col("regs")))
      (f, rdd, n, 0L)
    }

  /** Fold one edge batch into the standing state by monotone delta
    * propagation: a batch's effect is confined to the nodes whose
    * registers actually GREW — per hop, the changed set flows along
    * the standing edges (delta broadcast; the corpus edge set scans
    * but never shuffles), the batch's new edges flow their sources'
    * full hop-(h−1) registers, a node's own growth carries up
    * (r_h ⊇ r_{h−1}), and everything merges against the OLD registers
    * of just the candidate nodes (probed from the standing stacks).
    * Unchanged nodes are never touched, so per-batch work is
    * O(batch ball × hops + corpus scans), where a rebuild pays maxHops
    * corpus-wide register SHUFFLES. Replaying a batch is a structural
    * no-op: no register grows, so no frame appends (the edge append
    * does repeat — duplicate edges are harmless under idempotent
    * max-merge, and compaction dedups them). Contract: the batch's
    * affected ball must be broadcast-sized (the micro-batch regime —
    * corpus-scale batches should rebuild instead).
    *
    * With `trackQ` the fold ALSO returns each hop's quantized global
    * ball-sum DELTA (Σ over this batch's changed nodes of
    * q(new regs) − q(old regs), exact longs — [[HyperBall.packedQExpr]],
    * evaluated inside the delta frames' own materializing passes):
    * resolution-after = max-merge(resolution-before, delta frame) per
    * hop, and unchanged nodes keep their registers, so
    * q_h(after) = q_h(before) + delta_h EXACTLY — the adaptive
    * consumer's per-batch sums at batch-bounded cost, where a
    * [[HyperBallAdaptive.qsAll]] re-derivation is a corpus-wide
    * register pass per hop per batch. trackQ=false keeps the original
    * plans verbatim (no q column in the materialized frames). */
  def foldBatch(store: HbRegStore, batch: DataFrame,
                srcCol: String, dstCol: String,
                trackQ: Boolean = false): Vector[Long] = {
    val m = 1 << store.p
    val (newE, newERdd) = CheckpointOps.checkpointTruncated(
      batch.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    store.trackTransient(newERdd)
    // new SRC nodes seed hop-0 sketches — hop-0 presence is "has an
    // out-edge" (the rebuild's n0 node set); a node already known as a
    // pure dst still seeds here, and its self-sketch then carries up
    // through the delta propagation exactly as a rebuild would.
    // Materialized once: the seen-0 probe, the d0 seed, and every hop's
    // old-register resolve all consume it — left lazy, the distinct
    // shuffle re-executes in each of those jobs (batch-local, freed on
    // close)
    val (srcNodes, srcNodesRdd) = CheckpointOps.checkpointTruncated(
      newE.select(col("src").as("node")).distinct())
    store.trackTransient(srcNodesRdd)
    val seen0 = store.seen0Nodes(srcNodes)
    // hop-0 delta: new nodes only (anti-join), so q_old = 0 and the
    // tracked sum delta is just Σ q(self-sketch)
    val d0Plan = HyperBall.packedInitRegs(
      srcNodes.join(broadcast(seen0), Seq("node"), "left_anti"), store.p)
    val (d0, d0Rdd, n0New, q0Delta) =
      materializeRegs(d0Plan, HyperBall.packedQExpr(col("regs"), m), trackQ)
    if (n0New > 0) store.appendDelta(0, d0, d0Rdd)
    else store.trackTransient(d0Rdd)
    store.appendEdges(newE)
    var qDeltas = Vector(q0Delta)
    var deltaPrev = d0 // empty when n0New == 0 — still a valid frame
    for (h <- 1 to store.maxHop) {
      val viaDelta = store.propagateAlong(deltaPrev)
      val srcRegs = store.resolveFor(h - 1, srcNodes)
      val viaNewE = newE
        .join(broadcast(srcRegs.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), col("regs"))
      val (cand, candRdd) = CheckpointOps.checkpointTruncated(
        HyperBall.maxMergeByNode(viaDelta.union(viaNewE).union(deltaPrev), m))
      val old = store.resolveFor(h, cand.select(col("node")))
        .withColumnRenamed("regs", "old_regs")
      val merged = cand.join(old, Seq("node"), "left")
        .select(col("node"),
          when(col("old_regs").isNull, col("regs"))
            .otherwise(zip_with(col("regs"), col("old_regs"),
              (a, c) => greatest(a, c))).as("regs"),
          col("old_regs"))
      val changed = merged.where(col("old_regs").isNull ||
        !(col("regs") <=> col("old_regs")))
      val (dh, dhRdd, nCh, qhDelta) = materializeRegs(changed,
        HyperBall.packedQExpr(col("regs"), m) -
          coalesce(HyperBall.packedQExpr(col("old_regs"), m), lit(0L)),
        trackQ)
      // cand is dead the moment the delta lands (its consumers — the
      // old-register probe and the merge — all ran inside dh's
      // materialization); free it instead of leaving maxHops × batches
      // ball-sized frames to GC
      candRdd.unpersist(false)
      if (nCh > 0) store.appendDelta(h, dh, dhRdd)
      else store.trackTransient(dhRdd)
      qDeltas :+= qhDelta
      deltaPrev = dh
    }
    qDeltas
  }

  /** The RESOLVED per-hop estimate frames (node, n$h) off a standing
    * store — what every per-hop fold (harmonic, closeness, NF) reads,
    * in the batch, in-memory incremental and at-rest forms alike. */
  def estimates(store: HbRegStore): Seq[DataFrame] =
    (0 to store.maxHop).map { h =>
      HyperBall.packedEstimate(store.resolved(h), s"n$h", 1 << store.p)
    }
}

/** The ONE copy of the Boldi-Vigna adaptive saturation stop evaluated
  * over a standing [[HbRegStore]] — shared verbatim by the in-memory
  * incremental form ([[HyperBall.hyperBallNeighborhoodIncrementalAdaptive]])
  * and the at-rest table form
  * ([[graft.streaming.HbStream.neighborhoodFunctionAdaptive]]), so the
  * stop rule, the quantization, and the emitted rows cannot drift
  * between them (or from the full-corpus rebuild the oracles replay). */
private[graft] object HyperBallAdaptive {

  /** Every maintained hop's quantized sum (Σ_v ⌊N̂_h(v)·1e6 + 0.5⌋ as
    * an exact long per hop) in ONE job — the per-batch re-derivation
    * would otherwise launch maxHop+1 separate jobs, and at cluster
    * scale each job is a full scheduler barrier. The per-hop terms are
    * exact long sums of the identical floor arithmetic, so the vector
    * is bit-identical to per-hop aggregate jobs. */
  def qsAll(store: HbRegStore): Vector[Long] = {
    val m = 1 << store.p
    val sums = (0 to store.maxHop).map { h =>
        HyperBall.packedEstimate(store.resolved(h), "est", m)
          .select(lit(h).as("hop"),
            floor(col("est") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      }.reduce(_ unionByName _)
      .groupBy(col("hop")).agg(sum(col("q")).as("q"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 to store.maxHop).map(h => sums.getOrElse(h, 0L)).toVector
  }

  /** First saturated hop over the CURRENT sums (-1: none in
    * 1..maxHop) — the quantized-long comparison every adaptive form
    * drives. */
  def stopHop(qs: Vector[Long], epsilon: Double): Int =
    (1 until qs.size).find(h =>
      (qs(h) - qs(h - 1)).toDouble < epsilon * qs(h).toDouble)
      .getOrElse(-1)

  /** Extend the store one shared propagation round at a time until the
    * stop rule fires over the growing sums (or `hopCap`). Each growth
    * round's sum comes out of its own materialization pass
    * ([[HyperBallState.growHop]] with trackQ) — no second register
    * scan per hop. A zero top sum means the state holds no nodes at
    * all: the rule can never fire on it ((0 − 0) < ε·0 is false) and
    * growing adds nothing, so growth stops there. */
  def growUntilSaturated(store: HbRegStore, qs0: Vector[Long],
                         hopCap: Int, epsilon: Double): Vector[Long] = {
    var qs = qs0
    while (qs.last > 0L && stopHop(qs, epsilon) < 0 &&
        store.maxHop < hopCap) {
      qs :+= HyperBallState.growHop(store, trackQ = true)
    }
    qs
  }

  /** The sums the emitted rows read: q_0..q_stop, the stop re-derived
    * over the FINAL corpus sums (growth during intermediate batches may
    * have overshot — later batches can saturate an earlier hop — and
    * the rule is first-h; `topHop` capped at `hopCap` when it never
    * fires). Empty when the state holds no mass (no edges anywhere). */
  def stopped(qs: Vector[Long], topHop: Int, hopCap: Int,
              epsilon: Double): Vector[Long] =
    if (qs.last == 0L) Vector.empty
    else qs.take(1 + (stopHop(qs, epsilon) match {
      case -1 => math.min(topHop, hopCap)
      case h => h
    }))

  /** The emitted rows off [[stopped]] sums: (hop, nf, frac) for hop
    * 0..stop, the fraction relative to NF(stop) and floor-quantized
    * with pure IEEE ops; empty for empty sums. */
  def emit(spark: SparkSession, stoppedQs: Vector[Long]): DataFrame = {
    import spark.implicits._
    if (stoppedQs.isEmpty)
      return Seq.empty[(Int, Double, Double)].toDF("hop", "nf", "frac")
    val nfStop = stoppedQs.last.toDouble / 1e6
    stoppedQs.zipWithIndex.map { case (q, h) =>
      val nf = q.toDouble / 1e6
      (h, nf, math.floor(nf / nfStop * 1e6 + 0.5) / 1e6)
    }.toDF("hop", "nf", "frac")
  }
}

/** Elementwise max over fixed-length m-slot register arrays — the
  * partial-aggregation-friendly merge for [[HyperBall.hyperBallPacked]]:
  * map-side combine reduces every partition's rows to one array per
  * node before the shuffle, so per-round traffic is O(distinct nodes
  * per partition), never O(edges). Buffers mutate in place (fresh
  * deserialized arrays per group under ObjectHashAggregate). */
class RegisterMaxMerge(m: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Seq[Int], Array[Int], Seq[Int]] {
  require(m > 0, s"m must be positive, got $m")
  override def zero: Array[Int] = new Array[Int](m)
  override def reduce(buf: Array[Int], regs: Seq[Int]): Array[Int] = {
    var j = 0
    while (j < m) {
      val v = regs(j)
      if (v > buf(j)) buf(j) = v
      j += 1
    }
    buf
  }
  override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
    var j = 0
    while (j < m) {
      if (b(j) > a(j)) a(j) = b(j)
      j += 1
    }
    a
  }
  override def finish(buf: Array[Int]): Seq[Int] = buf.toIndexedSeq
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Int]]()
  override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Int]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]()
}
