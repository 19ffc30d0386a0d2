package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.{Materialized, Track,
  materialize}

/** Distributed connected components over an edge DataFrame.
  *
  * Replaces the reference's single-process union-find
  * (`/root/reference/etl/er.py:205-222`) with iterative min-label
  * propagation + path halving to a fixpoint: every node converges to the
  * MINIMUM id reachable in its component — a deterministic labeling that
  * depends only on component membership (SURVEY §7.4.2: cluster identity
  * must be set-stable, not root-stable).
  *
  * Each round is two shuffles (neighbor-min groupBy + label-of-label join)
  * and exactly ONE Spark job: [[org.apache.spark.sql.graft.CheckpointOps]]
  * materializes the round into persisted blocks while an accumulator
  * counts changed labels in the same pass (no separate convergence-probe
  * job), carries measured stats (join-size products otherwise compound
  * per round into million-digit BigInts inside stats estimation), and
  * the [[Rounds]] driver releases the PREVIOUS round's blocks as soon as
  * the new round is on disk/memory — without that, a long run of CC-using
  * queries piles dead checkpoint blocks into the block manager until
  * deferred GC lands inside later queries' wall time (round-3 bench: 2-4x
  * inflation of everything after the checkpoint-heavy queries).
  */
object ConnectedComponents {

  private def idOrdering(idType: org.apache.spark.sql.types.DataType)
      : Ordering[Any] = {
    import org.apache.spark.sql.types._
    idType match {
      case LongType | IntegerType | ShortType | ByteType =>
        Ordering.by((v: Any) => v.asInstanceOf[Number].longValue)
      case StringType => Ordering.by((v: Any) => v.asInstanceOf[String])
      case _ => Ordering.by((v: Any) => String.valueOf(v))
    }
  }

  /** The in-memory union-find both [[localContract]] (per partition) and
    * [[runScoped]] (per scope group) run: union every pair, then label
    * each node with the MINIMUM member of its set under `ordering` (the
    * [[run]] convention, so the labeling depends only on membership).
    * Consumes `pairs` fully before returning; the result yields each
    * distinct node once, as (node, component min). */
  private def unionFindMin(pairs: Iterator[(Any, Any)],
                           ordering: Ordering[Any]): Iterator[(Any, Any)] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = x
      while (parent(root) != root) root = parent(root)
      var cur = x // path halving
      while (parent(cur) != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val minOf = scala.collection.mutable.HashMap.empty[Any, Any]
    parent.keysIterator.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) => if (ordering.lt(n, m)) minOf(r) = n
        case None => minOf(r) = n
      }
    }
    parent.keysIterator.map(n => (n, minOf(find(n))))
  }

  /** Per-partition union-find contraction: replaces each partition's edge
    * set with the star forest (node → local component min) of the SAME
    * connectivity. One narrow pass, no shuffle; emits exactly one row per
    * distinct node in the partition — including the `(min, min)` self-row,
    * so the node set is preserved exactly.
    *
    * Why: feeding raw edges to the min-label fixpoint makes every round
    * re-shuffle the full edge multiset. Locally-clustered inputs (LSH
    * band graphs, near-dup pair lists) carry many redundant edges per
    * component per partition; the star forest is never larger and usually
    * far smaller, and it collapses each partition's local diameter to 1 —
    * the global rounds then only traverse CROSS-partition structure.
    *
    * Memory contract: one task holds a hashmap over its partition's
    * distinct nodes — bounded by partition sizing
    * (`spark.sql.files.maxPartitionBytes` / shuffle partition count), the
    * same budget an in-partition sort already assumes.
    */
  def localContract(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val sel = edges.select(col(srcCol), col(dstCol))
    val idType = sel.schema(0).dataType
    val ordering = idOrdering(idType)
    val enc = Encoders.row(StructType(Seq(
      StructField(srcCol, idType), StructField(dstCol, idType))))
    sel.mapPartitions { rows =>
      unionFindMin(rows.map(r => (r.get(0), r.get(1))), ordering)
        .map { case (n, m) => Row(n, m) }
    }(enc)
  }

  /** @param edges DataFrame of undirected edges (two id columns)
    * @param contractPasses [[localContract]] pre-passes before the global
    *        fixpoint: pass 1 runs on the input layout; each further pass
    *        hash-partitions the star edges by node first, so a node whose
    *        edges were scattered across partitions gets its partial stars
    *        merged (a union-find round at one narrow shuffle each). 0
    *        disables.
    * @return DataFrame(node, component); isolated nodes absent from `edges`
    *         are absent here (union self-components if needed). */
  def run(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          maxIter: Int = 50, contractPasses: Int = 2): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Contraction pre-passes: shrink the edge multiset to (at most) one
    // star row per node per partition before anything shuffles. Component
    // labels are unchanged — each pass preserves the node set and the
    // connectivity relation exactly, and the fixpoint below computes the
    // same min-id labeling on any equivalent edge set.
    var contracted = edges
      .select(col(srcCol).as("cu"), col(dstCol).as("cv"))
    var pass = 0
    while (pass < contractPasses) {
      val in = if (pass == 0) contracted
        else contracted.repartition($"cu")
      contracted = localContract(in, "cu", "cv")
      pass += 1
    }

    // Symmetrize + self-loops: every node sees itself and both directions.
    // ONE pass over the contracted plan via explode — the earlier 4-way
    // union re-executed the whole contraction subtree once per branch
    // inside this materialization (same multiset, so the distinct is
    // unchanged).
    val symM = materialize(
      contracted.select(explode(array(
          struct($"cu".as("u"), $"cv".as("v")),
          struct($"cv".as("u"), $"cu".as("v")),
          struct($"cu".as("u"), $"cu".as("v")),
          struct($"cv".as("u"), $"cv".as("v")))).as("p"))
        .select($"p.u".as("u"), $"p.v".as("v"))
        .distinct())
    val sym = symM.df

    val start = materialize(
      sym.groupBy($"u".as("node")).agg(min($"v").as("component")))
    val debug = sys.env.contains("SPARK_GRAFT_CC_DEBUG")
    val fixpoint = Rounds.iterate(start, maxIter, (_, n) => n.tracked == 0) {
        (cur, iter) =>
      val roundT0 = System.nanoTime()
      val labels = cur.df
      // 1) neighbor-min: min label over my neighborhood (incl. self-loop).
      //    The self-loop join row (u,u) carries u's own PREVIOUS label, so
      //    the old label for convergence counting falls out of this same
      //    groupBy — one whole labels join per round saved vs joining the
      //    previous frame back on node.
      val viaEdges = sym
        .join(labels.select($"node".as("v"), $"component"), "v")
        .groupBy($"u".as("node"))
        .agg(min($"component").as("component"),
          max(when($"v" === $"u", $"component")).as("old"))
      // 2) DOUBLE path halving: follow my label's label, twice — each
      //    extra label join costs far less than a full round (which also
      //    pays the neighbor-min shuffle and the materialization), and two
      //    jumps per round roughly halves the number of rounds on
      //    chain-shaped components.
      val hop1 = viaEdges
        .join(labels.select($"node".as("component"), $"component".as("c2")),
          Seq("component"), "left")
        .select($"node", least($"component", coalesce($"c2", $"component"))
          .as("component"), $"old")
      val next = hop1
        .join(labels.select($"node".as("component"), $"component".as("c3")),
          Seq("component"), "left")
        .select($"node", least($"component", coalesce($"c3", $"component"))
          .as("component"), $"old")
      // one job: materialize + count(component != old); cols are (node=0,
      // component=1, old=2)
      val nextM = materialize(next, track = Track.Diff(1, 2))
      if (debug) System.err.println(
        f"CC round $iter: ${(System.nanoTime() - roundT0) / 1e9}%.2fs changed=${nextM.tracked}")
      nextM.map(_.drop("old"))
    }
    symM.release() // labels are materialized; the edge set is dead
    fixpoint.df
  }

  /** STRONGLY connected components over a DIRECTED edge DataFrame — the
    * directed counterpart of [[run]], completing the curation toolkit
    * (link-graph analysis on crawl data is SCC-shaped: hubs/spam rings
    * are mutual-reachability classes, which undirected CC over-merges).
    *
    * Algorithm: forward-backward decomposition (Fleischer, Hendrickson
    * & Pinar, "On identifying strongly connected components in
    * parallel", IPDPS 2000) run BREADTH-FIRST over every live
    * subproblem at once. Each pass, every partition class picks a
    * pivot, flood-fills the pivot's descendants D and ancestors A
    * inside the class (frontier BFS — one keyed edge join + one
    * anti-join per hop, never a cartesian), emits D ∩ A as the pivot's
    * SCC, and splits the remainder into D\S / A\S / neither — three
    * classes no SCC can straddle (a mutual pair crossing the D
    * boundary would put both ends in D). The pivot is the MINIMUM of a
    * md5 priority ([[Dedup.md5Hash32]] — deterministic, engine-parity)
    * rather than the minimum id: on adversarially-chained graphs a
    * min-id pivot peels one SCC per pass (Θ(n) passes), while a
    * hash pivot splits like a quicksort partition — expected O(log n)
    * passes on ANY graph shape, with bit-identical reruns.
    *
    * Scale shape: state is one (node, part) row per live node and the
    * edge set re-scoped per pass by two keyed joins; every round
    * materializes through CheckpointOps with superseded blocks freed on
    * handoff (the [[run]] discipline). Inner BFS rounds are bounded by
    * the live subgraph's diameter — the inherent round complexity of
    * every distributed reachability method, same as [[run]]'s fixpoint.
    *
    * Output labels are SET-STABLE: scc = min member id (the [[run]]
    * component convention), so the labeling is a pure function of the
    * mutual-reachability relation. Self-loops are ignored for edges but
    * their endpoints keep a (singleton) row. Nodes absent from `edges`
    * are absent here, like [[run]].
    *
    * @return DataFrame(node, scc) */
  def scc(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
          maxOuterRounds: Int = 60, maxInnerRounds: Int = 200): DataFrame =
    sccWithHandles(edges, srcCol, dstCol, maxOuterRounds, maxInnerRounds)._1

  /** [[scc]] that also hands back the handles backing the result (the
    * settled per-pass frames): a caller that re-materializes the labels
    * into its own state — [[sccTopoLevels]] — can then release them
    * instead of leaving corpus-scale blocks pinned until GC. Callers that
    * consume the frame lazily (the public [[scc]], [[sccCondense]]) must
    * keep them persisted. */
  private[graft] def sccWithHandles(edges: DataFrame, srcCol: String = "src",
          dstCol: String = "dst", maxOuterRounds: Int = 60,
          maxInnerRounds: Int = 200): (DataFrame, Seq[Materialized]) = {
    val spark = edges.sparkSession
    import spark.implicits._
    // every round frame is pinned; the round-cap error paths throw and
    // Rounds.owning frees the WHOLE live set (a long-lived session that
    // catches the error must not keep round state pinned). On success the
    // set holds exactly the blocks backing the returned union (the found
    // frames) — the caller's result state, freed by its own lifecycle.
    Rounds.owning { pinned =>
      def pin(df: DataFrame): Materialized =
        pinned.add(materialize(df, truncate = true))
      val sel = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      val e0 = pin(sel.where($"esrc" =!= $"edst").distinct())
      var active = pin(
        sel.select($"esrc".as("node")).union(sel.select($"edst".as("node")))
          .distinct().select($"node", lit("r").as("part")))
      val emptyOut = sel.select($"esrc".as("node"), $"esrc".as("scc"))
        .where(lit(false))
      val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      var outer = 0
      while (active.rows > 0) {
        if (outer >= maxOuterRounds) throw new IllegalArgumentException(
          s"SCC did not finish in $maxOuterRounds FW-BW passes " +
            s"(${active.rows} nodes still live) — raise maxOuterRounds")
        // live edges: both endpoints in the same partition class
        val aliveE = pin(e0.df
          .join(active.df.select($"node".as("esrc"), $"part"), "esrc")
          .join(active.df.select($"node".as("edst"), $"part".as("p2")), "edst")
          .where($"part" === $"p2")
          .select($"part", $"esrc", $"edst"))
        // TRIM: a node missing a live out-edge or in-edge inside its class
        // lies on no cycle — a singleton SCC, settled without a flood
        // fill. Without this, nodes whose edges all crossed into removed
        // classes pool into ONE edge-free class that FW-BW would peel a
        // single pivot at a time (measured: the 1500-node registry graph
        // stranded 1204 such singletons — Θ(n) passes); with it they all
        // settle in the pass that strands them.
        val kept = active.df
          .join(aliveE.df.select($"part", $"esrc".as("node")).distinct(),
            Seq("part", "node"), "left_semi")
          .join(aliveE.df.select($"part", $"edst".as("node")).distinct(),
            Seq("part", "node"), "left_semi")
        val trimmed = pin(active.df
          .join(kept.select($"part", $"node"), Seq("part", "node"),
            "left_anti")
          .select($"node", $"node".as("scc")))
        if (trimmed.rows > 0) found += trimmed.df else pinned.release(trimmed)
        val keptM = pin(kept)
        if (keptM.rows == 0) {
          pinned.release(active)
          pinned.release(aliveE)
          active = keptM
        } else {
        val pr = Dedup.md5Hash32($"node".cast("string"), lit(0))
        // deterministic pseudo-random pivot: min md5 priority per class —
        // a min-ID pivot on chain-shaped remainders peels one SCC per
        // pass; the hash pivot splits like a quicksort partition
        val piv = keptM.df
          .select($"part", struct(pr.as("h"), $"node").as("hn"))
          .groupBy($"part").agg(min($"hn").as("m"))
          .select($"part", $"m.node".as("node"))
        // frontier BFS from each part's pivot along (part, u) -> v. Each
        // round materializes only the freshly-reached nodes; the reached
        // set is the lazy union of the per-round frames (pairHopDistances
        // discipline — rows are written once, not rewritten per round).
        def reach(dirEdges: DataFrame): (DataFrame, Seq[Materialized]) = {
          val seed = pin(piv)
          var frames = Vector(seed)
          var reached = seed.df
          var frontier = seed.df
          var inner = 0
          var grew = true
          while (grew) {
            if (inner >= maxInnerRounds) throw new IllegalArgumentException(
              s"SCC flood fill exceeded $maxInnerRounds hops — " +
                "raise maxInnerRounds for very-high-diameter graphs")
            val step = dirEdges
              .join(frontier.select($"part", $"node".as("u")), Seq("part", "u"))
              .select($"part", $"v".as("node")).distinct()
            val fresh = pin(step.join(reached, Seq("part", "node"), "left_anti"))
            grew = fresh.rows > 0
            if (!grew) pinned.release(fresh)
            else {
              frames :+= fresh
              reached = reached.union(fresh.df)
              frontier = fresh.df
            }
            inner += 1
          }
          (reached, frames)
        }
        val (fwd, fwdFrames) =
          reach(aliveE.df.select($"part", $"esrc".as("u"), $"edst".as("v")))
        val (bwd, bwdFrames) =
          reach(aliveE.df.select($"part", $"edst".as("u"), $"esrc".as("v")))
        val sccSet = fwd.join(bwd, Seq("part", "node"))
        found += pin(
          sccSet.join(sccSet.groupBy($"part").agg(min($"node").as("scc")),
              "part")
            .select($"node", $"scc")).df
        // remainder splits into D\S ('f'), A\S ('b'), neither ('n') — no
        // SCC straddles these, so each class recurses independently
        val nextActive = keptM.df
          .join(sccSet.select($"part", $"node", lit(1).as("in_s")),
            Seq("part", "node"), "left")
          .where($"in_s".isNull)
          .join(fwd.select($"part", $"node", lit(1).as("in_f")),
            Seq("part", "node"), "left")
          .join(bwd.select($"part", $"node", lit(1).as("in_b")),
            Seq("part", "node"), "left")
          .select($"node",
            concat($"part",
              when($"in_f".isNotNull, lit("f"))
                .when($"in_b".isNotNull, lit("b"))
                .otherwise(lit("n"))).as("part"))
        val nxt = pin(nextActive)
        (Seq(active, aliveE, keptM) ++ fwdFrames ++ bwdFrames)
          .foreach(pinned.release)
        active = nxt
        }
        outer += 1
      }
      pinned.release(active)
      pinned.release(e0)
      // pinned now holds exactly the found frames' blocks — the result's
      // backing state, surfaced to handle-aware callers
      (found.foldLeft(emptyOut)(_ union _), pinned.handles)
    }
  }

  /** INCREMENTAL connected-components maintenance — fold an ingest
    * batch of new undirected edges into a standing labeling WITHOUT
    * re-running the fixpoint over the corpus. State is two tables:
    *
    *  - `base(node, component)`: APPEND-ONLY — each node keeps the
    *    label it was first assigned; never rewritten;
    *  - `alias(c, canon)`: the FLAT merge map — labels later absorbed
    *    into a bigger component point at the surviving (minimum) label.
    *    Readers resolve `coalesce(alias[base[v]], base[v])`
    *    ([[resolveLabels]]) — one broadcast-sized join, the classic
    *    two-level union-find-at-rest layout.
    *
    * Per batch: the batch endpoints look up their effective labels (the
    * batch's node set BROADCAST against base — a probe of the standing
    * table, bucket-pruned point lookups at rest, never a shuffle of
    * it), the batch edges project onto a LABEL graph bounded by the
    * batch size, one union-find task solves that tiny graph (an
    * oversized batch falls back to the distributed [[run]]), and the
    * resulting merges (a) extend the alias map and (b) remap existing alias
    * targets that just got absorbed — so the alias stays flat (one hop
    * resolves) by induction: merge-map keys are live labels, which are
    * never already alias keys, and merge-map targets are the new roots.
    * Labels stay SET-STABLE min member ids: the min of merged min-labels
    * is the min member of the union, so the folded labeling is
    * bit-identical to a from-scratch [[run]] over all edges (spec'd,
    * and the registry row's oracle is exactly that full closure).
    *
    * @return (newBase, newAlias) */
  def incrementalMerge(base: DataFrame, alias: DataFrame, batch: DataFrame,
                       srcCol: String = "src", dstCol: String = "dst")
      : (DataFrame, DataFrame) = {
    val (inserts, newAlias) =
      incrementalMergeParts(base, alias, batch, srcCol, dstCol)
    (base.unionByName(inserts), newAlias)
  }

  /** [[incrementalMerge]] decomposed for AT-REST state: returns the
    * base-table APPEND (the batch's previously-unseen nodes, labeled by
    * themselves) and the full replacement alias — the shapes
    * [[graft.streaming.CcStream]] writes (base append-only, the
    * model-small alias rewritten per batch).
    *
    * Scale contract — the base probe never EXCHANGES the corpus-sized
    * standing base, and at rest it doesn't even scan all of it. A
    * `nodes LEFT JOIN base` can deliver neither (Spark can't broadcast
    * the PRESERVED side of an outer join, so above the broadcast
    * threshold the base shuffles on every ingest batch — O(corpus) per
    * batch). Instead, the batch node set — broadcast-sized by the
    * micro-batch contract — collects into an In PREDICATE on the probe:
    * pushed to the scan, it bucket-prunes a `bucketBy(node)` base table
    * and row-group-skips under its `sortBy(node)` min/max stats, so the
    * per-batch probe cost is O(matching buckets), not O(corpus). An
    * oversized batch falls back to a broadcast semi probe (one corpus
    * scan, still zero corpus shuffles). The unseen remainder falls out
    * of a broadcast anti against the batch-bounded probe result. Both
    * shapes are plan-gated in PlanSpec like the dd_incremental standing
    * index. The probe result materializes eagerly (batch-bounded rows)
    * so its three consumers don't each re-probe base.
    *
    * On the point path (≤ [[MaxPointLookupNodes]] endpoints, so at most
    * that many label nodes) ONE union-find task solves the merge graph:
    * [[localContract]] over the graph coalesced to a single partition,
    * exact because no edge can cross partitions. The merge map collects
    * once and re-enters as a local relation, as does the node set, and
    * the other cap-bounded frames broadcast into their joins, so neither
    * returned frame shuffles (PlanSpec-gated). The returned frames read
    * two batch-bounded snapshots that stay pinned until GC; callers that
    * can release them use [[mergeParts]]. */
  def incrementalMergeParts(base: DataFrame, alias: DataFrame,
                            batch: DataFrame, srcCol: String = "src",
                            dstCol: String = "dst",
                            maxPointLookup: Int = MaxPointLookupNodes)
      : (DataFrame, DataFrame) = {
    val p = mergeParts(base, alias, batch, srcCol, dstCol, maxPointLookup)
    (p.inserts, p.newAlias)
  }

  /** One batch's [[incrementalMergeParts]] with its handles: `solved` is
    * the solved merge graph (node, component) — on the point path the
    * frame whose non-identity rows were collected, exposed for the
    * PlanSpec gate — and `pinned` the batch-bounded snapshots `inserts`
    * and `newAlias` read, which [[release]] unpersists once the caller
    * has materialized both. */
  private[graft] final case class MergeParts(inserts: DataFrame,
      newAlias: DataFrame, solved: DataFrame, pinned: Seq[Materialized]) {
    def release(): Unit = pinned.foreach(_.release())
  }

  /** See [[incrementalMergeParts]]. */
  private[graft] def mergeParts(base: DataFrame, alias: DataFrame,
      batch: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxPointLookup: Int = MaxPointLookupNodes): MergeParts = {
    val spark = base.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    def local(rows: Seq[Row], schema: StructType): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }
    // materialize the batch edge set ONCE (batch-bounded rows): its
    // lazy plan is consumed by the node collect, the label-edge joins,
    // and the merge solve — a batch DERIVED from a corpus-sized
    // source (the registry rows slice a spatial self-join) would
    // otherwise re-execute that derivation per consumer
    val eM = materialize(
      batch.select(col(srcCol).as("a"), col(dstCol).as("b")), truncate = true)
    val e = eM.df
    val distinctNodes = e.select($"a".as("node"))
      .union(e.select($"b".as("node"))).distinct()
    val nodeVals = distinctNodes.limit(maxPointLookup + 1).collect()
      .map(_.get(0)).toSeq
    val pointPath = nodeVals.nonEmpty && nodeVals.length <= maxPointLookup
    // on the point path the node set is already collected
    val nodes =
      if (pointPath) local(nodeVals.map(Row(_)),
        StructType(Seq(StructField("node", e.schema(0).dataType))))
      else distinctNodes
    val seen0 =
      if (nodeVals.isEmpty) base.where(lit(false))
      else if (pointPath) probeBaseLabelsPoint(base, nodeVals)
      else probeBaseLabels(base, nodes)
    val seenM = materialize(seen0, truncate = true)
    val seen = seenM.df
    // the broadcast hint is only sound on the point path (≤ the lookup
    // cap by construction); an oversized batch's frames stay unhinted —
    // Spark broadcasts them when they fit the threshold and falls back
    // to a batch-sized shuffle when they don't
    def capped(df: DataFrame): DataFrame =
      if (pointPath) broadcast(df) else df
    val inserts = nodes.join(capped(seen.select($"node")), Seq("node"),
        "left_anti")
      .select($"node", $"node".as("component"))
    val eff = capped(seen
      .join(alias.select($"c".as("component"), $"canon"),
        Seq("component"), "left")
      .select($"node", coalesce($"canon", $"component").as("lbl"))
      .unionByName(inserts.select($"node", $"node".as("lbl"))))
    val lblEdges = e
      .join(eff.select($"node".as("a"), $"lbl".as("la")), "a")
      .join(eff.select($"node".as("b"), $"lbl".as("lb")), "b")
      .select($"la".as("src"), $"lb".as("dst"))
    // the merge graph is batch-bounded: one label node per distinct
    // effective label among the batch's endpoints — on the point path
    // few enough for one task, which is exact over a single partition
    val solved =
      if (pointPath)
        localContract(lblEdges.coalesce(1)).toDF("node", "component")
      else run(lblEdges)
    val merges = solved.where($"node" =!= $"component")
      .select($"node".as("c"), $"component".as("canon"))
    // collected once (≤ the cap) so both consumers below read rows, not
    // the solve's lineage
    val mergeMap =
      if (pointPath) local(merges.collect().toSeq, merges.schema)
      else merges
    val remapped = alias
      .join(capped(mergeMap.select($"c".as("canon"), $"canon".as("canon2"))),
        Seq("canon"), "left")
      .select($"c", coalesce($"canon2", $"canon").as("canon"))
    MergeParts(inserts, remapped.unionByName(mergeMap), solved,
      Seq(eM, seenM))
  }

  /** Batch node sets up to this size probe the base as a pushed-down
    * In predicate ([[probeBaseLabelsPoint]]); larger ones fall back to
    * the broadcast semi probe. Sized where the literal list stays
    * cheap to plan and serialize (10k literals ≈ 100 KB of plan) —
    * past micro-batch size the semi probe's single scan is amortized
    * over the batch anyway. */
  private[graft] val MaxPointLookupNodes = 10000

  /** The oversized-batch FALLBACK base probe of
    * [[incrementalMergeParts]] — (node, component) rows of `base` whose
    * node appears in the batch node set, via an UNHINTED semi join:
    * Spark broadcasts the node set while it fits the threshold (base
    * streams, no Exchange), and past that degrades to the sort-merge
    * plan, where a `bucketBy(node)` at-rest base still carries no
    * Exchange (only the batch pays one). A forced broadcast hint here
    * would make the genuinely-huge-batch case fail outright instead of
    * degrading. Exposed so the PlanSpec gate asserts exactly the join
    * the ingest path runs. */
  private[graft] def probeBaseLabels(base: DataFrame, nodes: DataFrame)
      : DataFrame =
    base.join(nodes, Seq("node"), "left_semi")

  /** The POINT-LOOKUP base probe: the batch node set as an In predicate
    * on the scan — bucket-pruned on a `bucketBy(node)` table,
    * row-group-skipped under `sortBy(node)` stats. Exposed for the
    * PlanSpec gate (no join, no Exchange, SelectedBucketsCount on the
    * bucketed at-rest form). */
  private[graft] def probeBaseLabelsPoint(base: DataFrame,
                                          nodeVals: Seq[Any]): DataFrame =
    base.where(col("node").isInCollection(nodeVals))

  /** Resolve a standing [[incrementalMerge]] labeling to effective
    * (node, component) rows — base joined once against the flat alias. */
  def resolveLabels(base: DataFrame, alias: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.join(alias.select($"c".as("component"), $"canon"),
        Seq("component"), "left")
      .select($"node", coalesce($"canon", $"component").as("component"))
  }

  /** Deterministic batch-sequenced fold: [[run]] on the initial edges,
    * then [[incrementalMergeParts]] per batch in arrival order, resolved
    * at the end — the stream ≡ batch form the registry row replays (its
    * oracle is the full closure over ALL edges, which IS the
    * fold-equals-rebuild equivalence check).
    *
    * The base is APPEND-ONLY state, so it accumulates as FRAMES: the
    * initial labeling plus one batch-bounded insert frame per batch,
    * carried as a lazy union of checkpointed frames (the
    * pairHopDistances frontier discipline — total writes Σ = |final
    * base| once, where re-checkpointing `base ∪ inserts` whole per
    * batch writes O(batches · corpus)). This is the in-memory mirror of
    * what [[graft.streaming.CcStream]]'s at-rest form gets for free by
    * appending to the base table. Frames checkpoint lineage-truncating
    * (batch count is unbounded); the alias hands off on the [[Rounds]]
    * driver and each batch's merge snapshots are released — every base
    * frame stays live state until the resolve. */
  def incrementalFold(initialEdges: DataFrame, batches: Seq[DataFrame],
                      srcCol: String = "src", dstCol: String = "dst")
      : DataFrame = {
    val spark = initialEdges.sparkSession
    import spark.implicits._
    val base0 = materialize(run(initialEdges, srcCol, dstCol),
      truncate = true).df
    var frames = Vector(base0)
    val alias0 = materialize(
      base0.select($"component".as("c"), $"component".as("canon"))
        .where(lit(false)), truncate = true)
    val alias = Rounds.iterate(alias0, batches.size) { (alias, i) =>
      val p = mergeParts(frames.reduce(_ unionByName _), alias.df,
        batches(i - 1), srcCol, dstCol)
      frames :+= materialize(p.inserts, truncate = true).df
      val next = materialize(p.newAlias, truncate = true)
      p.release()
      next
    }
    resolveLabels(frames.reduce(_ unionByName _), alias.df)
  }

  /** CONDENSATION of the directed graph: collapse every SCC to one node
    * and emit the distinct inter-component edges with their multiplicity
    * — the DAG that link-graph analysis actually reads (which clusters
    * feed which, where the sinks/sources are; acyclic by the definition
    * of SCC, so topological processing downstream is safe). Composition:
    * [[scc]] labels joined onto both edge endpoints (two keyed joins),
    * cross-component filter, (src_scc, dst_scc) partial-agg count.
    * Self-loops and duplicate input edges never create components or
    * counts the label join didn't already see — the edge set is
    * de-duplicated exactly like [[scc]]'s own ([[scc]] ignores
    * self-loops; here they drop on src_scc = dst_scc).
    *
    * @return DataFrame(src_scc, dst_scc, n_edges) */
  def sccCondense(edges: DataFrame, srcCol: String = "src",
                  dstCol: String = "dst"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val labels = scc(edges, srcCol, dstCol)
    val e = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
      .where($"esrc" =!= $"edst").distinct()
    e.join(labels.select($"node".as("esrc"), $"scc".as("src_scc")), "esrc")
      .join(labels.select($"node".as("edst"), $"scc".as("dst_scc")), "edst")
      .where($"src_scc" =!= $"dst_scc")
      .groupBy($"src_scc", $"dst_scc")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** TOPOLOGICAL LEVELS over the condensation DAG — the consumer
    * [[sccCondense]] was missing: "how deep is the link graph, which
    * clusters are the sources/sinks" is the standard next question
    * after condensing, and it needs a level per SCC, not just the DAG.
    * Level = iterative SOURCE PEEL round: every SCC with no remaining
    * in-edge settles at the current level and its out-edges leave the
    * live edge set — i.e. level(c) = length of the longest condensation
    * path ending at c (the recurrence 1 + max(level(preds)), 0 at
    * sources), which a recursive longest-path oracle replays with no
    * peel logic shared.
    *
    * Plan shape: one [[scc]] run; per level two anti-joins over the
    * REMAINING (strictly shrinking) scc-node / condensed-edge frames,
    * each checkpointed lineage-truncated (level count is
    * data-dependent) with superseded frames freed on handoff; settled
    * levels accumulate as per-round frames written once (the frontier
    * discipline). Rounds = DAG depth — the inherent round complexity of
    * any topological peel. The condensation is SCC-count-sized, far
    * below the input edge set.
    *
    * @return DataFrame(scc, level) — one row per distinct SCC label */
  def sccTopoLevels(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // the pinned-set discipline of scc(): every live round frame is
    // pinned, and the cycle-guard error path frees the WHOLE set
    Rounds.owning { pinned =>
      def pin(df: DataFrame): Materialized =
        pinned.add(materialize(df, truncate = true))
      val (sccDf, sccHandles) = sccWithHandles(edges, srcCol, dstCol)
      sccHandles.foreach(pinned.add)
      val lab = pin(sccDf)
      val e = edges.select(col(srcCol).as("esrc"), col(dstCol).as("edst"))
        .where($"esrc" =!= $"edst").distinct()
      val ce = e
        .join(lab.df.select($"node".as("esrc"), $"scc".as("s")), "esrc")
        .join(lab.df.select($"node".as("edst"), $"scc".as("d")), "edst")
        .where($"s" =!= $"d").select($"s", $"d").distinct()
      var rem = pin(lab.df.select($"scc").distinct())
      var remE = pin(ce)
      // condensation materialized: the labels AND the scc run's own
      // settled frames behind them are dead state now — free both
      // (leaving them pinned is the deferred-cleanup inflation
      // CheckpointOps documents)
      (lab +: sccHandles).foreach(pinned.release)
      val found = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val emptyOut =
        rem.df.select($"scc", lit(0).as("level")).where(lit(false))
      var level = 0
      while (rem.rows > 0) {
        val srcs = pin(rem.df
          .join(remE.df.select($"d".as("scc")).distinct(), Seq("scc"),
            "left_anti")
          .select($"scc", lit(level).as("level")))
        // impossible after SCC condensation (the DAG property); guards
        // an infinite peel if a caller feeds pre-labeled non-SCC input
        if (srcs.rows == 0) throw new IllegalArgumentException(
          s"topological peel found no sources with ${rem.rows} nodes " +
            "left — the condensed graph has a cycle")
        found += srcs.df
        val nxt = pin(
          rem.df.join(srcs.df.select($"scc"), Seq("scc"), "left_anti"))
        val nxtE = pin(
          remE.df.join(srcs.df.select($"scc".as("s")), Seq("s"), "left_anti"))
        pinned.release(rem)
        pinned.release(remE)
        rem = nxt
        remE = nxtE
        level += 1
      }
      pinned.release(rem)
      pinned.release(remE)
      found.foldLeft(emptyOut)(_ unionByName _)
    }
  }

  /** Connected components when a partition column is KNOWN to bound every
    * component — e.g. the reference's per-city ER blocking
    * (`/root/reference/etl/er.py:303-305`: candidate pairs are generated
    * within a city, so no component can span cities).
    *
    * That bound turns the iterative fixpoint into a SINGLE shuffle: group
    * edges by the scope column and run an in-memory union-find per group
    * (path halving + min-member labeling, deterministic: identical output
    * to [[run]] on the same edges). Where [[run]] pays O(log n) driver
    * rounds of 2 shuffles each — ~18 rounds on the sf0.1 ER graph — this
    * is one exchange and one pass, and at 100 TB it shuffles each edge
    * exactly once, partitioned by city, with no driver-side loop at all.
    *
    * Memory contract: one scope group's nodes+edges must fit in an
    * executor's task memory (cities are bounded — the largest real city's
    * place graph is ~10^5-10^6 edges, a few tens of MB). If a scope can
    * exceed that, fall back to [[run]] or pre-contract within the scope.
    *
    * @return DataFrame(scopeCol, node, component) — only nodes that appear
    *         in `edges`, like [[run]]. */
  def runScoped(edges: DataFrame, scopeCol: String,
                srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val sel = edges.select(col(scopeCol), col(srcCol), col(dstCol))
    val idType = sel.schema(1).dataType
    val ordering = idOrdering(idType)
    val outSchema = StructType(Seq(
      sel.schema.fields(0).copy(name = scopeCol),
      StructField("node", idType), StructField("component", idType)))
    val enc = Encoders.row(outSchema)
    sel.groupByKey(r => String.valueOf(r.get(0)))(Encoders.STRING)
      .flatMapGroups { (_, rows) =>
        var scopeVal: Any = null
        unionFindMin(rows.map { r =>
            scopeVal = r.get(0); (r.get(1), r.get(2))
          }, ordering)
          .map { case (n, m) => Row(scopeVal, n, m) }
      }(enc)
  }
}
