package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.Materialized
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ConnectedComponents, HbRegStore, HyperBall,
  HyperBallAdaptive, HyperBallState, Rounds}

/** Streaming HyperBall maintenance against AT-REST standing state —
  * the [[CcStream]] discipline applied to the incremental per-hop
  * register stacks of
  * [[HyperBall.hyperBallNeighborhoodIncremental]]: where the in-memory
  * form keeps each hop's frames as session-local localCheckpoint
  * blocks that grow one frame per batch forever (and re-unions them on
  * every probe), here each hop's stack is ONE `bucketBy(node)` catalog
  * table, append per delta:
  *
  *  - frame count becomes FILE count — probes and resolution stay one
  *    bucketed scan no matter how many batches ever folded (the axis
  *    the in-memory form degrades on), batch-node probes push down as
  *    In predicates that BUCKET-PRUNE the scan;
  *  - register max-merge is idempotent/order-free, so the tables are
  *    append-only with resolution = max-merge groupBy — which the
  *    bucketing answers with ZERO exchange — and [[compact]] is just
  *    that groupBy made durable (each hop max-merged back to one frame,
  *    the union-find path-compression-at-rest move of
  *    [[CcStream.compact]], same DROP/RENAME recovery discipline);
  *  - the standing edge set is its own `bucketBy(src)` append-only
  *    table, so per-hop delta propagation probes it bucket-pruned too.
  *
  * The fold itself is [[HyperBallState.foldBatch]] — the SAME code the
  * in-memory registry rows run, over a table-backed [[HbRegStore]] —
  * so stream == fold == rebuild is structural. Replaying a batch
  * appends no register frame (no register can grow); it does re-append
  * the batch's edges, which is harmless under idempotent max-merge and
  * deduplicated by the next [[compact]].
  *
  * DELETIONS are out of contract, inherently: HLL registers are
  * monotone (max-merge only grows), so an edge's influence cannot be
  * subtracted from the standing state — the same property that makes
  * the append-only fold exact makes decremental maintenance impossible
  * (true of every insert-only sketch, not this implementation). A
  * corpus with retention windows keeps one register FAMILY per epoch
  * (init a new prefix per window, drop expired prefixes whole) and
  * unions estimates across live epochs; point deletions require a
  * rebuild, exactly as they would for the batch form.
  *
  * Deployment note (same as [[CcStream.writeCcBase]]): Spark's
  * DisableUnnecessaryBucketedScan rule keeps bucketed scans only for
  * joins/aggs on the bucket key — it doesn't know about bucket
  * PRUNING, so filter-only point probes need
  * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false` to
  * keep their SelectedBucketsCount; pushdown and the no-exchange shape
  * hold regardless. */
object HbStream {

  private[graft] def edgesTable(prefix: String): String = s"${prefix}_edges"
  private[graft] def regsTable(prefix: String, h: Int): String =
    s"${prefix}_regs_h$h"

  /** Initialize (or re-initialize) the standing state: drops any
    * existing family tables, writes the edge table, and runs the
    * shared initial propagation — one bucketed register table per hop
    * 0..maxHops. `p` and `maxHops` are recorded as table properties on
    * the edge table so every later call derives them from the catalog
    * (readers and writers cannot drift on the register geometry). */
  def init(initialEdges: DataFrame, prefix: String, pathRoot: String,
           maxHops: Int = 3, p: Int = 6, srcCol: String = "src",
           dstCol: String = "dst", numBuckets: Int = 8): Unit = {
    require(maxHops >= 1, "need at least one hop")
    val spark = initialEdges.sparkSession
    dropFamily(spark, prefix)
    val store = new TableHbRegStore(spark, prefix, p, pathRoot, numBuckets)
    try {
      HyperBallState.init(store, initialEdges, maxHops, srcCol, dstCol)
      spark.sql(s"ALTER TABLE ${edgesTable(prefix)} SET TBLPROPERTIES " +
        s"('graft.hb.p' = '$p', 'graft.hb.maxhops' = '$maxHops')")
    } finally store.close()
  }

  /** One micro-batch's delta fold against the standing tables — the
    * [[HyperBallState.foldBatch]] contract (batch ball must be
    * broadcast-sized; replay appends no register frame). Recovers a
    * [[compact]] that died mid-swap before touching anything, like
    * [[CcStream.ingestBatch]]. */
  def ingestBatch(batch: DataFrame, prefix: String, srcCol: String = "src",
                  dstCol: String = "dst"): Unit = {
    val spark = batch.sparkSession
    if (compactNeedsRecovery(spark, prefix)) recoverCompact(spark, prefix)
    refreshFamily(spark, prefix)
    val (p, _) = readMeta(spark, prefix)
    val store = new TableHbRegStore(spark, prefix, p, pathRoot = null,
      numBuckets = 0)
    try HyperBallState.foldBatch(store, batch, srcCol, dstCol)
    finally store.close()
  }

  /** The RESOLVED per-hop estimate frames (node, n$h) off the standing
    * tables — one bucketed scan + zero-exchange max-merge per hop. The
    * top hop is derived from the CATALOG (which hop tables exist), not
    * the recorded geometry, so a growth that crashed between its table
    * write and its property update still serves its new hop. */
  def estimates(spark: SparkSession, prefix: String): Seq[DataFrame] = {
    refreshFamily(spark, prefix)
    val (p, _) = readMeta(spark, prefix)
    val store = new TableHbRegStore(spark, prefix, p, pathRoot = null,
      numBuckets = 0)
    (0 to store.maxHop).map(h =>
      HyperBall.packedEstimate(store.resolved(h), s"n$h", 1 << p))
  }

  /** The neighborhood function off the standing tables — the same
    * shared fold as the rebuild and in-memory incremental forms. */
  def neighborhoodFunction(spark: SparkSession, prefix: String): DataFrame =
    HyperBall.nfFold(estimates(spark, prefix))

  /** Harmonic centrality off the SAME standing tables — one standing
    * register history serves every geometric centrality. */
  def harmonic(spark: SparkSession, prefix: String): DataFrame =
    HyperBall.harmonicFold(estimates(spark, prefix))

  /** Extend the standing state one hop: one shared propagation round
    * of the resolved top registers over the full standing edge set,
    * landed as a NEW hop table at `pathRoot/regs_h<top+1>` and recorded
    * in the catalog geometry (`graft.hb.maxhops`). Single-writer slot,
    * like ingest. */
  def growHop(spark: SparkSession, prefix: String, pathRoot: String,
              numBuckets: Int = 8): Unit = {
    if (compactNeedsRecovery(spark, prefix)) recoverCompact(spark, prefix)
    refreshFamily(spark, prefix)
    val (p, _) = readMeta(spark, prefix)
    val store = new TableHbRegStore(spark, prefix, p, pathRoot, numBuckets)
    try HyperBallState.growHop(store) finally store.close()
    // record the ACTUAL top (the store counts existing hop tables) —
    // recording recorded+1 would undercount forever after a crash
    // between a previous growth's table write and its property update
    spark.sql(s"ALTER TABLE ${edgesTable(prefix)} SET TBLPROPERTIES " +
      s"('graft.hb.maxhops' = '${store.maxHop}')")
  }

  /** The neighborhood function off the standing tables under the
    * ADAPTIVE saturation stop — the at-rest composition of
    * [[HyperBall.hyperBallNeighborhoodIncrementalAdaptive]]: the state
    * extends lazily ([[growHop]] — new hop tables at `pathRoot`) until
    * the quantized Boldi-Vigna rule fires over the standing sums or
    * `hopCap`, and the emitted hops re-derive the stop over the final
    * sums. The stop arithmetic is [[graft.operators.HyperBallAdaptive]]
    * — the SAME copy the in-memory form runs — and the fold invariant
    * (state == rebuild per maintained hop) makes deferred growth land
    * the rebuild's next-hop registers exactly, so the output equals
    * the full-corpus adaptive rebuild over everything ever folded. */
  def neighborhoodFunctionAdaptive(spark: SparkSession, prefix: String,
      pathRoot: String, hopCap: Int = 5, epsilon: Double = 0.05,
      numBuckets: Int = 8): DataFrame = {
    require(hopCap >= 1, "need at least one hop")
    require(epsilon > 0.0 && epsilon < 1.0, "epsilon must be in (0, 1)")
    if (compactNeedsRecovery(spark, prefix)) recoverCompact(spark, prefix)
    refreshFamily(spark, prefix)
    val (p, _) = readMeta(spark, prefix)
    val store = new TableHbRegStore(spark, prefix, p, pathRoot, numBuckets)
    val qs = try {
      HyperBallAdaptive.growUntilSaturated(store,
        HyperBallAdaptive.qsAll(store), hopCap, epsilon)
    } finally store.close()
    val (_, recorded) = readMeta(spark, prefix)
    if (store.maxHop > recorded)
      spark.sql(s"ALTER TABLE ${edgesTable(prefix)} SET TBLPROPERTIES " +
        s"('graft.hb.maxhops' = '${store.maxHop}')")
    // the standing state may hold hops a PREVIOUS (larger-cap) call
    // grew; this call's emitted stop must not see past its own cap —
    // a rebuild at this cap never computes those sums
    HyperBallAdaptive.emit(spark, HyperBallAdaptive.stopped(
      qs.take(hopCap + 1), math.min(store.maxHop, hopCap), hopCap, epsilon))
  }

  /** COMPACTION: rewrite each hop's register table to its max-merge
    * resolution (ONE frame per node) and the edge table to its
    * distinct rows. Resolution is unchanged by construction (max-merge
    * is exactly the read path), so ingest can resume immediately; run
    * BETWEEN batches (single-writer contract). Every table swaps
    * through the [[CcStream.compact]] DROP/RENAME discipline: the
    * rewrite lands fully in a `_compacting` table at a FRESH path
    * (enforced against the catalog), and a crash between a table's
    * DROP and RENAME is recovered on the next compact/ingest entry.
    * A crash BETWEEN tables is benign — each table is independently
    * valid at either generation. */
  def compact(spark: SparkSession, prefix: String, newPathRoot: String,
              numBuckets: Int = 8): Unit = {
    if (compactNeedsRecovery(spark, prefix)) recoverCompact(spark, prefix)
    refreshFamily(spark, prefix)
    val (p, _) = readMeta(spark, prefix)
    // rewrite every hop table the CATALOG holds (not the recorded
    // geometry — a crashed growth's orphan top hop compacts too)
    val topHop = {
      var h = -1
      while (spark.catalog.tableExists(regsTable(prefix, h + 1))) h += 1
      require(h >= 0,
        s"no register tables for $prefix — run HbStream.init first")
      h
    }
    for (h <- 0 to topHop) {
      val live = regsTable(prefix, h)
      CatalogSwap.swapIn(spark, live, s"$newPathRoot/regs_h$h") {
        (tmp, path) =>
          writeRegsTable(HyperBall.maxMergeByNode(spark.table(live), 1 << p),
            tmp, path, numBuckets)
      }
    }
    val eLive = edgesTable(prefix)
    CatalogSwap.swapIn(spark, eLive, s"$newPathRoot/edges") { (tmp, path) =>
      writeEdgesTable(spark.table(eLive).distinct(), tmp, path, numBuckets)
      spark.sql(s"ALTER TABLE $tmp SET TBLPROPERTIES " +
        s"('graft.hb.p' = '$p', 'graft.hb.maxhops' = '$topHop')")
    }
  }

  /** True when a previous [[compact]] died in a DROP-to-RENAME window:
    * some family table is gone and its completed `_compacting` twin is
    * waiting. [[compact]] and [[ingestBatch]] recover on entry. */
  def compactNeedsRecovery(spark: SparkSession, prefix: String): Boolean =
    familyTables(spark, prefix).exists { t =>
      !spark.catalog.tableExists(t) &&
        spark.catalog.tableExists(t + "_compacting")
    }

  /** Streaming path: `foreachBatch` delta folds against the standing
    * tables, with an optional AUTO-COMPACTION policy: after every
    * `compactEvery` folded batches the stack compacts into a fresh
    * path from `compactPathFor` (called with a strictly-growing
    * generation number — return a path that embeds it). 0 disables.
    * Compaction runs INSIDE foreachBatch, between folds — the same
    * single-writer slot the batches themselves occupy. */
  def run(stream: DataFrame, prefix: String, checkpoint: String,
          srcCol: String = "src", dstCol: String = "dst",
          compactEvery: Int = 0,
          compactPathFor: Long => String = null): StreamingQuery = {
    require(compactEvery == 0 || compactPathFor != null,
      "auto-compaction needs a compactPathFor path generator")
    var sinceCompact = 0
    var generation = 0L
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        ingestBatch(batch.toDF(), prefix, srcCol, dstCol)
        sinceCompact += 1
        if (compactEvery > 0 && sinceCompact >= compactEvery) {
          val s = batch.sparkSession
          // the counter is in-memory and resets when the query
          // restarts — skip any generation whose path is where a
          // PREVIOUS incarnation already landed the live tables
          // (earlier generations' paths are dead files, overwritten
          // harmlessly); probe hop 0, the table every state has
          generation = CatalogSwap.freshGeneration(s,
            regsTable(prefix, 0), g => s"${compactPathFor(g)}/regs_h0",
            generation)
          compact(s, prefix, compactPathFor(generation))
          generation += 1
          sinceCompact = 0
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  // ---- plan-gate hooks: the EXACT plans ingest/read run, exposed so
  // PlanSpec can pin their no-corpus-Exchange shapes ------------------

  private[graft] def planProbe(spark: SparkSession, prefix: String,
                               h: Int, keys: DataFrame): DataFrame = {
    val (p, _) = readMeta(spark, prefix)
    new TableHbRegStore(spark, prefix, p, null, 0).resolveFor(h, keys)
  }

  private[graft] def planResolved(spark: SparkSession, prefix: String,
                                  h: Int): DataFrame = {
    val (p, _) = readMeta(spark, prefix)
    new TableHbRegStore(spark, prefix, p, null, 0).resolved(h)
  }

  private[graft] def planPropagate(spark: SparkSession, prefix: String,
                                   delta: DataFrame): DataFrame = {
    val (p, _) = readMeta(spark, prefix)
    new TableHbRegStore(spark, prefix, p, null, 0).propagateAlong(delta)
  }

  // ---- internals ----------------------------------------------------

  private def readMeta(spark: SparkSession, prefix: String): (Int, Int) = {
    val props = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(edgesTable(prefix))).properties
    (props("graft.hb.p").toInt, props("graft.hb.maxhops").toInt)
  }

  /** Every live (or mid-swap) table of the family, regs stacks probed
    * upward until neither generation exists — works even when the
    * edges table (and its meta) is itself mid-swap. */
  private def familyTables(spark: SparkSession,
                           prefix: String): Seq[String] = {
    def liveOrTmp(t: String): Boolean =
      spark.catalog.tableExists(t) ||
        spark.catalog.tableExists(t + "_compacting")
    val regs = Iterator.from(0).map(regsTable(prefix, _))
      .takeWhile(liveOrTmp).toSeq
    regs ++ Some(edgesTable(prefix)).filter(liveOrTmp)
  }

  /** Drop cached table relations for the whole family. Catalog writes
    * from ANOTHER session (the foreachBatch clone — streaming runs its
    * batches on a cloned SparkSession, and `insertInto` only refreshes
    * the WRITING session's relation cache) leave this session's cached
    * file listings stale: reads silently miss appended frames, and
    * post-swap reads chase dropped-generation files. Every
    * read/write/compact entry point invalidates first; the next query
    * re-lists — the price of cross-session freshness. */
  private def refreshFamily(spark: SparkSession, prefix: String): Unit =
    familyTables(spark, prefix).foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }

  private def recoverCompact(spark: SparkSession, prefix: String): Unit =
    familyTables(spark, prefix).foreach { t =>
      if (!spark.catalog.tableExists(t) &&
          spark.catalog.tableExists(t + "_compacting"))
        spark.sql(s"ALTER TABLE ${t}_compacting RENAME TO $t")
    }

  private def dropFamily(spark: SparkSession, prefix: String): Unit =
    familyTables(spark, prefix).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compacting")
    }

  private def writeRegsTable(regs: DataFrame, table: String, path: String,
                             numBuckets: Int): Unit =
    regs.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, "node").sortBy("node")
      .saveAsTable(table)

  private def writeEdgesTable(e: DataFrame, table: String, path: String,
                              numBuckets: Int): Unit =
    e.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, "src").sortBy("src")
      .saveAsTable(table)

  /** The table-backed [[HbRegStore]]: probes are pushed-down point
    * lookups on the bucketed tables (broadcast-semi above the
    * point-lookup cap — the [[ConnectedComponents]] probe ladder),
    * appends are `insertInto` (bucketing preserved), and every
    * checkpointed frame is batch-local (freed on close — the tables
    * hold the durable state). `pathRoot` is only consulted when a
    * table doesn't exist yet (the init path). */
  private final class TableHbRegStore(
      spark: SparkSession, prefix: String, val p: Int,
      pathRoot: String, numBuckets: Int) extends HbRegStore {
    private val cap = ConnectedComponents.MaxPointLookupNodes
    private val transients = new Rounds.Pinned
    private val m = 1 << p

    private var topHop = {
      var h = -1
      while (spark.catalog.tableExists(regsTable(prefix, h + 1))) h += 1
      h
    }
    def maxHop: Int = topHop

    // A hop table CREATED by this store holds exactly one frame — the
    // checkpointed delta just written — so propagation within the same
    // store lifetime (init's hop chain, adaptive growth) chains off the
    // in-memory frame instead of re-reading the parquet it just wrote
    // (measured: init paid a table read per growth round). Same rows by
    // construction; later sessions read the tables. Tables that
    // PRE-EXISTED (ingest appends) never mirror — their stacks hold
    // history this store didn't write.
    private val createdRegs =
      scala.collection.mutable.Map.empty[Int, DataFrame]
    private var createdEdges: Option[DataFrame] = None

    // one fold probes the SAME materialized key frame at every hop
    // (srcNodes feeds the seen-0 probe plus two resolves per hop) —
    // memoize the driver collect by frame identity so the key set
    // crosses the driver once per fold, not once per probe (each
    // collect is its own job barrier). Only ever hit for checkpointed
    // frames, whose content is stable by construction.
    private val collectedKeys =
      new java.util.IdentityHashMap[DataFrame, Seq[Any]]()

    /** Rows of `table` whose `keyCol` is in the batch-bounded key set:
      * an In predicate pushed to the scan (bucket-pruned, row-group
      * skipped) up to the point-lookup cap, an unhinted semi join past
      * it — never an exchange of the corpus side. */
    private def probe(table: String, keyCol: String,
                      keys: DataFrame): DataFrame = {
      val t = spark.table(table)
      val keyVals = {
        val hit = collectedKeys.get(keys)
        if (hit != null) hit
        else {
          val v = keys.limit(cap + 1).collect().map(_.get(0)).toSeq
          collectedKeys.put(keys, v)
          v
        }
      }
      if (keyVals.isEmpty) t.where(lit(false))
      else if (keyVals.size <= cap)
        t.where(col(keyCol).isInCollection(keyVals))
      else t.join(keys.withColumnRenamed(keys.columns.head, keyCol),
        Seq(keyCol), "left_semi")
    }

    def resolveFor(h: Int, keys: DataFrame): DataFrame =
      HyperBall.maxMergeByNode(probe(regsTable(prefix, h), "node", keys), m)

    def seen0Nodes(keys: DataFrame): DataFrame =
      probe(regsTable(prefix, 0), "node", keys)
        .select(col("node")).distinct()

    def appendDelta(h: Int, delta: Materialized): Unit = {
      transients.add(delta)
      val t = regsTable(prefix, h)
      if (spark.catalog.tableExists(t)) {
        delta.df.write.mode("append").insertInto(t)
        createdRegs.remove(h)
      } else {
        require(pathRoot != null,
          s"register table $t missing — run HbStream.init first")
        writeRegsTable(delta.df, t, s"$pathRoot/regs_h$h", numBuckets)
        createdRegs(h) = delta.df
      }
      if (h > topHop) topHop = h
    }

    def appendEdges(e: DataFrame): Unit = {
      val t = edgesTable(prefix)
      if (spark.catalog.tableExists(t)) {
        e.write.mode("append").insertInto(t)
        createdEdges = None
      } else {
        require(pathRoot != null,
          s"edge table $t missing — run HbStream.init first")
        writeEdgesTable(e, t, s"$pathRoot/edges", numBuckets)
        createdEdges = Some(e)
      }
    }

    def allEdges: DataFrame =
      createdEdges.getOrElse(spark.table(edgesTable(prefix)))

    def propagateAlong(delta: DataFrame): DataFrame =
      probe(edgesTable(prefix), "src", delta.select(col("node")))
        .join(broadcast(delta.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), col("regs"))

    def resolved(h: Int): DataFrame =
      // a this-store-created table's single frame IS its resolution
      // (node-unique), like the in-memory single-frame fast path
      createdRegs.getOrElse(h,
        HyperBall.maxMergeByNode(spark.table(regsTable(prefix, h)), m))

    def trackTransient(t: Materialized): Unit = transients.add(t)

    def close(): Unit = transients.releaseAll()
  }
}
