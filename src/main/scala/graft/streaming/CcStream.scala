package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.ConnectedComponents

/** Streaming connected-components maintenance against standing state —
  * the [[IncrementalIngest]] discipline applied to graph clustering,
  * where the standing state is the two-level union-find-at-rest layout
  * of [[ConnectedComponents.incrementalMerge]]:
  *
  *  - a `base(node, component)` table: APPEND-ONLY (each node keeps its
  *    first label; the corpus-sized table is never rewritten — the
  *    property that makes per-batch cost batch-proportional);
  *  - an `alias(c, canon)` table: the FLAT merge map, model-small
  *    (bounded by the number of component merges ever performed), so
  *    rewriting it per batch is a metadata-scale write.
  *
  * Each micro-batch: endpoints probe the standing labels (broadcast
  * batch-node set — bucket-pruned point lookups at rest), a BATCH-sized
  * label graph solves the merges in one union-find task (the
  * distributed fixpoint only for a batch past the point-lookup cap), the
  * new nodes append, the alias rewrites, and the batch's snapshots are
  * released. Readers resolve `coalesce(alias[base[v]], base[v])` — one
  * broadcast join ([[ConnectedComponents.resolveLabels]]).
  *
  * The deterministic batch-sequenced equivalent is
  * [[ConnectedComponents.incrementalFold]] — the stream ≡ fold parity
  * every st_* family spec pins, and the registry row
  * (`gr_cc_incremental`) checks the fold against the full-closure
  * oracle (fold == from-scratch rebuild). */
object CcStream {

  /** Write (or rewrite) the standing base table BUCKETED (and sorted)
    * by its probe key `node` — the at-rest layout for
    * [[ConnectedComponents.incrementalMergeParts]]'s label probe: the
    * broadcast semi probe already exchanges nothing, and a batch that
    * ever outgrows broadcast can probe UNHINTED: the sort-merge plan
    * then reads the base side pre-partitioned + pre-sorted straight off
    * the bucket files, only the batch paying an exchange (the
    * [[graft.operators.Dedup.writeMinHashIndex]] layout). Parquet
    * bucketing needs a catalog entry, hence table name + explicit
    * path. Appends via `insertInto` keep the bucketing.
    *
    * Deployment note: Spark's DisableUnnecessaryBucketedScan rule
    * keeps bucketed scans only for joins/aggs on the bucket key — it
    * doesn't know about bucket PRUNING, so the filter-only point probe
    * loses its SelectedBucketsCount pruning under the default. A
    * standing-state session should set
    * `spark.sql.sources.bucketing.autoBucketedScan.enabled=false`;
    * filter pushdown (row-group skipping) and the no-exchange shape
    * hold regardless. */
  def writeCcBase(base: DataFrame, table: String, path: String,
                  numBuckets: Int = 8): Unit =
    base.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, "node").sortBy("node")
      .saveAsTable(table)

  /** One micro-batch's merge-then-write, graft-visible so the replay
    * contract is directly spec-able: replaying a batch is a NO-OP by
    * construction — its endpoints already share components, so the
    * merge graph has no non-identity rows (alias unchanged) and the
    * base append anti-joins nodes already present. Returns the row
    * count of the alias it wrote (counted by the materialization the
    * write reads, so the auto-compaction check costs no job). Every
    * frame the batch pins is released once both writes land. */
  private[graft] def ingestBatch(batch: DataFrame, srcCol: String,
      dstCol: String, baseTable: String, aliasTable: String): Long = {
    val spark = batch.sparkSession
    // a compact() that died between its DROP and RENAME leaves the base
    // missing and the completed `_compacting` table waiting — without
    // this check every retry of the batch fails on a raw
    // table-not-found until an operator intervenes; the recovery is the
    // same idempotent swap-completion compact() runs on entry
    if (compactNeedsRecovery(spark, baseTable))
      recoverCompact(spark, baseTable, aliasTable)
    // drop cached relations: a previous writer may have been ANOTHER
    // session (insertInto only refreshes the writing session's cache),
    // and a stale file listing makes the label probe silently miss
    // appended base frames (the HbStream.refreshFamily discipline)
    spark.catalog.refreshTable(baseTable)
    spark.catalog.refreshTable(aliasTable)
    val b = batch.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      val parts = ConnectedComponents.mergeParts(
        spark.table(baseTable), spark.table(aliasTable), b,
        srcCol, dstCol)
      var pinned = parts.pinned
      try {
        // materialize BOTH writes' contents from ONE consistent snapshot
        // of the standing tables before EITHER write lands (eager, and
        // the overwrite target is also a source, so it needs the
        // lineage truncation anyway — the KnnGraphStream precedent):
        // executing newAlias after the base append would derive the
        // alias from a base the merge never saw, an invariant otherwise
        // held only by coalesce ordering
        val insertsSnap = materialize(parts.inserts, truncate = true)
        pinned :+= insertsSnap
        val aliasSnap = materialize(parts.newAlias, truncate = true)
        pinned :+= aliasSnap
        // base append (replay-safe: only previously-unseen nodes insert)
        insertsSnap.df.write.mode("append").insertInto(baseTable)
        // alias rewrite: model-small
        aliasSnap.df.write.mode("overwrite").insertInto(aliasTable)
        aliasSnap.rows
      } finally pinned.foreach(_.release())
    } finally b.unpersist(false)
  }

  /** COMPACTION: fold the alias into the base — rewrite every base row
    * to its resolved label and truncate the alias to empty. The
    * two-level layout stays correct WITHOUT this forever (the alias is
    * flat, one hop resolves), but the alias grows with the merge
    * HISTORY — on a corpus whose components keep coalescing it
    * approaches one row per label ever absorbed, and every batch
    * rewrites it whole. Compaction is the standard union-find
    * path-compression-at-rest move: an O(corpus) maintenance job run
    * occasionally (e.g. when |alias| crosses a broadcast-comfort
    * threshold), after which per-batch cost resets to probe + append +
    * tiny alias. Resolved labels are unchanged by construction
    * ([[ConnectedComponents.resolveLabels]] is exactly the rewrite), so
    * ingest can resume immediately; run it BETWEEN batches (same
    * single-writer contract as the batches themselves). The rewritten
    * base is re-bucketed through [[writeCcBase]] into a fresh path,
    * then swapped in via drop + rename. The swap is NOT atomic (the
    * catalog has no two-table transaction), but every crash window is
    * recoverable and compact() itself performs the recovery on entry:
    * a crash before the DROP leaves the live base untouched (the
    * partial `_compacting` table is dropped and redone); a crash
    * between DROP and RENAME leaves only the fully-written
    * `_compacting` table, which the next compact() (or any caller
    * checking [[compactNeedsRecovery]]) completes; a crash after the
    * RENAME but before the alias truncate is BENIGN — the stale alias
    * keys are labels no base row carries anymore, so resolution and
    * ingest treat them as no-ops until the truncate lands. */
  def compact(spark: SparkSession, baseTable: String, aliasTable: String,
              newBasePath: String, numBuckets: Int = 8): Unit = {
    if (compactNeedsRecovery(spark, baseTable)) {
      recoverCompact(spark, baseTable, aliasTable)
      return
    }
    spark.catalog.refreshTable(baseTable)
    spark.catalog.refreshTable(aliasTable)
    // the rewrite lands in a NEW table first (no read-overwrite hazard:
    // the old base/alias stay untouched sources until tmp is at rest);
    // newBasePath must be FRESH — a maintenance job that passes the
    // live base's own path would have writeCcBase's overwrite delete
    // the files the lazy `resolved` read is executing over. The
    // freshness guard and the DROP/RENAME swap are [[CatalogSwap]] —
    // one copy shared with [[HbStream.compact]]. (Dropping the old
    // external base leaves its files for storage-side lifecycle
    // cleanup.)
    val resolved = ConnectedComponents.resolveLabels(
      spark.table(baseTable), spark.table(aliasTable))
    CatalogSwap.swapIn(spark, baseTable, newBasePath) { (tmp, path) =>
      writeCcBase(resolved, tmp, path, numBuckets)
    }
    truncateAlias(spark, aliasTable)
  }

  /** Complete a [[compact]] that died between DROP and RENAME: the tmp
    * table is complete (it only exists once fully written) and already
    * holds the RESOLVED labels — finish the swap; nothing to redo.
    * Idempotent entry point shared by [[compact]] and [[ingestBatch]]. */
  private def recoverCompact(spark: SparkSession, baseTable: String,
                             aliasTable: String): Unit = {
    spark.sql(
      s"ALTER TABLE ${baseTable}_compacting RENAME TO $baseTable")
    truncateAlias(spark, aliasTable)
  }

  /** Overwrite the alias with no rows — built from its schema alone, so
    * the write reads nothing from the table it replaces. */
  private def truncateAlias(spark: SparkSession, aliasTable: String): Unit =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
        spark.table(aliasTable).schema)
      .write.mode("overwrite").insertInto(aliasTable)

  /** True when a previous [[compact]] died in its only dangerous
    * window (base dropped, rename pending) — the base table is gone
    * and the completed `_compacting` table is waiting. Ingest callers
    * can check this at startup; [[compact]] itself recovers on entry. */
  def compactNeedsRecovery(spark: SparkSession, baseTable: String): Boolean =
    !spark.catalog.tableExists(baseTable) &&
      spark.catalog.tableExists(baseTable + "_compacting")

  /** Streaming path: `foreachBatch` merge-then-write against standing
    * base + alias TABLES (see [[ingestBatch]] for the replay
    * contract), with an optional AUTO-COMPACTION policy: after a batch
    * leaves the alias at or above `compactAliasThreshold` rows, the
    * base compacts into a fresh path from `compactPathFor` (called
    * with a strictly-growing generation number — return a path that
    * embeds it) and the alias truncates. The alias size is the row count
    * [[ingestBatch]] already took while materializing the rewrite, so
    * the check adds no job; the threshold bounds BOTH the per-batch
    * alias rewrite and the broadcast the resolution join ships, which
    * is what actually degrades on a merge-heavy corpus (SCALE.md r17
    * records the growth curve behind the default). Compaction runs
    * INSIDE foreachBatch, between batches — the same single-writer
    * slot the batches occupy. 0 disables. */
  def run(stream: DataFrame, srcCol: String, dstCol: String,
          baseTable: String, aliasTable: String, checkpoint: String,
          compactAliasThreshold: Long = 0L,
          compactPathFor: Long => String = null): StreamingQuery = {
    require(compactAliasThreshold == 0L || compactPathFor != null,
      "auto-compaction needs a compactPathFor path generator")
    var generation = 0L
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val aliasRows =
          ingestBatch(batch.toDF(), srcCol, dstCol, baseTable, aliasTable)
        if (compactAliasThreshold > 0L && aliasRows >= compactAliasThreshold) {
          val s = batch.sparkSession
          // the counter is in-memory and resets when the query
          // restarts — skip any generation whose path is where a
          // PREVIOUS incarnation already landed the live base (earlier
          // generations' paths are dead files, overwritten harmlessly)
          generation = CatalogSwap.freshGeneration(s, baseTable,
            compactPathFor, generation)
          compact(s, baseTable, aliasTable, compactPathFor(generation))
          generation += 1
        }
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
