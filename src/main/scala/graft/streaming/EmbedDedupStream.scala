package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming embedding near-dup detection against a STANDING SRP-bucket
  * index — [[DedupStream]] for vectors: embedding batches arrive, each
  * probes the persisted index for near-dups of everything already
  * ingested (exact-cosine verified), probes itself for within-batch
  * dups, and appends its own bucket rows so LATER batches dedup against
  * it. The index is the only state — no watermarked stream state grows
  * with history, and the per-batch cost is O(batch + matching buckets)
  * (the [[Dedup.incrementalEmbedLshBuckets]] contract).
  *
  * Both paths instantiate [[IncrementalIngest]] — the one copy of the
  * fold / probe-then-append / replay-idempotence skeleton (see its doc
  * for the exact foreachBatch replay contract). [[ingestFold]] is the
  * deterministic batch-sequenced equivalent the oracle-checked registry
  * row (`st_embed_dedup`) uses — the stream ≡ batch discipline.
  */
object EmbedDedupStream {

  /** Deterministic batch path: fold the batches in arrival order, each
    * probing index + all earlier batches; emits (a_id, b_id, kind,
    * cosine, batch_id). Pairs never repeat across batches — probe
    * `b`-sides are disjoint. */
  def ingestFold(index: DataFrame, batches: Seq[DataFrame], idCol: String,
                 vecCol: String, threshold: Double = 0.9,
                 numPlanes: Int = 8, tables: Int = 4): DataFrame =
    IncrementalIngest.fold(index, batches,
      Dedup.embedLshIndex(_, idCol, vecCol, numPlanes, tables),
      Dedup.incrementalEmbedLshBuckets(_, _, threshold))

  /** Streaming path against a standing index table holding
    * [[Dedup.embedLshIndex]] rows (bucket it on (table, bucket) at rest
    * — [[Dedup.writeEmbedIndex]] — so the standing side probes
    * exchange-free). Replay-idempotent per [[IncrementalIngest.run]]. */
  def run(streamEmb: DataFrame, idCol: String, vecCol: String,
          indexTable: String, outPath: String, checkpoint: String,
          threshold: Double = 0.9, numPlanes: Int = 8,
          tables: Int = 4): StreamingQuery =
    IncrementalIngest.run(streamEmb,
      Dedup.embedLshIndex(_, idCol, vecCol, numPlanes, tables),
      Dedup.incrementalEmbedLshBuckets(_, _, threshold),
      indexTable, outPath, checkpoint)

  // ------------------------------------------------------- FLAG mode

  /** Deterministic batch-sequenced fold of the FLAG-mode dedup
    * ([[Dedup.embedDedupCollapse]] — the scale-safe default; see its
    * doc for why pair emission is the opt-in): each batch collapses its
    * exact duplicates, probes index + earlier batches' reps, emits
    * (id, rep_id, n_rep, keep, batch_id), and appends its REPS'
    * buckets for later batches — [[IncrementalIngest.foldCollapse]],
    * the one copy of the flag-mode skeleton both modalities share. */
  def ingestFoldCollapse(index: DataFrame, batches: Seq[DataFrame],
                         idCol: String, vecCol: String,
                         threshold: Double = 0.9, numPlanes: Int = 8,
                         tables: Int = 4): DataFrame =
    IncrementalIngest.foldCollapse(index, batches, idCol,
      embedCollapse(idCol, vecCol, threshold, numPlanes, tables))

  /** Streaming FLAG-mode path — replay-idempotent per
    * [[IncrementalIngest.ingestBatchCollapse]]. */
  def runCollapse(streamEmb: DataFrame, idCol: String, vecCol: String,
                  indexTable: String, outPath: String, checkpoint: String,
                  threshold: Double = 0.9, numPlanes: Int = 8,
                  tables: Int = 4): StreamingQuery =
    IncrementalIngest.runCollapse(streamEmb, idCol,
      embedCollapse(idCol, vecCol, threshold, numPlanes, tables),
      indexTable, outPath, checkpoint)

  private def embedCollapse(idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int, tables: Int)
      : (DataFrame, DataFrame) => (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    (idx, batch) =>
      Dedup.embedDedupCollapse(idx,
        // the empty-fold path hands an index-shaped frame through;
        // real batches carry (idCol, vecCol) already
        if (batch.columns.contains(vecCol)) batch
        else batch.select(col("id").as(idCol)).limit(0)
          .withColumn(vecCol,
            org.apache.spark.sql.functions.array().cast("array<float>")),
        idCol, vecCol, threshold, numPlanes, tables)
  }
}
