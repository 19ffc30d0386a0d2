package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  Expression}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

/** Manual materialization for iterative dataflows — `localCheckpoint`
  * with the two pieces `Dataset.localCheckpoint` doesn't give you:
  *
  *  1. **A handle on the persisted RDD**, so the caller can `unpersist`
  *     a round's blocks the moment the next round has materialized.
  *     `Dataset.localCheckpoint` leaks every round's blocks until driver
  *     GC + ContextCleaner get around to them; in a long back-to-back
  *     query run (or a long-lived cluster app) that deferred cleanup
  *     lands inside LATER queries' run time — measured in round 3 as a
  *     2-4x inflation of everything benched after the checkpoint-heavy
  *     queries.
  *  2. **Fused change-detection**: an accumulator counts rows where two
  *     columns differ DURING the materialization pass, so an iterative
  *     fixpoint (connected components) needs one Spark job per round,
  *     not checkpoint + a second convergence-probe job.
  *
  * The frame carries MEASURED statistics: `rowCount` is the row count
  * the persisting `rdd.count()` just took, and `sizeInBytes` is that
  * count times the schema's per-row width. Spark's own
  * `autoBroadcastJoinThreshold` then decides, join by join, whether a
  * checkpointed frame broadcasts — small iterative loop state (a
  * PageRank rank table, a CC label frame) does, without a hint.
  *
  * Carrying the pre-checkpoint plan's ESTIMATE instead (what Spark 4's
  * `Dataset.localCheckpoint` does with `originStats`) breaks iterative
  * loops: join size estimates are PRODUCTS of their input sizes, so a
  * loop that joins its own previous result k times per round compounds
  * the estimate k-fold per round. The BigInt grows to millions of digits
  * and the driver burns unbounded CPU in BigInteger.multiply inside stats
  * estimation (measured on a 2000-edge chain: round time 0.4s -> 119s by
  * round 10, the stat at 28M digits). Capping the carried estimate at
  * Long.MaxValue keeps planning flat, but leaves every join-derived frame
  * "huge", so small loop state never broadcasts. A measured leaf needs no
  * cap: it is a Long row count times a fixed row width, never a product
  * of upstream estimates, so each round's stats restart from the truth.
  *
  * Unlike `RDD.localCheckpoint`, lineage is NOT truncated — on block loss
  * (executor death on a real cluster) Spark can still recompute through
  * the parent chain, at the cost of a driver-side plan chain that grows
  * O(rounds); bounded in practice by `maxIter`.
  */
object CheckpointOps {
  /** Materialize `df` into persisted blocks and return (frame-on-blocks,
    * rdd-handle, count-of-rows-where-col(aIdx) != col(bIdx)). Pass
    * aIdx = bIdx to skip the diff (returns 0). Null-safe: null != non-null
    * counts as a change. */
  def checkpointDiff(df: DataFrame, aIdx: Int, bIdx: Int)
      : (DataFrame, RDD[InternalRow], Long) = {
    val (out, rdd, diff, _) = materialize(df, aIdx, bIdx, truncate = false)
    (out, rdd, diff)
  }

  /** [[checkpointTruncated]] that ALSO sums a long column during the
    * materialization pass (the [[checkpointDiff]] accumulator
    * discipline: updates happen inside the persisting count action, so
    * Spark applies each task's update exactly once). An iterative loop
    * that needs a global scalar per round (the adaptive-HyperBall
    * quantized ball-sum) gets it without a second full scan of the
    * frame it just wrote — at corpus scale that second scan is a full
    * register-table pass per hop. Null sums as 0. */
  def checkpointSum(df: DataFrame, sumIdx: Int)
      : (DataFrame, RDD[InternalRow], Long) = {
    val (out, rdd, s, _) =
      materialize(df, 0, 0, truncate = false, sumIdx = sumIdx)
    (out, rdd, s)
  }

  /** [[checkpointSum]] with lineage truncation (see
    * [[checkpointTruncated]]). */
  def checkpointSumTruncated(df: DataFrame, sumIdx: Int)
      : (DataFrame, RDD[InternalRow], Long) = {
    val (out, rdd, s, _) =
      materialize(df, 0, 0, truncate = true, sumIdx = sumIdx)
    (out, rdd, s)
  }

  /** [[checkpointSumTruncated]] that ALSO surfaces the materialized row
    * count (free — the persisting `rdd.count()` already ran): an
    * iterative fold that needs both a did-anything-change count and a
    * global scalar per round (the incremental adaptive-HyperBall
    * ball-sum deltas) gets them from the ONE materializing pass. */
  def checkpointCountSumTruncated(df: DataFrame, sumIdx: Int)
      : (DataFrame, RDD[InternalRow], Long, Long) = {
    val (out, rdd, s, n) =
      materialize(df, 0, 0, truncate = true, sumIdx = sumIdx)
    (out, rdd, n, s)
  }

  private def materialize(df: DataFrame, aIdx: Int, bIdx: Int,
                          truncate: Boolean, sumIdx: Int = -1)
      : (DataFrame, RDD[InternalRow], Long, Long) = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val output = qe.analyzed.output
    // an accumulator is registered (and shipped in the task closure) only
    // by the variants that read one: most calls are plain checkpoints
    val tracked: Option[(LongAccumulator, InternalRow => Long)] =
      if (aIdx != bIdx) {
        val (aType, bType) = (output(aIdx).dataType, output(bIdx).dataType)
        Some(spark.sparkContext.longAccumulator("graft.checkpointDiff") -> {
          (r: InternalRow) =>
            val a = if (r.isNullAt(aIdx)) null else r.get(aIdx, aType)
            val b = if (r.isNullAt(bIdx)) null else r.get(bIdx, bType)
            if (a != b) 1L else 0L
        })
      } else if (sumIdx >= 0) {
        Some(spark.sparkContext.longAccumulator("graft.checkpointSum") -> {
          (r: InternalRow) => if (r.isNullAt(sumIdx)) 0L else r.getLong(sumIdx)
        })
      } else None
    val rdd = tracked match {
      case Some((acc, term)) =>
        qe.toRdd.mapPartitions(_.map { r => acc.add(term(r)); r.copy() })
      case None => qe.toRdd.mapPartitions(_.map(_.copy()))
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (truncate) rdd.localCheckpoint()
    val n = rdd.count()
    val measured = Statistics(
      sizeInBytes = EstimationUtils.getOutputSize(output, n),
      rowCount = Some(n))
    val declared = preservedPartitioning(qe.executedPlan, output)
    // the declaration is only truthful because the mapPartitions wrapper
    // preserves partition boundaries — a layout-changing edit here would
    // silently drop join matches downstream, so fail loudly instead
    declared match {
      case _: UnknownPartitioning =>
      case d => require(rdd.getNumPartitions == d.numPartitions,
        s"materialized RDD has ${rdd.getNumPartitions} partitions but " +
          s"the executed plan declared ${d.numPartitions} — " +
          "materialize() no longer preserves partitioning")
    }
    val plan = LogicalRDD(
      output, rdd, declared, Nil, false, None)(spark, Some(measured), None)
    (classic.Dataset.ofRows(spark, plan), rdd,
      tracked.fold(0L)(_._1.value), n)
  }

  /** The materialized frame's physical partitioning, carried onto the
    * LogicalRDD so a downstream join/aggregate keyed the same way skips
    * its Exchange (what `Dataset.checkpoint` itself does; the earlier
    * UnknownPartitioning(0) forced every fixpoint loop to re-shuffle
    * state that the previous round's aggregation had just hash-
    * partitioned — guide §2.4, "two operations keyed the same way can
    * share one exchange"). Read AFTER execution, so under AQE this is
    * the FINAL plan's partitioning (including coalesced shuffle reads,
    * whose CoalescedHashPartitioning still satisfies clustered
    * distributions). Attributes are rewritten positionally from the
    * executed output to the analyzed output the LogicalRDD exposes;
    * anything unmappable (or non-expression) falls back to
    * UnknownPartitioning — never a wrong claim, just a redundant
    * exchange. The wrapping mapPartitions is partition-preserving, so
    * the physical layout matches the declaration exactly. */
  private def preservedPartitioning(executed: SparkPlan,
                                    output: Seq[Attribute]): Partitioning = {
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val plan = unwrap(executed)
    val attrMap = AttributeMap(plan.output.zip(output))
    firstLeaf(plan.outputPartitioning) match {
      case e: Expression with Partitioning
          if e.references.forall(attrMap.contains) =>
        e.transform { case a: Attribute => attrMap(a) }
          .asInstanceOf[Partitioning]
      case e: Expression => UnknownPartitioning(e match {
        case p: Partitioning => p.numPartitions
        case _ => 0
      })
      case other => other // non-expression: Unknown/RoundRobin/Single
    }
  }

  /** [[checkpointDiff]] without the diff. */
  def checkpoint(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val (out, rdd, _) = checkpointDiff(df, 0, 0)
    (out, rdd)
  }

  /** [[checkpoint]] that also returns the materialized ROW COUNT — free
    * (the persisting `rdd.count()` already ran; this just surfaces its
    * value), and the hook state-budget guards need: an iterative loop
    * whose per-round state can blow up (pair-state BFS) checks the
    * count the moment each round lands, no second job. */
  def checkpointCount(df: DataFrame): (DataFrame, RDD[InternalRow], Long) = {
    val (out, rdd, _, n) = materialize(df, 0, 0, truncate = false)
    (out, rdd, n)
  }

  /** [[checkpoint]] / [[checkpointCount]] with LINEAGE TRUNCATION
    * (`RDD.localCheckpoint` before the materializing count). The
    * kept-lineage default is right for FIXED-round loops (3-5 rounds:
    * recompute-on-block-loss survives, plan chain stays small), but a
    * loop whose round count is DATA-DEPENDENT — SCC's flood fills run
    * for the live subgraph's diameter — serializes the whole parent RDD
    * chain into every task: measured on the 48-node chain spec, task
    * binaries grew 2.3 → 5.3 MiB over the run, O(rounds²) total
    * serialization. Truncating caps the chain at the previous round's
    * materialized blocks. Trade, explicitly: truncated state CANNOT be
    * recomputed after executor loss — a long-lived cluster deployment
    * should periodically reliable-checkpoint the loop state instead
    * (same knob, `sparkContext.setCheckpointDir` + `RDD.checkpoint`);
    * in this engine the truncated frames are round-internal and
    * superseded copies unpersist only after their successor lands. */
  def checkpointTruncated(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val (out, rdd, _, _) = materialize(df, 0, 0, truncate = true)
    (out, rdd)
  }

  /** See [[checkpointTruncated]]. */
  def checkpointCountTruncated(df: DataFrame)
      : (DataFrame, RDD[InternalRow], Long) = {
    val (out, rdd, _, n) = materialize(df, 0, 0, truncate = true)
    (out, rdd, n)
  }
}
