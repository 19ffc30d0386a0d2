package org.apache.spark.sql.graft

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap,
  Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning,
  PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.apache.spark.util.LongAccumulator

/** Manual materialization for iterative dataflows: one [[materialize]]
  * call, `localCheckpoint`-like, with the three pieces
  * `Dataset.localCheckpoint` doesn't give you:
  *
  *  1. **A handle on the persisted RDD** ([[Materialized.release]]), so
  *     the caller frees a round's blocks the moment the next round has
  *     materialized. `Dataset.localCheckpoint` leaks every round's blocks
  *     until driver GC + ContextCleaner get around to them; in a long
  *     back-to-back query run (or a long-lived cluster app) that deferred
  *     cleanup lands inside LATER queries' run time — measured in round 3
  *     as a 2-4x inflation of everything benched after the
  *     checkpoint-heavy queries. [[graft.operators.Rounds]] owns the
  *     hand-off and the release for the round loops.
  *  2. **The row count** the persisting pass takes anyway, so a
  *     state-budget guard or a did-anything-change test needs no second
  *     job.
  *  3. **Fused tracking** ([[Track]]): an accumulator counts rows where
  *     two columns differ, or sums a long column, DURING the
  *     materialization pass, so an iterative fixpoint (connected
  *     components) needs one Spark job per round, not checkpoint + a
  *     second convergence-probe job. Updates happen inside the persisting
  *     action, so Spark applies each task's update exactly once.
  *
  * The frame carries MEASURED statistics, both taken by the persisting
  * pass: `rowCount` is the rows it stored, and `sizeInBytes` is that
  * count × the schema's default widths — the unit Catalyst prices every
  * plan a checkpoint meets in — unless the rows' own bytes (their
  * `UnsafeRow` sizes) exceed `autoBroadcastJoinThreshold`; then those
  * bytes, so such a frame never broadcasts. Spark's threshold then
  * decides, join by join, whether a checkpointed frame broadcasts:
  * small iterative loop state (a PageRank rank table, a CC label frame)
  * does, without a hint. Default widths count an `array<int>` as one
  * element and a string as 20 B, so a HyperBall register frame (64
  * slots) read ~15× below the bytes it holds and broadcast at sizes the
  * driver should not carry. Below the threshold the width price stays:
  * which side of a join builds is a comparison with estimated plans,
  * and pricing wide frames at their bytes flipped such choices — the
  * register frame stopped being `packedPropagateRound`'s broadcast side
  * at sf0.1 and the HyperBall rows wrote 26–83 % more shuffle. The block
  * manager's figure for the same blocks ([[storedBytes]]) also counts
  * each deserialized row's JVM object, 2–3× the row bytes of a narrow
  * frame; it prices a caller's own checkpoint, which no pass here
  * measured ([[withStoredStats]]).
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
  * cap: it is a Long summed over the stored rows, never a product of
  * upstream estimates, so each round's stats restart from the truth.
  */
object CheckpointOps {

  /** What the materializing pass accumulates besides the row count. */
  sealed trait Track
  object Track {
    case object Off extends Track
    /** Rows where column `a` != column `b`. Null-safe: null != non-null
      * counts as a change. */
    final case class Diff(a: Int, b: Int) extends Track {
      require(a != b, "a diff needs two distinct columns")
    }
    /** Sum of the long column `col`; null sums as 0. */
    final case class Sum(col: Int) extends Track
  }

  /** A materialized frame: `df` reads the persisted `rdd`, which held
    * `rows` rows when it landed; `tracked` is the [[Track]] result (0
    * under [[Track.Off]]). [[release]] frees the blocks. */
  final case class Materialized(df: DataFrame, rdd: RDD[InternalRow],
                                rows: Long, tracked: Long) {
    def release(): Unit = free(rdd)
    /** The same blocks behind a derived frame (a projection of `df`). */
    def map(f: DataFrame => DataFrame): Materialized = copy(df = f(df))
  }

  /** Frees `rdd`'s blocks without blocking. A lineage-truncated RDD goes
    * straight to the context's unpersist: `RDD.unpersist` does the same
    * after warning that the lineage cannot be recomputed, which is the
    * point of freeing superseded round state, and that warning would be
    * logged once per released round. */
  def free(rdd: RDD[_]): Unit =
    if (rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]))
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist(blocking = false)

  /** Materialize `df` into persisted blocks (MEMORY_AND_DISK).
    *
    * @param truncate cut the lineage (`RDD.localCheckpoint` before the
    *        materializing count). Kept lineage is right for FIXED-round
    *        loops (3-5 rounds: recompute-on-block-loss survives, the plan
    *        chain stays small), but a loop whose round count is
    *        DATA-DEPENDENT — SCC's flood fills run for the live
    *        subgraph's diameter — serializes the whole parent RDD chain
    *        into every task: measured on the 48-node chain spec, task
    *        binaries grew 2.3 → 5.3 MiB over the run, O(rounds²) total
    *        serialization. Truncating caps the chain at the previous
    *        round's materialized blocks. Trade, explicitly: truncated
    *        state CANNOT be recomputed after executor loss — a long-lived
    *        cluster deployment should periodically reliable-checkpoint the
    *        loop state instead (`sparkContext.setCheckpointDir` +
    *        `RDD.checkpoint`); in this engine the truncated frames are
    *        round-internal and superseded copies are released only after
    *        their successor lands. Without truncation, on block loss
    *        (executor death on a real cluster) Spark recomputes through
    *        the parent chain, at the cost of a driver-side plan chain that
    *        grows O(rounds).
    * @param track what the same pass accumulates into
    *        [[Materialized.tracked]]; an accumulator is registered (and
    *        shipped in the task closure) only when one is asked for. */
  def materialize(df: DataFrame, truncate: Boolean = false,
                  track: Track = Track.Off): Materialized = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = cdf.sparkSession
    val qe = cdf.queryExecution
    val output = qe.analyzed.output
    val tracked: Option[(LongAccumulator, InternalRow => Long)] = track match {
      case Track.Off => None
      case Track.Diff(aIdx, bIdx) =>
        val (aType, bType) = (output(aIdx).dataType, output(bIdx).dataType)
        Some(spark.sparkContext.longAccumulator("graft.trackDiff") -> {
          (r: InternalRow) =>
            val a = if (r.isNullAt(aIdx)) null else r.get(aIdx, aType)
            val b = if (r.isNullAt(bIdx)) null else r.get(bIdx, bType)
            if (a != b) 1L else 0L
        })
      case Track.Sum(sumIdx) =>
        Some(spark.sparkContext.longAccumulator("graft.trackSum") -> {
          (r: InternalRow) => if (r.isNullAt(sumIdx)) 0L else r.getLong(sumIdx)
        })
    }
    val rdd = tracked match {
      case Some((acc, term)) =>
        qe.toRdd.mapPartitions(_.map { r => acc.add(term(r)); r.copy() })
      case None => qe.toRdd.mapPartitions(_.map(_.copy()))
    }
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    if (truncate) rdd.localCheckpoint()
    // the persisting pass counts the rows and the bytes they hold
    val width = EstimationUtils.getSizePerRow(output).toLong
    val perPartition = rdd.sparkContext.runJob(rdd,
      (it: Iterator[InternalRow]) => {
        var rows, bytes = 0L
        it.foreach { r =>
          rows += 1
          bytes += (r match {
            case u: UnsafeRow => u.getSizeInBytes
            case _ => width
          })
        }
        (rows, bytes)
      })
    val n = perPartition.map(_._1).sum
    val bytes = perPartition.map(_._2).sum
    val measured = Statistics(
      sizeInBytes =
        if (bytes > spark.sessionState.conf.autoBroadcastJoinThreshold) bytes
        else EstimationUtils.getOutputSize(output, n),
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
    Materialized(classic.Dataset.ofRows(spark, plan), rdd, n,
      tracked.fold(0L)(_._1.value))
  }

  /** The bytes `rdd`'s blocks occupy (memory plus disk, one copy per
    * partition), or None unless every partition has a stored block.
    * Read from the block manager master, which a task tells of each
    * block it stores before the task ends: once the action that
    * persisted `rdd` returns, the figure is whole.
    * `SparkContext.getRDDStorageInfo` reads the status store instead,
    * which the listener bus fills asynchronously, so right after that
    * action it can still be missing blocks. */
  def storedBytes(rdd: RDD[_]): Option[Long] = {
    val statuses = rdd.sparkContext.env.blockManager.master.getStorageStatus
    val sizes = rdd.partitions.indices.map { i =>
      statuses.iterator.flatMap(_.getBlock(RDDBlockId(rdd.id, i)))
        .map(s => s.memSize + s.diskSize).nextOption()
    }
    Option.when(sizes.forall(_.isDefined))(sizes.flatten.sum)
  }

  /** `df` with every fully stored `LogicalRDD` leaf priced at its
    * [[storedBytes]]: output, partitioning, ordering, row count and
    * constraints stay as they were. For a caller's own
    * `Dataset.localCheckpoint`, whose leaf carries the pre-checkpoint
    * plan's estimate — a join's PRODUCT of its inputs' sizes, so a
    * 160 KB staged frame reads as gigabytes and every join over it
    * shuffles. A leaf that has not been measured (a lazy checkpoint not
    * yet run, a partition no longer stored) keeps its estimate, so an
    * unmeasured frame is never priced as tiny. Runs no job, pins
    * nothing; a frame with no such leaf comes back as the same object. */
  def withStoredStats(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    val plan = cdf.queryExecution.analyzed
    val priced = plan.transformUp {
      case l: LogicalRDD => storedBytes(l.rdd).fold(l: LogicalPlan) { b =>
        l.copy()(cdf.sparkSession,
          Some(l.stats.copy(sizeInBytes = BigInt(b.max(1L)))),
          Some(l.constraints))
      }
    }
    if (priced eq plan) df else classic.Dataset.ofRows(cdf.sparkSession, priced)
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
}
