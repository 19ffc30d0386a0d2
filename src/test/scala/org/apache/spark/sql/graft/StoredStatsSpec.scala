package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.RDDBlockId

import graft.SparkTestBase

/** [[CheckpointOps.withStoredStats]]: a fully stored checkpoint leaf is
  * priced at the bytes its blocks hold; a leaf that was never measured,
  * or no longer is whole, keeps its estimate, so it is never priced as
  * tiny; a frame with no checkpoint leaf comes back as the same object;
  * and the rows never change. */
class StoredStatsSpec extends SparkTestBase {

  /** 2,000 rows out of a 20k x 20k equi-join: the plan's estimate is the
    * product of its inputs' sizes, far past any broadcast threshold. */
  private def joined: DataFrame = {
    val l = spark.range(0, 20000).select(col("id").as("k"))
    val r = spark.range(0, 20000).select(col("id").as("k2"),
      concat(lit("name-"), col("id").cast("string")).as("name"))
    l.join(r, col("k") === col("k2")).where(col("k") < 2000)
      .select(col("k"), col("name"))
  }

  private def leaf(df: DataFrame): LogicalRDD =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get

  private def rows(df: DataFrame) =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("a fully stored eager localCheckpoint leaf is priced at its " +
    "stored bytes") {
    val ck = joined.localCheckpoint()
    val stored = CheckpointOps.storedBytes(leaf(ck).rdd)
    assert(stored.exists(_ > 0), "an eager checkpoint is stored whole")
    assert(leaf(ck).stats.sizeInBytes > BigInt(stored.get) * 1000,
      "the checkpoint's own estimate is the join product")
    val priced = CheckpointOps.withStoredStats(ck)
    assert(leaf(priced).stats.sizeInBytes == BigInt(stored.get))
    assert(leaf(priced).output == leaf(ck).output &&
      leaf(priced).outputPartitioning == leaf(ck).outputPartitioning)
    assert(rows(priced) == rows(ck))
    CheckpointOps.free(leaf(ck).rdd)
  }

  test("a lazy localCheckpoint leaf that has not run keeps its estimate") {
    val ck = joined.localCheckpoint(eager = false)
    val estimate = leaf(ck).stats.sizeInBytes
    assert(CheckpointOps.storedBytes(leaf(ck).rdd).isEmpty)
    val priced = CheckpointOps.withStoredStats(ck)
    assert(priced eq ck)
    assert(leaf(priced).stats.sizeInBytes == estimate)
    assert(rows(priced) == rows(joined))
    CheckpointOps.free(leaf(ck).rdd)
  }

  test("a leaf with one partition unpersisted keeps its estimate") {
    val m = CheckpointOps.materialize(joined.repartition(4, col("k")))
    val before = leaf(m.df).stats.sizeInBytes
    assert(CheckpointOps.storedBytes(m.rdd).isDefined)
    // drop partition 0's block; the kept lineage recomputes it on read
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(m.rdd.id, 0))
    assert(CheckpointOps.storedBytes(m.rdd).isEmpty)
    val priced = CheckpointOps.withStoredStats(m.df)
    assert(priced eq m.df)
    assert(leaf(priced).stats.sizeInBytes == before)
    assert(rows(priced) == rows(joined))
    m.release()
  }

  test("a plain frame comes back as the same object") {
    val plain = joined
    assert(CheckpointOps.withStoredStats(plain) eq plain)
    assert(rows(plain).size == 2000)
  }
}
