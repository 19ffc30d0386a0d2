package graft.plans

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

import graft.SparkTestBase

/** r17 optimization gate: CheckpointOps carries the materialized frame's
  * hash partitioning onto the LogicalRDD (what Dataset.checkpoint does),
  * so a downstream join/aggregate keyed the same way skips its Exchange.
  * Pins (1) the no-exchange reuse, (2) the safe fallback (a frame with
  * no usable partitioning claims Unknown, never something wrong), and
  * (3) result equality against the sort-merge reference — the part that
  * would break if the declared partitioning ever lied about the
  * physical layout. */
class CheckpointPartitioningSpec extends SparkTestBase {
  import spark.implicits._

  private def executedString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("an aggregation-partitioned checkpoint feeds a same-key " +
    "aggregation with no new exchange, and a renamed key joins " +
    "co-partitioned") {
    // big enough that AQE doesn't collapse to a single partition trivially
    val base = spark.range(0, 4000)
      .select((col("id") % 997).as("k"), col("id").as("v"))
    val agg = materialize(base.groupBy("k").agg(sum("v").as("s")))
    // same-key re-aggregation: the checkpoint's HashPartitioning(k)
    // satisfies the grouping distribution — no Exchange above the scan
    val re = agg.df.groupBy("k").agg(max("s").as("m"))
    val rePlan = executedString(re)
    assert(!rePlan.contains("Exchange"),
      s"same-key aggregation re-exchanged a partitioned checkpoint:\n" +
        rePlan.take(2000))
    agg.release()
  }

  test("checkpointed-join results equal the unpartitioned reference " +
    "(the declaration never lies about the layout)") {
    val left = spark.range(0, 3000)
      .select((col("id") % 61).as("k"), col("id").as("a"))
    val right = spark.range(0, 3000)
      .select((col("id") % 61).as("k"), (col("id") * 2).as("b"))
    val lc = materialize(left.groupBy("k").agg(sum("a").as("a")))
    val rc = materialize(right.groupBy("k").agg(sum("b").as("b")))
    val joined = lc.df.join(rc.df, "k").select($"k", ($"a" + $"b").as("ab"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val ref = left.groupBy("k").agg(sum("a").as("a"))
      .join(right.groupBy("k").agg(sum("b").as("b")), "k")
      .select($"k", ($"a" + $"b").as("ab"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(joined.sameElements(ref))
    lc.release()
    rc.release()
  }

  test("a frame with no exploitable partitioning still checkpoints and " +
    "computes (fallback path)") {
    val df = spark.range(0, 100).select(col("id"), (col("id") % 7).as("k"))
    val c = materialize(df) // range: no hash part.
    assert(c.df.count() == 100)
    assert(c.df.groupBy("k").count().collect().map(_.getLong(1)).sum == 100)
    c.release()
  }

  test("a checkpoint carries its measured row count, so a small frame " +
    "whose estimate is a join product still broadcasts") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // 100 rows out of a 20k x 20k equi-join: the plan's estimate is the
    // product of its inputs' sizes, far past the broadcast threshold
    val l = spark.range(0, 20000).select(col("id").as("k"))
    val r = spark.range(0, 20000).select(col("id").as("k2"),
      (col("id") * 2).as("v"))
    val smallM = materialize(
      l.join(r, $"k" === $"k2").where($"k" < 100).select($"k", $"v"))
    val (small, smallRdd) = (smallM.df, smallM.rdd)
    assert(small.queryExecution.optimizedPlan.stats.rowCount ==
      Some(BigInt(100)))
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      // three long columns: 16 MB by Spark's own estimate, no broadcast
      val big = spark.range(0, 1000000).select((col("id") % 1000).as("k"),
        col("id").as("a"), (col("id") * 3).as("b"))
      val joined = big.join(small, "k")
      val plan = joined.queryExecution.executedPlan
      assert(plan.collectFirst { case b: BroadcastHashJoinExec => b }
        .nonEmpty, s"expected a broadcast hash join:\n$plan")
      val built = plan.collect { case b: BroadcastExchangeExec => b }
      assert(built.size == 1 && built.head.collect {
        case s: RDDScanExec if s.rdd eq smallRdd => s
      }.nonEmpty, s"the checkpoint must be the broadcast side:\n$plan")
      // keys 0..99 of the checkpoint each meet 1,000 range rows
      assert(joined.count() == 100000L)
    }
    smallM.release()
  }

  test("a HyperBall register frame storing more than the broadcast " +
    "threshold is priced within 2x of the bytes its blocks hold") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.operators.HyperBall
    // 64 int slots per node: count x default widths prices the array as
    // one element, ~15x below what the frame holds (~600 KB here)
    val regs = withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "200000") {
      materialize(HyperBall.packedInitRegs(
        spark.range(0, 2000).select(col("id").as("node")), 6), truncate = true)
    }
    try {
      val priced = regs.df.queryExecution.optimizedPlan.stats.sizeInBytes
      // the status store's own figure, filled by the listener bus
      val stored = eventually(timeout(10.seconds)) {
        val info = spark.sparkContext.getRDDStorageInfo
          .find(_.id == regs.rdd.id).get
        assert(info.numCachedPartitions == regs.rdd.getNumPartitions)
        info.memSize + info.diskSize
      }
      assert(stored > 200000L)
      assert(priced * 2 >= stored && priced <= BigInt(stored) * 2,
        s"register frame priced at $priced B, stores $stored B")
    } finally regs.release()
  }

  test("release() of a lineage-truncated handle frees its blocks without " +
    "the truncated-lineage warning RDD.unpersist logs") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val sc = spark.sparkContext
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("truncated-lineage-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val log = LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .asInstanceOf[Logger]
    log.addAppender(app)
    def truncated = materialize(spark.range(0, 100).toDF("id"),
      truncate = true)
    def lineageWarnings = warned.toArray.count(_.toString
      .contains("lineage has been truncated"))
    try {
      val m = truncated
      assert(sc.getPersistentRDDs.contains(m.rdd.id))
      m.release()
      assert(!sc.getPersistentRDDs.contains(m.rdd.id),
        "release() left the truncated RDD registered")
      assert(lineageWarnings == 0, warned.toArray.mkString("\n"))
      // the capture works: the plain RDD unpersist does warn
      val plain = truncated
      plain.rdd.unpersist(false)
      assert(lineageWarnings == 1, warned.toArray.mkString("\n"))
    } finally {
      log.removeAppender(app)
      app.stop()
    }
  }
}
