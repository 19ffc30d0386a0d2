package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

import graft.RegistryCore.{bidirOf, custPoints}
import graft.operators.{HyperBall, Rounds}

/** Round-18 A/B for the r17 "partitioning-aware loop inputs" deferral:
  * in the sort-merge regime (register frame past the broadcast
  * threshold — sf1 on the lattice), does hash-partitioning the
  * loop-invariant EDGE frame by its per-round join key (src) before
  * checkpointing buy exchange-free rounds, and what does the setup
  * shuffle cost where the regime is broadcast (sf0.1)?
  *
  * Interleaved reps of a 3-round packed-register propagation (the
  * gr_hyperball loop body) per variant; also prints the round-1
  * Exchange count and join strategy per variant.
  *
  * Usage: runMain graft.tools.EdgePartProbe <sfDir> [reps]
  */
object EdgePartProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val p = 6
    val m = 1 << p

    val lattice = bidirOf(graft.operators.SpatialJoins.gridSelfJoin(
        custPoints(spark, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
      .select(col("a_id").as("src"), col("b_id").as("dst")))

    def planShape(df: DataFrame): String = {
      df.write.format("noop").mode("overwrite").save()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def walk(pl: SparkPlan): Seq[String] = pl match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec =>
          s.getClass.getSimpleName +: walk(s.plan)
        case o => o.getClass.getSimpleName +: o.children.flatMap(walk)
      }
      val names = walk(df.queryExecution.executedPlan)
      val nSh = names.count(_.contains("ShuffleExchange"))
      val joins = names.filter(_.contains("Join")).distinct.mkString("+")
      s"shuffleExchanges=$nSh joins=$joins"
    }

    def runLoop(tag: String, prep: DataFrame => DataFrame,
                shape: Boolean): Double = {
      val t0 = System.nanoTime()
      val eM = materialize(prep(lattice.select(col("src"), col("dst"))))
      val e = eM.df
      val nodes = e.select(col("src").as("node")).distinct()
      val regs = Rounds.iterate(
          materialize(HyperBall.packedInitRegs(nodes, p)), 3) { (cur, r) =>
        if (shape && r == 2) {
          // round 2: regs is a checkpointed frame, the steady state
          println(s"[edgepart] $tag round-2 plan: " +
            planShape(HyperBall.packedPropagateRound(e, cur.df, m)))
        }
        materialize(HyperBall.packedPropagateRound(e, cur.df, m))
      }
      HyperBall.packedEstimate(regs.df, "est", m)
        .write.format("noop").mode("overwrite").save()
      regs.release()
      eM.release()
      (System.nanoTime() - t0) / 1e9
    }

    // explicit count pins the declared hash partitioning (an
    // unnumbered repartition gets AQE-coalesced at probe sizes, which
    // breaks join co-partitioning)
    val n = spark.sessionState.conf.numShufflePartitions
    val bySrc = (df: DataFrame) => df.repartition(n, col("src"))
    // warmup + plan shapes
    runLoop("warm-asis", identity, shape = false)
    runLoop("asis", identity, shape = true)
    runLoop("bysrc", bySrc, shape = true)
    for (r <- 1 to reps) {
      val a = runLoop("asis", identity, shape = false)
      val b = runLoop("bysrc", bySrc, shape = false)
      println(f"[edgepart] rep$r asis=$a%.2fs bysrc=$b%.2fs")
    }
    spark.stop()
  }
}
