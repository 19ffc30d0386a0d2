package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

import graft.RegistryCore.{bidirOf, custPoints}
import graft.operators.{HyperBall, Rounds, SpatialJoins}

/** Round-17 A/B: the HyperBall propagation round's register max-merge as
  * the RegisterMaxMerge UDAF (ObjectHashAggregate, no codegen) vs an
  * all-builtin 64-column max HashAggregate (unpack the register array to
  * r0..r63, max per column, repack). Outputs are the same per-slot max
  * values, so the estimates are bit-identical; the question is pure
  * per-round cost. Interleaved reps, full 3-round propagation each.
  *
  * Usage: runMain graft.tools.RegMergeProbe [reps]
  */
object RegMergeProbe {
  def main(args: Array[String]): Unit = {
    val reps = if (args.nonEmpty) args(0).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val p = 6
    val m = 1 << p

    val e = materialize(
      bidirOf(SpatialJoins.gridSelfJoin(
          custPoints(spark, sfDir), "c_custkey", "lat", "lon",
          radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst")))).df
    val nodes = e.select(col("src").as("node")).distinct()

    // column-max variant of HyperBall.packedPropagateRound
    def colMaxRound(regs: DataFrame): DataFrame = {
      val unpacked = e.join(regs.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("regs"))
        .union(regs)
        .select(col("node") +:
          (0 until m).map(j => col("regs").getItem(j).as(s"r$j")): _*)
      unpacked.groupBy(col("node"))
        .agg(max(col("r0")).as("r0"),
          (1 until m).map(j => max(col(s"r$j")).as(s"r$j")): _*)
        .select(col("node"),
          array((0 until m).map(j => col(s"r$j")): _*).as("regs"))
    }

    def rounds(round: DataFrame => DataFrame) =
      Rounds.iterate(materialize(HyperBall.packedInitRegs(nodes, p)), 3) {
        (cur, _) => materialize(round(cur.df))
      }

    def runLoop(round: DataFrame => DataFrame): Unit = {
      val regs = rounds(round)
      // consume the last round's estimate so both variants pay it
      HyperBall.packedEstimate(regs.df, "est", m)
        .write.format("noop").mode("overwrite").save()
      regs.release()
    }

    def timed(name: String)(body: => Unit): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      body
      println(f"PROBE $name ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

    // warmup both
    runLoop(r => HyperBall.packedPropagateRound(e, r, m))
    runLoop(colMaxRound)
    // parity check once: same estimates from both layouts
    val udafEst = HyperBall.packedEstimate(
      rounds(r => HyperBall.packedPropagateRound(e, r, m)).df, "est", m)
    val colEst = HyperBall.packedEstimate(rounds(colMaxRound).df, "est", m)
    val nDiff = udafEst.join(colEst.withColumnRenamed("est", "est2"), "node")
      .where(col("est") =!= col("est2")).count()
    println(s"PROBE parity diff rows = $nDiff")

    for (r <- 1 to reps) {
      timed(s"udaf_merge rep$r") {
        runLoop(rg => HyperBall.packedPropagateRound(e, rg, m))
      }
      timed(s"colmax_merge rep$r") { runLoop(colMaxRound) }
    }
    spark.stop()
  }
}
