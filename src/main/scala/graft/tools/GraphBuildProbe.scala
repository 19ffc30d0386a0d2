package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.RegistryCore.custPoints
import graft.operators.{HyperBall, SpatialJoins}

/** Round-17 measurement probe: where does a fixed-hop HyperBall row's
  * time actually go at the bench scale factor? Times, via the noop sink
  * on a warm session:
  *
  *   1. the lattice graph build alone (gridSelfJoin + bidir union);
  *   2. the same, bidir via explode (one self-join execution, not two);
  *   3. gr_hyperball as declared (edges plan re-executed per round);
  *   4. gr_hyperball with the edge frame checkpointed once up front.
  *
  * Each leg runs `reps` times interleaved (A/B discipline — box drift
  * lands on both variants). Usage: runMain graft.tools.GraphBuildProbe
  * [reps]; env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as Bench.
  */
object GraphBuildProbe {
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

    def e0 = SpatialJoins.gridSelfJoin(
        custPoints(spark, sfDir), "c_custkey", "lat", "lon", radiusM = 250.0)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    def bidirUnion = e0.union(e0.select(col("dst").as("src"),
      col("src").as("dst")))
    def bidirExplode = e0
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

    def timed(name: String)(body: => Unit): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
      val t0 = System.nanoTime()
      body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name $s%.2fs")
      s
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup
    noop(bidirUnion)
    noop(HyperBall.hyperBallPacked(bidirUnion, maxHops = 3, p = 6))

    for (r <- 1 to reps) {
      timed(s"graph_union rep$r") { noop(bidirUnion) }
      timed(s"graph_explode rep$r") { noop(bidirExplode) }
      timed(s"hb_as_declared rep$r") {
        noop(HyperBall.hyperBallPacked(bidirUnion, maxHops = 3, p = 6)
          .select(col("node"),
            (round(col("harmonic_est"), 4) + 0.0).as("harmonic_est")))
      }
      timed(s"hb_edges_ckpt rep$r") {
        val (e, eRdd) = CheckpointOps.checkpoint(bidirExplode)
        noop(HyperBall.hyperBallPacked(e, maxHops = 3, p = 6)
          .select(col("node"),
            (round(col("harmonic_est"), 4) + 0.0).as("harmonic_est")))
        eRdd.unpersist(false)
      }
    }
    spark.stop()
  }
}
