package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.RegistryCore.{bidirOf, custPoints}
import graft.streaming.HbStream

/** Phase-level wall + job-count breakdown of the st_hyperball_atrest
  * row: how much of its wall is Spark work (init propagation, folds,
  * compaction rewrites, NF read) vs embedded-Derby catalog ceremony —
  * the r17 "out of Spark-plan territory" claim, quantified.
  *
  * Run: runMain graft.tools.HbAtRestPhaseProbe /root/testdata/sf0.1 2
  */
object HbAtRestPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def phase[T](tag: String)(body: => T): T = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val out = body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[hb-atrest] $tag wall=$w%6.2fs jobs=${jobs.get() - j0}")
      out
    }

    for (r <- 1 to reps) {
      println(s"[hb-atrest] === rep $r ===")
      val e0 = graft.operators.SpatialJoins.gridSelfJoin(
          custPoints(spark, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val bidirM = org.apache.spark.sql.graft.CheckpointOps
        .materialize(bidirOf(e0), truncate = true)
      val bidir = bidirM.df
      val k = pmod(col("src") * 31 + col("dst"), lit(1009))
      val prefix = "graft_hb_probe"
      val root = s"/tmp/graft_bucketed/probe_hb_r$r"
      phase("init")(HbStream.init(bidir.where(k >= 2), prefix,
        s"$root/gen0", maxHops = 3, p = 6))
      phase("ingest1")(HbStream.ingestBatch(bidir.where(k === 0), prefix))
      phase("compact")(HbStream.compact(spark, prefix, s"$root/gen1"))
      phase("ingest2")(HbStream.ingestBatch(bidir.where(k === 1), prefix))
      phase("nf-read")(HbStream.neighborhoodFunction(spark, prefix)
        .write.format("noop").mode("overwrite").save())
      bidirM.release()
    }
    spark.stop()
  }
}
