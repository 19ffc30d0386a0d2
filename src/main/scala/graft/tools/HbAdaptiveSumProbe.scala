package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.RegistryCore.{bidirOf, custPoints}
import graft.operators.{HyperBallAdaptive, HyperBallState,
  InMemoryHbRegStore}

/** Same-JVM interleaved A/B for the adaptive incremental HyperBall's
  * per-batch ball-sum maintenance (gr_hyperball_nf_incremental_adaptive,
  * the round's top bench row):
  *
  *  - `qsall` — the r17 consumer body: after every fold, re-derive
  *    EVERY hop's quantized global sum with a corpus-wide register pass
  *    ([[HyperBallAdaptive.qsAll]] — union + max-merge + estimator over
  *    every standing frame of every hop, per batch);
  *  - `delta` — the r18 form: sums advance by the fold's batch-bounded
  *    changed-node deltas (trackQ) and the init/growth rounds' fused
  *    sums; no corpus re-scan between batches.
  *
  * Both modes print their final sums so parity is checked in-run.
  *
  * Run: runMain graft.tools.HbAdaptiveSumProbe /root/testdata/sf0.1 3
  */
object HbAdaptiveSumProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
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
    def phase[T](mode: String, tag: String)(body: => T): T = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val out = body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[hb-adaptive] $mode $tag wall=$w%6.2fs jobs=${jobs.get() - j0}")
      out
    }

    val (hopCap, epsilon, p) = (5, 0.05, 6)
    for (r <- 1 to reps; mode <- Seq("qsall", "delta")) {
      println(s"[hb-adaptive] === rep $r $mode ===")
      val t0 = System.nanoTime()
      val e0 = graft.operators.SpatialJoins.gridSelfJoin(
          custPoints(spark, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val bidirM = org.apache.spark.sql.graft.CheckpointOps
        .materialize(bidirOf(e0), truncate = true)
      val bidir = bidirM.df
      val k = pmod(col("src") + col("dst"), lit(3))
      val init = bidir.where(k =!= 0)
      val batches = Seq(
        bidir.where(k === 0 && pmod(col("src"), lit(2)) === 0),
        bidir.where(k === 0 && pmod(col("src"), lit(2)) === 1))

      val store = new InMemoryHbRegStore(spark, p)
      var qs =
        if (mode == "qsall") {
          phase(mode, "init")(
            HyperBallState.init(store, init, 1, "src", "dst"))
          phase(mode, "init-sums+grow")(HyperBallAdaptive.growUntilSaturated(
            store, HyperBallAdaptive.qsAll(store), hopCap, epsilon))
        } else {
          val qs0 = phase(mode, "init")(
            HyperBallState.init(store, init, 1, "src", "dst", trackQ = true))
          phase(mode, "init-grow")(HyperBallAdaptive.growUntilSaturated(
            store, qs0, hopCap, epsilon))
        }
      for ((b, i) <- batches.zipWithIndex) {
        if (mode == "qsall") {
          phase(mode, s"fold-b$i")(
            HyperBallState.foldBatch(store, b, "src", "dst"))
          qs = phase(mode, s"sums-b$i")(HyperBallAdaptive.growUntilSaturated(
            store, HyperBallAdaptive.qsAll(store), hopCap, epsilon))
        } else {
          val dq = phase(mode, s"fold-b$i")(
            HyperBallState.foldBatch(store, b, "src", "dst", trackQ = true))
          qs = qs.indices.toVector.map(h => qs(h) + dq(h))
          qs = phase(mode, s"grow-b$i")(HyperBallAdaptive.growUntilSaturated(
            store, qs, hopCap, epsilon))
        }
      }
      val topHop = store.maxHop
      store.closeAll()
      bidirM.release()
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[hb-adaptive] $mode rep$r TOTAL wall=$total%6.2fs " +
        s"top=$topHop qs=${qs.mkString(",")}")
    }
    spark.stop()
  }
}
