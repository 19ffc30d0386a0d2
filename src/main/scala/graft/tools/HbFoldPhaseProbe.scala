package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.RegistryCore.{bidirOf, custPoints}
import graft.operators.{HyperBall, HyperBallState, InMemoryHbRegStore}

/** Phase-level wall + Spark-job-count breakdown of the incremental
  * HyperBall registry rows (the r18 round's biggest bench family):
  * where does gr_hyperball_nf_incremental's time actually go —
  * lattice builds, init rounds, per-batch folds, or the final NF
  * action — and how many Spark jobs does each phase launch (the
  * per-job overhead axis the fold fusion would shrink)?
  *
  * Modes (arg 2, default `asis`):
  *  - `asis`   — the row exactly as declared (lazy bidir slices);
  *  - `ckpt`   — bidir checkpointed ONCE, slices taken from the
  *               materialized frame (the candidate registry change).
  *
  * Run: runMain graft.tools.HbFoldPhaseProbe /root/testdata/sf0.1 asis
  */
object HbFoldPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mode = if (args.length > 1) args(1) else "asis"
    val reps = if (args.length > 2) args(2).toInt else 2
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
    val verbose = sys.env.get("SPARK_GRAFT_PROBE_VERBOSE").contains("1")
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) starts.put(j.jobId, (System.nanoTime(),
          Option(j.properties.getProperty("callSite.short")).getOrElse("?")))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (verbose) Option(starts.remove(j.jobId)).foreach {
          case (t0, site) =>
            val w = (System.nanoTime() - t0) / 1e9
            if (w > 0.02)
              println(f"[hb-job] id=${j.jobId}%4d wall=$w%6.3fs $site")
        }
    })

    def phase[T](tag: String)(body: => T): T = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val out = body
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[hb-phase] $mode $tag wall=$w%6.2fs jobs=${jobs.get() - j0}")
      out
    }

    val plan: Seq[(Int, String)] =
      if (mode == "ab")
        (1 to reps).flatMap(r => Seq((r, "asis"), (r, "ckpt")))
      else (1 to reps).map(r => (r, mode))
    for ((r, mode) <- plan) {
      println(s"[hb-phase] === rep $r $mode ===")
      val e0 = graft.operators.SpatialJoins.gridSelfJoin(
          custPoints(spark, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val bidirLazy = bidirOf(e0)
      val (bidir, bidirRdd) =
        if (mode == "ckpt")
          phase("bidir-ckpt") {
            val (f, rdd) = org.apache.spark.sql.graft.CheckpointOps
              .checkpointTruncated(bidirOf(e0))
            (f, Some(rdd))
          }
        else (bidirLazy, None)
      val k = pmod(col("src") + col("dst"), lit(3))
      val init = bidir.where(k =!= 0)
      val b1 = bidir.where(k === 0 && pmod(col("src"), lit(2)) === 0)
      val b2 = bidir.where(k === 0 && pmod(col("src"), lit(2)) === 1)

      val store = new InMemoryHbRegStore(spark, 6)
      phase("init")(HyperBallState.init(store, init, 3, "src", "dst"))
      phase("fold-b1")(HyperBallState.foldBatch(store, b1, "src", "dst"))
      phase("fold-b2")(HyperBallState.foldBatch(store, b2, "src", "dst"))
      val ests = phase("estimates")(HyperBallState.estimates(store))
      store.close()
      val nf = HyperBall.nfFold(ests)
      phase("nf-action")(
        nf.write.format("noop").mode("overwrite").save())
      println(s"[hb-parity] $mode nf=" + nf.orderBy("hop").collect()
        .map(r => s"${r.get(0)}:${r.get(1)}:${r.get(2)}").mkString(","))
      store.closeAll()
      bidirRdd.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
