package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{HyperBall, HyperBallState, InMemoryHbRegStore}
import graft.streaming.HbStream

/** Scale probe for the standing incremental-HyperBall state (the r16
  * verdict's weak item): the axis the in-memory register frames degrade
  * on is merge HISTORY — one frame per hop per batch forever, so every
  * probe re-unions (and every Catalyst plan re-embeds) the whole stack.
  * The at-rest table form turns frame count into FILE count inside one
  * bucketed table, so per-batch wall must stay flat as history grows,
  * and [[HbStream.compact]] folds the files back down.
  *
  * Sections (SPARK_GRAFT_PROBE_ONLY comma-set filters; default all):
  *
  *  1. `history` — per-batch fold wall vs batches-already-folded, BOTH
  *     backends, same fixed 200-edge batches over a corpus-sized sf1
  *     initial load: the in-memory walls should climb with history
  *     (frame unions + plan growth), the table walls should not.
  *  2. `compact` — table form: per-batch and full-read walls right
  *     before vs right after compact() at the end of the history run —
  *     compaction must restore (or beat) the fresh-state walls.
  *  3. `reread` — the at-rest dividend: NF read off the standing tables
  *     (what a restarted JVM pays) vs the from-scratch rebuild wall
  *     (what the session-local form pays after any restart).
  *
  * Run: `runMain graft.tools.HbIngestProbe /tmp/graft_sf1`
  * (synthesize sf1 via graft.tools.ScaleUp first). */
object HbIngestProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep bucket pruning on filter-only probes (see writeCcBase doc)
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled",
        "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(section: String): Boolean = only.forall(_(section))
    val nBatches = sys.env.get("SPARK_GRAFT_PROBE_BATCHES")
      .map(_.toInt).getOrElse(24)

    for (dir <- args) {
      val cust = graft.Tables.load(spark, dir, "customer")
        .withColumn("lat",
          lit(40.0) + (col("c_custkey") % 97).cast("double") * 0.002)
        .withColumn("lon", lit(-75.0) +
          pmod(floor(col("c_custkey") / 97.0), lit(89.0)) * 0.002)
      val e0 = graft.operators.SpatialJoins.gridSelfJoin(
          cust, "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val eAll = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst")))
      // one corpus-sized initial load + nBatches FIXED-SHAPE 200-edge
      // batches hash-sliced from the same graph: each fold does real
      // register-growth work, identical in shape across the history
      val hbK = pmod(col("src") * 31 + col("dst"), lit(1009))
      val init = eAll.where(hbK >= lit(nBatches)).localCheckpoint(true)
      val batches = (0 until nBatches).map(i =>
        eAll.where(hbK === i).limit(200).localCheckpoint(true))

      def report(tag: String, walls: Seq[Double]): Unit = {
        def mean(s: Seq[Double]) = s.sum / s.size
        val head = mean(walls.take(3))
        val mid = mean(walls.slice(walls.size / 2 - 1, walls.size / 2 + 2))
        val tail = mean(walls.takeRight(3))
        println(f"[hb-history] $dir $tag first3=$head%.2fs " +
          f"mid3=$mid%.2fs last3=$tail%.2fs all=" +
          walls.map(w => f"$w%.1f").mkString("/"))
      }

      if (want("history")) {
        // in-memory backend: the registry rows' session-local frames
        val store = new InMemoryHbRegStore(spark, 6)
        val t0i = System.nanoTime()
        HyperBallState.init(store, init, maxHops = 3, "src", "dst")
        val tMemInit = sec(t0i)
        val memWalls = batches.map { b =>
          val t0 = System.nanoTime()
          HyperBallState.foldBatch(store, b, "src", "dst")
          sec(t0)
        }
        println(f"[hb-history] $dir mem-init=$tMemInit%.1fs")
        report("mem", memWalls)
        store.closeAll()

        // table backend: same batches against the at-rest form
        val t0t = System.nanoTime()
        HbStream.init(init, "hbprobe", "/tmp/graft_hbprobe/gen0",
          maxHops = 3, p = 6, numBuckets = 32)
        val tTblInit = sec(t0t)
        val tblWalls = batches.map { b =>
          val t0 = System.nanoTime()
          HbStream.ingestBatch(b, "hbprobe")
          sec(t0)
        }
        println(f"[hb-history] $dir tbl-init=$tTblInit%.1fs")
        report("tbl", tblWalls)
      }

      // compact/reread read the 'hbprobe' family the history section
      // leaves behind; when run alone (section filter) build a smaller
      // standing state first so each section stands on its own
      def ensureState(): Unit =
        if (!spark.catalog.tableExists("hbprobe_edges")) {
          HbStream.init(init, "hbprobe", "/tmp/graft_hbprobe/gen0",
            maxHops = 3, p = 6, numBuckets = 32)
          batches.take(3).foreach(HbStream.ingestBatch(_, "hbprobe"))
        }

      if (want("compact")) {
        ensureState()
        // walls at the END of the history run (max frame count)...
        val t0r = System.nanoTime()
        HbStream.neighborhoodFunction(spark, "hbprobe").count()
        val readPre = sec(t0r)
        val t0c = System.nanoTime()
        HbStream.compact(spark, "hbprobe", "/tmp/graft_hbprobe/gen1",
          numBuckets = 32)
        val tCompact = sec(t0c)
        // ...vs right after compact: one frame per hop again
        val t0r2 = System.nanoTime()
        HbStream.neighborhoodFunction(spark, "hbprobe").count()
        val readPost = sec(t0r2)
        val t0b = System.nanoTime()
        HbStream.ingestBatch(batches.head, "hbprobe")
        val foldPost = sec(t0b)
        println(f"[hb-compact] $dir readPre=$readPre%.1fs " +
          f"compact=$tCompact%.1fs readPost=$readPost%.1fs " +
          f"foldPost=$foldPost%.2fs")
      }

      if (want("reread")) {
        ensureState()
        // what a RESTARTED session pays to serve NF: read the standing
        // tables (at-rest) vs rebuild from the raw edges (the only
        // option for session-local state)
        val t0r = System.nanoTime()
        HbStream.neighborhoodFunction(spark, "hbprobe").count()
        val readWall = sec(t0r)
        val t0b = System.nanoTime()
        HyperBall.hyperBallNeighborhood(eAll, maxHops = 3, p = 6).count()
        val rebuildWall = sec(t0b)
        println(f"[hb-reread] $dir tableRead=$readWall%.1fs " +
          f"rebuild=$rebuildWall%.1fs")
      }
    }
    spark.stop()
  }
}
