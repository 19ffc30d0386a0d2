package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

import graft.operators.{ConnectedComponents, Rounds}
import graft.streaming.CcStream

/** Scale probe for the standing-CC ingest path (the r15 verdict's weak
  * item): measures exactly the claims the fix makes.
  *
  *  1. AT-REST ingest: per-batch wall against a standing base of
  *     1×/4×/10× rows (FIXED batch) through [[CcStream.ingestBatch]]
  *     on bucketed tables — the point-lookup probe should hold the
  *     per-batch wall ~flat while the base grows 10× (the old
  *     left-outer shuffled the whole base per batch: O(corpus)).
  *  2. FOLD-STEP independence: per-batch wall of the
  *     [[ConnectedComponents.incrementalMergeParts]] + checkpoint step
  *     inside the batch-fold form, on a corpus-sized initial graph per
  *     probe dir — the frontier-frame fold writes only the insert
  *     frame per batch, so the step cost must not scale with the
  *     corpus (the old fold re-checkpointed base ∪ inserts whole).
  *  3. The composite registry rows at each dir (the sf1 discipline for
  *     new standing/loop operators): dd_incremental_clusters,
  *     gr_scc_topo, gr_hyperball_nf_adaptive, gr_eff_diameter_adaptive.
  *
  * Run: `runMain graft.tools.CcIngestProbe /root/testdata/sf0.1
  * /tmp/graft_sf1` (synthesize sf1 via graft.tools.ScaleUp first). */
object CcIngestProbe {
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
    import spark.implicits._

    def sec(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    // optional comma-set of sections for local iteration:
    // atrest, fold, rows, hb
    val only = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def want(section: String): Boolean = only.forall(_(section))

    // ---- section 1: at-rest per-batch wall vs standing-base size ----
    // base: n settled singleton labels; batch: a fixed 2k-edge segment
    // (1k merge pairs over 2k existing nodes + 1k inserts of new
    // nodes) — every batch does real lookup + insert + merge work,
    // identical per base size
    val warehouse = "/tmp/graft_ccprobe"
    val baseN = 2000000L
    for (mult <- Seq(1, 4, 10) if want("atrest")) {
      val n = baseN * mult
      val (bTbl, aTbl) = (s"ccprobe_base_$mult", s"ccprobe_alias_$mult")
      spark.sql(s"DROP TABLE IF EXISTS $bTbl")
      spark.sql(s"DROP TABLE IF EXISTS $aTbl")
      val base0 = spark.range(n)
        .select($"id".as("node"), $"id".as("component"))
      CcStream.writeCcBase(base0, bTbl, s"$warehouse/base_$mult",
        numBuckets = 32)
      base0.where(lit(false))
        .select($"component".as("c"), $"component".as("canon"))
        .write.mode("overwrite").option("path", s"$warehouse/alias_$mult")
        .saveAsTable(aTbl)
      // 3 reps of the SAME-shaped batch on disjoint node windows (each
      // rep merges 1k existing pairs and inserts 1k new nodes)
      val reps = (0 until 3).map { r =>
        val off = r * 10000L
        val batch = spark.range(1000)
          .select(($"id" * 2 + off).as("src"), ($"id" * 2 + 1 + off).as("dst"))
          .union(spark.range(1000)
            .select(($"id" + off).as("src"), ($"id" + n + off).as("dst")))
        val t0 = System.nanoTime()
        CcStream.ingestBatch(batch, "src", "dst", bTbl, aTbl)
        sec(t0)
      }
      println(f"[cc-ingest-at-rest] base=${n}%,d walls=" +
        reps.map(w => f"$w%.2f").mkString("/") + "s")
      spark.sql(s"DROP TABLE IF EXISTS $bTbl")
      spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    }

    // ---- sections 2+3 per probe dir ----
    for (dir <- args) {
      val cust = graft.Tables.load(spark, dir, "customer")
        .withColumn("lat",
          lit(40.0) + (col("c_custkey") % 97).cast("double") * 0.002)
        .withColumn("lon", lit(-75.0) +
          pmod(floor(col("c_custkey") / 97.0), lit(89.0)) * 0.002)
      val edges = graft.operators.SpatialJoins.gridSelfJoin(
          cust, "c_custkey", "lat", "lon", radiusM = 200.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))

      // fold-step independence: corpus-sized initial CC, then three
      // FIXED 1k-edge batches (hash-sliced from the same graph) folded
      // through the frontier-frame loop, each step timed
      val k = pmod(col("src") + col("dst"), lit(101))
      val initial = edges.where(k >= 3)
      val batches = (0 until 3).map(i => edges.where(k === i).limit(1000))
      if (want("fold")) {
      val t0full = System.nanoTime()
      val base0 = materialize(ConnectedComponents.run(initial),
        truncate = true).df
      val tInit = sec(t0full)
      var frames = Vector(base0)
      val stepWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
      Rounds.iterate(materialize(
          base0.select($"component".as("c"), $"component".as("canon"))
            .where(lit(false)), truncate = true), batches.size) { (alias, i) =>
        val t0 = System.nanoTime()
        val (ins, na) = ConnectedComponents.incrementalMergeParts(
          frames.reduce(_ unionByName _), alias.df, batches(i - 1))
        frames :+= materialize(ins, truncate = true).df
        val next = materialize(na, truncate = true)
        stepWalls += sec(t0)
        next
      }
      println(f"[cc-fold-step] $dir init=$tInit%.1fs perBatch=" +
        stepWalls.map(w => f"$w%.2f").mkString("/") + "s")
      }

      // composite / new structural rows at this dir (budget-guarded)
      def time(name: String): Double = {
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(name)(spark, dir).count()
        catch {
          case e: graft.operators.CentralityStateBudgetExceeded =>
            println(s"[cc-probe-guard] $dir $name tripped: " +
              s"round=${e.round} rows=${e.rows} budget=${e.budget}")
            return -1.0
        }
        sec(t0)
      }
      for (q <- Seq("dd_incremental_clusters", "gr_cc_incremental",
          "gr_scc_topo", "gr_hyperball_nf",
          "gr_hyperball_nf_incremental", "gr_hyperball_nf_adaptive",
          "gr_eff_diameter_adaptive",
          "gr_hyperball_nf_incremental_adaptive",
          "st_hyperball_atrest") if want("rows")) {
        val w = time(q)
        println(f"[cc-probe-row] $dir $q $w%.1fs")
      }

      // steady-state HyperBall ingest: the registry row folds
      // corpus-sized slices (it must — its oracle is the full corpus),
      // so it doesn't show the micro-batch regime. Here: standing
      // registers over all-but-1k edges, then ONE 1k-edge batch folds
      // in. Reported as (no-batch wall, one-batch wall): the
      // difference is the per-batch fold cost, to set against the full
      // rebuild's wall above.
      if (want("hb")) {
      val eHb0 = graft.operators.SpatialJoins.gridSelfJoin(
          cust, "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val eHb = eHb0.union(
        eHb0.select(col("dst").as("src"), col("src").as("dst")))
      val hbK = pmod(col("src") * 31 + col("dst"), lit(1009))
      val hbBatch = eHb.where(hbK === 0).limit(1000)
      val hbInit = eHb.where(hbK =!= 0)
      val t0a = System.nanoTime()
      graft.operators.HyperBall.hyperBallNeighborhoodIncremental(
        hbInit, Seq.empty, maxHops = 3, p = 6).count()
      val wNoBatch = sec(t0a)
      val t0b = System.nanoTime()
      graft.operators.HyperBall.hyperBallNeighborhoodIncremental(
        hbInit, Seq(hbBatch), maxHops = 3, p = 6).count()
      val wOneBatch = sec(t0b)
      println(f"[hb-ingest-steady] $dir noBatch=$wNoBatch%.1fs " +
        f"oneBatch=$wOneBatch%.1fs foldCost=${wOneBatch - wNoBatch}%.1fs")
      }
    }
    spark.stop()
  }
}
