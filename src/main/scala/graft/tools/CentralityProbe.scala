package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

import graft.operators.Rounds

/** Growth probe for the centrality family (exact pair-BFS vs HyperBall
  * sketch): times the registry rows per dir and measures the structural
  * drivers — nodes, edges, and the exact rows' pair-state mass
  * Σ_v |B_3(v)| (which ScaleUp replication densifies superlinearly:
  * replicas stack onto the same lattice cells, so degree AND ball size
  * grow with occupancy) against the sketch rows' register state, capped
  * at 64 rows per node no matter how dense the balls get. That cap is
  * the whole 100 TB argument, so the probe prints both masses next to
  * the walls. Also exercises:
  *  - the STATE-BUDGET GUARD: a deliberately tiny budget must convert
  *    the quadratic-state run into the named fail-fast (the r14 sf1
  *    thrash — 18.4 min of 1 GiB allocation retries — becomes a
  *    one-round diagnosis);
  *  - betweenness SOURCE-SAMPLE sensitivity (0.5%/1%/2%): state is the
  *    sample's ball mass, so the sample rate is the cost dial;
  *  - HyperBall-closeness CALIBRATION against the exact leg (skipped
  *    when the ball mass is too large to hold — exactly the regime the
  *    sketch exists for). */
object CentralityProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    for (dir <- args) {
      // the registry rows' customer lattice, re-derived like ProbeGrowth
      val cust = graft.Tables.load(spark, dir, "customer")
        .withColumn("lat",
          lit(40.0) + (col("c_custkey") % 97).cast("double") * 0.002)
        .withColumn("lon", lit(-75.0) +
          pmod(floor(col("c_custkey") / 97.0), lit(89.0)) * 0.002)
      val e0 = graft.operators.SpatialJoins.gridSelfJoin(
          cust, "c_custkey", "lat", "lon", radiusM = 250.0)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
      val bidir = e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst"))).cache()
      val nEdges = bidir.count()
      val nNodes = bidir.select("src").distinct().count()
      // Σ_v |B_3(v)|: the exact rows' pair-state mass. Each round
      // CHECKPOINTS (and frees its predecessor) like the production
      // pairHopDistances — the earlier lazy union chain re-executed
      // every previous round inside the final count, inflating probe
      // wall and GC pressure at sf1.
      val state = Rounds.iterate(materialize(
          bidir.select($"src".as("node")).distinct()
            .select($"node".as("s"), $"node", lit(0).as("dist"))), 3) {
          (cur, hop) =>
        val frontier = cur.df.where($"dist" === (hop - 1))
          .select($"s", $"node".as("src"))
        val reached = bidir.join(frontier, "src")
          .select($"s", $"dst".as("node"), lit(hop).as("dist"))
        materialize(cur.df.union(reached)
          .groupBy($"s", $"node").agg(min($"dist").as("dist")))
      }
      val ballMass = state.rows
      // registry rows run under the DEFAULT budget — at sf1's ball mass
      // the exact legs trip it (by design: the default is anchored to
      // the measured thrash point), which the probe reports as a
      // sentinel wall of -1 rather than dying
      def time(name: String): Double = {
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(name)(spark, dir).count()
        catch {
          case e: graft.operators.CentralityStateBudgetExceeded =>
            println(s"[centrality-default-guard] $dir $name tripped: " +
              s"round=${e.round} rows=${e.rows} budget=${e.budget}")
            return -1.0
        }
        (System.nanoTime() - t0) / 1e9
      }
      val tExact = time("gr_harmonic")
      val tBall = time("gr_hyperball")
      val tBallCl = time("gr_hyperball_closeness")
      // the round-15 structural rows: SCC (trim + hash-pivot FW-BW over
      // the hub graph), its condensation, incremental CC (standing
      // base+alias fold over the 200 m graph), and the NF fold
      val tScc = time("gr_scc")
      val tCond = time("gr_scc_condense")
      val tCcInc = time("gr_cc_incremental")
      val tNf = time("gr_hyperball_nf")
      println(f"[centrality-r15] $dir scc=$tScc%.2fs condense=$tCond%.2fs " +
        f"ccInc=$tCcInc%.2fs nf=$tNf%.2fs")
      // the state-budget guard: nNodes rows is under any useful radius's
      // state, so round 1 must trip with the named error
      val guard = try {
        graft.operators.PageRank.harmonicExact(bidir, maxHops = 3,
          stateBudgetRows = math.max(1L, nNodes)).count()
        "NO-TRIP (unexpected)"
      } catch {
        case e: graft.operators.CentralityStateBudgetExceeded =>
          s"tripped round=${e.round} rows=${e.rows} budget=${e.budget}"
      }
      println(s"[centrality-guard] $dir $guard")
      // betweenness source-sample sensitivity: the sample IS the cost
      // dial (state = the sample's ball mass)
      for (rate <- Seq(200, 100, 50)) {
        val seeds = cust
          .where(pmod(col("c_custkey"), lit(rate)) === 1)
          .select(col("c_custkey").as("node"))
        val mass = state.df.where(pmod($"s", lit(rate)) === 1).count()
        val t0 = System.nanoTime()
        // same guard as time(): at a scale where the sampled ball mass
        // crosses the default budget this trips — print the sentinel
        // and keep going so the later probe sections still report
        val tBcR = try {
          graft.operators.PageRank.betweennessBounded(bidir, seeds,
            maxHops = 3).count()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: graft.operators.CentralityStateBudgetExceeded =>
            println(s"[centrality-default-guard] $dir bc-rate=1/$rate " +
              s"tripped: round=${e.round} rows=${e.rows} budget=${e.budget}")
            -1.0
        }
        println(f"[centrality-bc-rate] $dir rate=1/$rate bc=$tBcR%.2fs " +
          f"sampleBallMass=$mass")
      }
      // closeness calibration: sketch estimate vs the exact leg — only
      // where the exact leg's state fits (the sketch's whole point is
      // the regime where it doesn't)
      if (ballMass < 20000000L) {
        val ex = graft.operators.PageRank.closenessExact(bidir, maxHops = 3)
        val est = graft.operators.HyperBall.hyperBallCloseness(
          bidir, maxHops = 3, p = 6)
        val cal = ex.join(est, "node")
          .agg(avg(abs(($"closeness_est" - $"closeness") / $"closeness"))
            .as("mre"),
            max(abs(($"closeness_est" - $"closeness") / $"closeness"))
              .as("maxre"))
          .head()
        println(f"[centrality-closeness-cal] $dir " +
          f"mre=${cal.getDouble(0)}%.4f maxre=${cal.getDouble(1)}%.4f")
      } else println(s"[centrality-closeness-cal] $dir skipped " +
        s"(ballMass=$ballMass — the exact leg's thrash regime)")
      println(f"[centrality] $dir nodes=$nNodes edges=$nEdges " +
        f"ballMass=$ballMass regCap=${nNodes * 64} " +
        f"exact=$tExact%.2fs hyperball=$tBall%.2fs " +
        f"hyperballCloseness=$tBallCl%.2fs")
      state.release()
      bidir.unpersist()
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
