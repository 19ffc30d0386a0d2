package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.GeoFunctions

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  // small point cloud around 48.2N with known pair distances
  private lazy val pts = Seq(
    (1L, 48.2000, 16.3700), // base
    (2L, 48.2001, 16.3700), // ~11 m from 1
    (3L, 48.2000, 16.3720), // ~148 m from 1
    (4L, 48.2100, 16.3700), // ~1.1 km from 1 (different cell)
    (5L, 48.3000, 16.5000)  // far away
  ).toDF("id", "lat", "lon")

  test("gridSelfJoin finds exactly the brute-force pairs within radius") {
    val grid = SpatialJoins.gridSelfJoin(pts, "id", "lat", "lon", radiusM = 200.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // brute force
    val rows = pts.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def hav(a: (Long, Double, Double), b: (Long, Double, Double)): Double = {
      val R = 6371000.0
      val dLat = math.toRadians(b._2 - a._2)
      val dLon = math.toRadians(b._3 - a._3)
      val x = math.pow(math.sin(dLat / 2), 2) +
        math.cos(math.toRadians(a._2)) * math.cos(math.toRadians(b._2)) *
          math.pow(math.sin(dLon / 2), 2)
      2 * R * math.asin(math.sqrt(x))
    }
    val brute = (for {
      a <- rows; b <- rows if a._1 < b._1 && hav(a, b) <= 200.0
    } yield (a._1, b._1)).toSet
    assert(grid == brute)
    assert(brute == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("gridSelfJoin + AQE splits a hot downtown cell across tasks (skew)") {
    // The er.py:164-194 dense-downtown scenario: the reference caps each
    // grid bin at 400 scan pairs and silently drops the rest; here nothing
    // is dropped and the oversized cell must not become one straggler task.
    // 2000 points inside ONE 0.01-deg cell (max extent ~60 m, so every pair
    // matches a 100 m radius) + 500 points spread one-per-cell elsewhere.
    val hot = (0 until 2000).map(i =>
      (i.toLong, 48.2000 + (i % 45) * 1e-5, 16.3700 + (i / 45) * 1e-5))
    val sparse = (0 until 500).map(i =>
      (100000L + i, 40.0 + (i % 100) * 0.1, 10.0 + (i / 100) * 0.1))
    val df = (hot ++ sparse).toDF("id", "lat", "lon").repartition(8)

    val taskRecords = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && m.shuffleReadMetrics.recordsRead > 0)
          taskRecords.add(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      withSQLConf(
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        // toy-scale thresholds (shuffle sizes are COMPRESSED map-output
        // bytes): the hot cell's partition must read as skewed against the
        // near-empty median and split into several chunks
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
        // a broadcast join would erase the shuffle under test
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.shuffle.partitions" -> "8") {
        val out = SpatialJoins.gridSelfJoin(df, "id", "lat", "lon", radiusM = 100.0)
        // Execute THIS dataset's adaptive plan (count()/write would build a
        // separate QueryExecution and leave this one un-executed, so its
        // AQE runtime decisions — the thing under test — would never fire).
        val qe = out.queryExecution
        val rdd = qe.executedPlan.execute()
        val cnt = rdd.count()
        // every hot pair once, nothing dropped, no cross-cell false pairs
        assert(cnt == 2000L * 1999 / 2)
        val plan = qe.executedPlan.toString
        assert(plan.contains("skew=true"), s"no skew split in plan:\n${plan.take(3000)}")
        // the split adds partitions beyond the static shuffle width: the
        // hot cell's 2M-pair production runs as several chunk-tasks, not one
        assert(rdd.getNumPartitions > 8, s"join stayed at ${rdd.getNumPartitions} partitions")
      }
      // listener events are delivered async; wait for the queue to go quiet
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10_000_000_000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        if (taskRecords.size == last) stable += 1 else { stable = 0; last = taskRecords.size }
      }
      import scala.jdk.CollectionConverters._
      val recs = taskRecords.asScala.toVector.sorted
      // The unsplit hot partition would run as ONE task reading the hot
      // cell's a- and b-side together. The split spreads that across
      // several chunk-tasks, each reading its a-chunk + the full (small)
      // b-side — so multiple mid-size readers must exist. (A single LARGE
      // reader may legitimately remain: AQE coalesces the hot cell's 8
      // NEIGHBOR-cell partitions — thousands of a-side records with zero
      // b-side matches, i.e. high input but no join work — into one task.)
      assert(recs.nonEmpty)
      assert(recs.count(_ >= 500) >= 2, s"hot cell not spread: $recs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("gridWithinJoin returns every pair within the radius, once") {
    val left = Seq((1L, 48.2000, 16.3700)).toDF("lid", "lat", "lon")
    val right = Seq(
      (10L, 48.2001, 16.3700), // ~11 m
      (11L, 48.2000, 16.3720), // ~148 m
      (12L, 48.2100, 16.3700)  // ~1.1 km — outside
    ).toDF("rid", "lat", "lon")
    val out = SpatialJoins.gridWithinJoin(left, right, "lid", "rid", 300.0)
      .select("lid", "rid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L), (1L, 11L)))
  }

  test("nearestJoin picks the single nearest right row within threshold") {
    val left = Seq((10L, 48.2000, 16.3700, "c")).toDF("lid", "lat", "lon", "blk")
    val right = Seq(
      (20L, 48.2001, 16.3700, "c"), // ~11 m  <- nearest
      (21L, 48.2000, 16.3720, "c"), // ~148 m
      (22L, 48.2001, 16.3700, "x")  // same point, wrong block
    ).toDF("rid", "lat", "lon", "blk")
    val out = SpatialJoins.nearestJoin(left, right, "lid", "rid", 300.0, Seq("blk"))
      .select("lid", "rid").as[(Long, Long)].collect().toSeq
    assert(out == Seq((10L, 20L)))
  }

  test("connected components labels chains with the min id") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 4L), (7L, 7L)).toDF("src", "dst")
    val comps = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L))
  }

  test("connected components converges on a long chain (path halving)") {
    val n = 200
    val edges = (0 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("src", "dst")
    val comps = ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
    assert(comps.size == n + 1)
    assert(comps.values.forall(_ == 0L))
  }

  test("runScoped equals run on a scope-bounded graph (long and string ids)") {
    // two scopes, several components each, incl. a chain and a singleton edge
    val edges = Seq(
      ("v", 1L, 2L), ("v", 2L, 3L), ("v", 9L, 8L),
      ("g", 4L, 5L), ("g", 6L, 6L), ("g", 5L, 7L)).toDF("city", "src", "dst")
    val scoped = ConnectedComponents.runScoped(edges, "city")
      .select("node", "component").as[(Long, Long)].collect().toMap
    val global = ConnectedComponents.run(edges)
      .as[(Long, Long)].collect().toMap
    assert(scoped == global)
    assert(scoped(3L) == 1L && scoped(7L) == 4L && scoped(6L) == 6L && scoped(8L) == 8L)
    // string ids order lexicographically, matching run()'s min() semantics
    val sEdges = Seq(("v", "yelp:b", "wv:a"), ("v", "wv:a", "osm:z"))
      .toDF("city", "src", "dst")
    val sScoped = ConnectedComponents.runScoped(sEdges, "city")
      .select("node", "component").as[(String, String)].collect().toMap
    val sGlobal = ConnectedComponents.run(sEdges)
      .as[(String, String)].collect().toMap
    assert(sScoped == sGlobal && sScoped("yelp:b") == "osm:z")
  }

  test("localContract preserves node set and connectivity; contracted " +
    "run matches the uncontracted fixpoint on a random graph") {
    // star forest of each partition's local components: same nodes, same
    // components, never more rows than distinct nodes per partition
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (5L, 4L), (7L, 7L))
      .toDF("src", "dst").repartition(2)
    val stars = ConnectedComponents.localContract(edges)
      .as[(Long, Long)].collect().toSeq
    // every node survives as a src (incl. each local min's self-row) …
    assert(stars.map(_._1).distinct.sorted == Seq(1L, 2L, 3L, 4L, 5L, 7L))
    // … and the star forest has the same components as the raw edges
    val viaStars = ConnectedComponents.run(
      stars.toDF("src", "dst"), contractPasses = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaStars == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 4L, 7L -> 7L))
    // deterministic xorshift-mixed pseudo-random graph, 300 nodes: the
    // contracted run (default) must equal contractPasses = 0 exactly
    val rnd = (1 to 400).map { i =>
      val a = (i * 2654435761L) % 300
      val b = (i * 40503L + 17) % 300
      (a, b)
    }.toDF("src", "dst").repartition(11)
    val contracted = ConnectedComponents.run(rnd)
      .as[(Long, Long)].collect().toMap
    val plain = ConnectedComponents.run(rnd, contractPasses = 0)
      .as[(Long, Long)].collect().toMap
    assert(contracted == plain)
  }

  test("TopKDistinct keeps longest-first, suppresses near-duplicates, caps at k") {
    val docs = Seq(
      ("s", "the quick brown fox jumps over the lazy dog entirely"),
      ("s", "the quick brown fox jumps over the lazy dog"), // near-dup of above
      ("s", "completely different text about spark engines"),
      ("s", "another unrelated line mentioning databases"),
      ("s", "short one")
    ).toDF("k", "text")
    val kept = docs.as[(String, String)].groupByKey(_._1).mapValues(_._2)
      .agg(TopKDistinct.topK(3, 0.9).name("kept"))
      .collect().head._2
    assert(kept.size == 3)
    assert(kept.head.contains("entirely"))   // longest first
    assert(!kept.contains("the quick brown fox jumps over the lazy dog"))
  }

  test("TopKDistinct matches the scan-everything reference greedy on a " +
    "200-text adversarial group (longest texts are mutual near-dups)") {
    // 150 long texts that are all near-duplicates of each other (one token
    // appended), then 50 short mutually-distinct texts. A greedy that only
    // buffers the longest 64 candidates would keep 1 long text and then run
    // dry; the reference greedy scans everything and fills k from the
    // distinct short tail (reference: etl/reviews_jsonl.py:316-325).
    val longBase = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val longDups = (0 until 150).map(i => longBase + (" filler" * 5) + s" v$i")
    val shorts = (0 until 50).map(i =>
      s"unique${i}a unique${i}b unique${i}c unique${i}d unique${i}e")
    val texts = scala.util.Random.shuffle((longDups ++ shorts).toList)
    // reference greedy: longest-first (len desc, lex asc), keep if
    // token_set_ratio < threshold vs all kept, stop at k
    def refGreedy(all: Seq[String], k: Int, thr: Double): Seq[String] = {
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      for (t <- all.sortBy(s => (-s.length, s)) if kept.size < k)
        if (kept.forall(p => graft.functions.TextFunctions.tokenSetRatio(t, p) < thr))
          kept += t
      kept.toSeq
    }
    val expected = refGreedy(texts, 5, 0.9)
    val got = texts.map(("g", _)).toDF("k", "text")
      .repartition(8) // force multi-partition partial aggregation
      .as[(String, String)].groupByKey(_._1).mapValues(_._2)
      .agg(TopKDistinct.topK(5, 0.9).name("kept"))
      .collect().head._2
    assert(got == expected)
    assert(got.size == 5) // 1 long rep + 4 distinct shorts, not starved
  }

  test("simHashChunkLayout covers all 32 bits with maxHamming+1 chunks") {
    for (mh <- Seq(0, 1, 3, 7, 10, 31)) {
      val layout = Dedup.simHashChunkLayout(mh)
      assert(layout.size == mh + 1)
      assert(layout.map(_._2).sum == 32)
      // contiguous, non-overlapping
      layout.sliding(2).foreach {
        case Seq((s1, w1), (s2, _)) => assert(s1 + w1 == s2)
        case _ =>
      }
      assert(layout.head._1 == 0)
      assert(layout.forall(_._2 >= 1))
    }
  }

  test("simHashPairs recall is exact at the hamming budget (pigeonhole)") {
    // Construct docs whose token sets differ progressively; verify against
    // a brute-force hamming computation on the same fingerprints.
    val rows = (0 until 12).map { i =>
      (i.toLong, (0 until 10).map(j =>
        if (j < i) s"tok${i}_$j" else s"base$j").mkString(" "))
    }
    val docs = rows.toDF("doc_id", "text")
    val fps = rows.map { case (id, text) =>
      id -> Dedup.simHashKernel(Dedup.hashedTokensKernel(text))
    }.toMap
    val brute = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = java.lang.Long.bitCount(fps(a) ^ fps(b)) if h <= 6
    } yield (a, b)).toSet
    val got = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("ngramJaccardPairs pairs near-dups that differ in their first token") {
    // first-token blocking (the old scheme) would never pair these
    val docs = Seq(
      (1L, "the quarterly report shows strong growth in cloud revenue and " +
        "steady margins across all regions this year"),
      (2L, "quarterly report shows strong growth in cloud revenue and " +
        "steady margins across all regions this year"),
      (3L, "completely different content about gardening tulips in spring " +
        "soil with compost and careful watering schedules")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact dedup groups identical texts") {
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (3L, 1L)))
  }

  test("shingles produces all n-grams including the last window") {
    val df = Seq(Tuple1("a b c d e")).toDF("text")
    val sh = df.select(Dedup.shingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head.toSet
    assert(sh == Set("a b c", "b c d", "c d e"))
    // shorter than n -> whole text as one shingle
    val short = Seq(Tuple1("a b")).toDF("text")
      .select(Dedup.shingles(col("text"), 3).as("sh")).as[Seq[String]].head
    assert(short == Seq("a b"))
  }

  test("minHashLSH finds near-duplicate pairs and skips unrelated ones") {
    val base = "spark engines shuffle data across partitions when joining " +
      "large tables with hash keys and sort merge strategies"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, "totally unrelated content about cooking pasta with tomatoes " +
        "and basil in a large pot of salted water")
    ).toDF("doc_id", "text")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", simThreshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incrementalMinHash partitions the full-corpus pairs by membership") {
    // A batch probed against an index must surface exactly the full-corpus
    // LSH pairs that touch the batch (same signatures, same buckets), and
    // no index-vs-index pair — re-running dedup over the whole corpus and
    // splitting its output is the correctness contract of the incremental
    // path.
    val base = "spark engines shuffle data across partitions when joining " +
      "large tables with hash keys and sort merge strategies"
    val other = "totally unrelated content about cooking pasta with " +
      "tomatoes and basil in a large pot of salted water"
    val docs = Seq(
      (1L, base), (2L, base + " extra"), (3L, other),
      (4L, base + " appended"), (5L, other + " tonight"), (6L, base)
    ).toDF("doc_id", "text")
    val isBatch = (id: Long) => id >= 4L
    val full = Dedup.minHashLSH(docs, "doc_id", "text", simThreshold = 0.25)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val index = Dedup.minHashIndex(docs.where(col("doc_id") < 4), "doc_id", "text")
    val incr = Dedup.incrementalMinHash(index, docs.where(col("doc_id") >= 4),
        "doc_id", "text", simThreshold = 0.25)
      .select("a_id", "b_id", "kind").as[(Long, Long, String)].collect().toSet
    val expectedVsIndex = full.collect {
      case (a, b) if isBatch(a) != isBatch(b) =>
        (if (isBatch(a)) b else a, if (isBatch(a)) a else b, "vs_index")
    }
    val expectedWithin = full.collect {
      case (a, b) if isBatch(a) && isBatch(b) => (a, b, "within_batch")
    }
    assert(incr == expectedVsIndex ++ expectedWithin)
    assert(incr.exists(_._3 == "vs_index") && incr.exists(_._3 == "within_batch"))
  }

  test("bloomSemiJoin equals the exact semi join and prunes before the shuffle") {
    val fact = spark.range(0, 20000).toDF("k")
      .withColumn("payload", col("k") * 2)
    val dim = spark.range(0, 20000).toDF("d")
      .where(col("d") % 100 === 0) // 200 keys of 20000
    val got = Prune.bloomSemiJoin(fact, "k", dim, "d",
      expectedKeys = 256, numBits = 1L << 12)
    val exact = fact.join(dim.withColumnRenamed("d", "k"), Seq("k"), "left_semi")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq ==
      exact.collect().map(_.getLong(0)).sorted.toSeq)
    // the probe is a native codegen expression in the executed plan, and
    // the bloom pass kills (almost) all non-members before the join
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    val survivors = fact.where(Prune.mightContain(
      Prune.bloomOf(dim, "d", 256, 1L << 12), col("k"))).count()
    assert(survivors < 2000, s"bloom pruned nothing: $survivors of 20000")
    // empty dim prunes everything without erroring
    assert(Prune.bloomSemiJoin(fact, "k", dim.where(lit(false)), "d")
      .count() == 0)
  }

  test("zorderWrite clusters both dimensions; a y-box prunes most files") {
    // 40k points on a [0,1)^2 grid. An x-sorted layout answers x-boxes
    // well but every file spans all of y, so a y-only box must open ALL
    // files; the Z-curve layout tiles both dimensions, so the same box
    // intersects only the files whose y-range crosses the band.
    import java.nio.file.Files
    val n = 40000
    val pts = spark.range(n).toDF("id")
      .withColumn("x", (pmod(col("id") * 7919, lit(n.toLong))).cast("double") / n)
      .withColumn("y", (pmod(col("id") * 104729, lit(n.toLong))).cast("double") / n)
    val base = Files.createTempDirectory("graft_zorder").toString
    val sortedDir = s"$base/xsorted"; val zDir = s"$base/zorder"
    pts.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(sortedDir)
    Layout.zorderWrite(pts, Seq(("x", 0.0, 1.0), ("y", 0.0, 1.0)), zDir, 16)

    // round-trip: nothing lost or duplicated
    assert(spark.read.parquet(zDir).count() == n)
    assert(spark.read.parquet(zDir).agg(sum("id")).head.getLong(0) ==
      n.toLong * (n - 1) / 2)

    def filesHittingYBox(dir: String, lo: Double, hi: Double): (Long, Long) = {
      val perFile = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min("y").as("ymin"), max("y").as("ymax"))
      (perFile.count(),
        perFile.where(col("ymax") >= lo && col("ymin") <= hi).count())
    }
    val (sortedTotal, sortedHit) = filesHittingYBox(sortedDir, 0.40, 0.45)
    val (zTotal, zHit) = filesHittingYBox(zDir, 0.40, 0.45)
    assert(sortedTotal == 16 && zTotal == 16)
    assert(sortedHit == 16) // x-sort cannot prune a y-box at all
    assert(zHit <= 8, s"z-order pruned too little: $zHit of $zTotal files")
    assert(zHit < sortedHit)
  }

  test("funnelDepth: earliest-completion, strictly-ordered steps") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 20L),  // click precedes first view -> doesn't count
      (3L, "view", 10L), (3L, "click", 10L),                        // simultaneous is NOT strictly after
      (4L, "error", 1L),                                            // never enters
      (5L, "view", 10L), (5L, "click", 15L),                        // stops at 2
      (6L, "view", 10L), (6L, "click", 15L), (6L, "purchase", 12L)  // purchase before its click
    ).toDF("user_id", "event_type", "tsl")
      .withColumn("ts", timestamp_micros(col("tsl")))
    val got = Funnel.funnelDepth(ev, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 2, 6L -> 2))

    // conversion window: click lands 100 s after view — a 50 s horizon
    // excludes it, a 100 s horizon includes it (boundary is inclusive)
    val evH = Seq((9L, "view", 0L), (9L, "click", 100_000_000L))
      .toDF("user_id", "event_type", "tsl")
      .withColumn("ts", timestamp_micros(col("tsl")))
    def depthAt(h: Long) = Funnel.funnelDepth(evH, "user_id", "event_type",
        "ts", Seq("view", "click"), horizonSeconds = Some(h))
      .as[(Long, Int)].collect().head._2
    assert(depthAt(50L) == 1)
    assert(depthAt(100L) == 2)
  }

  test("pageRank matches hand-computed power iterations") {
    // star: 1->2 and 3->2; node 2 is dangling (keeps teleport share only)
    val star = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val r2 = PageRank.run(star, iterations = 2)
      .as[(Long, Double)].collect().toMap
    val teleport = (1.0 - 0.85) / 3.0
    // iter2: sources have no in-mass; 2 receives both sources' full rank
    assert(math.abs(r2(1L) - teleport) < 1e-12)
    assert(math.abs(r2(3L) - teleport) < 1e-12)
    assert(math.abs(r2(2L) - (teleport + 0.85 * 2 * teleport)) < 1e-12)
    // cycle: uniform 1/3 is the exact fixpoint from the uniform start
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val rc = PageRank.run(cyc, iterations = 5).as[(Long, Double)].collect()
    rc.foreach { case (_, r) => assert(math.abs(r - 1.0 / 3) < 1e-12) }
  }

  test("pageRank evaluates its edge input exactly once") {
    // every input row passes a non-deterministic tap; a second read of
    // the lazy input (node set, out-degree, dangling set, each round)
    // would count the edges again
    val seen = spark.sparkContext.longAccumulator("pr_input_rows")
    val tap = udf { (x: Long) => seen.add(1L); x }.asNondeterministic()
    val nEdges = 200L
    val edges = spark.range(0, nEdges)
      .select(tap(col("id") % 17).as("src"), ((col("id") * 7) % 23).as("dst"),
        (col("id") % 5 + 1).as("w"))
    for ((fn, name) <- Seq[(DataFrame => DataFrame, String)](
        (PageRank.run(_, iterations = 3, redistributeDangling = true), "run"),
        (PageRank.weighted(_, iterations = 3), "weighted"),
        (PageRank.personalized(_, Seq(1L, 5L).toDF("node"), iterations = 3),
          "personalized"))) {
      seen.reset()
      assert(fn(edges).count() == 23L, name) // dst 0..22 covers src 0..16
      assert(seen.value == nEdges, s"$name read its input ${
        seen.value.toDouble / nEdges} times")
    }
  }

  test("pageRank equals a local power iteration on random multigraphs " +
    "with self-loops, dangling mass redistributed or not") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    def local(edges: Seq[(Long, Long)], iters: Int,
              redistribute: Boolean): Map[Long, Double] = {
      val d = 0.85
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val n = nodes.size.toDouble
      val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.size }
      var rank = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to iters) {
        val in = scala.collection.mutable.Map.empty[Long, Double]
        for ((a, b) <- edges) in(b) = in.getOrElse(b, 0.0) + rank(a) / deg(a)
        val dMass =
          if (redistribute) nodes.filterNot(deg.contains).map(rank).sum
          else 0.0
        rank = nodes.map(v =>
          v -> ((1 - d) / n + d * (in.getOrElse(v, 0.0) + dMass / n))).toMap
      }
      rank
    }
    val edge = for (a <- Gen.choose(0L, 9L); b <- Gen.choose(0L, 9L))
      yield (a, b)
    val caseGen = for {
      es <- Gen.choose(1, 24).flatMap(Gen.listOfN(_, edge))
      iters <- Gen.choose(1, 4)
    } yield (es, iters)
    val prop = Prop.forAllNoShrink(caseGen) { case (es, iters) =>
      Seq(false, true).forall { redistribute =>
        val got = PageRank.run(es.toDF("src", "dst"), iterations = iters,
            redistributeDangling = redistribute)
          .as[(Long, Double)].collect().toMap
        val want = local(es, iters, redistribute)
        got.keySet == want.keySet &&
          want.forall { case (v, r) => math.abs(got(v) - r) < 1e-12 }
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(6).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("hits matches hand-computed mutual-reinforcement rounds") {
    // 1->3, 2->3, 2->4: node 2 points at both authorities, so it out-hubs
    // node 1; node 3 has two in-links, so it out-authorities node 4.
    // Round 1: auth raw (2,1)/3 -> a=(2/3,1/3); hub raw (2/3,1)/ (5/3)
    // -> h=(2/5,3/5). Round 2: auth raw (1,3/5)/(8/5) -> (5/8,3/8);
    // hub raw (5/8,1)/(13/8) -> (5/13, 8/13).
    val g = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val r = PageRank.hits(g, iterations = 2)
      .as[(Long, Double, Double)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(math.abs(r(1L)._1 - 5.0 / 13) < 1e-12)
    assert(math.abs(r(2L)._1 - 8.0 / 13) < 1e-12)
    assert(r(3L)._1 == 0.0 && r(4L)._1 == 0.0)
    assert(math.abs(r(3L)._2 - 5.0 / 8) < 1e-12)
    assert(math.abs(r(4L)._2 - 3.0 / 8) < 1e-12)
    assert(r(1L)._2 == 0.0 && r(2L)._2 == 0.0)
    // cycle: uniform 1/3 hubs AND authorities is the exact fixpoint
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    PageRank.hits(cyc, iterations = 4).as[(Long, Double, Double)].collect()
      .foreach { case (_, h, a) =>
        assert(math.abs(h - 1.0 / 3) < 1e-12)
        assert(math.abs(a - 1.0 / 3) < 1e-12)
      }
  }

  test("pcaProject recovers the dominant axis and signed projections") {
    // colinear points along (0.6, 0.8): covariance is rank-1, so the
    // iteration lands exactly on the axis; projections are the signed
    // distances from the mean along it
    val emb = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(3f, 4f)),
      (3L, Seq(6f, 8f)), (4L, Seq(-3f, -4f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.pcaProject(emb, "vec_id", "embedding")
      .as[(Long, Double)].collect().toMap
    assert(r == Map(1L -> -2.5, 2L -> 2.5, 3L -> 7.5, 4L -> -7.5))
    // noise on a second axis: PC1 still tracks the high-variance axis,
    // and projections are mean-centered (sum ~ 0)
    val emb2 = Seq(
      (1L, Seq(10f, 1f)), (2L, Seq(-10f, -1f)),
      (3L, Seq(20f, -1f)), (4L, Seq(-20f, 1f)))
      .toDF("vec_id", "embedding")
    val r2 = Similarity.pcaProject(emb2, "vec_id", "embedding")
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r2.values.sum) < 1e-9)
    assert(r2(3L) > r2(1L) && r2(1L) > 0 && r2(2L) < 0 && r2(4L) < r2(2L))
    assert(math.abs(r2(3L)) > 19 && math.abs(r2(3L)) < 21) // axis ~ e1
  }

  test("hashFeatures folds signed token counts into the bucket space") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "beta beta"), (3L, ""))
      .toDF("doc_id", "text")
    val r = TextAnalysis.hashFeatures(docs, "doc_id", "text", numBuckets = 8)
      .as[(Long, Long, Long)].collect()
    def h(tok: String, seed: Int): Long =
      graft.operators.Dedup.md5Hash32Kernel(tok, seed)
    def sgn(tok: String): Long = if ((h(tok, 1) & 1L) == 1L) 1L else -1L
    val expected = Seq(
      (1L, "alpha", 2L), (1L, "beta", 1L), (2L, "beta", 2L))
      .groupBy { case (id, tok, _) => (id, h(tok, 0) % 8) }
      .map { case ((id, b), rows) =>
        (id, b, rows.map { case (_, tok, n) => sgn(tok) * n }.sum) }
      .toSet
    assert(r.toSet == expected)
    // empty doc contributes no buckets; total |mass| bounded by tokens
    assert(!r.exists(_._1 == 3L))
    assert(r.map(t => math.abs(t._3)).sum <= 5)
    // wider table, no collisions: every count is +-(term frequency)
    val wide = TextAnalysis.hashFeatures(docs, "doc_id", "text", 1 << 20)
      .as[(Long, Long, Long)].collect()
    assert(wide.map(t => math.abs(t._3)).toSeq.sorted == Seq(1L, 2L, 2L))
  }

  test("linkPredict scores non-adjacent pairs by CN / Jaccard / Adamic-Adar") {
    // path 1-2, 2-3, 3-4 plus 1-5, 5-3: pair (1,3) shares {2, 5} and is
    // NOT an edge; deg(1)=2, deg(3)=3, deg(2)=deg(5)=2.
    // cn=2, jaccard = 2/(2+3-2) = 2/3, aa = 2/ln(2).
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 5L), (5L, 3L))
      .toDF("src", "dst")
    // ... and (2,5) share {1, 3}: jaccard 2/(2+2-2)=1, aa = 1/ln2 + 1/ln3
    val r = PageRank.linkPredict(g, minCommon = 2)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(t => (t._1, t._2) -> t).toMap
    assert(r.keySet == Set((1L, 3L), (2L, 5L)))
    val (_, _, cn, jac, aa) = r((1L, 3L))
    assert(cn == 2L)
    assert(math.abs(jac - math.rint(2.0 / 3 * 1e6) / 1e6) < 1e-12)
    assert(math.abs(aa - math.rint(2.0 / math.log(2) * 1e6) / 1e6) < 1e-12)
    val (_, _, _, jac2, aa2) = r((2L, 5L))
    assert(jac2 == 1.0)
    assert(math.abs(aa2 -
      math.rint((1 / math.log(2) + 1 / math.log(3)) * 1e6) / 1e6) < 1e-12)
    // adjacent pairs are excluded even when they share neighbors:
    // triangle + pendant — (1,2) shares 3 but IS an edge
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val r2 = PageRank.linkPredict(tri, minCommon = 2)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(r2.map(t => (t._1, t._2)).toSet == Set((3L, 4L)))
    // degree cap: excluding the hub center kills the only evidence
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("src", "dst")
    assert(PageRank.linkPredict(star, minCommon = 1, maxCenterDegree = 2)
      .count() == 0)
    assert(PageRank.linkPredict(star, minCommon = 1, maxCenterDegree = 3)
      .count() == 3)
  }

  test("linkPredict's degree cap is never silent: the audit frame " +
    "reports the dropped centers") {
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L)).toDF("src", "dst")
    // capped run: the hub (deg 3) exceeds the cap of 2 -> exactly 1
    val (pairs, audit) = PageRank.linkPredictWithAudit(star, minCommon = 1,
      maxCenterDegree = 2)
    assert(audit.columns.toSeq == Seq("n_capped_centers"))
    assert(audit.as[Long].head() == 1L)
    assert(pairs.count() == 0) // the hub carried the only evidence
    // cap above every degree: audit 0, output identical to plain call
    val (pairs3, audit3) = PageRank.linkPredictWithAudit(star,
      minCommon = 1, maxCenterDegree = 3)
    assert(audit3.as[Long].head() == 0L)
    assert(pairs3.collect().toSet ==
      PageRank.linkPredict(star, minCommon = 1, maxCenterDegree = 3)
        .collect().toSet)
  }

  test("PNG codec: roundtrip across all five filters, CRC + scope guards") {
    // height 9 cycles through every filter type (y % 5) twice
    val (w, h) = (7, 9)
    val rgb = Multimodal.rgbSynthPixels(w, h)
    val png = Multimodal.pngEncodeRgb(w, h, rgb)
    // the EXISTING independent IHDR walker agrees with the encoder
    val meta = Multimodal.pngMeta(1L, png)
    assert(meta.valid && meta.width == w && meta.height == h)
    val img = Multimodal.pngDecodeRgb(png)
    assert(img.width == w && img.height == h)
    assert(img.rgb.sameElements(rgb))

    // 1x1 and wide-single-row edges
    val one = Multimodal.rgbSynthPixels(1, 1)
    assert(Multimodal.pngDecodeRgb(Multimodal.pngEncodeRgb(1, 1, one))
      .rgb.sameElements(one))
    val row = Multimodal.rgbSynthPixels(40, 1)
    assert(Multimodal.pngDecodeRgb(Multimodal.pngEncodeRgb(40, 1, row))
      .rgb.sameElements(row))

    // a flipped payload byte must fail the chunk CRC, not mis-decode
    val corrupt = png.clone()
    corrupt(40) = (corrupt(40) ^ 0x5a).toByte
    intercept[IllegalArgumentException](Multimodal.pngDecodeRgb(corrupt))
    // non-PNG input is rejected
    intercept[IllegalArgumentException](
      Multimodal.pngDecodeRgb("not a png at all".getBytes))
  }

  test("PNG Paeth filter matches the spec's predictor on a pinned example") {
    // Row y=4 of the encoder uses Paeth (4 % 5). Craft a 2x5 image and
    // hand-compute the predictor for the first Paeth row byte with
    // nonzero left/up/up-left: a=left, b=up, c=upLeft; p=a+b-c; nearest
    // of (a,b,c) to p with ties a,b,c. For byte x=3 (second pixel, R):
    // left=R(0,4), up=R(1,3), upLeft=R(0,3) in recon space.
    val w = 2; val h = 5
    val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.pngEncodeRgb(w, h, rgb)
    val img = Multimodal.pngDecodeRgb(png)
    assert(img.rgb.sameElements(rgb)) // roundtrip through the Paeth row
    // and the predictor itself, pinned against hand-computed spec cases
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    assert(paeth(0, 0, 0) == 0)
    assert(paeth(10, 0, 0) == 10)   // p=10: ties prefer a
    assert(paeth(0, 10, 0) == 10)   // p=10: pa=10,pb=0 -> b
    assert(paeth(100, 90, 95) == 95) // p=95: pc=0 smallest -> c... checked below
    // p = 100+90-95 = 95; pa=5, pb=5, pc=0 -> c wins only if pa>pc and
    // pb>pc; here pa=5>0, pb=5>0 -> c=95
  }

  test("triangleCount collapses directions/dups and counts exactly") {
    // K4 on {1,2,3,4} has 4 triangles; edges arrive in mixed directions
    // with duplicates and a self-loop; the pendant edge (4,5) adds none.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (1L, 4L),
      (2L, 3L), (2L, 4L), (3L, 4L), (4L, 4L), (4L, 5L), (2L, 3L))
      .toDF("src", "dst")
    assert(PageRank.triangleCount(edges) == 4)
    // triangle-free: a path graph
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(PageRank.triangleCount(path) == 0)
  }

  test("degree orientation keeps the wedge set bounded on a hub graph") {
    // star-plus-rim: hub 0 joined to 1..60, rim path i—(i+1). Under id
    // orientation the hub (id 0, degree 60) centers C(60,2)=1770 wedges;
    // low-degree-first orientation points every star edge INTO the hub,
    // so the wedge set stays linear in m — the O(m^1.5) discipline.
    val n = 60
    val star = (1 to n).map(i => (0L, i.toLong))
    val rim = (1 until n).map(i => (i.toLong, (i + 1).toLong))
    val edges = (star ++ rim).toDF("src", "dst")
    val m = star.size + rim.size
    val wedges = PageRank.orientedWedges(edges).count()
    assert(wedges <= 2L * m, s"wedges=$wedges for m=$m — hub not tamed")
    // and the triangles themselves stay exact: each rim edge closes one
    // triangle with the hub
    assert(PageRank.triangleCount(edges) == n - 1)
    val tri = PageRank.closedWedges(edges).as[(Long, Long, Long)]
      .collect().toSet
    assert(tri == (1 until n).map(i => (0L, i.toLong, i + 1L)).toSet)
  }

  test("labelPropagation converges two bridged triangles to two " +
    "communities") {
    // triangles {1,2,3} and {10,11,12} with bridge 3-10; 3 synchronous
    // rounds (hand-unrolled, min-label tiebreak) settle each triangle on
    // its own community without merging across the bridge
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = PageRank.labelPropagation(sym, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("modularity scores the bridged-triangles partition by hand; a " +
    "merged-everything partition scores lower") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val twoComm = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L).toDF("node", "label")
    val got = PageRank.modularity(sym, twoComm)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // |E| = 14 directed; each triangle: 6 intra, degree sum 7
    // q_c = 6/14 - (7/14)^2, quantized
    val qc = math.floor((6.0 / 14 - math.pow(7.0 / 14, 2)) * 1e6 + 0.5) / 1e6
    assert(got(1L) == ((1L, 3L, 6L, 7L, qc)))
    assert(got(3L) == ((3L, 3L, 6L, 7L, qc)))
    // the trivial one-community partition scores Q = 1 - 1 = 0, worse
    // than the two-community 2*qc > 0
    val oneComm = twoComm.select($"node", lit(1L).as("label"))
    val qOne = PageRank.modularity(sym, oneComm)
      .agg(sum($"q_contrib")).as[Double].head()
    assert(math.abs(qOne) < 1e-9 && 2 * qc > 0.3)
  }

  test("bfsDistances finds multi-source shortest hops within the bound") {
    // path 1-2-3-4-5 plus a shortcut 6->4; seeds {1, 6}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 4L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 6L).toDF("node")
    val got = PageRank.bfsDistances(edges, seeds, maxHops = 3)
      .as[(Long, Int)].collect().toMap
    // 4 is reached in 1 hop via 6 (not 3 via 1); 5 in 2 via the shortcut
    assert(got == Map(1L -> 0, 6L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
    // the hop bound truncates: from seed 1 only, node 5 is 4 hops away
    val far = PageRank.bfsDistances(edges, Seq(1L).toDF("node"), maxHops = 3)
      .as[(Long, Int)].collect().toMap
    assert(far == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("harmonicExact matches hand-computed bounded harmonic centrality") {
    // undirected path 1-2-3-4-5, symmetrized
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val bidir = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val got = PageRank.harmonicExact(bidir, maxHops = 3)
      .as[(Long, Double)].collect().toMap
    // node 1: d=1 to 2, d=2 to 3, d=3 to 4 (5 is 4 hops, outside radius)
    assert(math.abs(got(1L) - (1.0 + 1.0 / 2 + 1.0 / 3)) < 1e-12)
    assert(math.abs(got(2L) - (2.0 + 1.0 / 2 + 1.0 / 3)) < 1e-12)
    assert(math.abs(got(3L) - (2.0 + 2.0 / 2)) < 1e-12)
    // symmetric graph => symmetric centralities
    assert(got(4L) == got(2L) && got(5L) == got(1L))
    // closeness off the same BFS: r/Σd — node 1 reaches {2,3,4} at
    // distances {1,2,3}
    val cl = PageRank.closenessExact(bidir, maxHops = 3)
      .as[(Long, Double)].collect().toMap
    assert(cl(1L) == 3.0 / 6 && cl(2L) == 4.0 / 7 && cl(3L) == 4.0 / 6)
    assert(cl(4L) == cl(2L) && cl(5L) == cl(1L))
    // degenerate inputs: empty edge frame yields an empty, non-crashing
    // result (the r13 Louvain lesson — per-scope empty graphs WILL occur)
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.harmonicExact(empty, maxHops = 3).count() == 0L)
    assert(PageRank.closenessExact(empty, maxHops = 3).count() == 0L)
    assert(HyperBall.hyperBallPacked(empty, maxHops = 3).count() == 0L)
  }

  test("hyperBall registers are the exact HLL sketch of each ball: the " +
    "estimate equals directly sketching brute-force ball membership") {
    // deterministic irregular graph: ring over 0..11 plus chords
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
    val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
    val e0 = (ring ++ chords).toDF("src", "dst")
    val bidir = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val maxHops = 3
    val got = HyperBall.hyperBallPacked(bidir, maxHops = maxHops, p = 6)
      .as[(Long, Double)].collect().toMap

    // brute-force balls B_h(v) on the driver
    val adj = bidir.as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, h: Int): Set[Long] = {
      var b = Set(v)
      (1 to h).foreach(_ => b = b ++ b.flatMap(adj.getOrElse(_, Set.empty)))
      b
    }
    // expected: per-hop HLL estimates over exact membership, folded with
    // the identical (N_h - N_{h-1}) / h expression
    val nodes = adj.keys.toSeq
    val expected = nodes.map { v =>
      val ests = (0 to maxHops).map { h =>
        val members = ball(v, h).toSeq.map(u => (v, u))
        Sketches.hllDistinct(members.toDF("node", "member"),
            Seq("node"), "member", p = 6)
          .select($"hll_estimate").as[Double].head()
      }
      v -> (1 to maxHops).map(h => (ests(h) - ests(h - 1)) / h).sum
    }.toMap
    nodes.foreach { v =>
      assert(math.abs(got(v) - expected(v)) < 1e-9,
        s"node $v: got ${got(v)}, expected ${expected(v)}")
    }

    // closeness off the SAME register tables: r̂/Σd̂ with
    // r̂ = N̂_H − N̂_0 and Σd̂ = Σ h(N̂_h − N̂_{h−1}) — bit-identical to
    // composing the brute-force per-hop estimates in the same fold order
    val estMap: Map[Long, IndexedSeq[Double]] = nodes.map { v =>
      v -> (0 to maxHops).map { h =>
        val members = ball(v, h).toSeq.map(u => (v, u))
        Sketches.hllDistinct(members.toDF("node", "member"),
            Seq("node"), "member", p = 6)
          .select($"hll_estimate").as[Double].head()
      }
    }.toMap
    val clGot = HyperBall.hyperBallCloseness(bidir, maxHops = maxHops, p = 6)
      .as[(Long, Double)].collect().toMap
    nodes.foreach { v =>
      val ests = estMap(v)
      val expectedCl = (ests(maxHops) - ests(0)) /
        (1 to maxHops).map(h => h.toDouble * (ests(h) - ests(h - 1)))
          .reduce(_ + _)
      assert(clGot(v) == expectedCl,
        s"node $v: closeness ${clGot(v)} != $expectedCl")
    }
    assert(HyperBall.hyperBallCloseness(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)

    // neighborhood function: per-hop GLOBAL sums of the same estimates,
    // through the documented 1e-6-long quantization (order-proof), and
    // the cumulative fraction of NF(maxHops)
    val nfExp = (0 to maxHops).map(h =>
      nodes.map(v => math.floor(estMap(v)(h) * 1e6 + 0.5).toLong).sum
        .toDouble / 1e6)
    val nfGot = HyperBall.hyperBallNeighborhood(bidir, maxHops, p = 6)
      .as[(Int, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    (0 to maxHops).foreach { h =>
      assert(nfGot(h)._1 == nfExp(h), s"hop $h: ${nfGot(h)._1}")
      val fracExp =
        math.floor(nfExp(h) / nfExp(maxHops) * 1e6 + 0.5) / 1e6
      assert(nfGot(h)._2 == fracExp, s"hop $h frac: ${nfGot(h)._2}")
    }
    // effective diameter: first hop whose NF crosses alpha*NF(H),
    // linearly interpolated — replayed here from the same NF values
    val thr = nfExp(maxHops) * 0.9
    val hCross = (0 to maxHops).find(nfExp(_) >= thr).get
    val dExp =
      if (hCross == 0) 0.0
      else math.floor(((hCross - 1).toDouble +
        (thr - nfExp(hCross - 1)) / (nfExp(hCross) - nfExp(hCross - 1)))
        * 1e6 + 0.5) / 1e6
    val dGot = HyperBall.effectiveDiameter(bidir, maxHops, p = 6)
      .as[Double].head()
    assert(dGot == dExp, s"eff diameter $dGot != $dExp")
    // a threshold NF(0) already covers yields 0 by convention
    assert(HyperBall.effectiveDiameter(bidir, maxHops, p = 6, alpha = 0.01)
      .as[Double].head() == 0.0)
    // degenerate inputs stay empty, never crash
    assert(HyperBall.hyperBallNeighborhood(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
    assert(HyperBall.effectiveDiameter(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
  }

  test("adaptive HyperBall stops at ball-sum saturation (replayed from " +
    "exact ball sketches) and runs to the cap when growth never drops") {
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
    val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
    val e0 = (ring ++ chords).toDF("src", "dst")
    val bidir = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    val hopCap = 8
    val eps = 0.05
    // independent truth: exact ball membership per (node, hop), sketched
    // in ONE hllDistinct pass, then the saturation rule replayed on the
    // same quantized longs the engine compares
    val adj = bidir.as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def ball(v: Long, h: Int): Set[Long] = {
      var b = Set(v)
      (1 to h).foreach(_ => b = b ++ b.flatMap(adj.getOrElse(_, Set.empty)))
      b
    }
    val nodes = adj.keys.toSeq
    val members = for {
      v <- nodes; h <- 0 to hopCap; u <- ball(v, h)
    } yield (v, h, u)
    val estRows = Sketches.hllDistinct(members.toDF("node", "hop", "member"),
        Seq("node", "hop"), "member", p = 6)
      .select($"hop", $"hll_estimate").as[(Int, Double)].collect()
    val q = (0 to hopCap).map(h => estRows.collect {
      case (hh, est) if hh == h => math.floor(est * 1e6 + 0.5).toLong
    }.sum)
    val stop = (1 to hopCap).find(h =>
      (q(h) - q(h - 1)).toDouble < eps * q(h).toDouble).getOrElse(hopCap)
    // the 12-node graph saturates well inside the cap — the rule FIRED
    assert(stop < hopCap, s"expected saturation before $hopCap, q=$q")
    val nfExp = (0 to stop).map(q(_).toDouble / 1e6)
    val got = HyperBall.hyperBallNeighborhoodAdaptive(bidir, hopCap, eps,
        p = 6)
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == (0 to stop), got.mkString(","))
    got.foreach { case (h, nf, frac) =>
      assert(nf == nfExp(h), s"hop $h nf: $nf != ${nfExp(h)}")
      assert(frac == math.floor(nf / nfExp(stop) * 1e6 + 0.5) / 1e6,
        s"hop $h frac: $frac")
    }
    // effective diameter off the adaptive NF: same interpolation
    val thr = nfExp(stop) * 0.9
    val hc = (0 to stop).find(nfExp(_) >= thr).get
    val dExp =
      if (hc == 0) 0.0
      else math.floor(((hc - 1).toDouble +
        (thr - nfExp(hc - 1)) / (nfExp(hc) - nfExp(hc - 1)))
        * 1e6 + 0.5) / 1e6
    assert(HyperBall.effectiveDiameterAdaptive(bidir, hopCap, eps, p = 6)
      .as[Double].head() == dExp)
    // a long chain's ball sums keep growing past any small cap: the
    // loop must run TO the cap and report it as the last hop
    val ch0 = (1L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val chain = ch0.union(ch0.select($"dst".as("src"), $"src".as("dst")))
    val capped = HyperBall.hyperBallNeighborhoodAdaptive(chain, hopCap = 3,
        epsilon = eps, p = 6)
      .as[(Int, Double, Double)].collect()
    assert(capped.map(_._1).max == 3 && capped.length == 4)
    // degenerate inputs stay empty, never crash
    assert(HyperBall.hyperBallNeighborhoodAdaptive(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
    assert(HyperBall.effectiveDiameterAdaptive(
      Seq.empty[(Long, Long)].toDF("src", "dst")).count() == 0L)
    // ... and stop growing at once: every ball sum of an empty graph is
    // 0, where the rule can never fire, so the state keeps the initial
    // load's single hop instead of paying hopCap empty rounds
    val emptyStore = new InMemoryHbRegStore(spark, 6)
    val emptyQs = HyperBallAdaptive.growUntilSaturated(emptyStore,
      HyperBallState.init(emptyStore, Seq.empty[(Long, Long)]
        .toDF("src", "dst"), maxHops = 1, "src", "dst", trackQ = true),
      hopCap, eps)
    assert(emptyStore.maxHop == 1 && emptyQs == Vector(0L, 0L))
    emptyStore.closeAll()
    // the adaptive rows return driver-local rows, so they must release
    // every frame they pinned (no reliance on a blanket clearCache)
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    HyperBall.hyperBallNeighborhoodAdaptive(bidir, hopCap, eps, p = 6)
      .collect()
    HyperBall.effectiveDiameterAdaptive(bidir, hopCap, eps, p = 6).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"adaptive rows left RDDs pinned: $leaked")
  }

  test("incremental HyperBall folds edge batches into the standing " +
    "registers bit-identically to the from-scratch rebuild") {
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
    val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
    def bidir(pairs: Seq[(Long, Long)]) = {
      val e = pairs.toDF("src", "dst")
      e.union(e.select($"dst".as("src"), $"src".as("dst")))
    }
    val all = ring ++ chords
    // deterministic three-way arrival split (the gr_cc_incremental
    // discipline); batches carry both new edges between known nodes
    // and the chords' cross-ring structure
    val initial = all.filter(p => (p._1 + p._2) % 3 != 0)
    val b1 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 0)
    val b2 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 1)
    def nf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Double)] =
      df.as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    val want = nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 3))
    val got = nf(HyperBall.hyperBallNeighborhoodIncremental(
      bidir(initial), Seq(bidir(b1), bidir(b2)), maxHops = 3))
    assert(got == want, s"fold $got != rebuild $want")
    // replaying batches is a structural no-op (no register can grow)
    assert(nf(HyperBall.hyperBallNeighborhoodIncremental(
      bidir(initial), Seq(bidir(b1), bidir(b1), bidir(b2), bidir(b2)),
      maxHops = 3)) == want)
    // a batch of BRAND-NEW nodes (disconnected component) folds in
    val extra = Seq((100L, 101L), (101L, 100L))
    assert(nf(HyperBall.hyperBallNeighborhoodIncremental(
        bidir(initial), Seq(bidir(b1), bidir(b2), extra.toDF("src", "dst")),
        maxHops = 3)) ==
      nf(HyperBall.hyperBallNeighborhood(
        bidir(all).union(extra.toDF("src", "dst")), maxHops = 3)))
    // empty batches are no-ops; empty initial load bootstraps from the
    // first batch
    assert(nf(HyperBall.hyperBallNeighborhoodIncremental(
      bidir(initial), Seq(bidir(b1), bidir(Seq.empty), bidir(b2)),
      maxHops = 3)) == want)
    assert(nf(HyperBall.hyperBallNeighborhoodIncremental(
        bidir(Seq.empty), Seq(bidir(initial ++ b1 ++ b2)), maxHops = 3)) ==
      want)
    // HARMONIC off the same standing registers == the packed rebuild,
    // bit for bit (one standing propagation serves every fold)
    val hWant = HyperBall.hyperBallPacked(bidir(all), maxHops = 3)
      .as[(Long, Double)].collect().toMap
    val hGot = HyperBall.hyperBallIncremental(
        bidir(initial), Seq(bidir(b1), bidir(b2)), maxHops = 3)
      .as[(Long, Double)].collect().toMap
    assert(hGot == hWant, s"harmonic fold $hGot != rebuild $hWant")
  }

  test("adaptive incremental HyperBall grows hops lazily over the " +
    "standing registers and re-derives the rebuild's stop exactly") {
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
    val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
    def bidir(pairs: Seq[(Long, Long)]) = {
      val e = pairs.toDF("src", "dst")
      e.union(e.select($"dst".as("src"), $"src".as("dst")))
    }
    def nf(df: org.apache.spark.sql.DataFrame): Seq[(Int, Double, Double)] =
      df.as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    val all = ring ++ chords
    val initial = all.filter(p => (p._1 + p._2) % 3 != 0)
    val b1 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 0)
    val b2 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 1)
    // the emitted hops equal the full-corpus adaptive rebuild term for
    // term: same stop hop, same quantized sums, same fractions
    for ((cap, eps) <- Seq((5, 0.05), (8, 0.30), (2, 0.05))) {
      val want = nf(HyperBall.hyperBallNeighborhoodAdaptive(
        bidir(all), hopCap = cap, epsilon = eps))
      val got = nf(HyperBall.hyperBallNeighborhoodIncrementalAdaptive(
        bidir(initial), Seq(bidir(b1), bidir(b2)), hopCap = cap,
        epsilon = eps))
      assert(got == want, s"cap=$cap eps=$eps: fold $got != rebuild $want")
    }
    // a LONG chain arriving in batches forces mid-stream hop growth:
    // the initial third saturates early, later batches un-saturate it
    val chain = (0L until 20L).map(i => (i, i + 1))
    val cInit = chain.filter(_._1 < 7L)
    val cB1 = chain.filter(p => p._1 >= 7L && p._1 < 14L)
    val cB2 = chain.filter(_._1 >= 14L)
    assert(nf(HyperBall.hyperBallNeighborhoodIncrementalAdaptive(
        bidir(cInit), Seq(bidir(cB1), bidir(cB2)), hopCap = 6)) ==
      nf(HyperBall.hyperBallNeighborhoodAdaptive(bidir(chain), hopCap = 6)))
    // no edges at all stays empty, never crashes
    assert(HyperBall.hyperBallNeighborhoodIncrementalAdaptive(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(Seq.empty[(Long, Long)].toDF("src", "dst"))).count() == 0L)
    // empty initial load bootstraps from the first real batch
    assert(nf(HyperBall.hyperBallNeighborhoodIncrementalAdaptive(
        bidir(Seq.empty), Seq(bidir(all)), hopCap = 5)) ==
      nf(HyperBall.hyperBallNeighborhoodAdaptive(bidir(all), hopCap = 5)))
  }

  test("fold-tracked ball-sum deltas advance the maintained sums to " +
    "exactly the corpus-wide re-derivation after every fold") {
    // the adaptive consumer no longer re-scans the standing registers
    // per batch (qsAll) — it adds the fold's batch-bounded changed-node
    // deltas to the running sums. Pin the invariant the fusion rests
    // on: q_h(after) = q_h(before) + delta_h, exactly, per fold —
    // including an empty batch (all-zero deltas) and a batch of
    // brand-new nodes (hop-0 seeds with q_old = 0).
    val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
    val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
    def bidir(pairs: Seq[(Long, Long)]) = {
      val e = pairs.toDF("src", "dst")
      e.union(e.select($"dst".as("src"), $"src".as("dst")))
    }
    val all = ring ++ chords
    val initial = all.filter(p => (p._1 + p._2) % 3 != 0)
    val b1 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 0)
    val b2 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 1)
    val store = new InMemoryHbRegStore(spark, 6)
    var qs = HyperBallState.init(store, bidir(initial), maxHops = 3,
      "src", "dst", trackQ = true)
    assert(qs == HyperBallAdaptive.qsAll(store),
      "init's fused sums != the re-derived sums")
    val batches = Seq(bidir(b1), bidir(Seq.empty), bidir(b2),
      Seq((100L, 101L), (101L, 100L)).toDF("src", "dst"))
    for ((b, i) <- batches.zipWithIndex) {
      val dq = HyperBallState.foldBatch(store, b, "src", "dst",
        trackQ = true)
      assert(dq.size == qs.size)
      qs = qs.indices.toVector.map(h => qs(h) + dq(h))
      assert(qs == HyperBallAdaptive.qsAll(store),
        s"maintained sums diverged from re-derivation after fold $i")
    }
    store.closeAll()
  }

  test("the default state budget derives from executor memory when set " +
    "and falls back to the driver heap in local mode") {
    assert(PageRank.parseMemoryBytes("4g") == Some(4L << 30))
    assert(PageRank.parseMemoryBytes("512M") == Some(512L << 20))
    assert(PageRank.parseMemoryBytes("2048k") == Some(2048L << 10))
    assert(PageRank.parseMemoryBytes("1t") == Some(1L << 40))
    // suffix-less is MiB — Spark's own unit for spark.executor.memory
    // ("8192" means 8 GiB there; reading it as bytes would floor the
    // budget and trip the guard spuriously)
    assert(PageRank.parseMemoryBytes("8192") == Some(8192L << 20))
    assert(PageRank.parseMemoryBytes("16gb") == Some(16L << 30))
    assert(PageRank.parseMemoryBytes("lots") == None)
    assert(PageRank.parseMemoryBytes("") == None)
    // derivation: heap/1000 rows, floored at 1M
    assert(PageRank.stateBudgetRowsFor(Some(24L << 30)) ==
      (24L << 30) / 1000L)
    assert(PageRank.stateBudgetRowsFor(Some(1L << 20)) == 1000000L)
    assert(PageRank.stateBudgetRowsFor(None) ==
      math.max(1000000L, Runtime.getRuntime.maxMemory() / 1000L))
    // this suite runs local[*] with spark.executor.memory unset, so the
    // default must equal the driver-heap fallback
    assert(PageRank.defaultStateBudgetRows ==
      PageRank.stateBudgetRowsFor(None))
  }

  test("exact pair-state centrality legs fail fast with the named " +
    "state-budget error; a sufficient budget never trips") {
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val bidir = e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    // pair state on the symmetrized 5-path at radius 3 is
    // Σ|B_3(v)| = 4+5+5+5+4 = 23 rows — a budget of 10 must trip, and
    // the error must point at the sketch-state escape hatch
    val trip = intercept[CentralityStateBudgetExceeded] {
      PageRank.harmonicExact(bidir, maxHops = 3, stateBudgetRows = 10L)
        .count()
    }
    assert(trip.rows > trip.budget && trip.budget == 10L)
    assert(trip.getMessage.contains("hyperBall"))
    intercept[CentralityStateBudgetExceeded] {
      PageRank.closenessExact(bidir, maxHops = 3, stateBudgetRows = 10L)
        .count()
    }
    // betweenness guards its forward σ state the same way
    val all = (1L to 5L).toDF("node")
    val tripB = intercept[CentralityStateBudgetExceeded] {
      PageRank.betweennessBounded(bidir, all, maxHops = 4,
        stateBudgetRows = 6L).count()
    }
    assert(tripB.getMessage.contains("source sample"))
    // a budget the state fits under changes nothing: same values as the
    // unguarded defaults (guard reads the count the round already paid
    // for — zero extra jobs, zero effect on results)
    val got = PageRank.harmonicExact(bidir, maxHops = 3,
        stateBudgetRows = 23L)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - (1.0 + 1.0 / 2 + 1.0 / 3)) < 1e-12)
    val bc = PageRank.betweennessBounded(bidir, all, maxHops = 4,
        stateBudgetRows = 25L)
      .as[(Long, Double)].collect().toMap
    assert(bc(3L) == 8.0 && bc(2L) == 6.0)
  }

  test("betweennessBounded matches hand-computed Brandes on a path and " +
    "splits credit across equal-length paths on a diamond") {
    def bidir(pairs: (Long, Long)*) = {
      val e0 = pairs.toSeq.toDF("src", "dst")
      e0.union(e0.select($"dst".as("src"), $"src".as("dst")))
    }
    // path 1-2-3-4-5, all sources, radius covers everything:
    // bc(3) = ordered pairs {1,2}x{4,5} both ways = 8; bc(2) = 1x{3,4,5}
    // both ways = 6; endpoints 0
    val path = bidir((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val all = (1L to 5L).toDF("node")
    val bc = PageRank.betweennessBounded(path, all, maxHops = 4)
      .as[(Long, Double)].collect().toMap
    assert(bc(3L) == 8.0 && bc(2L) == 6.0 && bc(4L) == 6.0)
    assert(bc(1L) == 0.0 && bc(5L) == 0.0)
    // diamond 1-2-4, 1-3-4: two equal shortest paths per opposite pair,
    // so every node carries exactly half of two ordered pairs = 1.0
    val diamond = bidir((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val bcD = PageRank.betweennessBounded(
        diamond, (1L to 4L).toDF("node"), maxHops = 3)
      .as[(Long, Double)].collect().toMap
    assert((1L to 4L).forall(v => bcD(v) == 1.0), bcD.toString)
    // source sampling: from s=1 only on the path, delta(v) = nodes
    // strictly beyond v
    val bc1 = PageRank.betweennessBounded(
        path, Seq(1L).toDF("node"), maxHops = 4)
      .as[(Long, Double)].collect().toMap
    assert(bc1 == Map(2L -> 3.0, 3L -> 2.0, 4L -> 1.0, 5L -> 0.0))
    // radius truncation: paths longer than maxHops never credit anyone
    val bc1h2 = PageRank.betweennessBounded(
        path, Seq(1L).toDF("node"), maxHops = 2)
      .as[(Long, Double)].collect().toMap
    assert(bc1h2 == Map(2L -> 1.0, 3L -> 0.0))
    // degenerate: empty edges
    assert(PageRank.betweennessBounded(
      Seq.empty[(Long, Long)].toDF("src", "dst"), all).count() == 0L)
  }

  test("shortestPaths holds the exact min over bounded-edge weighted " +
    "paths, re-relaxing nodes the frontier improves late") {
    // cheap chain 1-2-3-4 (w=1 each) vs a heavy shortcut 1->4 (w=10),
    // plus 4->5 (w=1): node 4 improves TWICE (round 1 via the shortcut,
    // round 3 via the chain), and 5's best ≤3-edge path goes through the
    // early, worse value of 4 — exactly the case frontier pruning must
    // not get wrong
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (1L, 4L, 10L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val d2 = PageRank.shortestPaths(edges, seeds, maxRounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 10L, 5L -> 11L))
    val d3 = PageRank.shortestPaths(edges, seeds, maxRounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d3 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 11L))
    val d4 = PageRank.shortestPaths(edges, seeds, maxRounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d4(5L) == 4L, s"round-4 re-relaxation of node 4 missed: $d4")
  }

  test("prefixJaccardPairs equals the brute-force exact join — the " +
    "prefix filter is lossless at the threshold boundary") {
    // 8 templates of 12..40 tokens; each doc substitutes 0..2 template
    // tokens with unique ones, so same-template Jaccard is
    // (n - max_subs) / (n + max_subs): straddles 0.95 — e.g. n=40
    // max=1 -> 39/41 = .951 (in), n=36 max=1 -> 35/37 = .946 (out)
    // NB: tokens must be pure alnum — the tokenizer splits on "_"
    val docs = (1 to 80).map { i =>
      val tmpl = i % 8
      val n = 12 + tmpl * 4
      val toks = (0 until n).map { k =>
        if (k < i % 3) s"uniq${i}x$k" else s"t${tmpl}x$k" }
      (i.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val toks = docs.select(col("doc_id").as("id"),
      explode(Dedup.tokens(col("text"))).as("tok")).distinct()
    val sz = toks.groupBy("id").agg(count(lit(1)).as("n"))
    val brute = toks.select(col("id").as("a_id"), col("tok"))
      .join(toks.select(col("id").as("b_id"), col("tok")), "tok")
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("o"))
      .join(sz.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("id").as("b_id"), col("n").as("nb")), "b_id")
      .where(col("o").cast("double") /
        (col("na") + col("nb") - col("o")) >= 0.95)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missed ${brute -- got}, extra ${got -- brute}")
    assert(got.contains((7L, 31L)), "boundary .951 pair must be in")
    assert(!got.contains((22L, 54L)), ".946 pair must be out")
  }

  test("skewReport: shares and skew ratios hand-checked; k-bounded " +
    "and tie-broken by key") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c"))
      .toDF("k")
    val got = Skew.skewReport(df, "k", topK = 2)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("a", 6L, 10L, 3L, 0.6, 1.8),
      ("b", 3L, 10L, 3L, 0.3, 0.9)))
    // count ties resolve by key order
    val tied = (Seq.fill(2)("z") ++ Seq.fill(2)("y")).toDF("k")
    val t2 = Skew.skewReport(tied, "k", topK = 1)
      .select("k").as[String].collect().toSeq
    assert(t2 == Seq("y"))
  }

  test("md5Hash60: kernel == column expression, and shingles60Kernel " +
    "== hashed shingles() output") {
    val vals = Seq("alpha beta gamma", "", "x", "uniq7 t3 t4 t5")
    val fromCol = vals.toDF("s")
      .select(Dedup.md5Hash60(col("s"))).as[Long].collect().toSeq
    assert(fromCol == vals.map(Dedup.md5Hash60Kernel))
    for (text <- vals) {
      val viaExpr = Seq(text).toDF("t")
        .select(explode(Dedup.shingles(col("t"), 3)).as("s"))
        .select(Dedup.md5Hash60(col("s"))).as[Long].collect().toSet
      assert(Dedup.shingles60Kernel(text, 3).toSet == viaExpr, text)
    }
    // null text: the expression yields null (explode drops the doc) and
    // the kernel mirrors it — a null doc must NOT collapse onto the
    // empty-string shingle
    assert(Dedup.shingles60Kernel(null, 3) == null)
  }

  test("containmentPairs: quote-in-document detection Jaccard misses, " +
    "and the one-sided prefix filter is lossless vs brute force") {
    // doc 100 is a contiguous 10-token passage of the template-1 docs:
    // shingle containment 1.0, Jaccard far below any realistic cut
    val docs = ((1 to 60).map { i =>
      val tmpl = i % 6
      val n = 12 + tmpl * 5
      val toks = (0 until n).map { k =>
        if (k < i % 3) s"uniq${i}x$k" else s"c${tmpl}x$k" }
      (i.toLong, toks.mkString(" "))
    } :+ (100L, (1 to 10).map(k => s"c1x$k").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // brute-force truth: o / |Sh(A)| >= 0.9 over distinct shingles
    val sh = docs.select(col("doc_id").as("id"),
      explode(Dedup.shingles(col("text"), 3)).as("s"))
    val sz = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val brute = sh.select(col("id").as("a_id"), col("s"))
      .join(sh.select(col("id").as("b_id"), col("s")), "s")
      .where(col("a_id") =!= col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("o"))
      .join(sz.select(col("id").as("a_id"), col("n").as("na")), "a_id")
      .where(col("o").cast("double") / col("na") >= 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(got == brute, s"missed ${brute -- got}, extra ${got -- brute}")
    // the passage is found in the contained direction only: doc 100's
    // shingles c1x1..c1x10 all sit inside template-1 docs that kept
    // position 1 (i % 3 <= 1), never the reverse
    assert(got.exists { case (a, b) => a == 100L && b % 6 == 1 })
    assert(!got.exists { case (a, b) => b == 100L && a != 100L })
    // batch mode: restricting the contained side = the full result
    // filtered to batch rows on the contained side, containers intact
    val batch = docs.where(col("doc_id") % 3 === 0)
    val sub = Dedup.containmentPairs(docs, "doc_id", "text", 0.9,
        contained = Some(batch))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(sub == got.filter(_._1 % 3 == 0),
      s"batch diff: ${sub -- got}, ${got.filter(_._1 % 3 == 0) -- sub}")
  }

  test("louvainMoveRound: the mislabeled bridge node moves with the " +
    "hand-computed gain; optimal labels are a fixpoint") {
    // two triangles {1,2,3} and {4,5,6} bridged 3-4; node 4 is
    // mislabeled into community 1: m2 = 14, D_1 = 10, D_5 = 4
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val bad = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 5L),
      (6L, 5L)).toDF("node", "label")
    val got = PageRank.louvainMoveRound(edges, bad)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // node 4 (ki=3, k_4,5=2, k_own=1): gain = 2(2-1)/14 -
    // 2*3*(4-10+3)/196 = 1/7 + 18/196
    val exp = math.floor((2.0 * 1 / 14 - 2.0 * 3 * (4 - 10 + 3) / 196)
      * 1e9 + 0.5) / 1e9
    assert(got(4L) == ((4L, 1L, 5L, exp)), got(4L).toString)
    assert((1L to 3L).forall(n => got(n)._3 == 1L && got(n)._4 == 0.0))
    assert(Seq(5L, 6L).forall(n => got(n)._3 == 5L && got(n)._4 == 0.0))
    // the corrected labeling is a fixpoint: nobody moves
    val good = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 5L), (5L, 5L),
      (6L, 5L)).toDF("node", "label")
    val stay = PageRank.louvainMoveRound(edges, good)
      .as[(Long, Long, Long, Double)].collect()
    assert(stay.forall(r => r._2 == r._3 && r._4 == 0.0), stay.mkString)
    // the iterated loop reaches that fixpoint from the bad start and
    // modularity strictly improves
    val fixed = PageRank.louvain(edges, bad, maxRounds = 5)
      .as[(Long, Long)].collect().toMap
    assert(fixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 5L,
      5L -> 5L, 6L -> 5L), fixed.toString)
    def q(l: Seq[(Long, Long)]) = PageRank.modularity(edges,
        l.toDF("node", "label"))
      .agg(sum("q_contrib")).as[Double].head()
    assert(q(fixed.toSeq) > q(Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 1L), (5L, 5L), (6L, 5L))))
    // an edgeless labeled node comes back unchanged (gain 0), never
    // silently dropped
    val withIso = bad.union(Seq((9L, 9L)).toDF("node", "label"))
    val iso = PageRank.louvainMoveRound(edges, withIso)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(iso(9L) == ((9L, 9L, 9L, 0.0)), iso.get(9L).toString)
    assert(iso(4L)._3 == 5L) // the real move is unaffected
  }

  test("contract: intra weight lands on ONE self-loop row, super-node " +
    "degrees equal summed member degrees, total weight is preserved; " +
    "the weighted round scores whole-community moves") {
    // two triangles {1,2,3} and {4,5,6} bridged 3-4, each a community
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
      .withColumn("w", lit(1L))
    val lab = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "label")
    val g2 = PageRank.contract(edges, lab)
      .as[(Long, Long, Long)].collect().toSet
    // 6 directed intra edges per triangle -> self-loop weight 6; the
    // bridge keeps both directions; m2 = 14 preserved; super-degree
    // 6 + 1 = 7 = the triangle's member degrees 2 + 2 + 3
    assert(g2 == Set((1L, 1L, 6L), (4L, 4L, 6L), (1L, 4L, 1L),
      (4L, 1L, 1L)), g2.toString)
    // whole-community move on the contracted graph: merging the two
    // triangles scores dQ = 2(1-0)/14 - 2*7*(7-7+7)/14^2 = 1/7 - 1/2
    // < 0 (one community in a 2-community graph has Q = 0) -> both
    // super-nodes stay; the self-loop is excluded from k_ic so the
    // stay decision is unbiased
    val step = PageRank.louvainMoveRoundWeighted(
        g2.toSeq.toDF("src", "dst", "w"),
        Seq((1L, 1L), (4L, 4L)).toDF("node", "label"))
      .as[(Long, Long, Long, Double)].collect()
    assert(step.length == 2 && step.forall(r => r._2 == r._3),
      step.mkString(", "))
    // w = 1 self-loop-free input reproduces the unweighted round
    val w1 = PageRank.louvainMoveRoundWeighted(edges,
        lab).as[(Long, Long, Long, Double)].collect().toSet
    val uw = PageRank.louvainMoveRound(edges.drop("w"), lab)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(w1 == uw)
  }

  test("louvain family: an EMPTY edge frame is a trivially converged " +
    "partition — labels come back unchanged, nothing throws") {
    // the r13 hoist collected Σw eagerly; sum over zero rows is
    // SQL-NULL, so a per-scope empty graph (guaranteed at scale, hit
    // at sf0.001) must early-out settled instead of crashing the read
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noWEdges = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w")
    val lab = Seq((1L, 1L), (2L, 7L)).toDF("node", "label")
    val fix = PageRank.louvain(noEdges, lab, maxRounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(fix == Map(1L -> 1L, 2L -> 7L), fix.toString)
    val multi = PageRank.louvainMulti(noEdges, lab, maxRounds = 3,
      maxLevels = 2).as[(Long, Long)].collect().toMap
    assert(multi == Map(1L -> 1L, 2L -> 7L), multi.toString)
    val multiW = PageRank.louvainMultiWeighted(noWEdges, lab,
      maxRounds = 3, maxLevels = 2).as[(Long, Long)].collect().toMap
    assert(multiW == Map(1L -> 1L, 2L -> 7L), multiW.toString)
    // the single public move round: every labeled node stays (own
    // community, gain 0) — the all-zero m2 never reaches a division
    val step = PageRank.louvainMoveRoundWeighted(noWEdges, lab)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(step == Set((1L, 1L, 1L, 0.0), (2L, 7L, 7L, 0.0)),
      step.toString)
    // empty labels + empty edges: empty result, still no throw
    val none = PageRank.louvain(noEdges,
      Seq.empty[(Long, Long)].toDF("node", "label"), maxRounds = 3)
    assert(none.count() == 0L)
  }

  test("randomWalks: every step follows a real edge, every (node, walk) " +
    "has the full step sequence, and the corpus is partitioning-" +
    "invariant") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val walks = PageRank.randomWalks(edges, walksPerNode = 2, length = 3)
      .as[(Long, Int, Int, Long)].collect()
    // 5 nodes x 2 walks x 4 positions
    assert(walks.length == 40, walks.length.toString)
    val edgeSet = (und ++ und.map(_.swap)).toSet
    walks.groupBy(w => (w._1, w._2)).foreach { case (k, steps) =>
      val path = steps.sortBy(_._3).map(_._4)
      assert(path.length == 4, s"$k: $path")
      assert(path.head == k._1, s"walk starts at its node: $k $path")
      path.sliding(2).foreach { case Array(a, b) =>
        assert(edgeSet((a, b)), s"$k walked a non-edge $a->$b")
      }
    }
    val again = PageRank.randomWalks(edges.repartition(7), 2, 3)
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(again == walks.toSet)
  }

  test("kCore: pendant chains peel over MULTIPLE rounds, the triangle " +
    "core survives with its within-core degrees; empty core is empty") {
    // chain 1-2-3 hangs off triangle 4-5-6 via 3-4: the 2-core peel
    // removes 1, then 2, then 3 (three sequential rounds), leaving the
    // triangle with within-core degree 2 each
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = PageRank.kCore(edges, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(4L -> 2L, 5L -> 2L, 6L -> 2L), got.toString)
    // a round budget that stops mid-peel keeps the not-yet-peeled
    // frontier (round 1 removes only node 1)
    val partial = PageRank.kCore(edges, k = 2, maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(partial.keySet == Set(2L, 3L, 4L, 5L, 6L), partial.toString)
    // k above the max degree empties the core
    assert(PageRank.kCore(edges, k = 4).count() == 0)
  }

  test("louvainMoveRoundWeighted: the heavier edge decides the move " +
    "that unweighted ties break by label") {
    // node 2 sits between singletons 1 (edge w=1) and 3 (edge w=5)
    val ew = Seq((2L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 5L), (3L, 2L, 5L))
      .toDF("src", "dst", "w")
    val lab = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "label")
    val w = PageRank.louvainMoveRoundWeighted(ew, lab)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(w(2L) == 3L, s"weighted must follow the heavy edge: $w")
    // with w = 1 both targets tie and the smaller label wins
    val uw = PageRank.louvainMoveRound(ew.select("src", "dst"), lab)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(uw(2L) == 1L, s"unweighted tie must break to label 1: $uw")
  }

  test("coreness: H-index iteration reaches the exact core numbers; " +
    "{coreness >= k} equals the k-core") {
    // pendant chain 1-2-3 on triangle 4-5-6: coreness 1 for the chain,
    // 2 for the triangle; plus K4 {7,8,9,10} bridged 6-7: coreness 3
    def clique(ns: Seq[Long]) = for {
      i <- ns.indices; j <- (i + 1) until ns.length
    } yield (ns(i), ns(j))
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (4L, 6L), (6L, 7L)) ++ clique(Seq(7L, 8L, 9L, 10L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = PageRank.coreness(edges).as[(Long, Long)].collect().toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 2L,
      6L -> 2L, 7L -> 3L, 8L -> 3L, 9L -> 3L, 10L -> 3L)
    assert(got == want, got.toString)
    // consistency with the fixed-k peel: {coreness >= k} == k-core
    for (k <- 1 to 3) {
      val core = PageRank.kCore(edges, k).select("node")
        .as[Long].collect().toSet
      assert(got.filter(_._2 >= k).keySet == core, s"k=$k")
    }
  }

  test("modularityWeighted: w = 1 reproduces the unweighted scorer, " +
    "and modularity is INVARIANT under contraction") {
    def tri(base: Long) =
      Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
    val und = tri(1) ++ tri(4) ++ tri(7) ++ tri(10) ++
      Seq((1L, 4L), (2L, 5L), (3L, 6L), (7L, 10L), (8L, 11L),
        (9L, 12L), (6L, 7L), (12L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val ew = edges.withColumn("w", lit(1L))
    val labs = (1L to 12L).map(n => (n, (n - 1) / 3 * 3 + 1))
      .toDF("node", "label")
    val q0 = PageRank.modularity(edges, labs)
      .select("label", "degree_sum", "q_contrib")
      .as[(Long, Long, Double)].collect().toSet
    val q1 = PageRank.modularityWeighted(ew, labs)
      .select("label", "degree_sum", "q_contrib")
      .as[(Long, Long, Double)].collect().toSet
    assert(q1 == q0, s"weighted w=1 $q1 vs unweighted $q0")
    // contraction invariance: identity labeling on the contracted
    // graph scores the SAME per-community contributions
    val ident = labs.select(col("label").as("node"), col("label"))
      .distinct()
    val q2 = PageRank.modularityWeighted(
        PageRank.contract(ew, labs), ident)
      .select("label", "degree_sum", "q_contrib")
      .as[(Long, Long, Double)].collect().toSet
    assert(q2 == q0, s"contracted $q2 vs original $q0")
  }

  test("louvainMulti: contraction merges the community pairs " +
    "single-level local moves cannot see; modularity strictly improves") {
    // hierarchical fixture: four triangles in a ring — strong 3-edge
    // bonds C1-C2 and C3-C4, weak single-edge ring closures. Merging a
    // strong pair has dQ = 3/20 - 2*(10*10)/40^2 = +0.025, so the best
    // partition is the two super-clusters — but with the triangles
    // assembled, NO single node gains by moving (k_intra 2 vs bridge
    // 1: both louvain variants start from the same detected bottom
    // tier and single-level provably stalls there), so the merge needs
    // a whole-community move: exactly what contraction makes local
    def tri(base: Long) =
      Seq((base, base + 1), (base + 1, base + 2), (base, base + 2))
    val und = tri(1) ++ tri(4) ++ tri(7) ++ tri(10) ++
      Seq((1L, 4L), (2L, 5L), (3L, 6L), (7L, 10L), (8L, 11L),
        (9L, 12L), (6L, 7L), (12L, 1L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val tris = (1L to 12L).map(n => (n, (n - 1) / 3 * 3 + 1))
      .toDF("node", "label")
    val single = PageRank.louvain(edges, tris, maxRounds = 10)
    val multi = PageRank.louvainMulti(edges, tris, maxRounds = 10,
      maxLevels = 3)
    def q(df: org.apache.spark.sql.DataFrame) =
      PageRank.modularity(edges, df).agg(sum("q_contrib"))
        .as[Double].head()
    val (qs, qm) = (q(single), q(multi))
    assert(qm > qs, s"multi-level Q $qm must beat single-level $qs")
    val nS = single.select("label").distinct().count()
    val nM = multi.select("label").distinct().count()
    assert(nM == 2, s"expected the 2 super-clusters, got $nM " +
      multi.as[(Long, Long)].collect().sortBy(_._1).mkString(", "))
    assert(nM < nS, s"multi $nM vs single $nS")
    // every original node keeps a label (nothing dropped in unfolding)
    assert(multi.count() == 12)
  }

  test("weighted PageRank splits rank over out-edges by weight") {
    // 1 -> 2 (w=1), 1 -> 3 (w=3), 2 -> 1 (w=1); one hand-unrolled round
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r1 = PageRank.weighted(edges, iterations = 1)
      .as[(Long, Double)].collect().toMap
    val t = 0.15 / 3
    assert(math.abs(r1(1L) - (t + 0.85 / 3)) < 1e-12, s"got $r1")
    assert(math.abs(r1(2L) - (t + 0.85 / 12)) < 1e-12, s"got $r1")
    assert(math.abs(r1(3L) - (t + 0.85 / 4)) < 1e-12, s"got $r1")
    // the heavier edge carries 3x the contribution
    assert(r1(3L) > r1(2L))
  }

  test("blockingQuality reports exact completeness and reduction") {
    val docs = (1L to 10L).toDF("id")
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    val cand = Seq((1L, 2L), (3L, 4L), (7L, 8L), (7L, 9L))
      .toDF("a_id", "b_id")
    val r = Dedup.blockingQuality(cand, truth, docs, "id").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((4L, 3L, 2L)))
    assert(r.getDouble(3) == 0.666667, "round(2/3, 6)")
    // 10 docs -> 45 possible pairs; 4 candidates -> 1 - 4/45
    assert(r.getDouble(4) == 0.911111, s"got ${r.getDouble(4)}")
  }

  test("personalized PageRank restarts at the seeds, conserves mass " +
    "through dangling nodes, and gives unreachable nodes zero rank") {
    // cycle 1-2-3 with a dangling spur 1->4 and an in-only node 5->1;
    // seed {1}: teleport AND node 4's dangling mass return to 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (5L, 1L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val r2 = PageRank.personalized(edges, seeds, iterations = 2)
      .as[(Long, Double)].collect().toMap
    // hand-unrolled: r1 = (1 -> .15, 2 -> .425, 4 -> .425, 3 -> 0)
    assert(math.abs(r2(1L) - 0.51125) < 1e-12, s"got $r2")
    assert(math.abs(r2(2L) - 0.06375) < 1e-12, s"got $r2")
    assert(math.abs(r2(3L) - 0.36125) < 1e-12, s"got $r2")
    assert(math.abs(r2(4L) - 0.06375) < 1e-12, s"got $r2")
    // nothing walks to 5 and it gets no teleport: exactly zero
    assert(r2(5L) == 0.0, s"got $r2")
    val total = PageRank.personalized(edges, seeds, iterations = 8)
      .agg(sum("rank")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"mass not conserved: $total")
  }

  test("personalized PageRank on an empty edge set returns an empty " +
    "rank table (not an error)") {
    // the sf0.001 proximity graph IS empty — bench must not throw there
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = PageRank.personalized(edges, seeds, iterations = 3)
    assert(out.columns.toSeq == Seq("node", "rank"))
    assert(out.count() == 0)
  }

  test("kCorePeel cascades removals round by round and converges to " +
    "the exact k-core") {
    // 4-clique {1,2,3,4} with a dangling tail 4-5-6-7: the 2-core is the
    // clique alone, but the tail peels one node per round (7, then 6,
    // then 5) — bounded rounds expose the cascade
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r1 = PageRank.kCorePeel(sym, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    // round 1 removed only 7 (deg 1); 6 now dangles at deg 1
    assert(r1 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 4L,
      5L -> 2L, 6L -> 1L), s"got $r1")
    val r3 = PageRank.kCorePeel(sym, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    // three rounds fully peel the tail: the exact 2-core is the clique
    assert(r3 == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $r3")
    // k above the clique degree empties the graph
    assert(PageRank.kCorePeel(sym, k = 4, rounds = 2).count() == 0)
  }

  test("dangling-mass redistribution makes ranks sum to 1") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val total = PageRank.run(edges, iterations = 8,
        redistributeDangling = true)
      .agg(sum("rank")).head.getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"mass not conserved: $total")
    // hand-check one round: 1->2, 3->2; node 2 is dangling with rank 1/3
    val star = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val r1 = PageRank.run(star, iterations = 1, redistributeDangling = true)
      .as[(Long, Double)].collect().toMap
    val t = (1.0 - 0.85) / 3.0
    assert(math.abs(r1(1L) - (t + 0.85 * (1.0 / 9))) < 1e-12)
    assert(math.abs(r1(2L) - (t + 0.85 * (2.0 / 3 + 1.0 / 9))) < 1e-12)
    assert(math.abs(r1(3L) - (t + 0.85 * (1.0 / 9))) < 1e-12)
  }

  test("pageRank conserves mass up to dangling loss") {
    // total rank = teleport mass + damped received mass; nodes with
    // out-edges forward everything, dangling nodes forward nothing, so
    // sum(rank) <= 1 and >= teleport share — a structural invariant any
    // implementation bug (double-count, lost join rows) would break.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val total = PageRank.run(edges, iterations = 8)
      .agg(sum("rank")).head.getDouble(0)
    assert(total <= 1.0 + 1e-9, s"mass created: $total")
    assert(total >= 0.15 - 1e-9, s"teleport mass lost: $total")
  }

  test("checkReport counts unique/non-null/range violations in one pass") {
    val df = Seq(
      (1L, java.lang.Double.valueOf(5.0)),
      (1L, java.lang.Double.valueOf(50.0)),      // duplicate key, above range
      (2L, null.asInstanceOf[java.lang.Double]), // null value (not a range hit)
      (3L, java.lang.Double.valueOf(-1.0))       // below range
    ).toDF("id", "v")
    val got = DataChecks.checkReport(df, uniqueCols = Seq("id"),
        nonNullCols = Seq("v"), ranges = Seq("v" -> (0.0, 10.0)))
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("unique", "id", 1L), ("non_null", "v", 1L),
      ("range", "v", 2L)))
  }

  test("kAnonymize: minimal suffix-drop level per row, class size at " +
    "that level, full generalization as the terminal backstop") {
    // QIs (a, b), k=5: the (1,1) class has 5 rows -> level 0; the a=2
    // rows split 2+2 at level 0 and only reach 4 together at level 1,
    // so they fall through to the whole table (9 rows) at level 2
    val rows = (1 to 5).map(i => (i.toLong, 1L, 1L)) ++
      Seq((6L, 2L, 1L), (7L, 2L, 1L), (8L, 2L, 2L), (9L, 2L, 2L))
    val df = rows.toDF("id", "a", "b")
    val got = DataChecks.kAnonymize(df, "id", Seq("a", "b"), k = 5)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    (1 to 5).foreach(i => assert(got(i.toLong) == ((0, 5L))))
    (6 to 9).foreach(i => assert(got(i.toLong) == ((2, 9L))))
    // a k no class can reach terminates at full generalization anyway
    val big = DataChecks.kAnonymize(df, "id", Seq("a", "b"), k = 50)
      .as[(Long, Int, Long)].collect()
    assert(big.forall(r => r._2 == 2 && r._3 == 9L))
  }

  test("lDiversity: distinct counts, max share, and the one-pass " +
    "entropy identity, hand-checked per class") {
    // class a=1: sensitive {x,x,x,y} -> 2 distinct, max 3/4, entropy
    // ln4 - (3 ln3 + 1 ln1)/4; class a=2: {z,z} -> 1 distinct (uniform)
    val df = Seq((1L, "x"), (1L, "x"), (1L, "x"), (1L, "y"),
      (2L, "z"), (2L, "z")).toDF("a", "s")
    val got = DataChecks.lDiversity(df, Seq("a"), "s", l = 2)
      .as[(Long, Long, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    val h1 = math.rint((math.log(4) - 3 * math.log(3) / 4) * 1e6) / 1e6
    assert(got(1L) == ((1L, 4L, 2L, 0.75, h1, true)))
    assert(got(2L) == ((2L, 2L, 1L, 1.0, 0.0, false)))
  }

  test("quarantine routes exactly the violating rows with ordered " +
    "reasons; the clean side anti-joins back; null keys never flag " +
    "unique") {
    val df = Seq(
      (1L, java.lang.Double.valueOf(5.0)),       // dup key, in range
      (1L, java.lang.Double.valueOf(50.0)),      // dup key AND above range
      (2L, null.asInstanceOf[java.lang.Double]), // null value only
      (3L, java.lang.Double.valueOf(-1.0)),      // below range only
      (4L, java.lang.Double.valueOf(7.0))        // clean
    ).toDF("id", "v")
    val got = DataChecks.quarantine(df, uniqueCols = Seq("id"),
        nonNullCols = Seq("v"), ranges = Seq("v" -> (0.0, 10.0)))
      .as[(Long, Option[Double], Seq[String], Int)].collect()
      .map(r => (r._1, r._2, r._3)).toSet
    assert(got == Set(
      (1L, Some(5.0), Seq("unique:id")),
      (1L, Some(50.0), Seq("unique:id", "range:v")),
      (2L, None, Seq("non_null:v")),
      (3L, Some(-1.0), Seq("range:v"))))
    // null unique keys are completeness's concern, not uniqueness's
    val nk = Seq((Option.empty[java.lang.Long], 1.0),
      (Option.empty[java.lang.Long], 2.0)).toDF("id", "v")
    assert(DataChecks.quarantine(nk, uniqueCols = Seq("id"),
      ranges = Seq("v" -> (0.0, 10.0))).count() == 0)
  }

  test("gapFill densifies the series and forward-fills values") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5.0),
      (1L, ts("2024-01-01 13:00:00"), 7.0), // 2 missing buckets before it
      (2L, ts("2024-01-01 10:00:00"), 1.0)  // single observation: no grid
    ).toDF("k", "h", "v")
    val got = TimeSeries.gapFill(obs, "k", "h", "v", 3600L)
      .as[(Long, java.sql.Timestamp, Double, Int)].collect()
      .map(r => (r._1, r._2.toString, r._3, r._4)).toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00.0", 5.0, 0),
      (1L, "2024-01-01 11:00:00.0", 5.0, 1),
      (1L, "2024-01-01 12:00:00.0", 5.0, 1),
      (1L, "2024-01-01 13:00:00.0", 7.0, 0),
      (2L, "2024-01-01 10:00:00.0", 1.0, 0)))
  }

  test("seasonalDecompose recovers trend/seasonal/residual exactly on a " +
    "periodic series and keeps the additive identity") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // constant level 10 + a zero-mean period-4 pattern, 16 hourly rows
    val pattern = Seq(2.0, -1.0, -2.0, 1.0)
    val base = ts("2024-01-01 00:00:00").getTime
    val obs = (0 until 16).map { i =>
      (1L, new java.sql.Timestamp(base + i * 3600_000L),
        10.0 + pattern(i % 4))
    }.toDF("k", "h", "v")
    val got = TimeSeries.seasonalDecompose(obs, "k", "h", "v",
        stepSeconds = 3600L, period = 4)
      .as[(Long, java.sql.Timestamp, Double, Option[Double],
        Option[Double], Option[Double])].collect()
      .sortBy(_._2.getTime)
    assert(got.length == 16)
    // interior rows (full +-2 window): trend exactly the level, resid 0
    val interior = got.drop(2).dropRight(2)
    assert(interior.forall(_._4.contains(10.0)), interior.mkString(","))
    assert(interior.forall(_._6.contains(0.0)), interior.mkString(","))
    // seasonal equals the zero-mean pattern at every row, edges
    // included — the phase offset cancels: row i has phase
    // (base + i) % 4 and the phase mean is pattern((phase - base) % 4),
    // so the joined value is pattern(i % 4) under ANY epoch alignment
    got.zipWithIndex.foreach { case ((_, _, _, _, s, _), i) =>
      assert(s.contains(pattern(i % 4)), s"row $i: $s")
    }
    // the identity v = trend + seasonal + resid on interior rows
    interior.foreach { case (_, _, v, t, s, r) =>
      assert(math.abs(v - (t.get + s.get + r.get)) < 1e-9)
    }
    // edge rows (no full window): trend and resid null, v untouched
    assert(got.take(2).forall(r => r._4.isEmpty && r._6.isEmpty))
    assert(got.takeRight(2).forall(r => r._4.isEmpty && r._6.isEmpty))
  }

  test("checkReport allows duplicate (kind, column) constraints") {
    // two ranges on the same column (and a doubled unique) used to build
    // duplicate agg aliases and die with an ambiguous-column reference
    val df = Seq((1L, 5.0), (1L, 50.0), (2L, -3.0)).toDF("id", "v")
    val got = DataChecks.checkReport(df, uniqueCols = Seq("id", "id"),
        ranges = Seq("v" -> (0.0, 10.0), "v" -> (-10.0, 100.0)))
      .as[(String, String, Long)].collect()
    assert(got.toSeq.sorted == Seq(
      ("range", "v", 2L),  // 50.0 and -3.0 outside [0,10]
      ("range", "v", 0L),  // all inside [-10,100]
      ("unique", "id", 1L), ("unique", "id", 1L)).sorted)
    assert(got.length == 4) // both duplicates reported, not collapsed
  }

  test("gapFill keeps was_gap=0 for observed-but-null values") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(5.0)),
      (1L, ts("2024-01-01 11:00:00"), None), // observed, value null
      (1L, ts("2024-01-01 13:00:00"), Some(7.0))
    ).toDF("k", "h", "v")
    val got = TimeSeries.gapFill(obs, "k", "h", "v", 3600L)
      .as[(Long, java.sql.Timestamp, Double, Int)].collect()
      .map(r => (r._2.toString, r._3, r._4)).toSet
    // 11:00 was OBSERVED (was_gap=0) even though its value is null and the
    // fill carries 5.0 over it; 12:00 is a true gap (was_gap=1)
    assert(got == Set(
      ("2024-01-01 10:00:00.0", 5.0, 0),
      ("2024-01-01 11:00:00.0", 5.0, 0),
      ("2024-01-01 12:00:00.0", 5.0, 1),
      ("2024-01-01 13:00:00.0", 7.0, 0)))
  }

  test("ewmaBounded weights the last `lookback` rows with powers of two") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 2.0),
      (1L, ts("2024-01-01 11:00:00"), 4.0),
      (1L, ts("2024-01-01 12:00:00"), 8.0)
    ).toDF("k", "h", "v")
    val got = TimeSeries.ewmaBounded(obs, "k", "h", "v", lookback = 2)
      .as[(Long, java.sql.Timestamp, Double, Double)].collect()
      .map(r => (r._2.toString, r._4)).toSet
    // rn < lookback: single-term sum over normalizer 1; rn >= lookback:
    // (v + 0.5*prev) / 1.5 with the window truncated to the last 2 rows
    assert(got == Set(
      ("2024-01-01 10:00:00.0", 2.0),
      ("2024-01-01 11:00:00.0", 3.3333),  // (4 + 1) / 1.5
      ("2024-01-01 12:00:00.0", 6.6667))) // (8 + 2) / 1.5, 2.0 term dropped
  }

  test("cusum equals the textbook max(0, .) fold and alarms on a " +
    "sustained level shift but not on the pre-shift segment") {
    // key 1: 20 zeros then 20 tens (a level shift); key 2: deterministic
    // pseudo-noise with no shift
    val rows =
      (1 to 40).map(i => (1L, i, if (i <= 20) 0.0 else 10.0)) ++
        (1 to 50).map(i => (2L, i, ((i * 37) % 11).toDouble))
    val df = rows.toDF("k", "o", "v")
    val got = TimeSeries.cusum(df, "k", "o", "v")
      .as[(Long, Int, Double, Double, Double, Int)].collect()
      .groupBy(_._1).map { case (k, a) => k -> a.sortBy(_._2) }
    // reference: the sequential recurrence with the same stats
    def ref(vs: Seq[Double]) = {
      val mu = vs.sum / vs.size
      val sigma =
        if (vs.size < 2) 0.0
        else math.sqrt(vs.map(x => (x - mu) * (x - mu)).sum / (vs.size - 1))
      val (kap, h) = (0.5 * sigma, 4.0 * sigma)
      var (sp, sn) = (0.0, 0.0)
      vs.map { x =>
        sp = math.max(0.0, sp + (x - mu - kap))
        sn = math.max(0.0, sn + (mu - kap - x))
        def q(v: Double) = math.floor(v * 1e4 + 0.5) / 1e4
        (q(sp), q(sn), if (sp > h || sn > h) 1 else 0)
      }
    }
    for ((k, vs) <- Seq(1L -> rows.filter(_._1 == 1L).map(_._3),
        2L -> rows.filter(_._1 == 2L).map(_._3))) {
      val expected = ref(vs)
      val actual = got(k).map(r => (r._4, r._5, r._6)).toSeq
      assert(actual == expected, s"key $k")
    }
    // with full-series reference stats a two-level series deviates in
    // BOTH directions from the global mean: the low segment accumulates
    // on the negative side, the high segment on the positive side —
    // and neither alarms instantly (evidence must accumulate)
    assert(got(1L).head._6 == 0)
    val firstAlarm = got(1L).indexWhere(_._6 == 1)
    assert(firstAlarm > 3, s"alarmed too early: $firstAlarm")
    val low = got(1L)(19)
    assert(low._6 == 1 && low._5 > low._4, low.toString) // s_neg drives
    val high = got(1L).last
    assert(high._6 == 1 && high._4 > high._5, high.toString) // s_pos
    // the in-control noise series never alarms
    assert(got(2L).forall(_._6 == 0))
  }

  test("acfDominantPeriod finds the true cycle, matches the " +
    "definitional ACF, and skips zero-variance series") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(t: Int) = new java.sql.Timestamp(base + t * 3600000L)
    // key 1: exact period-6 sawtooth, 60 hourly points; key 2: flat
    val rows = (0 until 60).map(t => (1L, ts(t), (t % 6).toDouble)) ++
      (0 until 30).map(t => (2L, ts(t), 5.0))
    val df = rows.toDF("k", "h", "v")
    val got = TimeSeries.acfDominantPeriod(df, "k", "h", "v", 3600L, 2, 24)
      .as[(Long, Int, Double, Long)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(2L), "flat series must emit no row")
    assert(got(1L)._2 == 6 && got(1L)._4 == 60L)
    // definitional reference: argmax over lags of the sample ACF with
    // the same integer-unit lift and 1e-6 quantization
    val xs = (0 until 60).map(t => (t % 6) * 100L)
    val (s, n) = (xs.sum, xs.size)
    val mu = s.toDouble / n
    val sxx = xs.map(x => x * x).sum
    val den = sxx - 2.0 * mu * s + n * mu * mu
    val acfs = (2 to 24).map { l =>
      val pairs = (0 until 60 - l).map(t => (xs(t), xs(t + l)))
      val sxy = pairs.map { case (a, b) => a * b }.sum
      val (sa, sb) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val num = sxy - mu * (sa + sb) + pairs.size * mu * mu
      l -> math.floor(num / den * 1e6 + 0.5) / 1e6
    }
    val (bestL, bestA) = acfs.maxBy { case (l, a) => (a, -l) }
    assert(bestL == 6 && got(1L)._3 == bestA,
      s"got ${got(1L)}, expected ($bestL, $bestA)")
  }

  test("rollingRobustAnomaly: Hampel flags spikes, ages them out, and " +
    "degenerates safely on flat baselines") {
    val obs = Seq(
      // key 1: flat baseline, one spike — MAD stays 0 throughout
      (1L, 1L, 10.0), (1L, 2L, 10.0), (1L, 3L, 10.0),
      (1L, 4L, 100.0), (1L, 5L, 10.0),
      // key 2: fewer rows than the window — never judged
      (2L, 1L, 7.0), (2L, 2L, 9.0)
    ).toDF("k", "o", "v")
    val got = TimeSeries.rollingRobustAnomaly(obs, "k", "o", "v",
        window = 3, nSigma = 3.0)
      .as[(Long, Long, Double, Option[Double], Option[Double],
        Option[Double], Int)].collect()
      .map(r => (r._1, r._2) -> ((r._4, r._5, r._6, r._7))).toMap
    assert(got((1L, 1L)) == ((None, None, None, 0))) // window not full
    assert(got((1L, 2L)) == ((None, None, None, 0)))
    assert(got((1L, 3L)) == ((Some(10.0), Some(0.0), None, 0)))
    // spike on a flat line: MAD 0, flagged directly with null z
    assert(got((1L, 4L)) == ((Some(10.0), Some(0.0), None, 1)))
    // the spike ages into the buffer but cannot poison the median
    assert(got((1L, 5L)) == ((Some(10.0), Some(0.0), None, 0)))
    assert(got((2L, 1L)) == ((None, None, None, 0)))
    assert(got((2L, 2L)) == ((None, None, None, 0)))
  }

  test("rollingRobustAnomaly: nonzero MAD thresholds at nSigma * 1.4826") {
    val obs = (Seq(1.0, 5.0, 3.0, 4.0, 2.0, 50.0).zipWithIndex.map {
      case (v, i) => (1L, (i + 1).toLong, v)
    }).toDF("k", "o", "v")
    val got = TimeSeries.rollingRobustAnomaly(obs, "k", "o", "v",
        window = 5, nSigma = 3.0)
      .as[(Long, Long, Double, Option[Double], Option[Double],
        Option[Double], Int)].collect()
      .map(r => r._2 -> ((r._4, r._5, r._6, r._7))).toMap
    // o=5: buf [1,5,3,4,2] -> med 3, |dev| sorted [0,1,1,2,2] -> mad 1;
    // |2-3| = 1 < 3*1.4826 -> inlier, z = 1/1.4826 quantized
    assert(got(5L) == ((Some(3.0), Some(1.0), Some(0.6745), 0)))
    // o=6: buf [5,3,4,2,50] -> med 4, mad 1; |50-4| = 46 > 4.4478 -> flag
    assert(got(6L) == ((Some(4.0), Some(1.0), Some(31.0266), 1)))
  }

  test("interpolate blends interior gaps by time fraction") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 5.0),
      (1L, ts("2024-01-01 13:00:00"), 8.0), // two gap buckets before it
      (2L, ts("2024-01-01 10:00:00"), 1.5)  // single observation: no grid
    ).toDF("k", "h", "v")
    val got = TimeSeries.interpolate(obs, "k", "h", "v", 3600L)
      .as[(Long, java.sql.Timestamp, Double, Int)].collect()
      .map(r => (r._1, r._2.toString, r._3, r._4)).toSet
    assert(got == Set(
      (1L, "2024-01-01 10:00:00.0", 5.0, 0),
      (1L, "2024-01-01 11:00:00.0", 6.0, 1), // 5 + 3 * 1/3
      (1L, "2024-01-01 12:00:00.0", 7.0, 1), // 5 + 3 * 2/3
      (1L, "2024-01-01 13:00:00.0", 8.0, 0),
      (2L, "2024-01-01 10:00:00.0", 1.5, 0)))
  }

  test("interpolate quantizes 4th-decimal midpoints half-up (engine-independent)") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // blend = (0 + 13/16) / 2 = 0.40625 EXACT in doubles — a true 4th-
    // decimal midpoint, where decimal-round implementations disagree;
    // floor(v*1e4 + 0.5)/1e4 must resolve it half-up in every engine
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), 0.0),
      (1L, ts("2024-01-01 12:00:00"), 0.8125)
    ).toDF("k", "h", "v")
    val got = TimeSeries.interpolate(obs, "k", "h", "v", 3600L)
      .as[(Long, java.sql.Timestamp, Double, Int)].collect()
      .map(r => (r._2.toString, r._3)).toSet
    assert(got.contains(("2024-01-01 11:00:00.0", 0.4063)))
  }

  test("interpolate holds flat after the last non-null value and keeps " +
       "was_gap=0 on observed-but-null rows") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val obs = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(5.0)),
      (1L, ts("2024-01-01 12:00:00"), None) // observed, value null
    ).toDF("k", "h", "v")
    val got = TimeSeries.interpolate(obs, "k", "h", "v", 3600L)
      .as[(Long, java.sql.Timestamp, Option[Double], Int)].collect()
      .map(r => (r._2.toString, r._3, r._4)).toSet
    // 11:00 is a gap with no later non-null value → held flat at 5.0;
    // 12:00 was OBSERVED so its (null) value is emitted as-is, was_gap=0
    assert(got == Set(
      ("2024-01-01 10:00:00.0", Some(5.0), 0),
      ("2024-01-01 11:00:00.0", Some(5.0), 1),
      ("2024-01-01 12:00:00.0", None, 0)))
  }

  test("funnelDepth horizon works on numeric epoch columns too") {
    // ts is epoch-SECONDS as a plain long; the horizon must be added in
    // the column's own unit, not via a timestamp INTERVAL
    val ev = Seq((9L, "view", 0L), (9L, "click", 100L))
      .toDF("user_id", "event_type", "ts")
    def depthAt(h: Long) = Funnel.funnelDepth(ev, "user_id", "event_type",
        "ts", Seq("view", "click"), horizonSeconds = Some(h))
      .as[(Long, Int)].collect().head._2
    assert(depthAt(50L) == 1)
    assert(depthAt(100L) == 2)
    // an unusable ts type fails fast with a clear message
    val bad = Seq((1L, "view", "not-a-time")).toDF("user_id", "event_type", "ts")
    intercept[IllegalArgumentException](Funnel.funnelDepth(bad, "user_id",
      "event_type", "ts", Seq("view", "click"), horizonSeconds = Some(1L)))
  }

  test("simHash is stable and near-dups have small hamming distance") {
    val df = Seq(
      (1L, "spark shuffles data across many partitions efficiently"),
      (2L, "spark shuffles data across many partitions efficiently today"),
      (3L, "cooking pasta requires salted boiling water and patience")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("dupSpans merges consecutive duplicated shingle positions into " +
    "maximal token ranges and ignores corpus-unique text") {
    // docs 1/2 share an 5-token passage; doc 3 is unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon unique1 tail1 words here"),
      (2L, "prefix2 alpha beta gamma delta epsilon other2 ending2"),
      (3L, "completely different text with no shared phrases at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text")
      .select("doc_id", "start_tok", "end_tok", "n_shingles")
      .as[(Long, Int, Int, Long)].collect().toSet
    // shared run "alpha beta gamma delta epsilon" = 5 tokens -> 3
    // consecutive duplicated 3-gram positions -> ONE maximal span
    // covering tokens 0..4 in doc 1 and 1..5 in doc 2
    assert(spans == Set((1L, 0, 4, 3L), (2L, 1, 5, 3L)), spans.toString)
    // a doc shorter than the shingle width duplicates as a whole or not
    val tiny = Seq((1L, "same text"), (2L, "same text"), (3L, "else"))
      .toDF("doc_id", "text")
    val tinySpans = Dedup.dupSpans(tiny, "doc_id", "text")
      .select("doc_id", "start_tok", "end_tok")
      .as[(Long, Int, Int)].collect().toSet
    assert(tinySpans == Set((1L, 0, 2), (2L, 0, 2)), tinySpans.toString)
  }

  test("dupSpansExact pins character span boundaries and enforces the " +
    "minimum-length contract") {
    // docs 1-3 share the 5-token passage "alpha beta gamma delta
    // epsilon" at different char offsets; doc 3 mixes case/punctuation
    // (offsets index the lowercased text — same length here)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon unique1 tail1 words here"),
      (2L, "prefix2 alpha beta gamma delta epsilon other2 ending2"),
      (3L, "XX Alpha, beta GAMMA delta epsilon!")
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpansExact(docs, "doc_id", "text", minChars = 1)
      .select("doc_id", "start_char", "end_char", "len_chars", "n_shingles")
      .as[(Long, Int, Int, Int, Long)].collect().toSet
    assert(spans == Set(
      (1L, 0, 30, 30, 3L),   // "alpha...epsilon" chars 0..30
      (2L, 8, 38, 30, 3L),   // after "prefix2 "
      (3L, 3, 34, 31, 3L)),  // after "xx "; ", " inside widens to 31
      spans.toString)
    // the Lee-et-al length floor: 31 keeps only doc 3's 31-char span
    val floored = Dedup.dupSpansExact(docs, "doc_id", "text", minChars = 31)
      .select("doc_id").as[Long].collect().toSeq
    assert(floored == Seq(3L), floored.toString)
    // the default 50-char floor drops everything here
    assert(Dedup.dupSpansExact(docs, "doc_id", "text").count() == 0)
  }

  test("semanticDedup drops within-cluster near-dups only, keeping min-id") {
    // two directions; id 4 duplicates id 1 exactly, ids 2/3 are near
    // their cluster's seed but below the threshold
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.99f, 0.14f)), (3L, Seq(0.1f, 0.995f)),
      (4L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.999)
      .as[(Long, Int, Int)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(out(0L)._1 == 0 && out(2L)._1 == 0, out.toString) // direction A
    assert(Set(1L, 3L, 4L).forall(out(_)._1 == 1), out.toString)
    // only id 4 (cos 1.0 with lower-id 1 in its cluster) is dropped
    assert(out.view.mapValues(_._2).toMap ==
      Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1, 4L -> 0), out.toString)
  }

  test("cosineCol computes exact cosine") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f))).toDF("a", "b")
    val out = df.select(Similarity.cosineCol(col("a"), col("b")).as("c"))
      .as[Double].collect().toSeq
    assert(out == Seq(1.0, 0.0))
  }

  test("knnDescent: on clustered vectors the neighbor-of-neighbor " +
    "rounds recover the exact kNN graph; rounds only improve recall") {
    // three tight clusters of 8 points in 8-d: true 3-NN of every
    // point is intra-cluster by construction
    val base = Seq(
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 0f))
    val emb = (for {
      c <- 0 until 3; i <- 0 until 8
    } yield {
      val eps = 0.01f * (i + 1)
      val v = base(c).zipWithIndex.map { case (x, d) =>
        if (d == (c + 1) % 8) x + eps else x }
      ((c * 8 + i).toLong, v)
    }).toDF("vec_id", "embedding")
    def recall(rounds: Int): Double = {
      val g = Similarity.knnDescent(emb, "vec_id", "embedding",
        k = 3, rounds = rounds)
      val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
      val truth = Similarity.topKPerQuery(
        v.select(col("id").as("q_id"), col("v").as("q_v"))
          .crossJoin(v.select(col("id").as("c_id"), col("v").as("c_v")))
          .where(col("q_id") =!= col("c_id"))
          .select(col("q_id"), col("c_id"),
            Similarity.cosineCol(col("q_v"), col("c_v")).as("cosine")),
        "cosine", 3)
      val hits = truth.join(
        g.select(col("id").as("q_id"), col("nbr_id").as("c_id")),
        Seq("q_id", "c_id"), "left_semi").count()
      hits.toDouble / truth.count()
    }
    val r0 = recall(0)
    val r2 = recall(2)
    assert(r2 >= r0, s"rounds must not hurt recall: $r0 -> $r2")
    assert(r2 == 1.0, s"clustered fixture must converge to exact: $r2")
    // output shape: k rows per node, ranked
    val g = Similarity.knnDescent(emb, "vec_id", "embedding", 3, 2)
    assert(g.count() == 24 * 3)
    assert(g.groupBy("id").count().select(max("count"))
      .as[Long].head() == 3)
  }

  test("knnDescent operating-regime gate: the registry's structured " +
    "cluster-mixture fixture reaches recall@5 >= 0.8 at the shipped " +
    "config (k=5, rounds=2)") {
    // the number the ann_knn_recall_structured row demonstrates: on
    // manifold-structured data the shipped config builds a USABLE
    // graph (near-random embeddings legitimately read ~0.2 — that row
    // stays as the honest hostile-data eval)
    val out = graft.SparkEntry.queries("ann_knn_recall_structured")(
      spark, "/root/testdata/sf0.001")
      .select("n_truth", "n_hit", "recall")
      .as[(Long, Long, Double)].head()
    assert(out._1 > 0, out.toString)
    assert(out._3 >= 0.8, s"structured-regime recall@5 ${out._3} < 0.8")
  }

  test("knnDescentIncremental: batch insert reproduces the exact kNN " +
    "graph the full rebuild would give on the clustered fixture; " +
    "unaffected rows are untouched and an empty batch is a no-op") {
    // same 3-cluster fixture as the knnDescent test: exact 3-NN is
    // intra-cluster by construction, so after inserting the held-out
    // points (i >= 6 of each cluster) the merged graph must equal the
    // brute-force truth over the full set
    val base = Seq(
      Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 0f),
      Seq(0f, 0f, 0f, 0f, 0f, 0f, 1f, 0f))
    val all = (for {
      c <- 0 until 3; i <- 0 until 8
    } yield {
      val eps = 0.01f * (i + 1)
      val v = base(c).zipWithIndex.map { case (x, d) =>
        if (d == (c + 1) % 8) x + eps else x }
      ((c * 8 + i).toLong, v)
    }).toDF("vec_id", "embedding")
    val corpus = all.where(col("vec_id") % 8 < 6)
    val batch = all.where(col("vec_id") % 8 >= 6)
    val g = Similarity.knnDescent(corpus, "vec_id", "embedding",
      k = 3, rounds = 2)
    val idx = Similarity.srpBucketed(corpus, "vec_id", "embedding",
      numPlanes = 8, tables = 4)
    val delta = Similarity.knnDescentIncremental(g, idx, batch,
      "vec_id", "embedding", k = 3, rounds = 1)
      .transform(CacheScope.pin)
    // kind partitions the delta: 'new' ids are exactly the batch ids
    val newIds = delta.where(col("kind") === "new")
      .select("id").distinct().as[Long].collect().toSet
    assert(newIds == Set(6L, 7L, 14L, 15L, 22L, 23L), newIds.toString)
    val updIds = delta.where(col("kind") === "updated")
      .select("id").distinct().as[Long].collect().toSet
    assert(updIds.forall(_ % 8 < 6), updIds.toString)
    // merged standing graph = untouched rows + the delta
    val merged = g.join(delta.select(col("id")).distinct(),
        Seq("id"), "left_anti")
      .select("id", "nbr_id")
      .unionByName(delta.select("id", "nbr_id"))
    val v = all.select(col("vec_id").as("id"), col("embedding").as("v"))
    // truth ranks by the operator's contract — the 1e-6-QUANTIZED
    // cosine with id tie-break (this fixture genuinely ties at that
    // grid: cos(4,2)=0.9998007 and cos(4,6)=0.9998015 both quantize
    // to 0.999801, so raw-cosine truth would disagree on the tie)
    val truth = Similarity.topKPerQuery(
      v.select(col("id").as("q_id"), col("v").as("q_v"))
        .crossJoin(v.select(col("id").as("c_id"), col("v").as("c_v")))
        .where(col("q_id") =!= col("c_id"))
        .select(col("q_id"), col("c_id"),
          (floor(Similarity.cosineCol(col("q_v"), col("c_v")) * 1e6
            + 0.5) / 1e6).as("cosine")),
      "cosine", 3)
      .select(col("q_id").as("id"), col("c_id").as("nbr_id"))
    val got = merged.as[(Long, Long)].collect().toSet
    val want = truth.as[(Long, Long)].collect().toSet
    assert(got == want,
      s"missing=${want -- got} extra=${got -- want}")
    // empty batch: empty delta, nothing throws
    val none = Similarity.knnDescentIncremental(g, idx,
      all.where(col("vec_id") < 0), "vec_id", "embedding", k = 3,
      rounds = 1)
    assert(none.count() == 0L)
  }

  test("bruteForceTopK ranks by cosine desc with id tiebreak") {
    val corpus = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),
      (12L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec_id",
      "embedding", k = 2).select("c_id", "rank").as[(Long, Int)].collect().toSeq
    assert(out == Seq((10L, 1), (11L, 2)))
  }

  test("lshTopK finds an exact-duplicate vector in the same SRP bucket") {
    val v = Seq.tabulate(8)(i => (i + 1).toFloat)
    val corpus = Seq((10L, v), (11L, Seq.fill(8)(-1.0f)),
      (12L, v.map(x => x * 0.9f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, v)).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(corpus, queries, "vec_id", "vec_id",
      "embedding", k = 2, numPlanes = 4, tables = 2)
      .select("c_id", "rank").as[(Long, Int)].collect().toMap
    // the identical vector must land in the query's bucket and rank first
    assert(out.get(10L).contains(1))
  }

  test("ivfTopK searches only probed cells; nProbe widens recall") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),  // cell A
      (20L, Seq(0.0f, 1.0f)), (21L, Seq(0.1f, 0.9f))   // cell B
    ).toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    def run(nProbe: Int) = Similarity.ivfTopK(corpus, queries, "vec_id",
        "vec_id", "embedding", cents, "vec_id", "embedding", k = 4, nProbe)
      .select("c_id").as[Long].collect().toSet
    // one probe: only cell A's vectors are candidates
    assert(run(1) == Set(10L, 11L))
    // two probes: the whole corpus is reachable
    assert(run(2) == Set(10L, 11L, 20L, 21L))
  }

  test("ivfTopKIndexed answers exactly like inline ivfTopK and probes " +
    "only the batch's cells") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),  // cell A
      (20L, Seq(0.0f, 1.0f)), (21L, Seq(0.1f, 0.9f))   // cell B
    ).toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_idx").toString
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding",
      cents, "vec_id", "embedding", path)
    for (nProbe <- Seq(1, 2)) {
      val inline = Similarity.ivfTopK(corpus, queries, "vec_id", "vec_id",
          "embedding", cents, "vec_id", "embedding", k = 4, nProbe)
        .as[(Long, Long, Double, Int)].collect().toSet
      val indexed = Similarity.ivfTopKIndexed(spark, path, queries,
          "vec_id", "embedding", k = 4, nProbe)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(indexed == inline, s"nProbe=$nProbe")
    }
    // single probe reaches only cell A — the at-rest layout enforces it
    assert(Similarity.ivfTopKIndexed(spark, path, queries, "vec_id",
        "embedding", k = 4, nProbe = 1)
      .select("c_id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("appendIvfIndex: append-then-query equals rebuild-then-query, " +
    "and the append writes only under the batch's own cells") {
    val corpusA = Seq(
      (10L, Seq(1.0f, 0.0f)), (11L, Seq(0.9f, 0.1f)),  // cell A
      (20L, Seq(0.0f, 1.0f)), (21L, Seq(0.1f, 0.9f))   // cell B
    ).toDF("vec_id", "embedding")
    // the batch lands entirely in cell A — cell B's files must not move
    val batch = Seq((12L, Seq(0.95f, 0.02f)), (13L, Seq(0.88f, 0.05f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Seq(1.0f, 0.05f)), (2L, Seq(0.05f, 1.0f)))
      .toDF("vec_id", "embedding")
    def files(p: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator()
        .asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
    val inc = java.nio.file.Files
      .createTempDirectory("graft_ivf_inc_spec").toString
    Similarity.writeIvfIndex(corpusA, "vec_id", "embedding",
      cents, "vec_id", "embedding", inc)
    val before = files(s"$inc/cells")
    Similarity.appendIvfIndex(spark, inc, batch, "vec_id", "embedding")
    val added = files(s"$inc/cells") -- before
    assert(added.nonEmpty && added.forall(_.contains("cent_id=100")),
      s"append touched foreign cells: $added")
    assert(before.subsetOf(files(s"$inc/cells")),
      "append rewrote existing cell files")
    // equivalence: identical answers to an index built over A ∪ batch
    val full = java.nio.file.Files
      .createTempDirectory("graft_ivf_full_spec").toString
    Similarity.writeIvfIndex(corpusA.unionByName(batch), "vec_id",
      "embedding", cents, "vec_id", "embedding", full)
    for (nProbe <- Seq(1, 2)) {
      val a = Similarity.ivfTopKIndexed(spark, inc, queries, "vec_id",
        "embedding", k = 6, nProbe).as[(Long, Long, Double, Int)]
        .collect().toSet
      val b = Similarity.ivfTopKIndexed(spark, full, queries, "vec_id",
        "embedding", k = 6, nProbe).as[(Long, Long, Double, Int)]
        .collect().toSet
      assert(a == b, s"nProbe=$nProbe: ${a.diff(b)} vs ${b.diff(a)}")
    }
  }

  test("ivfDriftAudit: per-cell corpus vs batch assignment-quality " +
    "means off the standing layout; batch-empty cells stay null") {
    // cell 100 = e1, cell 200 = e2; corpus: (1,0) -> 100 cos 1.0,
    // (.6,.8) -> 200 cos .8, (0,1) -> 200 cos 1.0
    val corpus = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(0.6f, 0.8f)),
      (20L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // the batch lands in cell 100 at cos .8 — worse than the corpus's
    // 1.0 there, so drift is negative (the retrain signal)
    val batch = Seq((1L, Seq(0.8f, 0.6f))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_drift_spec").toString
    Similarity.writeIvfIndex(corpus, "vec_id", "embedding",
      cents, "vec_id", "embedding", path)
    val got = Similarity.ivfDriftAudit(spark, path, batch,
        "vec_id", "embedding")
      .orderBy("cent_id").collect()
    assert(got.length == 2)
    val c100 = got(0)
    assert(c100.getLong(0) == 100L && c100.getLong(1) == 1L &&
      c100.getDouble(2) == 1.0 && c100.getLong(3) == 1L &&
      c100.getDouble(4) == 0.8)
    assert(math.abs(c100.getDouble(5) + 0.2) < 1e-9)
    val c200 = got(1)
    assert(c200.getLong(0) == 200L && c200.getLong(1) == 2L &&
      c200.getDouble(2) == 0.9)
    // no batch rows landed in cell 200: n = 0, mean and drift null
    assert(c200.getLong(3) == 0L && c200.isNullAt(4) && c200.isNullAt(5))
  }

  test("sqTopK: int8 codes round-trip within a half bin; ADC + exact " +
    "rerank reproduces the brute-force top-k on real embeddings") {
    // quantization error bound: |dequant(code(v)) - v| <= step/2
    val step = 1.0 / 256.0
    val vs = Seq(-0.5f, -0.123f, 0.0f, 0.23f, 0.499f)
    val codes = Similarity.sqCodesKernel(vs, -0.5, 0.5)
    assert(codes.forall(c => c >= 0 && c <= 255))
    vs.zip(codes).foreach { case (v, c) =>
      val dq = -0.5 + (c + 0.5) * step
      assert(math.abs(dq - v) <= step / 2 + 1e-9, s"v=$v c=$c dq=$dq")
    }
    // clamping: out-of-domain values land on the edge codes
    assert(Similarity.sqCodesKernel(Seq(-9.0f, 9.0f), -0.5, 0.5) ==
      Seq(0, 255))
    // end-to-end parity with brute force on the real embeddings table
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val brute = Similarity.bruteForceTopK(
        emb.where(col("vec_id") >= 5), emb.where(col("vec_id") < 5),
        "vec_id", "vec_id", "embedding", k = 5)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    val sq = Similarity.sqTopK(
        emb.where(col("vec_id") >= 5), emb.where(col("vec_id") < 5),
        "vec_id", "vec_id", "embedding", k = 5, rerank = 16)
      .select("q_id", "c_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(sq == brute,
      s"SQ8+rerank diverged from brute force: ${sq.diff(brute)}")
  }

  test("ivfAssign maps every vector to its best centroid") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding")
    val cents = Seq((100L, Seq(1.0f, 0.0f)), (200L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.ivfAssign(vecs, "vec_id", "embedding", cents,
      "vec_id", "embedding").select("v_id", "cent_id")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 100L, 2L -> 200L, 3L -> 100L))
  }

  test("wavMeta/wavFrames decode a real PCM WAV payload (no codec libs)") {
    val mono = Multimodal.wavSynth(1, 8000,
      Seq[Short](100, -100, 300, -300, 500, -500, 700, -700))
    val m = Multimodal.wavMeta(7L, mono)
    assert(m.valid && m.channels == 1 && m.sample_rate == 8000 &&
      m.bits_per_sample == 16 && m.n_samples == 8 && m.duration_ms == 1)
    val frames = Multimodal.wavFrames(7L, mono, everyK = 2)
    assert(frames.map(_._3) == Seq(100, 300, 500, 700))
    // stereo: first-channel amplitudes only
    val stereo = Multimodal.wavSynth(2, 44100,
      Seq[Short](10, 99, 20, 98, 30, 97, 40, 96))
    val sm = Multimodal.wavMeta(8L, stereo)
    assert(sm.valid && sm.channels == 2 && sm.n_samples == 4)
    assert(Multimodal.wavFrames(8L, stereo, everyK = 1).map(_._3) ==
      Seq(10, 20, 30, 40))
    // non-WAV bytes are flagged invalid, never thrown
    assert(!Multimodal.wavMeta(9L, "not audio at all".getBytes).valid)
    assert(!Multimodal.wavMeta(9L, null).valid)
    // a corrupt negative chunk length must not hang the chunk walk
    val corrupt = Multimodal.wavSynth(1, 8000, Seq[Short](1, 2, 3, 4))
    corrupt(16) = -1 // fmt chunk size -> 0xFFFFFFnn (negative)
    corrupt(17) = -1; corrupt(18) = -1; corrupt(19) = -1
    assert(!Multimodal.wavMeta(10L, corrupt).valid)
    assert(Multimodal.wavFrames(10L, corrupt, 1).isEmpty)
  }

  test("bmpMeta decodes BITMAPINFOHEADER fields") {
    val bb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54).putInt(0).putInt(54)
    bb.putInt(40).putInt(640).putInt(-480) // negative height = top-down
    bb.putShort(1).putShort(24)
    val m = Multimodal.bmpMeta(1L, bb.array())
    assert(m.valid && m.width == 640 && m.height == 480 &&
      m.bits_per_pixel == 24)
    assert(!Multimodal.bmpMeta(2L, "PNG...".getBytes).valid)
  }

  test("bmp pixel synth/resize: golden 1x1 pick, identity roundtrip, " +
    "padded odd widths") {
    // downsize 2x2 -> 1x1 keeps source pixel (0,0): B=3, G=7, R=11
    val one = Multimodal.bmpResizeNearest(Multimodal.bmpSynthPixels(2, 2), 1, 1)
    val m = Multimodal.bmpMeta(0L, one)
    assert(m.valid && m.width == 1 && m.height == 1 && m.bits_per_pixel == 24)
    assert(one.length == 54 + 4) // stride of width 1 pads 3 -> 4 bytes
    assert((one(54) & 0xff) == 3 && (one(55) & 0xff) == 7 &&
      (one(56) & 0xff) == 11)
    // same-size resize is the identity on the full byte array (incl.
    // padding), for widths on and off the 4-byte stride boundary
    for ((w, h) <- Seq((4, 3), (3, 2), (5, 7), (1, 1))) {
      val src = Multimodal.bmpSynthPixels(w, h)
      assert(java.util.Arrays.equals(
        Multimodal.bmpResizeNearest(src, w, h), src), s"identity $w x $h")
    }
    // upscale 1x2 -> 2x4: each output row y samples source row y*2/4
    val up = Multimodal.bmpResizeNearest(Multimodal.bmpSynthPixels(1, 2), 2, 4)
    def px(a: Array[Byte], w: Int, h: Int, x: Int, y: Int): Seq[Int] = {
      val stride = ((w * 3 + 3) / 4) * 4
      val o = 54 + stride * (h - 1 - y) + x * 3
      Seq(a(o) & 0xff, a(o + 1) & 0xff, a(o + 2) & 0xff)
    }
    val src12 = Multimodal.bmpSynthPixels(1, 2)
    assert(px(up, 2, 4, 0, 0) == px(src12, 1, 2, 0, 0))
    assert(px(up, 2, 4, 1, 1) == px(src12, 1, 2, 0, 0))
    assert(px(up, 2, 4, 0, 2) == px(src12, 1, 2, 0, 1))
    assert(px(up, 2, 4, 1, 3) == px(src12, 1, 2, 0, 1))
    // malformed inputs are rejected, and the extractor flags them invalid
    intercept[IllegalArgumentException] {
      Multimodal.bmpResizeNearest("nope".getBytes, 2, 2)
    }
    val flagged = Multimodal.extractBmpResized(
        Seq((1L, Multimodal.bmpSynthPixels(3, 3)), (2L, "x".getBytes))
          .toDF("doc_id", "payload"), "doc_id", "payload", 2, 2)
      .collect().sortBy(_.doc_id)
    assert(flagged(0).valid && !flagged(1).valid)
  }

  test("wavDownsample keeps every k-th frame across channels and halves " +
    "the rate") {
    // stereo, 4 frames: (1,2) (3,4) (5,6) (7,8) -> keep frames 0 and 2
    val src = Multimodal.wavSynth(2, 16000,
      Seq[Short](1, 2, 3, 4, 5, 6, 7, 8))
    val out = Multimodal.wavDownsample(src, 2)
    val m = Multimodal.wavMeta(0L, out)
    assert(m.valid && m.channels == 2 && m.sample_rate == 8000 &&
      m.n_samples == 2)
    // first-channel frames of the output are source frames 0 and 2
    assert(Multimodal.wavFrames(0L, out, 1).map(_._3) == Seq(1, 5))
    // factor 1 is the identity
    assert(java.util.Arrays.equals(Multimodal.wavDownsample(src, 1), src))
    intercept[IllegalArgumentException] {
      Multimodal.wavDownsample("RIFFgarbage".getBytes, 2)
    }
  }

  test("extractWavMeta runs the decoder per-partition over binary columns") {
    val docs = Seq(
      (1L, Multimodal.wavSynth(1, 16000, Seq[Short](1, 2, 3, 4))),
      (2L, "garbage".getBytes)
    ).toDF("doc_id", "payload")
    val out = Multimodal.extractWavMeta(docs, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m.valid).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("png roundtrip: synth -> sniff -> IHDR decode with CRC verify") {
    val p = Multimodal.pngSynth(640, 480, bitDepth = 8, colorType = 2)
    assert(Multimodal.sniffFormat(p) == "png")
    val m = Multimodal.pngMeta(7L, p)
    assert(m.valid && m.width == 640 && m.height == 480 &&
      m.bit_depth == 8 && m.color_type == 2 && m.n_bytes == 45)
    // corrupt one IHDR data byte: the CRC check must reject it
    val bad = p.clone(); bad(17) = (bad(17) ^ 0x01).toByte
    assert(!Multimodal.pngMeta(7L, bad).valid)
  }

  test("jpeg dimension walk skips leading segments to the first SOF") {
    // SOI + APP0 (16 bytes of padding) + SOF0(800x600) + EOI
    val sof = Multimodal.jpegSynthHeader(800, 600)
    val app0 = Array[Byte](0xff.toByte, 0xe0.toByte, 0, 16) ++
      new Array[Byte](14)
    val p = sof.take(2) ++ app0 ++ sof.drop(2)
    assert(Multimodal.sniffFormat(p) == "jpeg")
    assert(Multimodal.jpegDims(p) == ((800, 600)))
    // truncated before the SOF -> (0, 0), not a crash
    assert(Multimodal.jpegDims(p.take(10)) == ((0, 0)))
  }

  test("png/jpeg/bmp roundtrips hold for arbitrary dimensions (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val dims = Gen.chooseNum(1, 100000)
    val jdims = Gen.chooseNum(1, 65535)
    val prop = Prop.forAll(dims, dims,
      Gen.oneOf(1, 2, 4, 8, 16), Gen.oneOf(0, 2, 3, 4, 6)) {
        (w: Int, h: Int, depth: Int, ct: Int) =>
      val m = Multimodal.pngMeta(1L, Multimodal.pngSynth(w, h, depth, ct))
      m.valid && m.width == w && m.height == h &&
        m.bit_depth == depth && m.color_type == ct
    } && Prop.forAll(jdims, jdims) { (w: Int, h: Int) =>
      Multimodal.jpegDims(Multimodal.jpegSynthHeader(w, h)) == ((w, h))
    } && Prop.forAll(dims, dims) { (w: Int, h: Int) =>
      val m = Multimodal.bmpMeta(1L, Multimodal.bmpSynth(w, h))
      m.valid && m.width == w && m.height == h
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("magic-byte sniffing identifies the container formats") {
    assert(Multimodal.sniffFormat(Multimodal.bmpSynth(2, 2)) == "bmp")
    assert(Multimodal.sniffFormat(
      Multimodal.wavSynth(1, 8000, Seq(1.toShort))) == "wav")
    assert(Multimodal.sniffFormat("GIF89a".getBytes("US-ASCII")) == "gif")
    assert(Multimodal.sniffFormat(
      "RIFF1234WEBP".getBytes("US-ASCII")) == "webp")
    assert(Multimodal.sniffFormat("ID3x".getBytes("US-ASCII")) == "mp3")
    assert(Multimodal.sniffFormat("plain text".getBytes) == "unknown")
    assert(Multimodal.sniffFormat(null) == "unknown")
  }

  test("saltedJoin equals the plain equi-join on a skewed key") {
    // 90% of probe rows share one key — the exact shape salting exists for
    val probe = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (2L, i)))
      .toDF("k", "payload")
    val build = Seq((1L, "hot"), (2L, "cold"), (3L, "unmatched"))
      .toDF("k", "label")
    val plain = probe.join(build, "k")
      .select("k", "payload", "label").as[(Long, Int, String)].collect().sorted
    val salted = Skew.saltedJoin(probe, build, "k", saltFactor = 8)
      .select("k", "payload", "label").as[(Long, Int, String)].collect().sorted
    assert(salted.toSeq == plain.toSeq)
    assert(plain.length == 1000)
  }

  test("saltedJoin: probe-sided outer/semi/anti types keep plain-join " +
    "semantics; build-sided types are rejected") {
    val probe = Seq((1L, "a"), (2L, "b"), (9L, "no-match")).toDF("k", "p")
    val build = Seq((1L, "x"), (2L, "y"), (3L, "probe-less")).toDF("k", "b")
    val left = Skew.saltedJoin(probe, build, "k", 4, "left")
      .as[(Long, String, String)].collect().toSet
    assert(left == Set((1L, "a", "x"), (2L, "b", "y"), (9L, "no-match", null)))
    val anti = Skew.saltedJoin(probe, build, "k", 4, "left_anti")
      .as[(Long, String)].collect().toSet
    assert(anti == Set((9L, "no-match")))
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(probe, build, "k", 4, "right")
    }
  }

  test("saltedJoin spreads byte-identical hot-key probe rows over " +
    ">=2 partitions") {
    // the worst skew shape: every probe row is the SAME key AND payload,
    // so a salt hashed from row values alone would put all of them on one
    // shuffle partition — the monotonic-id disambiguator must spread them
    val probe = (1 to 400).map(_ => (1L, "same")).toDF("k", "p")
    val build = Seq((1L, "hot")).toDF("k", "b")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val pids = Skew.saltedJoin(probe, build, "k", 8)
        .select(org.apache.spark.sql.functions.spark_partition_id())
        .distinct().count()
      assert(pids >= 2, s"hot key landed on $pids partition(s)")
    }
  }

  test("saltedDistinctCount equals countDistinct on a hot key") {
    val df = ((1 to 500).map(i => (1L, i % 37)) ++ Seq((2L, 1), (2L, 2)))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(countDistinct("v").as("n_distinct"))
      .as[(Long, Long)].collect().toMap
    val salted = Skew.saltedDistinctCount(df, "k", "v", saltFactor = 8)
      .as[(Long, Long)].collect().toMap
    assert(salted == plain)
    assert(plain == Map(1L -> 37L, 2L -> 2L))
  }

  test("multimodal real-metadata plumbing: format dispatch + chunk sampling") {
    // real payloads in three formats + one junk row: extractMeta must
    // dispatch on magic bytes and read REAL header dims, not fakes
    val payloads = Seq(
      (1L, Multimodal.pngSynth(33, 21)),
      (2L, Multimodal.bmpSynth(17, 9)),
      (3L, Gif.gifSynth(7L, 12, 5)),
      (4L, "not an image".getBytes("UTF-8")))
    val metaDf = payloads.toDF("doc_id", "payload")
    val meta = Multimodal.extractMeta(metaDf, "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    assert(meta(1L).format == "png" &&
      meta(1L).width == 33 && meta(1L).height == 21)
    assert(meta(2L).format == "bmp" &&
      meta(2L).width == 17 && meta(2L).height == 9)
    assert(meta(3L).format == "gif" &&
      meta(3L).width == 12 && meta(3L).height == 5)
    assert(meta(4L).format == "unknown" &&
      meta(4L).width == 0 && meta(4L).height == 0)
    val docs = Seq((1L, "hello world payload bytes"), (2L, "x"))
      .toDF("doc_id", "text")
      .withColumn("payload", to_binary(col("text"), lit("utf-8")))
    val chunks = Multimodal.sampleChunks(docs, "doc_id", "payload",
      chunkBytes = 8, everyK = 2).collect()
    assert(chunks.map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("langId identifies marker-heavy languages deterministically") {
    val df = Seq(
      Tuple1("the cat and the dog is in the house"),
      Tuple1("der hund und die katze ist nicht hier"),
      Tuple1("zzz qqq xxx")
    ).toDF("text")
    val out = df.select(TextAnalysis.langId(col("text")).as("l"))
      .as[String].collect().toSeq
    assert(out == Seq("en", "de", "und"))
  }

  test("scriptCounts/dominantScript/nonLatinRatio: per-block census, " +
    "latin-first tie-break, 'none' on scriptless text") {
    val df = Seq(
      Tuple1("hello мир"),          // 5 latin, 3 cyrillic
      Tuple1("abбв"),     // 2 vs 2 -> tie -> latin
      Tuple1("世界は"), // cjk only (ideographs + kana)
      Tuple1("123 .,!")             // no script codepoints at all
    ).toDF("t")
    val got = df.select(
        TextAnalysis.scriptCounts(col("t")).map { case (n, e) => e.as(n) } ++
          Seq(TextAnalysis.dominantScript(col("t")).as("dom"),
            TextAnalysis.nonLatinRatio(col("t")).as("r")): _*)
      .as[(Long, Long, Long, Long, Long, String, Double)].collect().toSeq
    assert(got(0) == ((5L, 3L, 0L, 0L, 0L, "latin",
      math.floor(3.0 / 8 * 1e6 + 0.5) / 1e6)))
    assert(got(1)._6 == "latin" && got(1)._7 == 0.5)
    assert(got(2) == ((0L, 0L, 0L, 0L, 3L, "cjk", 1.0)))
    assert(got(3) == ((0L, 0L, 0L, 0L, 0L, "none", 0.0)))
  }

  test("tfidfTop picks the highest-tfidf term with term-asc tiebreak") {
    // N=3. "apple" df=1, "cat"/"dog" df=3 (common), "zebra" df=1.
    val df = Seq(
      (1L, "apple apple cat dog"),
      (2L, "cat dog zebra"),
      (3L, "cat dog dog")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTop(df, "doc_id", "text")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    def idf(dfreq: Int) = math.log(4.0 / (dfreq + 1.0)) + 1.0
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    // doc 1: apple tf=2 rare beats cat/dog tf=1 common
    // doc 2: zebra rare beats the common pair
    // doc 3: dog tf=2 beats cat tf=1 (same idf); tf*idf = 2*1.0 = 2.0
    assert(out == Seq(
      (1L, "apple", r4(2 * idf(1))),
      (2L, "zebra", r4(1 * idf(1))),
      (3L, "dog", r4(2 * idf(3)))))
    // tie case: equal tf and df -> lexicographically first term wins
    val tie = TextAnalysis.tfidfTop(
        Seq((9L, "beta alfa")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, String, Double)].collect().toSeq
    assert(tie.map(x => (x._1, x._2)) == Seq((9L, "alfa")))
  }

  test("globalNtile matches the window NTILE on every remainder case") {
    import org.apache.spark.sql.expressions.Window
    for (n <- Seq(1, 4, 7); rows <- Seq(2, 4, 23, 100)) {
      val df = (1 to rows).map(i => (i.toLong, (i * 7919 % 100).toDouble))
        .toDF("id", "score")
      val viaWindow = df.withColumn("bin", ntile(n).over(
          Window.orderBy(col("score").desc, col("id").asc)))
        .as[(Long, Double, Int)].collect().sortBy(_._1).toSeq
      val viaRanking = Ranking.globalNtile(df, n,
          Seq(col("score").desc, col("id").asc), "bin", numPartitions = 5)
        .as[(Long, Double, Int)].collect().sortBy(_._1).toSeq
      assert(viaRanking == viaWindow, s"n=$n rows=$rows")
    }
  }

  test("globalRank matches the window ROW_NUMBER under any partitioning") {
    import org.apache.spark.sql.expressions.Window
    for (rows <- Seq(1, 2, 23, 100); parts <- Seq(1, 5)) {
      val df = (1 to rows).map(i => (i.toLong, (i * 7919 % 100).toDouble))
        .toDF("id", "score").repartition(7)
      val viaWindow = df.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("id").asc)).cast("long"))
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      val viaRanking = Ranking.globalRank(df,
          Seq(col("score").desc, col("id").asc), "rank",
          numPartitions = parts)
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      assert(viaRanking == viaWindow, s"rows=$rows parts=$parts")
    }
  }

  test("stratifiedSmallestK matches the per-stratum window formulation " +
    "and keeps partial-agg buffers k-bounded") {
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 500).map { i =>
      (i.toLong, s"src_${i % 3}", (i * 7919 % 1000).toLong)
    }.toDF("doc_id", "source", "h").repartition(13)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 10).select("doc_id", "source", "h")
      .as[(Long, String, Long)].collect().sortBy(x => (x._2, x._3, x._1)).toSeq
    val viaAgg = Sampling.stratifiedSmallestK(df, col("doc_id"),
        col("source"), col("h"), k = 10, keyOut = "doc_id",
        stratumOut = "source", hOut = "h")
      .as[(Long, String, Long)].collect().sortBy(x => (x._2, x._3, x._1)).toSeq
    assert(viaAgg == viaWindow)
    // the aggregator state itself is k-bounded regardless of input order
    val agg = new SmallestK(3)
    val buf = (1 to 100).foldLeft(agg.zero) { (b, i) =>
      agg.reduce(b, ("s", i.toLong, (1000 - i).toLong))
    }
    assert(buf.size == 3)
    assert(agg.merge(buf, buf).size == 3)
    assert(agg.finish(buf).map(_._2) == Seq(900L, 901L, 902L))
  }

  test("kmeans: deterministic Lloyd assignment converges on separated blobs") {
    val pts = Seq(
      (0L, Array(0f, 0f, 0f, 0f)),
      (1L, Array(10f, 10f, 10f, 10f)),
      (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)),
      (4L, Array(9f, 10f, 10f, 10f)),
      (5L, Array(10f, 9f, 10f, 10f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeans(pts, "vec_id", "embedding", k = 2, iters = 3)
      .as[(Long, Int, Double)].collect().sortBy(_._1).toSeq
    assert(out.map(_._2) == Seq(0, 1, 0, 0, 1, 1))
    // converged centroid 0 = mean of vecs {0,2,3} = (1/3, 1/3, 0, 0)
    val d0 = math.sqrt(2 * (1.0 / 3) * (1.0 / 3))
    assert(out(0)._3 == math.rint(d0 * 1e6) / 1e6)
    // singleton-k degenerate case: everything lands in cluster 0
    val one = Similarity.kmeans(pts, "vec_id", "embedding", k = 1, iters = 2)
      .as[(Long, Int, Double)].collect()
    assert(one.forall(_._2 == 0))
  }

  test("chunk: overlap-window invariants, tail kept, short/empty docs") {
    val toks150 = (1 to 150).map(i => s"w$i")
    val df = Seq(
      (1L, toks150.mkString(" ")),
      (2L, "just five little words here"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text",
        chunkSize = 10, overlap = 2)
      .as[(Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap

    // nc = ceil((150-10)/8)+1 = 19; chunk i covers tokens [8i+1, 8i+10]
    val c1 = out(1L)
    assert(c1.size == 19)
    assert(c1.map(_._2) == (0L until 19L))
    assert(c1.init.forall(_._3 == 10L) && c1.last._3 == 6L)
    // consecutive chunks share exactly `overlap` tokens
    c1.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4.split(" ").takeRight(2).toSeq ==
        b._4.split(" ").take(2).toSeq)
    }
    // reconstruction: chunk0 ++ later-chunks-minus-overlap == the tokens
    val rebuilt = c1.head._4.split(" ").toSeq ++
      c1.tail.flatMap(_._4.split(" ").drop(2))
    assert(rebuilt == toks150)

    assert(out(2L) == Seq((2L, 0L, 5L, "just five little words here")))
    assert(out(3L) == Seq((3L, 0L, 0L, "")))
  }

  test("chunk invariants hold across a (size, overlap, length) grid") {
    for ((size, overlap) <- Seq((8, 0), (10, 2), (16, 15), (5, 4))) {
      val stride = size - overlap
      val lens = Seq(0, 1, size - 1, size, size + 1, 3 * size, 97)
      val df = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (1 to n).map(k => s"t$k").mkString(" "))
      }.toDF("doc_id", "text")
      val out = TextAnalysis.chunk(df, "doc_id", "text", size, overlap)
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      for ((n, i) <- lens.zipWithIndex) {
        val chunks = out(i.toLong)
        val expected = if (n <= size) 1
          else math.ceil((n - size).toDouble / stride).toInt + 1
        assert(chunks.size == expected, s"size=$size overlap=$overlap n=$n")
        // every token covered exactly once after dropping the overlap
        val rebuilt = chunks.head._4.split(" ").filter(_.nonEmpty).toSeq ++
          chunks.tail.flatMap(_._4.split(" ").drop(overlap))
        assert(rebuilt == (1 to n).map(k => s"t$k"),
          s"size=$size overlap=$overlap n=$n")
      }
    }
  }

  test("entropyKernel: hand-checked Shannon entropy over code points") {
    import graft.operators.TextAnalysis.entropyKernel
    assert(entropyKernel(null) == 0.0 && entropyKernel("") == 0.0)
    assert(entropyKernel("aaaa") == 0.0)
    assert(math.abs(entropyKernel("ab") - 1.0) < 1e-12)
    assert(math.abs(entropyKernel("aabb") - 1.0) < 1e-12)
    assert(math.abs(entropyKernel("abcd") - 2.0) < 1e-12)
    // {x:2, y:1}: H = (ln3 - (2 ln2)/3) / ln2
    val aab = (math.log(3) - 2 * math.log(2) / 3) / math.log(2)
    assert(math.abs(entropyKernel("aab") - aab) < 1e-12)
    // non-BMP: 3 code points with the same {2,1} histogram as "aab" —
    // iteration must be per code point, not per UTF-16 unit
    assert(entropyKernel("😀😀🎉") ==
      entropyKernel("aab"))
    // ordering: mash below prose below random-ish
    val mash = entropyKernel("aaaaabbbbbaaaaabbbbb")
    val prose = entropyKernel(
      "The quick brown fox jumps over the lazy dog near the river bank.")
    val blob = entropyKernel("q8Zx2Wv9Yb1Tc4Re7Ul0Pk3Ojh6NfMgAdS5iD")
    assert(mash < 2.0 && prose > 3.5 && prose < 5.0 && blob > prose)
  }

  test("qualityKernel is bit-identical to the expression form") {
    val texts = Seq(
      "", "the and of to a in is it for with", "no stopwords here at all",
      "a" * 300, "punct... heavy!!! text??? 12345 67890",
      "short", "Café 𝄞 non-BMP codepoint mix 42.",
      (1 to 80).map(i => s"word$i").mkString(" "),
      "the the the the the 1.2.3;4:5!6?7")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val viaKernel = df.select(col("id"),
        TextAnalysis.qualityStruct(col("text")).as("q"))
      .as[(Long, (Long, Long, Double, Double, Double, Double, Double))]
      .collect().sortBy(_._1).toSeq
    val exprCols = TextAnalysis.qualityFeaturesExpr(col("text"))
      .map { case (n, c) => c.as(n) } :+
      TextAnalysis.qualityScoreExpr(col("text")).as("quality")
    val viaExpr = df.select(col("id") +: exprCols: _*)
      .as[(Long, Long, Long, Double, Double, Double, Double, Double)]
      .collect().sortBy(_._1).toSeq
    assert(viaKernel.map(x => (x._1, x._2._1, x._2._2, x._2._3, x._2._4,
      x._2._5, x._2._6, x._2._7)) == viaExpr)
  }

  test("leakageSafeSplit: near-dup clusters never straddle the split, " +
    "components are the min reachable id, singletons keep the per-doc cut") {
    val docs = (1L to 200L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (50L, 51L)).toDF("src", "dst")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", pairs)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.size == 200)
    // whole clusters land together, labeled by their min id
    assert(Seq(1L, 2L, 3L).map(out(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(out(_)._4).distinct.length == 1)
    assert(Seq(50L, 51L).map(out(_)._2).distinct == Seq(50L))
    assert(Seq(50L, 51L).map(out(_)._4).distinct.length == 1)
    // a singleton is its own component: identical to the per-doc split
    assert(out(7L)._2 == 7L)
    val fracTrain = out.values.count(_._4 == "train") / 200.0
    assert(fracTrain > 0.6 && fracTrain < 0.95, s"train frac $fracTrain")
  }

  test("leakageSafeSplit on real near-dup pairs: no verified pair " +
    "straddles the boundary") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = Dedup.minHashLSH(docs, "doc_id", "text", shingleN = 3,
        bands = 8, rowsPerBand = 2, simThreshold = 0.5)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val split = Sampling.leakageSafeSplit(docs, "doc_id", pairs)
      .select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "src")
        .withColumnRenamed("split", "s_a"), "src")
      .join(split.withColumnRenamed("doc_id", "dst")
        .withColumnRenamed("split", "s_b"), "dst")
      .where(col("s_a") =!= col("s_b")).count()
    assert(straddling == 0)
    assert(pairs.count() > 0) // the property is not vacuous
  }

  test("shardShuffle: a permutation per epoch — positions contiguous per " +
    "shard, partition-invariant, different seeds differ, same seed replays") {
    val docs = (1L to 200L).toDF("doc_id")
    def run(seed: Int, parts: Int) =
      Sampling.shardShuffle(docs.repartition(parts), "doc_id", nShards = 8,
        seed = seed).as[(Long, Int, Long)].collect().sortBy(r => (r._2, r._3))
    val e0 = run(0, 1)
    // every doc exactly once, shards in range, positions 1..|shard|
    assert(e0.length == 200 && e0.map(_._1).distinct.length == 200)
    assert(e0.forall(r => r._2 >= 0 && r._2 < 8))
    e0.groupBy(_._2).values.foreach { rows =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(run(0, 13).toSeq == e0.toSeq) // layout-invariant
    assert(run(1, 1).toSeq != e0.toSeq)  // next epoch: new permutation
    assert(run(0, 1).toSeq == e0.toSeq)  // replayable
  }

  test("lineDedup: first occurrence wins corpus-wide, short lines are " +
    "immune, docs losing every line survive with empty text, order kept") {
    val docs = Seq(
      (1L, "the very first duplicated line\nunique middle content here\nok"),
      (2L, "another unique line of text\nthe very first duplicated line"),
      // doc 3 is ONLY the duplicated line -> rebuilt empty, still present
      (3L, "the very first duplicated line"),
      // 'ok' is short (<10 chars): repeats everywhere yet never dropped
      (4L, "ok\nok\nclosing unique sentence text")
    ).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, "doc_id", "text", minLen = 10)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "the very first duplicated line\nunique middle content here\nok",
        3L, 0L),
      (2L, "another unique line of text", 2L, 1L),
      (3L, "", 1L, 1L),
      (4L, "ok\nok\nclosing unique sentence text", 3L, 0L)))
    // deterministic under re-partitioning: first key is a set property
    val shuffled = Dedup.lineDedup(docs.repartition(7), "doc_id", "text",
      minLen = 10).as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(shuffled == out)
  }

  test("lineDedup property: on random corpora every doc survives, " +
    "long lines keep exactly one occurrence corpus-wide, short lines " +
    "all survive, kept text is an in-order subsequence") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small line vocabulary forces cross-doc collisions; 'aa'/'bb' are
    // short (<10 chars, never dedup candidates), the rest are long
    val lineGen = Gen.oneOf("aa", "bb",
      "duplicated long line one", "duplicated long line two",
      "duplicated long line three", "another long filler line")
    val docGen = Gen.listOf(lineGen).map(_.mkString("\n"))
    val prop = Prop.forAll(Gen.listOf(docGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = Dedup.lineDedup(docs.toDF("doc_id", "text"),
          "doc_id", "text", minLen = 10)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      val keptLines = out.flatMap(r =>
        r._2.split("\n", -1).filter(_.nonEmpty))
      val inLines = docs.flatMap(_._2.split("\n", -1))
      val longCounts = inLines.filter(_.length >= 10)
        .groupBy(identity).view.mapValues(_.size).toMap
      out.length == docs.length &&
        // short lines: all survive
        keptLines.count(_.length < 10) == inLines.count(l =>
          l.nonEmpty && l.length < 10) &&
        // long lines: exactly one survivor per distinct value
        longCounts.keys.forall(l => keptLines.count(_ == l) == 1) &&
        // per-doc: kept text is an in-order subsequence of the original
        // lines, and the counters stay within bounds
        out.forall { case (id, text, nl, nd) =>
          val orig = docs(id.toInt)._2.split("\n", -1).toSeq
          val kept = text.split("\n", -1).filter(_.nonEmpty).toSeq
          var oi = 0
          val isSubseq = kept.forall { k =>
            val at = orig.indexOf(k, oi)
            if (at >= 0) { oi = at + 1; true } else false
          }
          nl == orig.length && nd >= 0 && nd <= nl && isSubseq
        }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("gopherKernel: each rule fires on its hand-built fixture") {
    import TextAnalysis.gopherKernel
    // empty text: zero words, one line, keep=false
    assert(gopherKernel("") == ((0L, 0.0, 0.0, 0.0, 0L, 0.0, 0.0, false)))
    // a passing doc: 50 words incl. >=2 required stopwords, mean in
    // [3,10], all-alpha, no symbols/bullets/ellipses
    val good = ("the quick brown fox jumps with vigor and style today " +
      Seq.tabulate(40)(i => s"word${i % 10}").mkString(" ", " ", ""))
    val g = gopherKernel(good)
    assert(g._1 == 50L && g._5 >= 2L && g._8, g.toString)
    // 49 words -> word-count rule kills an otherwise identical doc
    val short49 = good.split(" ").take(49).mkString(" ")
    assert(!gopherKernel(short49)._8)
    // symbol ratio: '#', unicode ellipsis, and non-overlapping '...'
    // ('....' counts ONCE, like leftmost non-overlapping replace)
    val s4 = gopherKernel("alpha # beta … gamma .... delta")
    assert(s4._3 == BigDecimal(3.0 / 7).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, s4.toString)
    // stop_hits counts DISTINCT list members: 'the the the' is one hit
    assert(gopherKernel("the the the")._5 == 1L)
    assert(gopherKernel("the of and that")._5 == 4L)
    // bullet/ellipsis line fractions over ALL lines (split -1 keeps
    // trailing empties); leading/trailing blanks count in the denominator
    val lined = "- bullet one\n  * indented bullet\nplain prose line\n" +
      "trailing thought...\n"
    val lf = gopherKernel(lined)
    assert(lf._6 == BigDecimal(2.0 / 5).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, lf.toString)
    assert(lf._7 == BigDecimal(1.0 / 5).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, lf.toString)
    // alpha-word fraction: digits-only and symbol-only words don't count
    val af = gopherKernel("abc 123 #. d2f")
    assert(af._4 == 0.5, af.toString)
  }

  test("repetition signals: duplicate-3gram and top-token fractions") {
    val df = Seq(
      Tuple1("a b c a b c a b c"), // 7 3-grams, 3 distinct -> 4/7 dup
      Tuple1("all distinct words here now"),
      Tuple1("")
    ).toDF("text")
    val out = df.select(
      TextAnalysis.dupNgramFrac(col("text"), 3).as("d"),
      TextAnalysis.topTokenFrac(col("text")).as("t"))
      .as[(Double, Double)].collect().toSeq
    assert(out(0)._1 == math.rint((1.0 - 3.0 / 7) * 1e6) / 1e6)
    assert(out(0)._2 == math.rint(3.0 / 9 * 1e6) / 1e6)
    assert(out(1) == ((0.0, 0.2)))
    assert(out(2) == ((0.0, 0.0)))
  }

  test("dupShingleFraction scores each doc by its corpus-duplicated " +
       "shingle share") {
    val docs = Seq(
      (1L, "a b c d"),  // shingles {a b c, b c d}
      (2L, "a b c x"),  // shingles {a b c, b c x} -> shares "a b c" with 1
      (3L, "q w e"),    // one unique shingle
      (4L, "hi there")  // < 3 tokens: the whole text is the shingle
    ).toDF("doc_id", "text")
    val got = Dedup.dupShingleFraction(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 1L, 0.5)),
      3L -> ((1L, 0L, 0.0)), 4L -> ((1L, 0L, 0.0))))
  }

  test("ngramContamination flags docs sharing >= minHits 3-grams " +
    "with a probe set") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "quick brown fox somewhere else entirely today"),
      (12L, "completely unrelated text with no overlap at all")
    ).toDF("doc_id", "text")
    val probes = Seq((1L, "the quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val out = Dedup.ngramContamination(docs, probes, "doc_id", "text",
        shingleN = 3, minHits = 2)
      .as[(Long, Long, Long)].collect().toSet
    // doc 10 shares "the quick brown", "quick brown fox", "brown fox jumps";
    // doc 11 shares only "quick brown fox"; doc 12 shares none
    assert(out == Set((10L, 1L, 3L)))
  }

  test("deterministic sampling: same rows make the cut under any " +
    "partitioning; mix fractions are roughly honored") {
    val df = (1L to 4000L).map(i => (i, s"src${i % 4}")).toDF("id", "src")
    val a = Sampling.deterministicSample(df, "id", 0.5, seed = 1)
      .as[(Long, String)].collect().toSet
    val b = Sampling.deterministicSample(df.repartition(13), "id", 0.5, seed = 1)
      .as[(Long, String)].collect().toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(math.abs(a.size - 2000) < 200, s"got ${a.size} of 4000 at 0.5")
    val mixed = Sampling.mixBySource(df, "id", "src",
      Map("src0" -> 1.0, "src1" -> 0.25), seed = 1)
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(mixed("src0") == 1000L, s"frac 1.0 keeps everything: $mixed")
    assert(math.abs(mixed("src1") - 250) < 80, s"got $mixed")
    assert(!mixed.contains("src2") && !mixed.contains("src3"),
      "unlisted strata are dropped")
  }

  test("temperatureMix keeps the smallest stratum whole and downsamples " +
    "larger strata at (min/size)^(1-alpha), invariant to partitioning") {
    val df = ((1L to 100L).map(i => (i, "small")) ++
      (101L to 1700L).map(i => (i, "big"))).toDF("id", "strat")
      .withColumn("sz", lit(1))
    val out = Sampling.temperatureMix(df, "id", "strat", "sz",
      alpha = 0.3, seed = 3)
    assert(out.columns.contains("rate"))
    val counts = out.groupBy("strat").count().as[(String, Long)]
      .collect().toMap
    assert(counts("small") == 100L, s"min stratum must keep all: $counts")
    val want = math.pow(100.0 / 1600.0, 0.7) * 1600 // ≈ 230
    assert(math.abs(counts("big") - want) < 80, s"got $counts want ~$want")
    val a = out.select("id").as[Long].collect().toSet
    val b = Sampling.temperatureMix(df.repartition(13), "id", "strat", "sz",
      alpha = 0.3, seed = 3).select("id").as[Long].collect().toSet
    assert(a == b, "membership must not depend on partitioning")
  }

  test("weightedTopK: heavy weights dominate the without-replacement " +
    "draw; the cut is the true global top-k and partition-invariant") {
    val df = (1L to 500L).map(i => (i, if (i == 42L) 1000000L else 1L))
      .toDF("id", "w")
    val top = Sampling.weightedTopK(df, "id", col("w"), k = 5, seed = 9)
      .select("id").as[Long].collect()
    // u^(1/1e6) ~ 1 for any u: the heavy row always makes the draw
    assert(top.contains(42L), s"heavy row missing from $top")
    // the k rows are exactly the head of the full ranking
    val full = Sampling.weightedTopK(df, "id", col("w"), k = 500, seed = 9)
      .select("id").as[Long].collect()
    assert(top.toSeq == full.take(5).toSeq)
    val rep = Sampling.weightedTopK(df.repartition(13), "id", col("w"),
      k = 5, seed = 9).select("id").as[Long].collect()
    assert(top.toSeq == rep.toSeq, "draw must not depend on partitioning")
  }

  test("CacheScope.materialized frees exactly the operator-pinned blocks " +
    "and leaves caller-owned caches alone") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val docs = (1 to 40).map(i =>
      (i.toLong, s"alpha beta g$i delta ep${i % 5}")).toDF("doc_id", "text")
    val mine = docs.limit(10).persist() // caller-owned, outside the scope
    mine.count()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    assert(baseline.nonEmpty)
    val rows = CacheScope.materialized(spark)(
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8))(
      _.collect())
    // same answer as calling the operator directly
    assert(rows.length ==
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8).count())
    spark.sparkContext.getPersistentRDDs.values.foreach(_ => ())
    val after = spark.sparkContext.getPersistentRDDs.keySet
    // the direct call above pinned fresh blocks; restrict the check to
    // what the SCOPED call left behind: nothing beyond the baseline set
    // it inherited is still pinned from inside the scope
    assert(baseline.subsetOf(after),
      s"caller cache evicted: baseline=$baseline after=$after")
    // run the scoped variant again with a clean slate to assert exact
    // release (no direct-call noise)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    mine.persist(); mine.count()
    val base2 = spark.sparkContext.getPersistentRDDs.keySet
    CacheScope.materialized(spark)(
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.8))(_.count())
    assert(spark.sparkContext.getPersistentRDDs.keySet == base2,
      "scope must release every block it pinned, and only those")
    mine.unpersist(true)
  }

  test("audio H-K fingerprint: refuses bad clips, near-dups land within " +
    "the hamming budget, and pigeonhole blocking has exact recall") {
    def clip(g: Long, v: Long): Array[Byte] = {
      val samples = (0 until 5).flatMap { f =>
        var m1 = ((g * 7 + f * 3) % 9).toInt
        if (v == 1 && f == 4) m1 = (m1 + 1) % 9
        val m2 = ((g * 4 + f) % 7).toInt
        (0 until 64).map(x => math.floor(
          1000 * math.sin(2 * math.Pi * (3 * m1 + 2) * x / 64) +
            400 * math.sin(2 * math.Pi * (3 * m2 + 2) * x / 64) + 0.5)
          .toInt.toShort)
      }
      Multimodal.wavSynth(1, 8000, samples)
    }
    // refusal: truncated, too-short, junk
    assert(!Multimodal.audioFingerprintKernel(1L, clip(0, 0).take(50)).valid)
    assert(!Multimodal.audioFingerprintKernel(1L,
      Multimodal.wavSynth(1, 8000, (0 until 64).map(_.toShort))).valid)
    assert(!Multimodal.audioFingerprintKernel(1L, Array[Byte](1, 2, 3)).valid)
    // determinism + near-dup structure
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val f00 = Multimodal.audioFingerprintKernel(0L, clip(0, 0))
    assert(f00.valid)
    assert(f00.fp == Multimodal.audioFingerprintKernel(9L, clip(0, 0)).fp)
    val f01 = Multimodal.audioFingerprintKernel(1L, clip(0, 1))
    assert(ham(f00.fp, f01.fp) > 0 && ham(f00.fp, f01.fp) <= 4,
      s"variant hamming ${ham(f00.fp, f01.fp)}")
    val fOther = Multimodal.audioFingerprintKernel(2L, clip(1, 0))
    assert(ham(f00.fp, fOther.fp) > 4, s"cross ${ham(f00.fp, fOther.fp)}")
    // blocking recall: chunked pairs == brute-force pairs on 40 clips
    val fps = (0L until 40L).map(id =>
      id -> Multimodal.audioFingerprintKernel(id, clip(id / 2, id % 2)).fp)
    val brute = (for {
      (a, fa) <- fps; (b, fb) <- fps
      if a < b && ham(fa, fb) <= 4
    } yield (a, b)).toSet
    val blocked = Dedup.fingerprintHammingPairs(
        fps.toDF("id", "fp"), maxHamming = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(blocked == brute,
      s"missed ${brute -- blocked}, extra ${blocked -- brute}")
    assert(brute.size >= 20) // every same-group pair is in
  }

  test("semanticContamination flags near-probe docs with argmax-probe " +
    "evidence and leaves unrelated docs alone") {
    val probes = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),  // near-twin of probe 0
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val docs = Seq(
      (10L, Seq(0.99f, 0.02f, 0.0f, 0.0f)), // contaminated vs probes 0+1
      (11L, Seq(0.0f, 0.0f, 1.0f, 0.0f))    // unrelated
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticContamination(docs, probes, "vec_id",
        "embedding", threshold = 0.9)
      .as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._1).toSet == Set(10L), out.mkString(","))
    val (_, probeId, maxCos, nHits) = out.head
    assert(nHits == 2L)            // both direction-A probes hit
    assert(maxCos > 0.99)
    // argmax cosine picks the closer probe; doc 10 leans toward probe 1
    // (its small y component matches probe 1's tilt)
    assert(probeId == 1L, out.mkString(","))
  }

  test("dsirSelect weighs docs toward the target vocabulary and keeps a " +
    "deterministic top-k") {
    // target exemplars (ids 0-2) speak "physics"; raw pool: ids 10-11
    // physics-like, ids 12-14 cooking-like, id 15 empty
    val docs = Seq(
      (0L, "quark lepton boson quark field", true),
      (1L, "boson field quark lepton lepton", true),
      (2L, "field quark boson lepton quark", true),
      (10L, "quark boson field lepton", false),
      (11L, "lepton quark quark boson", false),
      (12L, "butter flour sugar eggs salt", false),
      (13L, "sugar butter salt flour cream", false),
      (14L, "flour eggs cream sugar butter", false),
      (15L, "", false)
    ).toDF("doc_id", "text", "is_t")
    val out = Sampling.dsirSelect(docs, "doc_id", "text", col("is_t"),
        numBuckets = 32, k = 5)
      .as[(Long, Double, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out.keySet == (Set(0L, 1L, 2L) ++ Set(10L, 11L, 12L, 13L, 14L, 15L)))
    // physics-vocabulary docs weigh higher than cooking ones
    assert(Seq(10L, 11L).forall(p =>
      Seq(12L, 13L, 14L).forall(c => out(p)._1 > out(c)._1)), out.toString)
    // the empty doc weighs exactly 0
    assert(out(15L)._1 == 0.0)
    // top-5: the 3 targets + the 2 physics-like raw docs
    assert(out.filter(_._2._2 == 1).keySet == Set(0L, 1L, 2L, 10L, 11L),
      out.toString)
    assert(out.count(_._2._2 == 1) == 5)
    // Gumbel resampling: deterministic in the seed (two runs agree),
    // exposes the perturbed key, still selects exactly k
    val g1 = Sampling.dsirSelect(docs, "doc_id", "text", col("is_t"),
        numBuckets = 32, k = 5, gumbelSeed = Some(7))
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1).toSeq
    val g2 = Sampling.dsirSelect(docs, "doc_id", "text", col("is_t"),
        numBuckets = 32, k = 5, gumbelSeed = Some(7))
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1).toSeq
    assert(g1 == g2)
    assert(g1.count(_._4 == 1) == 5)
    // a different seed perturbs differently
    val g3 = Sampling.dsirSelect(docs, "doc_id", "text", col("is_t"),
        numBuckets = 32, k = 5, gumbelSeed = Some(8))
      .as[(Long, Double, Double, Int)].collect().sortBy(_._1).toSeq
    assert(g1.map(_._3) != g3.map(_._3))
  }

  test("redactPii replaces every pattern and counts match") {
    val df = Seq(Tuple1(
      "mail a.b+c@ex-amp.le.org see https://x.io/p?q=1 call +44 20 7946 0958 host 192.168.0.1 done"))
      .toDF("text")
    val out = df.select(
      TextAnalysis.redactPii(col("text")).as("r"),
      struct(TextAnalysis.piiCounts(col("text")): _*).as("c"))
      .select("r", "c.n_email", "c.n_url", "c.n_phone", "c.n_ip")
      .as[(String, Int, Int, Int, Int)].collect().head
    assert(out._1 ==
      "mail <EMAIL> see <URL> call <PHONE> host <IP> done", out._1)
    assert((out._2, out._3, out._4, out._5) == ((1, 1, 1, 1)))
  }

  test("semanticDedup mega-cluster guard: bounded blocks, same drops on " +
      "true duplicates, audited oversized cluster") {
    // skewed SemDedup fixture: 86% of rows (ids 0,2..40 plus the 20
    // duplicates 100..119) land in ONE kmeans cluster — a [-1,1]^8 ball
    // around the origin, far from the other cluster's ball at
    // (10,...,10) (ids 1,50..58) — so the size skew is guaranteed by
    // geometry, not tuned. Random directions inside the mega ball spread
    // its rows across SRP buckets; ids 100..119 are byte-identical
    // copies of ids 2..21 (the TRUE duplicates the guard must still
    // catch — identical vectors share every bucket).
    def coord(id: Long, d: Int): Float =
      (((((id + 7) * 2654435761L + d * 97) % 2001) - 1000) / 1000.0).toFloat
    def aVec(id: Long) = (0 until 8).map(d => coord(id, d))
    def bVec(id: Long) = (0 until 8).map(d => 10.0f + coord(id, d) * 0.1f)
    val rows =
      (Seq(0L) ++ (2L to 40L)).map(id => (id, aVec(id))) ++
        (100L to 119L).map(id => (id, aVec(id - 98))) ++ // dup of 2..21
        (Seq(1L) ++ (50L to 58L)).map(id => (id, bVec(id)))
    val emb = rows.toDF("vec_id", "embedding")
    def run(maxBlock: Int) =
      Dedup.semanticDedup(emb, "vec_id", "embedding", k = 2, iters = 2,
          threshold = 0.999, maxBlock = maxBlock, numPlanes = 8, tables = 4)
        .as[(Long, Int, Int)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
    val exact = run(maxBlock = 1000) // guard never triggers
    val guarded = run(maxBlock = 20) // the 60-row cluster goes SRP
    // identical vectors hash to identical buckets in every table, so the
    // guarded path finds every true-duplicate drop the exact path found
    assert(guarded == exact, s"guarded=$guarded\nexact=$exact")
    assert((100L to 119L).forall(id => guarded(id)._2 == 0))
    val megaCluster = guarded(0L)._1
    assert(rows.count { case (id, _) => guarded(id)._1 == megaCluster } == 60)
    // the whole point of the guard: within the mega cluster, SRP
    // sub-blocking scores FAR fewer candidate pairs than all-pairs
    val megaVecs = rows.filter { case (id, _) => guarded(id)._1 == megaCluster }
    val candidates = megaVecs.flatMap { case (id, v) =>
      Similarity.srpBucketsKernel(v, 8, 4).zipWithIndex
        .map { case (b, t) => (t, b, id) }
    }.groupBy(c => (c._1, c._2)).values.flatMap { grp =>
      for (a <- grp; b <- grp if a._3 < b._3) yield (a._3, b._3)
    }.toSet
    val allPairs = megaVecs.size * (megaVecs.size - 1) / 2
    assert(candidates.size < allPairs / 2,
      s"${candidates.size} candidates vs $allPairs all-pairs")
    // no-silent-caps: the audit frame names the oversized cluster —
    // 60 raw rows but 40 distinct-vector reps (ids 100..119 duplicate
    // 2..21), and oversized is judged on the reps the pair scan holds
    val audit = Dedup.semanticDedupOversized(emb, "vec_id", "embedding",
        k = 2, iters = 2, maxBlock = 20)
      .as[(Int, Long, Long, Int)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(audit(megaCluster) == ((60L, 40L, 1)), audit.toString)
    assert(audit(1 - megaCluster) == ((10L, 10L, 0)), audit.toString)
  }

  test("semanticDedup exact-duplicate collapse: duplicate-heavy input " +
      "matches the all-pairs reference; zero-norm copies never collapse") {
    // 6 distinct base vectors; vector 0 is duplicated 30x (the mass
    // bucketing cannot split), plus two zero vectors
    def vec(seed: Int): Seq[Float] =
      (0 until 8).map(d => (((seed * 31 + d * 7) % 13) - 6) / 6.0f)
    val rows =
      (0L to 29L).map(id => (id, vec(0))) ++               // mega dup group
        (30L to 34L).map(id => (id, vec(id.toInt - 29))) ++ // distinct tail
        Seq((40L, Seq.fill(8)(0f)), (41L, Seq.fill(8)(0f))) // zero-norm pair
    val emb = rows.toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.95, maxBlock = 4)
      .as[(Long, Int, Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // brute-force reference of the SEMANTIC contract under the ENGINE's
    // comparison semantics: drop b iff some a<b in the same cluster has
    // cosine >= threshold, where SQL orders NaN ABOVE every value (so a
    // NaN cosine satisfies >= t — Spark and DuckDB agree; Java's `>=`
    // does not, hence the explicit isNaN arm)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    def engineGe(c: Double, t: Double): Boolean = c.isNaN || c >= t
    val byId = rows.toMap
    for ((id, (cl, keep)) <- out) {
      val expectDrop = rows.exists { case (a, av) =>
        a < id && out(a)._1 == cl && engineGe(cos(av, byId(id)), 0.95) }
      assert(keep == (if (expectDrop) 0 else 1),
        s"id=$id cluster=$cl keep=$keep expectDrop=$expectDrop")
    }
    // the mega group kept exactly its min id
    assert(out(0L)._2 == 1 && (1L to 29L).forall(out(_)._2 == 0))
    // zero-norm copies have cosine 0 against everything, both kept
    assert(out(40L)._2 == 1 && out(41L)._2 == 1)

    // NaN-carrying copies: under SQL NaN ordering their cosine clears
    // any threshold, so the non-min copy drops — by the pair scan, and
    // IDENTICALLY by the collapse (which therefore need not exempt them;
    // use exact all-pairs so the candidate is guaranteed)
    val nanRows = rows ++ Seq(
      (50L, Seq(1f, Float.NaN, 0f, 0f, 0f, 0f, 0f, 0f)),
      (51L, Seq(1f, Float.NaN, 0f, 0f, 0f, 0f, 0f, 0f)))
    val nanById = nanRows.toMap
    for (collapseOn <- Seq(true, false)) {
      val nanOut = Dedup.semanticDedup(nanRows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", k = 2, iters = 2, threshold = 0.95,
          maxBlock = 1000, collapseExactDups = collapseOn)
        .as[(Long, Int, Int)].collect()
        .map(t => t._1 -> (t._2, t._3)).toMap
      for ((id, (cl, keep)) <- nanOut) {
        val expectDrop = nanRows.exists { case (a, av) =>
          a < id && nanOut(a)._1 == cl &&
            engineGe(cos(av, nanById(id)), 0.95) }
        assert(keep == (if (expectDrop) 0 else 1),
          s"collapse=$collapseOn id=$id keep=$keep expect=$expectDrop")
      }
    }

    // collapseExactDups=false really skips the collapse machinery: the
    // executed plan has NO window, and dup copies survive to the pair
    // scan (still dropped there — by cosine, not by the collapse)
    val off = Dedup.semanticDedup(emb, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.95, maxBlock = 1000,
      collapseExactDups = false)
    assert(!off.queryExecution.executedPlan.toString.contains("Window"))
    val offOut = off.as[(Long, Int, Int)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(offOut(0L) == 1 && (1L to 29L).forall(offOut(_) == 0))
  }
}
