package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.HyperBall

class HbStreamSpec extends SparkTestBase {
  import spark.implicits._

  // the ring+chords graph of the in-memory incremental spec, split the
  // same three-way; every leg compares against the FULL-corpus rebuild
  private val ring = (0L to 11L).map(i => (i, (i + 1) % 12))
  private val chords = Seq((0L, 6L), (2L, 9L), (4L, 10L), (1L, 7L))
  private val all = ring ++ chords
  private val initial = all.filter(p => (p._1 + p._2) % 3 != 0)
  private val b1 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 0)
  private val b2 = all.filter(p => (p._1 + p._2) % 3 == 0 && p._1 % 2 == 1)

  private def bidir(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("src", "dst")
    e.union(e.select($"dst".as("src"), $"src".as("dst")))
  }
  private def bidirSeq(pairs: Seq[(Long, Long)]): Seq[Edge] =
    (pairs ++ pairs.map(p => (p._2, p._1))).map(p => Edge(p._1, p._2))

  private def nf(df: DataFrame): Seq[(Int, Double, Double)] =
    df.as[(Int, Double, Double)].collect().sortBy(_._1).toSeq

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  test("foreachBatch HyperBall ingest against standing tables equals " +
    "the in-memory fold and the from-scratch rebuild, for NF and " +
    "harmonic alike") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("hb_stream")
    HbStream.init(bidir(initial), "hb_stream_spec", s"$dir/gen0",
      maxHops = 3, p = 6)
    val mem = MemoryStream[Edge]
    val q = HbStream.run(mem.toDF(), "hb_stream_spec", s"$dir/ckpt")
    try {
      mem.addData(bidirSeq(b1): _*); q.processAllAvailable()
      mem.addData(bidirSeq(b2): _*); q.processAllAvailable()
    } finally q.stop()
    val want = nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 3))
    val folded = nf(HyperBall.hyperBallNeighborhoodIncremental(
      bidir(initial), Seq(bidir(b1), bidir(b2)), maxHops = 3))
    val streamed = nf(HbStream.neighborhoodFunction(spark, "hb_stream_spec"))
    assert(streamed == folded && folded == want,
      s"streamed $streamed fold $folded rebuild $want")
    // harmonic off the SAME standing tables == the packed rebuild
    val hWant = HyperBall.hyperBallPacked(bidir(all), maxHops = 3)
      .as[(Long, Double)].collect().toMap
    assert(HbStream.harmonic(spark, "hb_stream_spec")
      .as[(Long, Double)].collect().toMap == hWant)
    dropFamily("hb_stream_spec")
  }

  test("compaction max-merges each hop to one frame and dedups edges: " +
    "resolution unchanged, bucketing kept, ingest resumes; a replayed " +
    "batch appends no register frame") {
    val dir = tmpDir("hb_compact")
    HbStream.init(bidir(initial), "hb_compact_spec", s"$dir/gen0",
      maxHops = 3, p = 6)
    HbStream.ingestBatch(bidir(b1), "hb_compact_spec")
    val before = nf(HbStream.neighborhoodFunction(spark, "hb_compact_spec"))
    def regFiles(h: Int): Long =
      spark.table(s"hb_compact_spec_regs_h$h")
        .select(input_file_name()).distinct().count()
    val filesBefore = regFiles(1)
    // replay: no register grows, so no hop table gains a file (the
    // edge table does re-append — harmless, deduped below)
    HbStream.ingestBatch(bidir(b1), "hb_compact_spec")
    assert(regFiles(1) == filesBefore, "replay must append no frame")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_compact_spec"))
      == before)
    val edgeRowsDuped = spark.table("hb_compact_spec_edges").count()
    HbStream.compact(spark, "hb_compact_spec", s"$dir/gen1")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_compact_spec"))
      == before, "compaction must not change resolution")
    // each hop holds ONE frame's worth of files now (<= bucket count,
    // one write), and the edge dup from the replay is gone
    for (h <- 0 to 3) assert(regFiles(h) <= 8, s"hop $h not compacted")
    assert(spark.table("hb_compact_spec_edges").count() < edgeRowsDuped)
    assert(spark.table("hb_compact_spec_edges").count() ==
      bidir(initial).unionByName(bidir(b1)).distinct().count())
    // the swapped-in tables keep the probe layout
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "hb_compact_spec_regs_h2")).bucketSpec
    assert(spec.exists(_.bucketColumnNames == Seq("node")), spec.toString)
    // ingest keeps working against the compacted state
    HbStream.ingestBatch(bidir(b2), "hb_compact_spec")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_compact_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 3)))
    dropFamily("hb_compact_spec")
  }

  test("compaction recovers a DROP-to-RENAME crash on the next entry, " +
    "refuses a stale (non-fresh) target path, and a pre-registration " +
    "write crash leaves the live tables untouched") {
    val dir = tmpDir("hb_recover")
    HbStream.init(bidir(initial), "hb_recover_spec", s"$dir/gen0",
      maxHops = 2, p = 6)
    HbStream.ingestBatch(bidir(b1), "hb_recover_spec")
    val want = nf(HbStream.neighborhoodFunction(spark, "hb_recover_spec"))
    // simulate the crash: hop 1's rewrite landed fully in _compacting
    // and the live table was dropped, but the rename never ran
    val mergeRegs = udaf(new graft.operators.RegisterMaxMerge(64))
    spark.table("hb_recover_spec_regs_h1")
      .groupBy($"node").agg(mergeRegs($"regs").as("regs"))
      .localCheckpoint(true)
      .write.mode("overwrite").format("parquet")
      .option("path", s"$dir/crash/regs_h1")
      .bucketBy(8, "node").sortBy("node")
      .saveAsTable("hb_recover_spec_regs_h1_compacting")
    spark.sql("DROP TABLE hb_recover_spec_regs_h1")
    assert(HbStream.compactNeedsRecovery(spark, "hb_recover_spec"))
    // ingest recovers on entry and folds correctly afterwards
    HbStream.ingestBatch(bidir(b2), "hb_recover_spec")
    assert(!HbStream.compactNeedsRecovery(spark, "hb_recover_spec"))
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_recover_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 2)))
    // a compact aimed at a LIVE table's current path must refuse
    // up-front (the freshness guard), leaving everything intact
    val liveLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "hb_recover_spec_regs_h0")).location
    val err = intercept[IllegalArgumentException] {
      HbStream.compact(spark, "hb_recover_spec",
        new java.io.File(liveLoc).getParent)
    }
    assert(err.getMessage.contains("FRESH"))
    val afterRefuse = nf(
      HbStream.neighborhoodFunction(spark, "hb_recover_spec"))
    assert(afterRefuse ==
      nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 2)))
    // pre-registration crash shape: rewrite FILES exist at some path
    // but no _compacting catalog entry was ever made — not a recovery
    // state, the live tables serve reads, and a later compact to a
    // fresh path succeeds
    spark.table("hb_recover_spec_regs_h0").write.mode("overwrite")
      .parquet(s"$dir/stale_files/regs_h0")
    assert(!HbStream.compactNeedsRecovery(spark, "hb_recover_spec"))
    HbStream.compact(spark, "hb_recover_spec", s"$dir/gen2")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_recover_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(all), maxHops = 2)))
    dropFamily("hb_recover_spec")
  }

  test("auto-compaction: a long merge-heavy stream compacts mid-run on " +
    "the batch cadence and still equals the rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("hb_auto")
    // a growing chain arriving in 6 single-edge batches: every batch
    // changes registers at every hop, so frames accumulate fast
    val chain = (0L until 8L).map(i => (i, i + 1))
    HbStream.init(bidir(chain.take(2)), "hb_auto_spec", s"$dir/gen0",
      maxHops = 2, p = 6)
    val mem = MemoryStream[Edge]
    val q = HbStream.run(mem.toDF(), "hb_auto_spec", s"$dir/ckpt",
      compactEvery = 2, compactPathFor = g => s"$dir/compact_gen$g")
    try {
      chain.drop(2).foreach { e =>
        mem.addData(bidirSeq(Seq(e)): _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    // 6 batches at compactEvery=2 → 3 compactions ran; the last lands
    // after the final batch, so every hop is one frame's files
    val files = spark.table("hb_auto_spec_regs_h1")
      .select(input_file_name()).distinct().count()
    assert(files <= 8, s"expected compacted hop table, got $files files")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_auto_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(chain), maxHops = 2)))
    dropFamily("hb_auto_spec")
  }

  test("auto-compaction survives a streaming-query RESTART: the reset " +
    "generation counter skips the path the live tables occupy") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("hb_restart")
    val chain = (0L until 8L).map(i => (i, i + 1))
    HbStream.init(bidir(chain.take(2)), "hb_restart_spec", s"$dir/gen0",
      maxHops = 2, p = 6)
    def runStream(edges: Seq[(Long, Long)], ckpt: String): Unit = {
      val mem = MemoryStream[Edge]
      // compactEvery 2 over 2 batches → exactly ONE compaction per
      // run; the second run's trip lands with generation == 0 while
      // the live tables already sit under compactPathFor(0)
      val q = HbStream.run(mem.toDF(), "hb_restart_spec", s"$dir/$ckpt",
        compactEvery = 2, compactPathFor = g => s"$dir/compact_gen$g")
      try {
        edges.foreach { e =>
          mem.addData(bidirSeq(Seq(e)): _*)
          q.processAllAvailable()
        }
      } finally q.stop()
    }
    runStream(chain.slice(2, 4), "ckpt1")
    runStream(chain.slice(4, 6), "ckpt2") // restart, same arguments
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "hb_restart_spec_regs_h0")).location.getPath
    assert(loc.contains("compact_gen1"), loc)
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_restart_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(chain.take(6)), maxHops = 2)))
    dropFamily("hb_restart_spec")
  }

  test("adaptive NF off the standing tables grows hop tables lazily " +
    "and equals the full-corpus adaptive rebuild, before and after " +
    "compaction") {
    val dir = tmpDir("hb_adaptive")
    // ring+chords, three-way split: init with ONE maintained hop, fold
    // both batches, then the adaptive read must extend the state and
    // match the rebuild term for term
    HbStream.init(bidir(initial), "hb_adapt_spec", s"$dir/gen0",
      maxHops = 1, p = 6)
    HbStream.ingestBatch(bidir(b1), "hb_adapt_spec")
    HbStream.ingestBatch(bidir(b2), "hb_adapt_spec")
    for ((cap, eps) <- Seq((5, 0.05), (8, 0.30), (2, 0.05))) {
      val want = nf(HyperBall.hyperBallNeighborhoodAdaptive(
        bidir(all), hopCap = cap, epsilon = eps))
      val got = nf(HbStream.neighborhoodFunctionAdaptive(spark,
        "hb_adapt_spec", s"$dir/grow", hopCap = cap, epsilon = eps))
      assert(got == want, s"cap=$cap eps=$eps: tables $got != rebuild $want")
    }
    // the grown hops are recorded in the catalog geometry, so the
    // FIXED read path serves them too
    val (_, recorded) = {
      val props = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          "hb_adapt_spec_edges")).properties
      (props("graft.hb.p").toInt, props("graft.hb.maxhops").toInt)
    }
    assert(recorded >= 2, s"growth must update maxhops, got $recorded")
    // compaction folds the grown stacks too; the adaptive read off the
    // compacted state is unchanged
    HbStream.compact(spark, "hb_adapt_spec", s"$dir/gen1")
    assert(nf(HbStream.neighborhoodFunctionAdaptive(spark,
        "hb_adapt_spec", s"$dir/grow2", hopCap = 5)) ==
      nf(HyperBall.hyperBallNeighborhoodAdaptive(bidir(all), hopCap = 5)))
    dropFamily("hb_adapt_spec")

    // a LONG chain folded in batches forces multi-round growth at read
    // time (the initial third saturates at hop 1, the full chain does
    // not); explicit growHop extends one hop and records it
    val chain = (0L until 20L).map(i => (i, i + 1))
    HbStream.init(bidir(chain.filter(_._1 < 7L)), "hb_chain_spec",
      s"$dir/cgen0", maxHops = 1, p = 6)
    HbStream.ingestBatch(
      bidir(chain.filter(p => p._1 >= 7L && p._1 < 14L)), "hb_chain_spec")
    HbStream.ingestBatch(bidir(chain.filter(_._1 >= 14L)), "hb_chain_spec")
    HbStream.growHop(spark, "hb_chain_spec", s"$dir/cgrow")
    assert(spark.catalog.tableExists("hb_chain_spec_regs_h2"))
    assert(nf(HbStream.neighborhoodFunctionAdaptive(spark,
        "hb_chain_spec", s"$dir/cgrow", hopCap = 6)) ==
      nf(HyperBall.hyperBallNeighborhoodAdaptive(bidir(chain), hopCap = 6)))
    dropFamily("hb_chain_spec")

    // an EMPTY family never grows: its ball sums are all 0, where the
    // stop rule cannot fire, so the read emits nothing and writes no
    // hop table past the initial one
    HbStream.init(Seq.empty[(Long, Long)].toDF("src", "dst"),
      "hb_empty_spec", s"$dir/egen0", maxHops = 1, p = 6)
    assert(HbStream.neighborhoodFunctionAdaptive(spark, "hb_empty_spec",
      s"$dir/egrow", hopCap = 5).count() == 0L)
    assert(!spark.catalog.tableExists("hb_empty_spec_regs_h2"))
    dropFamily("hb_empty_spec")
  }

  test("a growth that crashed before its geometry update self-heals: " +
    "reads serve the orphan hop from the catalog and the next growth " +
    "records the actual top") {
    val dir = tmpDir("hb_growcrash")
    HbStream.init(bidir(initial), "hb_grow_spec", s"$dir/gen0",
      maxHops = 1, p = 6)
    HbStream.growHop(spark, "hb_grow_spec", s"$dir/grow")
    // simulate the crash window: the hop-2 table landed but the
    // property update never ran
    spark.sql("ALTER TABLE hb_grow_spec_edges SET TBLPROPERTIES " +
      "('graft.hb.maxhops' = '1')")
    // reads derive the top from the catalog, not the stale property
    assert(HbStream.neighborhoodFunction(spark, "hb_grow_spec")
      .count() == 3L)
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_grow_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(initial), maxHops = 2)))
    // the next growth counts tables, appends hop 3, and records 3 —
    // not stale+1
    HbStream.growHop(spark, "hb_grow_spec", s"$dir/grow")
    assert(spark.catalog.tableExists("hb_grow_spec_regs_h3"))
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        "hb_grow_spec_edges")).properties
    assert(props("graft.hb.maxhops") == "3", props.toString)
    // compaction rewrites every hop the catalog holds, orphan included
    HbStream.compact(spark, "hb_grow_spec", s"$dir/gen1")
    assert(nf(HbStream.neighborhoodFunction(spark, "hb_grow_spec")) ==
      nf(HyperBall.hyperBallNeighborhood(bidir(initial), maxHops = 3)))
    dropFamily("hb_grow_spec")
  }

  private def dropFamily(prefix: String): Unit = {
    var h = 0
    while (spark.catalog.tableExists(s"${prefix}_regs_h$h") ||
        spark.catalog.tableExists(s"${prefix}_regs_h${h}_compacting")) {
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_regs_h$h")
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_regs_h${h}_compacting")
      h += 1
    }
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_edges")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_edges_compacting")
  }
}
