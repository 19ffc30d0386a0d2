package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators.ConnectedComponents

case class Edge(src: Long, dst: Long)

class CcStreamSpec extends SparkTestBase {
  import spark.implicits._

  // initial components {5,6} and {9,10}; batch1 bridges them and adds a
  // fresh pair {1,2}; batch2 merges the fresh pair into the rest (the
  // alias-remap case: 9→5 must follow 5 into the final min-1 component)
  private val initial = Seq(Edge(5L, 6L), Edge(9L, 10L))
  private val batch1 = Seq(Edge(5L, 9L), Edge(1L, 2L))
  private val batch2 = Seq(Edge(2L, 6L))

  private def labelsOf(base: String, alias: String): Map[Long, Long] =
    ConnectedComponents.resolveLabels(
        spark.table(base), spark.table(alias))
      .as[(Long, Long)].collect().toMap

  test("foreachBatch CC ingest equals the batch-sequenced fold and the " +
    "from-scratch rebuild; tables end at the folded state") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cc_stream").toString
    val (bTbl, aTbl) = ("cc_stream_spec_base", "cc_stream_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)

    val mem = MemoryStream[Edge]
    val q = CcStream.run(mem.toDF(), "src", "dst", bTbl, aTbl,
      s"$dir/ckpt")
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = labelsOf(bTbl, aTbl)
    val folded = ConnectedComponents.incrementalFold(initial.toDF(),
        Seq(batch1.toDF(), batch2.toDF()))
      .as[(Long, Long)].collect().toMap
    val rebuilt = ConnectedComponents.run(
        (initial ++ batch1 ++ batch2).toDF())
      .as[(Long, Long)].collect().toMap
    assert(streamed == folded && folded == rebuilt, streamed.toString)
    assert(streamed.values.toSet == Set(1L))
    // base stayed append-only: first labels survive (5/6 keep 5, 9/10
    // keep 9); the merges live in the alias, which stays FLAT
    val baseEnd = spark.table(bTbl).as[(Long, Long)].collect().toMap
    assert(baseEnd(6L) == 5L && baseEnd(10L) == 9L)
    val aliasEnd = spark.table(aTbl).as[(Long, Long)].collect().toMap
    assert(!aliasEnd.values.exists(aliasEnd.contains), // one hop resolves
      aliasEnd.toString)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("compaction folds the alias into the base: labels unchanged, " +
    "alias empty, bucketing kept, ingest resumes") {
    val dir = java.nio.file.Files.createTempDirectory("cc_compact").toString
    val (bTbl, aTbl) = ("cc_compact_spec_base", "cc_compact_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base0")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    CcStream.ingestBatch(batch1.toDF(), "src", "dst", bTbl, aTbl)
    assert(spark.table(aTbl).count() > 0) // merges happened: alias live
    val before = labelsOf(bTbl, aTbl)
    CcStream.compact(spark, bTbl, aTbl, s"$dir/base1")
    assert(labelsOf(bTbl, aTbl) == before)       // resolution preserved
    assert(spark.table(aTbl).count() == 0L)      // alias folded away
    // base rows now carry their RESOLVED labels directly
    assert(spark.table(bTbl).as[(Long, Long)].collect().toMap == before)
    // the swapped-in table is still bucketed by node (the probe layout)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bTbl)).bucketSpec
    assert(spec.exists(_.bucketColumnNames == Seq("node")), spec.toString)
    // ingest keeps working against the compacted state, matching the
    // from-scratch rebuild over everything seen so far
    CcStream.ingestBatch(batch2.toDF(), "src", "dst", bTbl, aTbl)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("compaction recovers from its one dangerous crash window (base " +
    "dropped, rename pending) on the next call") {
    val dir = java.nio.file.Files.createTempDirectory("cc_recover").toString
    val (bTbl, aTbl) = ("cc_recover_spec_base", "cc_recover_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS ${bTbl}_compacting")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base0")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    CcStream.ingestBatch(batch1.toDF(), "src", "dst", bTbl, aTbl)
    val want = labelsOf(bTbl, aTbl)
    // simulate the crash: the resolved rewrite landed fully in the
    // _compacting table and the old base was dropped, but the rename
    // never ran
    CcStream.writeCcBase(
      ConnectedComponents.resolveLabels(
        spark.table(bTbl), spark.table(aTbl)).localCheckpoint(true),
      s"${bTbl}_compacting", s"$dir/base1")
    spark.sql(s"DROP TABLE $bTbl")
    assert(CcStream.compactNeedsRecovery(spark, bTbl))
    // the next compact completes the swap instead of failing on the
    // missing base
    CcStream.compact(spark, bTbl, aTbl, s"$dir/base2")
    assert(!CcStream.compactNeedsRecovery(spark, bTbl))
    assert(labelsOf(bTbl, aTbl) == want)
    assert(spark.table(aTbl).count() == 0L)
    // ingest continues against the recovered state
    CcStream.ingestBatch(batch2.toDF(), "src", "dst", bTbl, aTbl)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("auto-compaction: a merge-heavy stream compacts mid-run when the " +
    "alias crosses the threshold and still equals the rebuild") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cc_auto").toString
    val (bTbl, aTbl) = ("cc_auto_spec_base", "cc_auto_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    // 8 disjoint pairs, then batches that chain-merge them one link at
    // a time — every batch is a merge, so the alias grows steadily
    val pairs = (0L until 8L).map(i => Edge(2 * i, 2 * i + 1))
    val links = (0L until 7L).map(i => Edge(2 * i + 1, 2 * i + 2))
    val base0 = ConnectedComponents.run(pairs.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base0")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    val mem = MemoryStream[Edge]
    val q = CcStream.run(mem.toDF(), "src", "dst", bTbl, aTbl,
      s"$dir/ckpt", compactAliasThreshold = 3L,
      compactPathFor = g => s"$dir/compact_gen$g")
    try {
      links.foreach { e => mem.addData(e); q.processAllAvailable() }
    } finally q.stop()
    // the threshold tripped mid-run: the alias holds fewer rows than
    // the 7 merges performed, and labels equal the from-scratch rebuild
    assert(spark.table(aTbl).count() < 7L)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((pairs ++ links).toDF())
        .as[(Long, Long)].collect().toMap)
    assert(labelsOf(bTbl, aTbl).values.toSet == Set(0L))
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("auto-compaction survives a streaming-query RESTART: the reset " +
    "generation counter skips the live base's path and compacts to the " +
    "next fresh generation instead of wedging the query") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cc_restart")
      .toString
    val (bTbl, aTbl) = ("cc_restart_spec_base", "cc_restart_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val pairs = (0L until 8L).map(i => Edge(2 * i, 2 * i + 1))
    val links = (0L until 7L).map(i => Edge(2 * i + 1, 2 * i + 2))
    val base0 = ConnectedComponents.run(pairs.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base0")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    def runStream(edges: Seq[Edge], ckpt: String): Unit = {
      val mem = MemoryStream[Edge]
      // threshold 5 over 7 merge batches → exactly ONE compaction per
      // run, so the second run's first trip lands with generation == 0
      // while the live base already sits at compactPathFor(0)
      val q = CcStream.run(mem.toDF(), "src", "dst", bTbl, aTbl,
        s"$dir/$ckpt", compactAliasThreshold = 5L,
        compactPathFor = g => s"$dir/compact_gen$g")
      try {
        edges.foreach { e => mem.addData(e); q.processAllAvailable() }
      } finally q.stop()
    }
    runStream(links, "ckpt1")
    val locAfter1 = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bTbl)).location.getPath
    assert(locAfter1.endsWith("compact_gen0"), locAfter1)
    // second incarnation, SAME arguments — the natural redeploy shape;
    // its in-memory generation restarts at 0
    val pairs2 = (8L until 16L).map(i => Edge(2 * i, 2 * i + 1))
    val links2 = (8L until 15L).map(i => Edge(2 * i + 1, 2 * i + 2))
    runStream(pairs2 ++ links2, "ckpt2")
    val locAfter2 = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bTbl)).location.getPath
    // the restarted run's first trip fired with generation == 0 while
    // the live base sat at compact_gen0 — the skip must have moved it
    // to a LATER generation (alias growth per merge varies, so the
    // exact count doesn't matter; never gen0 again is the contract)
    assert(locAfter2.matches(".*compact_gen[1-9]\\d*") &&
      locAfter2 != locAfter1, locAfter2)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run(
          (pairs ++ links ++ pairs2 ++ links2).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("a compaction write crash BEFORE catalog registration leaves " +
    "compactNeedsRecovery false and the live base untouched") {
    val dir = java.nio.file.Files.createTempDirectory("cc_precrash")
      .toString
    val (bTbl, aTbl) = ("cc_precrash_spec_base", "cc_precrash_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base0")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    CcStream.ingestBatch(batch1.toDF(), "src", "dst", bTbl, aTbl)
    val want = labelsOf(bTbl, aTbl)
    // saveAsTable registers the catalog entry only after the write
    // completes, so a mid-write crash leaves FILES but no table — pin
    // that shape: parquet data at the crashed compact's target path,
    // no `_compacting` entry
    ConnectedComponents.resolveLabels(
        spark.table(bTbl), spark.table(aTbl))
      .localCheckpoint(true)
      .write.mode("overwrite").parquet(s"$dir/crashed_gen1")
    assert(!CcStream.compactNeedsRecovery(spark, bTbl))
    // ingest proceeds against the untouched live base (no recovery ran)
    CcStream.ingestBatch(batch2.toDF(), "src", "dst", bTbl, aTbl)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    // a re-run compact to a FRESH path succeeds; the stale files from
    // the crashed attempt are storage-lifecycle garbage, never read
    CcStream.compact(spark, bTbl, aTbl, s"$dir/gen2")
    assert(spark.table(aTbl).count() == 0L)
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    // the guard refuses the live path itself (the freshness contract
    // that makes "fresh path per compact" enforced, not advisory)
    val liveLoc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bTbl)).location
    val err = intercept[IllegalArgumentException] {
      CcStream.compact(spark, bTbl, aTbl,
        new java.io.File(liveLoc).getPath)
    }
    assert(err.getMessage.contains("FRESH"))
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("a replayed CC micro-batch is idempotent: base and alias tables " +
    "unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("cc_replay").toString
    val (bTbl, aTbl) = ("cc_replay_spec_base", "cc_replay_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    def state() = (
      spark.table(bTbl).as[(Long, Long)].collect().sorted.toSeq,
      spark.table(aTbl).as[(Long, Long)].collect().sorted.toSeq)
    CcStream.ingestBatch(batch1.toDF(), "src", "dst", bTbl, aTbl)
    val afterFirst = state()
    CcStream.ingestBatch(batch1.toDF(), "src", "dst", bTbl, aTbl)
    assert(state() == afterFirst)
    // and the labels are correct after the replay
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }

  test("a CC batch releases every frame it pins and returns the size of " +
    "the alias it wrote") {
    val dir = java.nio.file.Files.createTempDirectory("cc_release").toString
    val (bTbl, aTbl) = ("cc_release_spec_base", "cc_release_spec_alias")
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
    val base0 = ConnectedComponents.run(initial.toDF())
    CcStream.writeCcBase(base0, bTbl, s"$dir/base")
    base0.select($"component".as("c"), $"component".as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/alias").saveAsTable(aTbl)
    for (b <- Seq(batch1, batch2)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val aliasRows =
        CcStream.ingestBatch(b.toDF(), "src", "dst", bTbl, aTbl)
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.isEmpty, s"batch left RDDs pinned: $pinned")
      assert(aliasRows == spark.table(aTbl).count())
    }
    assert(labelsOf(bTbl, aTbl) ==
      ConnectedComponents.run((initial ++ batch1 ++ batch2).toDF())
        .as[(Long, Long)].collect().toMap)
    spark.sql(s"DROP TABLE IF EXISTS $bTbl")
    spark.sql(s"DROP TABLE IF EXISTS $aTbl")
  }
}
