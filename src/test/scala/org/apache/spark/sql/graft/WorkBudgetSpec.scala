package org.apache.spark.sql.graft

import graft.{PipelineEquivalenceSpec, Pipelines, SparkEntry, SparkTestBase}

/** Registry rows held to a work budget at sf0.01: each row's Spark jobs
  * at most its recorded count, and its shuffle-write bytes at most a
  * recorded ceiling (the figure measured when the ceiling was set, plus
  * 10 %); and one corpus build over a large copy cluster, held the same
  * way to its shuffle-write records and operator output rows. Raising a
  * ceiling needs a reason in CHANGES.md; the counters move little if at
  * all between runs, so this catches the regressions wall-time noise
  * hides. */
class WorkBudgetSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.01"

  /** Row -> (jobs, shuffle-write bytes ceiling). */
  private val budget: Seq[(String, (Long, Long))] = Seq(
    "ir_bm25_topk" -> (13L, 7_200L),
    "ir_bm25_indexed" -> (21L, 311_000L),
    "ir_hybrid_rrf" -> (18L, 11_700L),
    "pipe_clean_corpus" -> (7L, 46_700L),
    "pipe_training_corpus" -> (9L, 52_400L),
    "pipe_html_corpus" -> (7L, 46_500L),
    "pipe_c4_corpus" -> (10L, 370_300L),
    "pipe_pretrain_corpus" -> (29L, 456_700L),
    "pipe_pretrain_tokenized" -> (52L, 477_000L),
    "gr_hyperball_nf_incremental" -> (102L, 1_310_900L),
    "gr_hyperball_nf_incremental_adaptive" -> (134L, 2_539_200L),
    "st_hyperball_atrest" -> (96L, 531_200L),
    "gr_hyperball_nf_adaptive" -> (20L, 1_266_200L))

  for ((row, (jobs, bytes)) <- budget)
    test(s"$row stays within $jobs jobs and $bytes shuffle-write bytes") {
      // a plan another spec left cached would turn a job into a cache read
      spark.catalog.clearCache()
      val got = WorkCounter.work(spark.sparkContext) {
        SparkEntry.queries(row)(spark, dir).collect()
      }
      info(s"$row ran $got")
      assert(got.jobs <= jobs && got.bytes <= bytes,
        s"$row ran $got; budget $jobs jobs, $bytes bytes")
    }

  // 1,300 documents, 1,000 of them copies of one text and 100 tokenless
  // texts of one signature. Banding the copies with each other would
  // join 8 * m(m-1)/2 candidate pairs, some 4 million rows, in stages
  // whose shuffles stay small; the operators' output rows show it
  test("a large copy cluster costs a few operator rows and shuffle " +
    "records per document, not its pairs") {
    import spark.implicits._
    val docs = PipelineEquivalenceSpec.copyClusterDocs
      .toDF("doc_id", "source", "text")
    var got: Work = null
    val rows = WorkCounter.operatorRows(spark.sparkContext) {
      got = WorkCounter.work(spark.sparkContext) {
        Pipelines.buildCleanCorpus(docs, 0.0, "und").collect()
      }
    }
    info(s"ran $got, $rows operator output rows")
    assert(got.records <= 2_640L && rows <= 13_400L, s"ran $got, $rows rows")
  }
}
