package graft

import org.apache.spark.sql.functions._

/** Physical-plan quality gates: the optimizations SURVEY §4 promises must
  * actually appear in the executed plans (pushdown to the scan, broadcast
  * joins for dims, whole-stage codegen in hot paths). */
class PlanSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // execute THIS plan so AQE finalizes it (codegen spans appear)
    df.queryExecution.executedPlan.toString
  }

  test("s1: filter and projection reach the parquet scan") {
    val p = plan("s1_pushdown_scan")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_quantity,45.0)"), p.take(2000))
    assert(p.contains("IsNotNull(l_shipdate)"))
    // column pruning: ReadSchema restricted to the selected+filter columns
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"))
  }

  test("j3: dimension joins run as broadcast hash joins") {
    val p = plan("j3_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("a1: aggregation pipeline stays in whole-stage codegen") {
    val p = plan("a1_count_by_key")
    // codegen stages render as "*(n)" in the finalized AQE plan string
    assert(p.contains("*(1)"), p.take(2000))
    assert(p.contains("HashAggregate"))
  }

  test("j4: grid self-join plans as an equi-join, not a cartesian product") {
    val p = plan("j4_grid_selfjoin")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("p4: membership filter plans as a semi join") {
    val p = plan("p4_semi_join")
    assert(p.contains("LeftSemi"))
  }

  test("q4: correlated EXISTS decorrelates to a semi join") {
    val p = plan("q4_order_priority")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("line dedup + C4 pipeline: keyed equi-joins only — no window " +
    "over corpus lines, no cartesian, no single-partition funnel") {
    for (q <- Seq("dd_line_dedup", "pipe_c4_corpus", "ds_shard_shuffle")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Exchange SinglePartition"), s"$q: ${p.take(3000)}")
    }
    // the line-dedup first-occurrence agg is a partial-aggregated
    // groupBy, never a per-line window
    assert(!plan("dd_line_dedup").contains("Window"))
    // ds_shard_shuffle's per-shard rank IS a window — partitioned by
    // shard (parallel across shards), which the gate above already
    // proves is not a single-partition funnel
  }

  test("ir retrieval: query side enters by broadcast, ranking is the " +
    "bounded heap — no window, no cartesian, no single-partition funnel") {
    for (q <- Seq("ir_bm25_topk", "ir_bm25_indexed", "ir_phrase_match",
        "ir_hybrid_rrf")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
      // the corpus postings meet the query terms via broadcast hash join
      assert(p.contains("BroadcastHashJoin"), s"$q: ${p.take(3000)}")
    }
    // hybrid fusion ranks through the bounded heap too, and everything
    // after the two k-bounded legs is query-batch-sized
    assert(plan("ir_hybrid_rrf").contains("partial_topkpairs"))
    // bm25's ranking is the k-bounded heap with map-side combine; its only
    // single-partition exchange is the 1-row corpus-stats aggregate
    val bm = plan("ir_bm25_topk")
    assert(bm.contains("partial_topkpairs"), bm.take(3000))
    // phrase match has no 1-row stats frame: nothing nested-loops and
    // nothing funnels to one partition
    val ph = plan("ir_phrase_match")
    assert(!ph.contains("BroadcastNestedLoopJoin"), ph.take(3000))
    assert(!ph.contains("Exchange SinglePartition"), ph.take(3000))
    // the standing-index variant prunes the postings scan to the query
    // terms' partitions — the partition filter must reach the scan
    val idx = plan("ir_bm25_indexed")
    assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(idx).isDefined,
      idx.take(3000))
    // CDC chunking is per-doc array expressions: its only exchanges are
    // the final chunk-hash aggregation's, nothing else shuffles
    val cdc = plan("dd_cdc_chunks")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window",
        "Exchange SinglePartition", "SortMergeJoin"))
      assert(!cdc.contains(bad), s"dd_cdc_chunks: ${cdc.take(3000)}")
  }

  test("ir standing index point lookup: each postings scan reads " +
    "EXACTLY the query terms' bucket partitions (<= 5/64 for one " +
    "5-term query)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import graft.operators.{Dedup, Retrieval}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val path = "/tmp/graft_search_index/planspec_point"
    Retrieval.writeSearchIndex(docs, "doc_id", "text", path)
    val q = docs.where(col("doc_id") === 0)
      .select(col("doc_id").as("q_id"),
        slice(Dedup.tokens(col("text")), 1, 5).as("q_terms"))
    val expected = q
      .select(explode(array_distinct(col("q_terms"))).as("term"))
      .select(pmod(Dedup.md5Hash32(col("term"), lit(3)), lit(64L))
        .as("tb"))
      .distinct().count()
    assert(expected >= 1 && expected <= 5, expected.toString)
    val out = Retrieval.bm25TopKIndexed(spark, path, q, k = 10)
    out.collect()
    val scans = graft.plans.PlanWalk
      .fileScans(out.queryExecution.executedPlan).filter(
        _.relation.location.rootPaths.exists(
          _.toString.contains("postings")))
    assert(scans.nonEmpty, "expected postings scans in the plan")
    scans.foreach { s =>
      assert(s.selectedPartitions.partitionCount == expected,
        s"postings scan read ${s.selectedPartitions.partitionCount} " +
          s"partitions, query terms hash to $expected buckets")
    }
  }

  test("ta_chunk / u4: narrow reshapes plan with zero exchanges") {
    val chunk = plan("ta_chunk")
    assert(!chunk.contains("Exchange"), chunk.take(3000))
    val unpivot = plan("u4_unpivot")
    assert(!unpivot.contains("Exchange"), unpivot.take(3000))
  }

  test("ta_html_extract: extraction is ONE shuffle-free narrow projection " +
    "over the scan — no UDF, no exchange") {
    val p = plan("ta_html_extract")
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      p.take(3000))
    // one Project directly over the file scan; the HOF lambdas keep the
    // projection out of whole-stage codegen but it stays a narrow map
    assert(p.contains("FileScan parquet"), p.take(3000))
  }

  test("k1: partitioned-sink layout gives partition pruning on readback") {
    // materialize the partitioned layout the k1 query writes
    SparkEntry.queries("k1_partitioned_sink")(spark, dir).collect()
    val pruned = spark.read
      .parquet(s"/tmp/graft_k1_${new java.io.File(dir).getName}")
      .where(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    pruned.collect()
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), p.take(2000))
    assert(p.contains("o_orderpriority"), p.take(2000))
  }

  test("j6: fact side joins name-level frames by broadcast, no cartesian") {
    val p = plan("j6_fuzzy_name_join")
    // the per-part side must only see broadcast joins against the tiny
    // name-level frames — a SortMergeJoin here would mean the fact table
    // is being shuffled for the final stitch
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("dd_prefix_jaccard: verify joins stay keyed equi-joins, no " +
       "unconditional broadcast of the O(corpus) id-array frame") {
    val p = plan("dd_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("ts_interp / j14: forward-looking scans plan as running-prefix " +
       "windows, never an UnboundedFollowing frame (O(n^2) per key)") {
    for (q <- Seq("ts_interp", "j14_asof_forward")) {
      val p = plan(q)
      assert(!p.toLowerCase.contains("unboundedfollowing") &&
        !p.toUpperCase.contains("UNBOUNDED FOLLOWING"), s"$q: ${p.take(3000)}")
    }
  }

  test("pipe: the corpus pipelines plan without cartesian joins") {
    for (q <- Seq("pipe_clean_corpus", "pipe_training_corpus",
        "pipe_html_corpus", "pipe_image_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
    }
  }

  test("k6: bucketed co-located join plans with no shuffle exchange") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = SparkEntry.queries("k6_bucketed_join")(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle: ${p.take(3000)}")
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        p.take(3000))
    }
  }

  test("dd_incremental_bucketed: the saved index side probes with no " +
    "exchange") {
    import graft.operators.Dedup
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      // isolate the vs-index probe join (the full query also contains the
      // within-batch self-join, which legitimately shuffles both sides)
      val all = spark.read.parquet(s"$dir/documents.parquet")
      val tbl = "graft_mh_index_planspec"
      Dedup.writeMinHashIndex(Dedup.minHashIndex(
          all.where(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text"),
        tbl, "/tmp/graft_bucketed/planspec_mh_index")
      val probe = Dedup.minHashIndex(
        all.where(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text")
      val joined = spark.table(tbl)
        .select(col("band"), col("bucket"), col("id").as("a_id"))
        .join(probe.select(col("band"), col("bucket"), col("id").as("b_id")),
          Seq("band", "bucket"))
      joined.collect()
      val smj = joined.queryExecution.executedPlan.collectFirst {
        case s: SortMergeJoinExec => s
      }.getOrElse(fail("expected a SortMergeJoin"))
      // the index (left) side must come sorted+partitioned straight off
      // the bucketed files: zero shuffles; the batch side pays the only one
      val leftShuffles = smj.left.collect { case e: ShuffleExchangeExec => e }
      val rightShuffles = smj.right.collect { case e: ShuffleExchangeExec => e }
      assert(leftShuffles.isEmpty,
        s"index side must not shuffle:\n${smj.left.toString.take(3000)}")
      assert(rightShuffles.nonEmpty, "probe side should carry the exchange")
      val bucketedScan = smj.left.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(bucketedScan.nonEmpty,
        s"index side must be a bucketed scan:\n${smj.left.toString.take(3000)}")
    }
  }

  test("pipe_kg_etl: the end-to-end dataflow plans without cartesians " +
    "beyond broadcast dims") {
    val p = plan("pipe_kg_etl")
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("embedding/ngram candidate queries (embed_lsh, decontaminate x2, " +
    "semantic, audio_fingerprint, st_embed_dedup): candidate generation " +
    "is a bucket/cluster equi-join, never nested-loop") {
    for (q <- Seq("dd_embed_lsh", "dd_decontaminate", "dd_semantic",
        "dd_audio_fingerprint", "st_embed_dedup",
        "dd_semantic_decontaminate", "st_embed_dedup_collapse",
        "st_dedup_collapse")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(2000)}")
    }
    // SemDedup's pair scan must key on the cluster id — no all-pairs
    // fallback — and never funnel corpus rows through ONE task: the
    // rep-collapse's row_number windows over (cluster, vector) keys are
    // fine (bounded dup-group partitions), an unpartitioned window or
    // single-partition exchange is not
    val p = plan("dd_semantic")
    assert(!p.contains("Exchange SinglePartition"), p.take(3000))
  }

  test("text dedup shuffles ids: dd_minhash_lsh / dd_decontaminate / " +
    "pipe_training_corpus pin no exchange by id, no exchange carries text " +
    "or a shingle array, the signature kernel runs once per document, " +
    "and the corpus pipelines' drop set enters the anti join by " +
    "broadcast") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec,
      SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.{Exchange,
      REPARTITION_BY_COL, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledJoin}
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    object H extends AdaptiveSparkPlanHelper
    def executed(q: String): SparkPlan = {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      df.queryExecution.executedPlan
    }
    def sigUdfs(p: SparkPlan): Seq[ScalaUDF] = p.expressions.flatMap(
      _.collect { case u: ScalaUDF
        if u.udfName.contains("shingle_minhash_sig") => u })
    for (q <- Seq("dd_minhash_lsh", "dd_decontaminate",
        "pipe_training_corpus")) {
      val p = executed(q)
      val shown = p.toString.take(4000)
      val byCol = H.collect(p) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_COL => e
      }
      assert(byCol.isEmpty, s"$q pins an exchange by column:\n$shown")
      val wide = H.collect(p) { case e: Exchange => e }
        .filter(_.output.exists(a => Set("text", "h1", "hs")(a.name)))
      assert(wide.isEmpty, s"$q shuffles text or shingle arrays:\n$shown")
      // the signature is projected at the scan side: never inside the
      // band explode or above it, so one evaluation per document per
      // computed join side
      H.foreach(p) {
        case g: GenerateExec => assert(sigUdfs(g).isEmpty,
          s"$q evaluates the signature per band row:\n$shown")
        case pr: ProjectExec if sigUdfs(pr).nonEmpty =>
          assert(H.collect(pr.child) {
            case x @ (_: GenerateExec | _: ShuffledJoin |
                      _: BroadcastHashJoinExec) => x
          }.isEmpty, s"$q signs rows that are not documents:\n$shown")
        case other => assert(sigUdfs(other).isEmpty,
          s"$q evaluates the signature outside a projection:\n$shown")
      }
    }
    assert(H.collect(executed("dd_minhash_lsh")) {
      case pr: ProjectExec if sigUdfs(pr).nonEmpty => pr
    }.nonEmpty, "dd_minhash_lsh no longer projects the fused signature")
    // planned so before any stage runs: AQE's initial plan (at run time
    // an empty drop set may remove the join altogether)
    for (q <- Seq("pipe_training_corpus", "pipe_clean_corpus",
        "pipe_html_corpus", "pipe_c4_corpus")) {
      val p = executed(q) match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val anti = p.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
        case j: ShuffledJoin if j.joinType == LeftAnti => j
      }
      assert(anti.size == 1 && anti.head.isInstanceOf[BroadcastHashJoinExec],
        s"$q: the drop-set anti join must be one broadcast hash join:\n" +
          p.toString.take(4000))
    }
  }

  test("corpus half shuffles ids and top-k buffers: ir_bm25_topk pins " +
    "nothing and shuffles no (query, doc) candidate or (term, doc) " +
    "posting; the corpus pipelines and their drop sets shuffle no text " +
    "and partition no window by a text digest") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Md5}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    object H extends AdaptiveSparkPlanHelper
    def executed(df: DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    def row(q: String): SparkPlan = executed(SparkEntry.queries(q)(spark, dir))
    def names(p: SparkPlan): Set[String] = p.output.map(_.name).toSet

    val bm = row("ir_bm25_topk")
    val shown = bm.toString.take(4000)
    assert(H.collect(bm) { case s: InMemoryTableScanExec => s }.isEmpty,
      s"ir_bm25_topk pins a frame:\n$shown")
    val docSide = Set("id", "c_id", "doc_id")
    val perPair = H.collect(bm) { case e: ShuffleExchangeExec => e }
      .filter { e =>
        val n = names(e)
        (n("q_id") || n("term")) && (n & docSide).nonEmpty
      }
    assert(perPair.isEmpty, s"ir_bm25_topk shuffles candidates or " +
      s"postings:\n$shown")

    def textExchanges(p: SparkPlan): Seq[SparkPlan] =
      H.collect(p) { case e: ShuffleExchangeExec if names(e)("text") => e }
    // a window keyed by a digest of the text, or fed the text itself.
    // Catalyst projects a window's partition expression below it, so the
    // key reads as an attribute aliased to the md5 further down
    def digestWindows(p: SparkPlan): Seq[SparkPlan] = {
      def isMd5(e: Expression) = e.find(_.isInstanceOf[Md5]).isDefined
      val digests = H.collect(p) { case n => n.expressions }.flatten
        .flatMap(_.collect { case a: Alias if isMd5(a.child) => a.exprId })
        .toSet
      H.collect(p) {
        case w: WindowExec if w.partitionSpec.exists(k => isMd5(k) ||
            k.references.exists(a => digests(a.exprId))) ||
            names(w.child)("text") => w
      }
    }
    // the drop sets as the builds materialise them, over the same input
    // (the pretraining builds share C4's); a build pins its gated frame
    // first, which only hides the gate's plan below a checkpoint, so here
    // the gate stays in view
    val docs = RegistryCore.t(spark, dir, "documents")
    val pages = docs.select(col("doc_id"), col("source"),
      concat(lit("<p>"), col("text"), lit("</p>")).as("html"))
    val training = Pipelines.trainingGate(docs, 0.5, "en", 0.2)
    val lined = Pipelines.c4Gate(RegistryCore.linedDocs(spark, dir), 10, 50, 1)
    val dropSets = Seq(
      "pipe_clean_corpus" -> Pipelines.dropIds(
        Pipelines.cleanGate(docs, 0.5, "en")),
      "pipe_training_corpus" -> Pipelines.dropIds(training,
        Pipelines.contaminated(training, docs.where(col("doc_id") < 10))),
      "pipe_html_corpus" -> Pipelines.dropIds(
        Pipelines.htmlGate(pages, "html", 0.5, "en")),
      "pipe_c4_corpus" -> Pipelines.dropIds(lined))
    for ((q, drops) <- dropSets) {
      val p = executed(drops)
      assert(textExchanges(p).isEmpty && digestWindows(p).isEmpty,
        s"$q's drop set shuffles text or windows by its digest:\n" +
          p.toString.take(4000))
    }
    for (q <- Seq("pipe_clean_corpus", "pipe_training_corpus",
        "pipe_html_corpus")) {
      val p = row(q)
      assert(textExchanges(p).isEmpty,
        s"$q shuffles text:\n${p.toString.take(4000)}")
    }
    for (q <- Seq("pipe_c4_corpus", "pipe_pretrain_corpus",
        "pipe_pretrain_tokenized")) {
      val p = row(q)
      assert(digestWindows(p).isEmpty,
        s"$q windows by a text digest:\n${p.toString.take(4000)}")
    }
  }

  test("j12/j13: as-of and range joins plan as single-shuffle window / " +
    "equi-join — no nested loop, no cartesian") {
    val asof = plan("j12_asof_join")
    assert(!asof.contains("CartesianProduct") &&
      !asof.contains("BroadcastNestedLoopJoin"), asof.take(2000))
    assert(asof.contains("Window"), asof.take(2000)) // union+window formulation
    val rng = plan("j13_range_join")
    assert(!rng.contains("CartesianProduct") &&
      !rng.contains("BroadcastNestedLoopJoin"), rng.take(2000))
  }

  test("entry: flagship query joins and aggregates without cartesian plans") {
    val df = SparkEntry.entry(spark)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    assert(df.count() > 0) // the driver's smoke check
  }

  test("ds_stratified_k / ta_zipf_slope: no single-task window in the " +
    "sampling and ranking plans") {
    // both were round-5 weak marks: a per-stratum row_number sort and a
    // bare global rank window. The replacements (bounded k-heap partial
    // aggregation; range-partitioned prefix-offset rank) must leave NO
    // window operator anywhere in the executed plans.
    val strat = plan("ds_stratified_k")
    assert(!strat.contains("Window"), strat.take(3000))
    assert(!strat.contains("Exchange SinglePartition"), strat.take(3000))
    assert(strat.contains("Aggregate"), strat.take(3000)) // the k-heap agg
    val zipf = plan("ta_zipf_slope")
    assert(!zipf.contains("Window"), zipf.take(3000))
  }

  test("dd_prefix_jaccard: candidate generation is a prefix-token " +
    "equi-join, never a cartesian") {
    val p = plan("dd_prefix_jaccard")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("ds_weighted_k: the global top-k is per-partition heaps + k-row " +
    "merge, never a global sort") {
    val p = plan("ds_weighted_k")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(3000))
  }

  test("ds_dsir_select: model frames broadcast, selection is a k-row " +
    "top-k merge — no global sort, no window, no cartesian blowup") {
    val p = plan("ds_dsir_select")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Exchange rangepartitioning"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("round-4 queries plan without cartesians; bloom probe is native") {
    for (q <- Seq("st_funnel", "gr_pagerank", "gr_triangles",
        "a19_cohort_retention", "dd_incremental", "k9_wv_places",
        "ds_train_split", "ds_weighted_sample")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
    }
    // the bloom prune's codegen might_contain probe survives into the
    // executed plan (not rewritten into something driver-side)
    assert(plan("sk_bloom_prune").contains("might_contain"))
  }

  test("q7/q9: dim sides of the TPC-H join trees enter by broadcast, " +
    "and the q7 date range reaches the lineitem scan") {
    val q7 = plan("q7_nation_volume")
    assert(!q7.contains("CartesianProduct"), q7.take(3000))
    // both nation aliases + supplier/customer dims broadcast at this sf
    assert("BroadcastHashJoin".r.findAllIn(q7).size >= 3, q7.take(3000))
    assert(q7.contains("PushedFilters") &&
      q7.contains("IsNotNull(l_shipdate)"), q7.take(3000))
    val q9 = plan("q9_product_profit")
    assert(!q9.contains("CartesianProduct"), q9.take(3000))
    assert("BroadcastHashJoin".r.findAllIn(q9).size >= 3, q9.take(3000))
    // the part-name family filter prunes BEFORE the join: it reaches
    // the part scan as a pushed StringContains
    assert(q9.contains("StringContains(p_name,rod)"), q9.take(3000))
  }

  test("q8-q22 shapes: disjunctive q19 stays an equi-join, q22's NOT " +
    "EXISTS decorrelates to an anti join, nothing goes cartesian") {
    for (q <- Seq("q8_market_share", "q13_customer_distribution",
        "q17_small_quantity", "q18_large_orders", "q19_disjunct_revenue")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
    }
    // the three OR'd brand/size/quantity bands must not defeat the
    // p_partkey equi-key
    assert(plan("q19_disjunct_revenue").contains("BroadcastHashJoin") ||
      plan("q19_disjunct_revenue").contains("SortMergeJoin"))
    val q22 = plan("q22_sales_opportunity")
    assert(q22.contains("LeftAnti"), q22.take(3000))
    assert(!q22.contains("CartesianProduct"), q22.take(3000))
  }

  test("q2-q21 completions: decorrelated subqueries never go cartesian, " +
    "dims broadcast, q21's NOT EXISTS lands as an anti join") {
    for (q <- Seq("q2_min_cost_supplier", "q11_important_stock",
        "q12_shipmode_priority", "q15_top_supplier", "q16_supplier_count",
        "q20_potential_promotion", "q21_waiting_suppliers")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      // the only nested-loop joins allowed are the one-row global
      // scalar cross joins (q11's total, q15's max) — those broadcast
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
    }
    // q2's correlated regional-min rewrites to a grouped-min equi-join;
    // supplier/nation/region dims broadcast at this sf
    val q2 = plan("q2_min_cost_supplier")
    assert("BroadcastHashJoin".r.findAllIn(q2).size >= 3, q2.take(3000))
    // q16's NOT IN decorrelates to a null-aware anti join, not a loop
    // over the subquery
    val q16 = plan("q16_supplier_count")
    assert(q16.contains("LeftAnti"), q16.take(3000))
    // q21's NOT EXISTS (correlated on the outer order's date) must
    // decorrelate to an anti join; the EXISTS to a semi join
    val q21 = plan("q21_waiting_suppliers")
    assert(q21.contains("LeftAnti"), q21.take(3000))
    assert(q21.contains("LeftSemi"), q21.take(3000))
    // q12's late-shipment predicate is a fact-fact join condition, so
    // the date WINDOW still pushes to the lineitem scan
    val q12 = plan("q12_shipmode_priority")
    assert(q12.contains("PushedFilters") &&
      q12.contains("IsNotNull(l_shipdate)"), q12.take(3000))
  }

  test("dd_dup_fraction: no user-forced exchange on the Zipf-skewed " +
    "shingle key; the shingle frame is cached, not re-keyed") {
    // The round-7 weak mark: a pinned repartition(g) put a hot shingle's
    // rows in ONE partition AQE refuses to skew-split (user-specified
    // repartition origin). The replacement persists the shingle frame
    // (kernel still single-execution) and leaves every exchange
    // planner-inserted (ENSURE_REQUIREMENTS), which AQE CAN skew-split.
    val p = plan("dd_dup_fraction")
    assert(!p.contains("REPARTITION_BY_COL"), p.take(3000))
    assert(!p.contains("REPARTITION_BY_NUM"), p.take(3000))
    assert(p.contains("InMemoryTableScan"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("ann top-k: no per-query window over corpus-sized input anywhere " +
    "— bounded-heap partial aggregation only") {
    // The round-8 weak mark: Window.partitionBy(q_id) shuffled every
    // scored corpus row for a query into ONE task. Every ANN plan now
    // routes top-k through the k-bounded TopKPairs Aggregator (brute/sq
    // corpus scans, lsh/ivf candidate sets) and IVF cell assignment is a
    // map-side argmin over the collected centroid model — so NO Window
    // operator may appear in any ANN executed plan.
    for (q <- Seq("ann_brute_topk", "ann_lsh_topk", "ann_sq_topk",
        "ann_ivf_assign", "ann_ivf_topk", "ann_pq_topk",
        "ann_ivfpq_topk", "ann_ivfpq_rerank", "ann_ivf_indexed")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Exchange SinglePartition"), s"$q: ${p.take(3000)}")
    }
    // ivf_assign is narrow end to end: the argmin runs where the scan runs
    assert(!plan("ann_ivf_assign").contains("Exchange"),
      plan("ann_ivf_assign").take(3000))
    // the standing IVF index prunes the cell scan to the probed cells'
    // partitions — the filter must reach the scan as a PartitionFilter
    val idx = plan("ann_ivf_indexed")
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(idx).isDefined,
      idx.take(3000))
  }

  test("session-2 operators: wedge/candidate joins stay keyed, no " +
    "cartesians; URL canonicalization is a pure scan projection") {
    // link prediction: wedge self-join + anti join + degree join-backs
    // must all be keyed equi-joins
    val lp = plan("gr_link_predict")
    assert(!lp.contains("CartesianProduct"), lp.take(3000))
    assert(!lp.contains("BroadcastNestedLoopJoin"), lp.take(3000))
    // URL canonicalization: map-only — no exchange, no UDF in the plan
    val url = plan("ta_url_canon")
    assert(!url.contains("Exchange"), url.take(3000))
    assert(!url.contains("BatchEvalPython") && !url.contains("ScalaUDF"),
      url.take(3000))
    // feature hashing: exactly one aggregation exchange, keyed equi-agg
    val hf = plan("ta_hash_features")
    assert(!hf.contains("CartesianProduct"), hf.take(3000))
    assert(hf.contains("HashAggregate"), hf.take(3000))
    // PCA: the only crossJoin-shaped nodes allowed are broadcasts of
    // 1-row/n-row bounded frames; covariance join stays keyed
    val pca = plan("ann_pca_project")
    assert(!pca.contains("CartesianProduct"), pca.take(3000))
  }

  test("round-11 operators: KN scoring and target encoding join on " +
    "term/category keys with model-sized broadcasts only; containment " +
    "and period detection stay keyed equi-joins") {
    // KN perplexity: bigrams from zip_with (no positional self-join on
    // the scoring path is REQUIRED — the model joins are term-keyed),
    // Ntypes/V ride a broadcast 1-row frame, no window, no cartesian
    for (q <- Seq("ta_kn_perplexity", "ta_ppl_buckets",
        "ta_kn3_perplexity")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
    }
    // shingle containment: prefix/posting equi-joins + per-doc bounded
    // window only — no cartesian, no single-partition funnel
    val c = plan("dd_containment")
    assert(!c.contains("CartesianProduct"), c.take(3000))
    assert(!c.contains("BroadcastNestedLoopJoin"), c.take(3000))
    assert(!c.contains("Exchange SinglePartition"), c.take(3000))
    // target encoding: one (cat, fold) agg + keyed join-backs; the
    // global/fold frames enter by broadcast; no window
    val te = plan("ds_target_encode")
    assert(!te.contains("CartesianProduct"), te.take(3000))
    assert(!te.contains("Window"), te.take(3000))
    // ACF period: the lag join is an expression EQUI-join (never a
    // range/theta join -> no BNLJ), argmax is an aggregate (the only
    // windows are gapFill's bounded per-key fills)
    val tp = plan("ts_period")
    assert(!tp.contains("CartesianProduct"), tp.take(3000))
    assert(!tp.contains("Exchange SinglePartition"), tp.take(3000))
    // l-diversity: two stacked hash aggregations, nothing else
    val ld = plan("dq_l_diversity")
    assert(ld.contains("HashAggregate"), ld.take(3000))
    assert(!ld.contains("Exchange SinglePartition"), ld.take(3000))
  }

  test("j13/j14: bucketed join runs shuffle-free; the dim filter " +
    "reaches the partitioned fact scan as dynamic partition pruning") {
    // bucketed co-located join: SMJ over two bucketBy(8) tables — the
    // join itself must introduce NO exchange (the aggregation after it
    // may); assert no hashpartitioning exchange BEFORE the join in the
    // plan by requiring zero exchanges under the SortMergeJoin inputs:
    // simplest robust check — the full plan has exactly the agg's
    // exchange, never one per join side
    val bj = plan("j13_bucketed_join")
      .split("== Initial Plan ==").head // AQE echoes the pre-AQE plan too
    assert(bj.contains("SortMergeJoin"), bj.take(3000))
    assert(bj.contains("Bucketed: true"), bj.take(3000))
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(bj).size
    assert(exchanges <= 1, s"expected at most the aggregation exchange, " +
      s"got $exchanges:\n${bj.take(3000)}")
    // DPP: the fact scan's partition filter carries a dynamicpruning
    // subquery fed by the dim side
    val dpp = plan("j14_dpp")
    assert(dpp.contains("dynamicpruning"), dpp.take(4000))
    // capstone pipeline: never a cartesian product — the only
    // cross-shaped nodes are 1-row broadcast scalar/cut frames (BNLJ
    // over a broadcast single row), and the single-partition exchanges
    // are those frames' own model-sized aggregates
    val cap = plan("pipe_pretrain_corpus")
    assert(!cap.contains("CartesianProduct"), cap.take(3000))
    // the tokenizer-closed capstone: same gate (its BPE training runs
    // at construction; the final plan is metering + packing joins)
    val capT = plan("pipe_pretrain_tokenized")
    assert(!capT.contains("CartesianProduct"), capT.take(3000))
    // multi-level louvain's final mapping is keyed joins over
    // checkpointed level frames — no cartesian, no nested loop
    val lm = plan("gr_louvain_multi")
    assert(!lm.contains("CartesianProduct"), lm.take(3000))
    assert(!lm.contains("BroadcastNestedLoopJoin"), lm.take(3000))
  }

  test("ann incremental maintenance: keyed equi-joins only — the " +
    "standing graph/index enter by bucket or id keys, never a " +
    "cartesian, nested loop, window, or single-partition funnel") {
    for (q <- Seq("ann_knn_incremental", "st_knn_incremental")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Exchange SinglePartition"), s"$q: ${p.take(3000)}")
    }
    // the sampled-truth blocking eval: the sample side broadcasts into
    // ONE corpus token scan; the only cross-shaped nodes are the
    // 1-row count aggregates the report is assembled from (the exact
    // row's documented shape) — so just gate the quadratic shapes
    val bq = plan("dd_blocking_quality_sampled")
    assert(!bq.contains("CartesianProduct"), bq.take(3000))
    assert(!bq.contains("Window"), bq.take(3000))
  }

  test("harmonic centrality: the exact BFS and the HyperBall sketch " +
    "rounds are keyed joins + partial aggs — no cartesian, window, or " +
    "single-partition funnel") {
    for (q <- Seq("gr_harmonic", "gr_closeness", "gr_hyperball",
        "gr_betweenness")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Exchange SinglePartition"), s"$q: ${p.take(3000)}")
    }
  }

  test("r15 graph structures: SCC / condensation / incremental CC " +
    "finalize as keyed joins over checkpointed state — no cartesian, " +
    "no nested loop") {
    // (the hub-frame window and the NF/eff-diameter broadcast cross
    // joins are MODEL-sized — ≤ 25 hub rows / ≤ 4 hop rows, the
    // histQuantiles sketch-frame pattern — so only corpus-scale
    // hazards are gated here)
    for (q <- Seq("gr_scc", "gr_scc_condense", "gr_cc_incremental",
        "gr_scc_topo")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
    }
    for (q <- Seq("gr_hyperball_nf", "gr_eff_diameter",
        "gr_hyperball_nf_adaptive", "gr_eff_diameter_adaptive")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
    }
  }

  test("pagerank: a round joins the edges to the broadcast rank state — " +
    "no shuffle exchange on the edge side") {
    import graft.operators.PageRank
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastHashJoinExec}
    val edges = spark.range(0, 400)
      .select((col("id") % 37).as("src"), ((col("id") * 11) % 53).as("dst"))
    val g = PageRank.graph(edges, "src", "dst")
    try {
      withSQLConf("spark.sql.adaptive.enabled" -> "false") {
        for (redistribute <- Seq(false, true)) {
          val round = PageRank.runRound(g,
            g.nodes.df.select(col("node"), lit(1.0 / g.n).as("rank"),
              col("deg")),
            0.85, redistribute)
          round.collect()
          val p = round.queryExecution.executedPlan
          // the subtree between a join and the edge checkpoint's scan
          def edgeLeg(q: SparkPlan): Boolean = q match {
            case r: RDDScanExec => r.rdd eq g.edges.rdd
            case _: BaseJoinExec => false
            case o => o.children.exists(edgeLeg)
          }
          val joins = p.collect {
            case j: BaseJoinExec if j.children.exists(edgeLeg) => j
          }
          assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec],
            s"expected one broadcast join over the edges:\n$p")
          val edgeSide = joins.head.children.filter(edgeLeg)
          assert(edgeSide.forall(_.collect {
            case e: ShuffleExchangeExec => e }.isEmpty),
            s"the edge side must not shuffle:\n$p")
        }
      }
    } finally {
      g.edges.release()
      g.nodes.release()
    }
  }

  test("er: candidatePairs over a staged eager checkpoint shuffles no " +
    "cell-keyed side, and both name joins broadcast") {
    import graft.er.{EntityResolution, EntityResolutionSpec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec,
      BroadcastHashJoinExec}
    // ten rows whose checkpoint carries a gigabyte product estimate
    val ck = EntityResolutionSpec.staged(spark).localCheckpoint()
    val cand = EntityResolution.candidatePairs(ck)
    cand.collect()
    val p = cand.queryExecution.executedPlan
    val aqe = new AdaptiveSparkPlanHelper {}
    val cellShuffles = aqe.collect(p) {
      case e: ShuffleExchangeExec
          if e.output.exists(a => a.name == "a_cell" || a.name == "b_cell") => e
    }
    assert(cellShuffles.isEmpty, s"the blocking join shuffled:\n$p")
    val nameJoins = aqe.collect(p) {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
          .flatMap(_.references).exists(a => a.name == "a_id" ||
            a.name == "b_id") => j
    }
    assert(nameJoins.size == 2 &&
      nameJoins.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"expected two broadcast name joins:\n$p")
  }

  test("hyperball: a register frame storing more than the broadcast " +
    "threshold does not broadcast into packedPropagateRound") {
    import graft.operators.HyperBall
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.graft.CheckpointOps
    // 2,000 register files of 64 slots hold ~600 KB; default widths
    // price them at ~40 KB
    val threshold = 200000L
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      val regs = CheckpointOps.materialize(HyperBall.packedInitRegs(
        spark.range(0, 2000).select(col("id").as("node")), 6),
        truncate = true)
      try {
        assert(CheckpointOps.storedBytes(regs.rdd).get > threshold)
        assert(EstimationUtils.getOutputSize(
          regs.df.queryExecution.analyzed.output, regs.rows) < threshold)
        val edges = spark.range(0, 4000).select(
          (col("id") % 2000).as("src"), ((col("id") * 7) % 2000).as("dst"))
        val round = HyperBall.packedPropagateRound(edges, regs.df, 64)
        val p = round.queryExecution.executedPlan
        val regBroadcasts = p.collect {
          case b: BroadcastExchangeExec if b.collect {
            case s: RDDScanExec if s.rdd eq regs.rdd => s }.nonEmpty => b
        }
        assert(regBroadcasts.isEmpty, s"the register frame broadcast:\n$p")
        assert(round.count() == 2000L)
      } finally regs.release()
    }
  }

  test("cc_incremental: the standing-base label probe is scan-only — " +
    "no Exchange of the corpus-sized base, hinted or unhinted") {
    import graft.operators.ConnectedComponents
    import graft.streaming.CcStream
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, SortMergeJoinExec}
    val all = spark.read.parquet(s"$dir/customer.parquet")
    val base0 = all.select(col("c_custkey").as("node"),
      col("c_custkey").as("component"))
    val tbl = "graft_cc_base_planspec"
    CcStream.writeCcBase(base0, tbl, "/tmp/graft_bucketed/planspec_cc_base")
    try {
    val nodes = all.where(pmod(col("c_custkey"), lit(50)) === 0)
      .select(col("c_custkey").as("node"))
    withSQLConf("spark.sql.adaptive.enabled" -> "false",
      // DisableUnnecessaryBucketedScan considers only joins/aggs on the
      // bucket key, NOT bucket pruning, so a filter-only probe loses
      // its pruning under the default; a standing-state deployment pins
      // this off (documented on writeCcBase). Pushdown + no-exchange
      // hold either way — only the SelectedBucketsCount assert needs it.
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
      // leg A0 — the DEFAULT ingest path (batch node set as a pushed
      // In predicate): no join, no exchange at all, and the bucketed
      // base scan PRUNES to the batch's buckets
      val nodeVals = nodes.collect().map(_.get(0)).toSeq
      val point = ConnectedComponents.probeBaseLabelsPoint(
        spark.table(tbl), nodeVals)
      point.collect()
      val ppt = point.queryExecution.executedPlan
      assert(ppt.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
        ppt.collect { case e: BroadcastExchangeExec => e }.isEmpty,
        s"point probe must carry no exchange:\n${ppt.toString.take(3000)}")
      val pruned = ppt.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(pruned.nonEmpty, s"expected a bucketed scan:\n${
        ppt.toString.take(3000)}")
      assert(ppt.toString.contains("SelectedBucketsCount"),
        s"expected bucket pruning:\n${ppt.toString.take(3000)}")
      // leg A — the oversized-batch fallback while the node set still
      // fits the broadcast threshold: Spark picks the broadcast semi
      // itself (UNHINTED — a forced hint would make the genuinely-huge
      // case fail instead of degrade); the base side is a plain scan
      // with no exchange anywhere
      val probed = ConnectedComponents.probeBaseLabels(spark.table(tbl), nodes)
      probed.collect()
      val pp = probed.queryExecution.executedPlan
      assert(pp.collectFirst { case b: BroadcastHashJoinExec => b }.nonEmpty,
        s"expected a broadcast semi probe:\n${pp.toString.take(3000)}")
      assert(pp.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"base probe must not shuffle ANY side:\n${pp.toString.take(3000)}")
      val bcasts = pp.collect { case e: BroadcastExchangeExec => e }
      assert(bcasts.size == 1 &&
        !bcasts.head.child.toString.contains(tbl),
        s"only the batch node set may broadcast:\n${pp.toString.take(3000)}")
    }
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      // leg B — the SAME product probe past the broadcast threshold
      // (forced with threshold=-1): degrades to sort-merge where the
      // bucketed base side comes partitioned+sorted straight off the
      // bucket files (zero exchanges); the batch pays the only one
      val joined = ConnectedComponents.probeBaseLabels(spark.table(tbl), nodes)
      joined.collect()
      val smj = joined.queryExecution.executedPlan.collectFirst {
        case s: SortMergeJoinExec => s
      }.getOrElse(fail("expected a SortMergeJoin"))
      assert(smj.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"base side must not shuffle:\n${smj.left.toString.take(3000)}")
      assert(smj.right.collect { case e: ShuffleExchangeExec => e }.nonEmpty,
        "batch side should carry the exchange")
      assert(smj.left.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }.nonEmpty,
        s"base side must be a bucketed scan:\n${smj.left.toString.take(3000)}")
    }
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      // leg C — the point path's merge: the solved merge graph (the frame
      // whose non-identity rows collect) and the alias snapshot carry no
      // shuffle — every cap-bounded side enters its join as a broadcast
      // and the merge graph is solved in ONE union-find task
      import spark.implicits._
      val batch = Seq((1L, 2L), (2L, 3L), (5L, 1000001L),
        (1000002L, 1000003L)).toDF("src", "dst")
      val alias = Seq((3L, 2L)).toDF("c", "canon")
      val parts = ConnectedComponents.mergeParts(spark.table(tbl), alias,
        batch)
      try {
        for ((what, df) <- Seq("merge map" -> parts.solved,
            "alias snapshot" -> parts.newAlias)) {
          df.collect()
          val p = df.queryExecution.executedPlan
          assert(p.collect { case e: ShuffleExchangeExec => e }.isEmpty,
            s"$what must not shuffle:\n${p.toString.take(3000)}")
        }
        assert(parts.newAlias.as[(Long, Long)].collect().toSet ==
          Set(3L -> 1L, 2L -> 1L, 1000001L -> 5L, 1000003L -> 1000002L))
      } finally parts.release()
    }
    // an assertion failure must not leave the catalog entry behind for
    // later suites sharing the session/metastore
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("hb_incremental at-rest: the table-backed register fold carries " +
    "no corpus exchange — point probes bucket-prune, delta propagation " +
    "prunes the edge scan, and post-compact resolution aggregates " +
    "without a shuffle") {
    import graft.streaming.HbStream
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ShuffleExchangeExec}
    val tmp = java.nio.file.Files.createTempDirectory("hb_plan").toString
    val e0 = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("src"),
        (col("c_custkey") % 97 + 200000).as("dst"))
    HbStream.init(e0, "graft_hb_planspec", s"$tmp/gen0", maxHops = 1,
      p = 6, numBuckets = 8)
    try {
      HbStream.compact(spark, "graft_hb_planspec", s"$tmp/gen1")
      val keys = e0.where(pmod(col("src"), lit(50)) === 0)
        .select(col("src").as("node"))
      withSQLConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false") {
        // leg A — the register point probe (resolveFor's default path):
        // the In predicate pushes to the bucketed scan, which PRUNES;
        // the only plan nodes besides scan are the partial/final aggs
        val probed = HbStream.planProbe(spark, "graft_hb_planspec", 1, keys)
        probed.collect()
        val pp = probed.queryExecution.executedPlan
        assert(pp.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          pp.collect { case e: BroadcastExchangeExec => e }.isEmpty,
          s"point probe must carry no exchange:\n${pp.toString.take(3000)}")
        assert(pp.toString.contains("SelectedBucketsCount"),
          s"expected bucket pruning:\n${pp.toString.take(3000)}")
        // leg B — full resolution (the read path and compact's rewrite):
        // the bucketed scan already satisfies the groupBy(node)
        // distribution, so the max-merge agg needs NO shuffle
        val res = HbStream.planResolved(spark, "graft_hb_planspec", 1)
        res.collect()
        val rp = res.queryExecution.executedPlan
        assert(rp.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"post-compact resolution must not shuffle:\n${
            rp.toString.take(3000)}")
        assert(rp.collect {
          case f: FileSourceScanExec if f.bucketedScan => f
        }.nonEmpty, s"expected a bucketed scan:\n${rp.toString.take(3000)}")
        // leg C — delta propagation along the standing edges: the
        // delta's src set pushes down as an In predicate (bucket-pruned
        // edge scan); the only exchange anywhere is the delta broadcast
        val delta = spark.table("graft_hb_planspec_regs_h0")
          .where(pmod(col("node"), lit(50)) === 0)
          .localCheckpoint(true)
        val prop = HbStream.planPropagate(spark, "graft_hb_planspec", delta)
        prop.collect()
        val qp = prop.queryExecution.executedPlan
        assert(qp.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"propagation must not shuffle:\n${qp.toString.take(3000)}")
        assert(qp.collect { case e: BroadcastExchangeExec => e }.size == 1,
          s"only the delta may broadcast:\n${qp.toString.take(3000)}")
        assert(qp.toString.contains("SelectedBucketsCount"),
          s"expected edge-scan bucket pruning:\n${qp.toString.take(3000)}")
      }
    } finally {
      for (h <- 0 to 1)
        spark.sql(s"DROP TABLE IF EXISTS graft_hb_planspec_regs_h$h")
      spark.sql("DROP TABLE IF EXISTS graft_hb_planspec_edges")
    }
  }
}
