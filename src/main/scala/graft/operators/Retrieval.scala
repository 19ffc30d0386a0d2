package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over a document corpus: BM25 scoring with top-k
  * per query, and positional phrase matching — the query-time half of the
  * inverted-index story (`ta_postings` builds the index; these rows answer
  * queries against it).
  *
  * Scale shape (the part that matters at 100 TB): the corpus-sized frames
  * are only ever touched by (a) tokenize scans and (b) keyed partial
  * aggregations. The query side is always tiny relative to the corpus,
  * so every join that decides *which* postings participate is a
  * broadcast — the full index is never shuffled. BM25 scores each
  * document in its own row against the broadcast query batch, and
  * per-query ranking is the bounded-heap [[TopKPairs]] aggregation, so
  * the scored rows cross the shuffle only as k-bounded buffers — no
  * candidate rows, no per-query window sort.
  *
  * Reference behavior: the reference's query surface stops at index build
  * + per-document tf-idf (see SURVEY.md §2.8); BM25 (Robertson/Sparck
  * Jones, the Lucene `k1`/`b` practical form with the non-negative
  * `ln(1 + (N-df+0.5)/(df+0.5))` idf) and positional phrase match are the
  * standard completions a corpus engine needs to be usable for retrieval
  * and for contamination forensics ("which training docs contain this
  * benchmark phrase").
  */
object Retrieval {

  /** BM25 top-k retrieval.
    *
    * Plan: each document is scored in its own row. The query batch — per
    * (query, term) the term's position among the query's distinct terms
    * and its idf — is one broadcast row, and [[graft.plans.Bm25Score]]
    * scores a document's tokens against it, emitting `(q_id, score)` only
    * for queries that share a term with the document. Those rows feed
    * [[Similarity.topKPerQuery]] in the same stage, so the only shuffle
    * of scored rows moves its k-bounded heap buffers. Document frequency
    * comes from each document's distinct tokens, broadcast-joined to the
    * query terms so that non-query tokens die map-side, then counted per
    * term; corpus size and average length are one 1-row aggregate. No
    * (term, doc) postings or (query, doc) candidates are shuffled, and
    * nothing is pinned.
    *
    * Each term's part is `idf * (tf*(k1+1)) / (tf + k1*((1-b) +
    * b*dl/avgdl))`; a query's parts sum in the order of its distinct
    * terms. Scores are quantized to 1e-6 BEFORE ranking
    * (floor(x*1e6 + 0.5)/1e6, the engine-portable midpoint rule used
    * across the registry) so the rank order is a property of the
    * quantized score and ties break by doc id ascending identically on
    * any engine. Doc ids are unique.
    *
    * Query-term multiplicity is ignored (each distinct (q_id, term) once),
    * the standard short-query simplification of the qtf saturation term.
    *
    * @param queries DataFrame(q_id: long, q_terms: array<string>) — terms
    *                need not be distinct; duplicates are collapsed here
    * @return DataFrame(q_id, doc_id, score, rank) — rank 1..k by
    *         (score desc, doc_id asc); docs sharing no term with the
    *         query never appear (disjunctive semantics) */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qt = queryTerms(queries)
    // distinct tokens per document, so a term's count is its df
    val dfreq = docs
      .select(explode(array_distinct(Dedup.tokens(col(textCol)))).as("term"))
      .join(broadcast(qt.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    scoreAndRank(docs.select(col(idCol).as("id"), col(textCol).as("doc")),
      qt, dfreq, indexStats(docs, textCol), k, k1, b)
  }

  /** (q_id: long, term, pos): each query's distinct terms with their
    * position, one row per (q_id, term) even when a q_id repeats. Any
    * integral q_id is widened to the long [[graft.plans.Bm25Score]]
    * reads. */
  private def queryTerms(queries: DataFrame): DataFrame =
    queries.select(col("q_id").cast("long").as("q_id"),
        posexplode(array_distinct(col("q_terms"))))
      .groupBy(col("q_id"), col("col").as("term"))
      .agg(min("pos").as("pos"))

  /** The scoring and ranking both BM25 variants share, so the formula
    * cannot drift between them.
    *
    * @param docs  (id, doc) — doc is the text or the postings struct
    *              [[graft.plans.Bm25Score]] reads
    * @param qt    (q_id, term, pos) from [[queryTerms]]
    * @param dfreq (term, df) over the query terms
    * @param stats (n_docs, avgdl) single row */
  private def scoreAndRank(docs: DataFrame, qt: DataFrame, dfreq: DataFrame,
                           stats: DataFrame, k: Int, k1: Double,
                           b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    // the query batch as ONE row: terms absent from the corpus drop out
    val batch = qt.join(dfreq, "term").crossJoin(broadcast(stats))
      .groupBy().agg(
        collect_list(struct(col("term"), col("q_id"), col("pos"),
          idf.as("idf"))).as("entries"),
        first("avgdl").as("avgdl"))
    val scored = docs.crossJoin(broadcast(batch))
      .select(col("id"), explode(graft.plans.Bm25Expressions.bm25Score(
        col("doc"), col("entries"), col("avgdl"), k1, b)).as("s"))
      .select(col("s.q_id").as("q_id"), col("id").as("c_id"),
        col("s.score").as("score"))
    Similarity.topKPerQuery(scored, "score", k)
      .select(col("q_id"), col("c_id").as("doc_id"), col("score"),
        col("rank"))
  }

  /** Reciprocal-rank fusion over any number of retrieval legs — the
    * standard hybrid-search combiner (lexical BM25 + embedding ANN, or
    * any mix): fused(q, d) = Σ_legs 1 / (c + rank_leg(q, d)), docs
    * missing from a leg simply contribute nothing. Rank-based, so the
    * legs' score scales never need calibrating against each other, and
    * ANY top-k leg plugs in (brute cosine, IVF, LSH — the recall/cost
    * dial stays inside each leg).
    *
    * Scale shape: each leg is already k-bounded (n_queries × k rows),
    * so the union + fuse aggregation and the final bounded-heap top-k
    * all operate on query-batch-sized frames — nothing here touches the
    * corpus. Fused scores quantize to 1e-9 BEFORE ranking (engine-
    * portable, the bm25 discipline); ties break by doc_id ascending.
    *
    * @param legs frames with (q_id, doc_id, rank) — rank 1-based
    * @param c    RRF damping constant (60 per Cormack et al.)
    * @return (q_id, doc_id, rrf, n_legs, rank), rank <= k */
  def rrfFuse(legs: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(k > 0, s"k must be positive, got $k")
    val all = legs.map(_.select(col("q_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = all.groupBy("q_id", "doc_id")
      .agg(
        (floor(sum(lit(1.0) / (lit(c) + col("rank"))) * lit(1e9) + lit(0.5))
          / lit(1e9)).as("rrf"),
        count(lit(1)).as("n_legs"))
    Similarity.topKPerQuery(
        fused.select(col("q_id"), col("doc_id").as("c_id"), col("rrf")),
        "rrf", k)
      .join(fused.select(col("q_id"), col("doc_id").as("c_id"),
        col("n_legs")), Seq("q_id", "c_id"))
      .select(col("q_id"), col("c_id").as("doc_id"), col("rrf"),
        col("n_legs"), col("rank"))
  }

  /** Retrieval-quality evaluation: per-query recall@k, reciprocal rank,
    * and nDCG@k of a ranked result list against graded relevance
    * judgments — the measurement half of every retrieval/ANN tuning
    * loop (e.g. an approximate leg scored against exact top-k truth, or
    * a system scored against human qrels).
    *
    * nDCG uses the exponential gain (2^rel − 1) with NATURAL-log
    * discounts on both dcg and idcg — nDCG is invariant to the log
    * base, so this avoids cross-engine log2 differences. Metrics
    * quantize to 1e-6 (engine-portable, the bm25 discipline).
    *
    * Scale shape: `results` is k-bounded per query and `qrels` is
    * judgment-sized, so every join, window, and aggregate here runs on
    * query-batch-sized frames — the per-query idcg window partitions
    * never exceed the judgment count for that query. A query with no
    * relevant judgments scores rr = ndcg = 0 and NULL recall (0/0 —
    * no statement about recall is possible, and NULL says so).
    *
    * @param results (q_id, doc_id, rank) — rank 1-based; rows with
    *                rank > k are ignored
    * @param qrels   (q_id, doc_id, rel) — rel > 0 means relevant;
    *                graded rels feed the dcg gains
    * @return (q_id, n_rel, hits, recall, rr, ndcg) one row per query
    *         appearing in `results` */
  def evalTopK(results: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    def q6(c: org.apache.spark.sql.Column) =
      floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    val res = results.where(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank"))
    // the judgment frame feeds BOTH the hit join and the ideal-gain
    // aggregate — pin it so a computed qrels leg (e.g. exact top-k
    // truth from a corpus scan) runs once, not once per consumer
    val qr = CacheScope.pin(qrels.select(col("q_id"), col("doc_id"),
      col("rel").cast("double").as("rel")))
    val joined = res.join(qr, Seq("q_id", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0.0)))
    val per = joined.groupBy("q_id").agg(
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("hits"),
      min(when(col("rel") > 0, col("rank"))).as("first_rel"),
      sum(when(col("rel") > 0,
          (pow(lit(2.0), col("rel")) - 1) / log(col("rank") + 1))
        .otherwise(lit(0.0))).as("dcg"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("rel").desc, col("doc_id").asc)
    // one pass over the judgments for n_rel AND idcg (pos caps the
    // gains at k, the count is uncapped by definition)
    val ideal = qr.where(col("rel") > 0)
      .withColumn("pos", row_number().over(w))
      .groupBy("q_id").agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("pos") <= k,
            (pow(lit(2.0), col("rel")) - 1) / log(col("pos") + 1))
          .otherwise(lit(0.0))).as("idcg"))
    per.join(ideal, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"),
        q6(col("hits") / col("n_rel")).as("recall"),
        q6(coalesce(lit(1.0) / col("first_rel"), lit(0.0))).as("rr"),
        q6(when(col("idcg").isNull || col("idcg") === 0, lit(0.0))
          .otherwise(col("dcg") / col("idcg"))).as("ndcg"))
  }

  /** Full postings index with its partition key: (tb, term, id, tf, dl),
    * tb = md5-hash(term) % nBuckets. Written `partitionBy("tb")`, a query
    * batch touches only the partitions its terms hash into — partition
    * PRUNING at the scan, not just a join filter (the at-rest analog of
    * [[bm25TopK]]'s broadcast prefilter). */
  def searchIndex(docs: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 64): DataFrame =
    docs.select(col(idCol).as("id"), Dedup.tokens(col(textCol)).as("tk"))
      .select(col("id"), size(col("tk")).cast("long").as("dl"),
        explode(col("tk")).as("term"))
      .groupBy("term", "id", "dl")
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb",
        pmod(Dedup.md5Hash32(col("term"), lit(3)), lit(nBuckets.toLong)))

  /** Corpus stats the scorer needs, computed once at INDEX time (n_docs,
    * avgdl over every doc with ≥ 0 tokens — the full corpus). */
  def indexStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(Dedup.tokens(col(textCol)).as("tk"))
      .agg(count(lit(1)).cast("double").as("n_docs"),
        avg(size(col("tk"))).as("avgdl"))

  /** Persist the standing search index: term-bucket-partitioned postings
    * plus the 1-row stats frame. Build once, query forever — at corpus
    * scale the per-batch tokenize+aggregate of [[bm25TopK]] is the cost
    * you amortize away. */
  def writeSearchIndex(docs: DataFrame, idCol: String, textCol: String,
                       path: String, nBuckets: Int = 64): Unit = {
    searchIndex(docs, idCol, textCol, nBuckets)
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$path/postings")
    indexStats(docs, textCol)
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** BM25 top-k against a standing [[writeSearchIndex]] layout. The query
    * batch's terms hash to their partition buckets (computed on the tiny
    * query frame, collected driver-side — query-batch-sized, the
    * model-only driver-traffic discipline) and the postings scan prunes
    * to exactly those partitions. The pruned postings of each document
    * are grouped into one row and scored by the same
    * [[scoreAndRank]] stage as [[bm25TopK]]. `nBuckets` must match the
    * written index. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame, k: Int, k1: Double = 1.2,
                      b: Double = 0.75, nBuckets: Int = 64): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qt = queryTerms(queries)
    val buckets = qt
      .select(pmod(Dedup.md5Hash32(col("term"), lit(3)),
        lit(nBuckets.toLong)).as("tb"))
      .distinct().collect().map(_.getLong(0))
    val cand = spark.read.parquet(s"$path/postings")
      .where(col("tb").isin(buckets: _*))
      .join(broadcast(qt.select("term").distinct()), "term")
    val docs = cand.groupBy("id", "dl")
      .agg(collect_list(struct(col("term"), col("tf"))).as("tt"))
      .select(col("id"), struct(col("tt"), col("dl")).as("doc"))
    scoreAndRank(docs, qt, cand.groupBy("term").agg(count(lit(1)).as("df")),
      spark.read.parquet(s"$path/stats"), k, k1, b)
  }

  /** Positional exact-phrase match: for each (query phrase, doc), the
    * number of token positions where the full phrase occurs contiguously.
    *
    * Plan: one posexplode scan builds (doc, pos, term); the phrase side
    * explodes to (q_id, offset, term) — tiny, broadcast. Joining on term
    * maps every (occurrence, phrase-slot) pair to a candidate start
    * `pos - offset`; a start is a true occurrence iff ALL `plen` distinct
    * offsets are present at it (`count(distinct offset) = plen` — robust
    * to repeated terms inside the phrase). Two keyed partial aggregations
    * over candidate rows; nothing corpus-sized shuffles except postings
    * of phrase terms.
    *
    * @param phrases DataFrame(q_id: long, terms: array<string>) — the
    *                phrase token sequence, order-significant
    * @return DataFrame(q_id, doc_id, n_matches) — only (phrase, doc)
    *         pairs with at least one occurrence */
  def phraseMatch(docs: DataFrame, idCol: String, textCol: String,
                  phrases: DataFrame): DataFrame = {
    val pos = docs
      .select(col(idCol).as("id"), posexplode(Dedup.tokens(col(textCol))))
      .select(col("id"), col("pos").cast("long").as("pos"),
        col("col").as("term"))

    val slots = phrases.select(col("q_id"), size(col("terms")).as("plen"),
        posexplode(col("terms")))
      .select(col("q_id"), col("plen").cast("long").as("plen"),
        col("pos").cast("long").as("off"), col("col").as("term"))

    // at a fixed (q_id, doc, start), each offset contributes exactly one
    // joined row — (doc, pos) is unique and (q_id, off) is unique — so a
    // plain count equals the distinct-offset count without the
    // two-phase distinct aggregation
    pos.join(broadcast(slots), "term")
      .select(col("q_id"), col("id"), col("plen"),
        (col("pos") - col("off")).as("start"))
      .where(col("start") >= 0)
      .groupBy("q_id", "id", "plen", "start")
      .agg(count(lit(1)).as("hits"))
      .where(col("hits") === col("plen"))
      .groupBy("q_id", "id")
      .agg(count(lit(1)).as("n_matches"))
      .select(col("q_id"), col("id").as("doc_id"), col("n_matches"))
  }
}
