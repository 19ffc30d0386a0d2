package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps.materialize

/** Approximate & exact nearest-neighbor search over embedding columns
  * (`array<float>`/`array<double>`).
  *
  * Pure Catalyst expressions (`zip_with`/`aggregate`) keep the dot products
  * inside whole-stage codegen — no UDF in the hot loop. The LSH variant
  * (random-hyperplane signs derived from md5 so they are deterministic and
  * oracle-reproducible) is the 100 TB scale path: candidate generation is an
  * equi-join on bucket keys instead of a full cross join.
  */
object Similarity {

  /** JIT-compiled cosine kernel: sequential double folds (higher-order
    * array functions are interpreted per element, so the hot paths use
    * this JVM loop instead). */
  def cosineKernel(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }
  /** Cosine similarity of two float/double-array columns (computed in
    * double): the codegen'd [[graft.plans.CosineSim]] expression — no
    * UDF encoder boundary in the ANN hot loop; arithmetic identical to
    * [[cosineKernel]] by construction (spec'd). */
  def cosineCol(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.cosineSim(a, b)

  /** Per-query top-k over a scored candidate frame WITHOUT a window sort:
    * `PARTITION BY q_id ORDER BY score ... ROW_NUMBER() <= k` funnels a
    * query's ENTIRE candidate set through ONE window task — for the
    * brute/SQ scans that is the whole corpus per query, the one plan shape
    * that cannot ship at 100 TB. This computes the identical result with
    * the bounded k-heap [[TopKPairs]] Aggregator (the `ds_weighted_k` /
    * [[SmallestK]] discipline): partial aggregation keeps at most k
    * `(c_id, score)` pairs per query per map task, the merge is k-bounded,
    * and the only shuffle moves O(n_queries * k * n_map_tasks) tiny
    * buffers — never candidate rows.
    *
    * Determinism: the top k by `(score desc, c_id asc)` is a set property
    * of the candidate set, independent of partitioning, so output matches
    * the window formulation row for row (c_id uniqueness per query
    * suffices). Rank = 1-based position in that order, exactly
    * `row_number`.
    *
    * @param scored frame with `q_id` (integral), `c_id` (integral) and
    *               `scoreCol` (double) columns
    * @return DataFrame(q_id, c_id, scoreCol, rank:int), rank <= k */
  def topKPerQuery(scored: DataFrame, scoreCol: String, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("q_id").cast("long"), col("c_id").cast("long"),
        col(scoreCol).cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKPairs(k).toColumn.name("top"))
      .toDF("q_id", "top")
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col._1").as("c_id"),
        col("col._2").as(scoreCol), (col("pos") + 1).cast("int").as("rank"))
  }

  /** Exact brute-force top-k by cosine for a set of query vectors.
    * Broadcast the (small) query side; one pass over the corpus, then a
    * per-query bounded-heap top-k (never a per-query window sort — see
    * [[topKPerQuery]]). Ties break by corpus id ascending. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     corpusId: String, queryId: String, vecCol: String,
                     k: Int): DataFrame = {
    val c = corpus.select(col(corpusId).as("c_id"), col(vecCol).as("c_v"))
    val q = queries.select(col(queryId).as("q_id"), col(vecCol).as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(scored, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** NN-DESCENT kNN-GRAPH construction (Dong, Charikar & Li 2011),
    * deterministic variant — the scalable builder for the all-nodes
    * neighbor graph that SemDedup-style clustering, graph-based ANN
    * serving and link-based curation all start from, where per-query
    * top-k (brute/IVF/LSH) is the wrong shape because EVERY node is a
    * query. Initialize each node's k-list from its SRP bucket mates,
    * then `rounds` of the paper's local-join step: "a neighbor of my
    * neighbor is probably my neighbor" — candidates are the current
    * lists' neighbors-of-neighbors over the UNDIRECTED list graph
    * (forward + reverse edges, the reverse side k-capped by the same
    * (cosine desc, id) rule the paper handles by sampling, kept
    * deterministic here), exact-cosine scored, and each node keeps its
    * k best through the bounded-heap [[topKPerQuery]] (never a window).
    *
    * Scale shape: lists are nk rows; the undirected list graph is
    * ≤ 2nk edges with per-node out-degree ≤ 2k, so one round's
    * candidate join emits ≤ 4nk² pairs — linear in n at fixed k —
    * and every round materializes on the [[Rounds]] driver (measured
    * stats). Rounds are synchronized and deterministic, so an
    * unrolled-CTE oracle replays them exactly.
    *
    * @return (id, nbr_id, cosine quantized 1e-6, rank) — k rows per
    *         node with at least one bucket mate */
  def knnDescent(emb: DataFrame, idCol: String, vecCol: String,
                 k: Int = 5, rounds: Int = 2, numPlanes: Int = 8,
                 tables: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 0, "k must be >= 1, rounds >= 0")
    val v = CacheScope.pin(
      emb.select(col(idCol).as("id"), col(vecCol).as("v")))
    def scoreAndKeep(cand: DataFrame): DataFrame = {
      val scored = cand
        .join(v.select(col("id").as("q_id"), col("v").as("q_v")), "q_id")
        .join(v.select(col("id").as("c_id"), col("v").as("c_v")), "c_id")
        .select(col("q_id"), col("c_id"),
          cosineCol(col("q_v"), col("c_v")).as("cosine"))
      topKPerQuery(scored, "cosine", k)
    }
    // the SRP bucketing feeds BOTH sides of the init self-join — pin it
    // so the per-vector hyperplane hashing runs once, not twice, inside
    // the init materialization (freed the moment the init lists land)
    val b = CacheScope.pin(
      srpBucketed(emb, idCol, vecCol, numPlanes, tables)
        .select(col("table"), col("bucket"), col("id")))
    val start = materialize(scoreAndKeep(
      b.select(col("table"), col("bucket"), col("id").as("q_id"))
        .join(b.select(col("table"), col("bucket"),
          col("id").as("c_id")), Seq("table", "bucket"))
        .where(col("q_id") =!= col("c_id"))
        .select("q_id", "c_id").distinct()))
    b.unpersist(false)
    val last = Rounds.iterate(start, rounds) { (cur, _) =>
      val lists = cur.df
      // k-capped reverse lists keep hub in-degrees from exploding the
      // local join (the paper's reverse-sampling, made deterministic)
      val rev = topKPerQuery(lists.select(col("c_id").as("q_id"),
        col("q_id").as("c_id"), col("cosine")), "cosine", k)
      // the undirected list graph feeds BOTH sides of the local join —
      // pinned, its reverse-top-k aggregation runs once per round, not
      // twice (freed after the round's lists land)
      val und = CacheScope.pin(
        lists.select(col("q_id").as("a"), col("c_id").as("b"))
          .unionByName(rev.select(col("q_id").as("a"), col("c_id").as("b")))
          .distinct())
      val cand = und
        .join(und.select(col("a").as("b"), col("b").as("c")), "b")
        .where(col("a") =!= col("c"))
        .select(col("a").as("q_id"), col("c").as("c_id"))
        .unionByName(lists.select("q_id", "c_id"))
        .distinct()
      val next = materialize(scoreAndKeep(cand))
      und.unpersist(false)
      next
    }
    v.unpersist(false)
    last.df.select(col("q_id").as("id"), col("c_id").as("nbr_id"),
      (floor(col("cosine") * 1e6 + 0.5) / 1e6).as("cosine"), col("rank"))
  }

  /** INCREMENTAL kNN-graph maintenance — the operator a standing
    * embedding pipeline actually runs per ingest batch, where
    * [[knnDescent]]'s from-scratch rebuild re-pays the whole corpus
    * every day. New vectors join the standing graph through the
    * standing SRP bucket index; only the batch and the touched
    * neighborhoods are ever scored (the `incrementalMinHash` standing-
    * index discipline applied to the ANN family):
    *
    *  1. batch nodes bucket (O(|B|) rows) and take candidates from
    *     their corpus bucket mates plus within-batch mates;
    *  2. `rounds` bounded descent rounds refine ONLY the batch nodes:
    *     neighbor-of-neighbor candidates through the batch's current
    *     lists and the standing lists of the nodes they reach
    *     (≤ |B|·k² candidate pairs per round);
    *  3. one reverse pass updates the AFFECTED corpus nodes — every
    *     corpus node that shares a bucket with, or was kept as a
    *     neighbor by, a batch node merges those batch vectors into its
    *     existing k-list through one bounded-heap top-k. Unaffected
    *     corpus rows are never recomputed (classic online graph-ANN
    *     insertion: forward links for the new point, reverse links for
    *     its neighborhood).
    *
    * All merge comparisons happen on 1e-6-quantized cosines with id
    * tie-break — the standing graph already carries quantized scores,
    * so merged rankings are well-defined, deterministic, and exactly
    * replayable by an unrolled oracle.
    *
    * Scale shape: per-batch COMPUTE is proportional to the batch and
    * its touched neighborhoods, never the corpus — the corpus-sized
    * inputs (`graph`, `corpusBuckets`) enter only through keyed
    * equi-joins (bucket join, id semi/anti/lookup joins) that shuffle
    * nothing corpus-sized when the standing tables are bucketed by
    * their join keys ([[graft.sources]] bucketed sinks); vector
    * lookups stream the (id, v) columns map-side. Output is the DELTA
    * (batch rows + re-ranked affected rows), so the caller merges via
    * the engine's keyed upsert instead of rewriting the graph.
    *
    * Contract: batch ids are disjoint from corpus ids (re-ingestion is
    * upstream dedup's job); `graph` is a [[knnDescent]]-shaped frame
    * (id, nbr_id, cosine quantized 1e-6, rank); `corpusBuckets` is
    * [[srpBucketed]] output over the same corpus and geometry.
    *
    * NOTE (pin lifecycle): the returned frame is LAZY and this
    * operator pins multi-consumer intermediates until the caller
    * materializes it — Bench/Verify blanket-clear between
    * queries; a long-lived library session should wrap the call
    * in [[CacheScope.materialized]] (the prefixJaccardPairs
    * contract).
    *
    * @return (id, nbr_id, cosine, rank, kind) — kind `new` for batch
    *         nodes' lists, `updated` for re-ranked affected corpus
    *         nodes' full k-lists */
  def knnDescentIncremental(graph: DataFrame, corpusBuckets: DataFrame,
                            newVecs: DataFrame, idCol: String,
                            vecCol: String, k: Int = 5, rounds: Int = 1,
                            numPlanes: Int = 8, tables: Int = 4)
      : DataFrame = {
    require(k >= 1 && rounds >= 0, "k must be >= 1, rounds >= 0")
    // the batch's vectors feed every scoring stage and the corpus-side
    // anti-joins: pin (batch-sized)
    val bV = CacheScope.pin(
      newVecs.select(col(idCol).as("id"), col(vecCol).as("v")))
    val bB = srpBucketed(newVecs, idCol, vecCol, numPlanes, tables)
      .select(col("table"), col("bucket"), col("id"))
    val cB = corpusBuckets.select(col("table"), col("bucket"), col("id"))
    // vector lookup relation: batch ∪ corpus. The corpus side reads
    // (id, v) once per scoring stage straight off the standing index's
    // table-0 rows (one row per id, no dedup shuffle) — deliberately
    // NOT pinned: caching it would cost a corpus-sized materialization
    // per batch, the exact thing this operator exists to avoid.
    val allV = bV.unionByName(
      corpusBuckets.where(col("table") === 0)
        .select(col("id"), col("v")))
    def scoreKeep(cand: DataFrame): DataFrame =
      topKPerQuery(cand
        .join(allV.select(col("id").as("q_id"), col("v").as("q_v")), "q_id")
        .join(allV.select(col("id").as("c_id"), col("v").as("c_v")), "c_id")
        .select(col("q_id"), col("c_id"),
          (floor(cosineCol(col("q_v"), col("c_v")) * 1e6 + 0.5) / 1e6)
            .as("cosine")),
        "cosine", k)
    // init candidates: corpus bucket mates + within-batch mates; feeds
    // the init scoring AND the reverse pass — pin (batch-neighborhood-
    // sized)
    val c0 = CacheScope.pin(
      bB.select(col("table"), col("bucket"), col("id").as("q_id"))
        .join(cB.select(col("table"), col("bucket"),
          col("id").as("c_id")), Seq("table", "bucket"))
        .select("q_id", "c_id")
        .unionByName(
          bB.select(col("table"), col("bucket"), col("id").as("q_id"))
            .join(bB.select(col("table"), col("bucket"),
              col("id").as("c_id")), Seq("table", "bucket"))
            .where(col("q_id") =!= col("c_id"))
            .select("q_id", "c_id"))
        .distinct())
    // each round's lists feed THREE consumers in the next round's plan
    // (the neighbor-list union, the candidate left side, and the
    // trailing keep-current union) and the final lists feed the output
    // AND the reverse pass — pin every generation, or the init scoring
    // re-executes once per reference (batch-neighborhood-sized frames;
    // the Bench/Verify isolation clears pins between queries)
    var newL = CacheScope.pin(scoreKeep(c0))
    var r = 0
    while (r < rounds) {
      // neighbor lists during rounds: the batch's own current lists
      // plus the UNCHANGED standing lists (the reverse pass lands
      // after the rounds, off the final forward lists)
      val lists = newL.select(col("q_id").as("n"), col("c_id").as("c"))
        .unionByName(graph.select(col("id").as("n"),
          col("nbr_id").as("c")))
      val cand = newL.select(col("q_id"), col("c_id").as("n"))
        .join(lists, "n")
        .where(col("q_id") =!= col("c"))
        .select(col("q_id"), col("c").as("c_id"))
        .unionByName(newL.select("q_id", "c_id"))
        .distinct()
      newL = CacheScope.pin(scoreKeep(cand))
      r += 1
    }
    // reverse pass: (corpus node, batch node) pairs from the bucket
    // join plus pairs the descent kept; corpus side isolated by
    // anti-join on the (small, pinned) batch ids
    val rev = c0.select(col("c_id").as("q_id"), col("q_id").as("c_id"))
      .unionByName(newL.select(col("c_id").as("q_id"),
        col("q_id").as("c_id")))
      .join(bV.select(col("id").as("q_id")), Seq("q_id"), "left_anti")
      .distinct()
      .transform(CacheScope.pin)
    val revScored = rev
      .join(allV.select(col("id").as("q_id"), col("v").as("q_v")), "q_id")
      .join(bV.select(col("id").as("c_id"), col("v").as("c_v")), "c_id")
      .select(col("q_id"), col("c_id"),
        (floor(cosineCol(col("q_v"), col("c_v")) * 1e6 + 0.5) / 1e6)
          .as("cosine"))
    val oldRows = graph
      .join(rev.select(col("q_id").as("id")).distinct(),
        Seq("id"), "left_semi")
      .select(col("id").as("q_id"), col("nbr_id").as("c_id"),
        col("cosine").cast("double").as("cosine"))
    // dropDuplicates: when the standing graph ALREADY holds a
    // (corpus, batch-id) edge — a replayed micro-batch after a
    // completed upsert — the pair arrives from both legs with the
    // IDENTICAL quantized cosine (same vectors, same arithmetic), and
    // topKPerQuery requires unique candidates per query; the dedup is
    // deterministic because the duplicate rows are equal in all three
    // columns
    val upd = topKPerQuery(
      oldRows.unionByName(revScored).dropDuplicates("q_id", "c_id"),
      "cosine", k)
    newL.select(col("q_id").as("id"), col("c_id").as("nbr_id"),
        col("cosine"), col("rank"), lit("new").as("kind"))
      .unionByName(
        upd.select(col("q_id").as("id"), col("c_id").as("nbr_id"),
          col("cosine"), col("rank"), lit("updated").as("kind")))
  }

  private val signCache = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Double]()

  /** Deterministic pseudo-random hyperplane component for (plane p, dim d):
    * md5(d) seeded by p, mapped to {-1, +1} — engine-agnostic, so the
    * oracle can reproduce the exact bucketing. Memoized: the coefficient
    * depends only on (planeId, dim), so the md5 is computed once per pair
    * process-wide. */
  def planeSignKernel(planeId: Int, d: Int): Double =
    signCache.computeIfAbsent((planeId.toLong << 32) | d.toLong,
      _ => if (Dedup.md5Hash32Kernel(d.toString, planeId) % 2 == 0) 1.0 else -1.0)

  /** All tables' SRP buckets for one vector (sequential double dot,
    * acc = t*2^40 + sum 2^p). */
  def srpBucketsKernel(vec: Seq[Float], numPlanes: Int, tables: Int): Seq[Long] =
    (0 until tables).map { t =>
      var acc = t.toLong * (1L << 40)
      var p = 0
      while (p < numPlanes) {
        val planeId = p + t * numPlanes
        var dot = 0.0
        var d = 0
        val n = vec.length
        while (d < n) {
          dot += vec(d).toDouble * planeSignKernel(planeId, d)
          d += 1
        }
        if (dot > 0) acc += 1L << p
        p += 1
      }
      acc
    }
  private[operators] val srpBucketsUdf = udf(srpBucketsKernel _)

  /** (id, vec, table, bucket) rows for a vector frame: one row per SRP
    * hash table, bucket = the table's sign-pattern key. Distinct tables
    * use distinct planes (plane index offset by table). The shared
    * blocking primitive for LSH top-k and LSH near-dup pairs. */
  def srpBucketed(df: DataFrame, idCol: String, vecCol: String,
                  numPlanes: Int, tables: Int,
                  prefix: String = ""): DataFrame =
    df.select(col(idCol).as(s"${prefix}id"), col(vecCol).as(s"${prefix}v"),
      posexplode(srpBucketsUdf(col(vecCol), lit(numPlanes), lit(tables))))
      .withColumnRenamed("col", "bucket").withColumnRenamed("pos", "table")

  /** LSH-bucketed ANN top-k: queries only compare against corpus vectors in
    * the same SRP bucket (repeated over `tables` independent hash tables for
    * recall). Scale path for bruteForceTopK. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, queryId: String, vecCol: String,
              k: Int, numPlanes: Int = 8, tables: Int = 2): DataFrame = {
    val c = srpBucketed(corpus, corpusId, vecCol, numPlanes, tables, "c_")
    val q = srpBucketed(queries, queryId, vecCol, numPlanes, tables, "q_")
    val cands = c.join(q, Seq("table", "bucket"))
      .dropDuplicates("q_id", "c_id")
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(cands, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Scores every centroid against one vector and keeps the `n` nearest by
    * `(cosine desc, cent_id asc)` — a plain JVM loop over the broadcast
    * model array (the kmeans `nearestUdf` shape), so coarse assignment is
    * a NARROW map stage: no crossJoin row blowup, no per-vector window,
    * zero shuffle. */
  private def nearestCentroidsUdf(cents: Array[(Long, Seq[Float])], n: Int) =
    udf((vec: Seq[Float]) =>
      if (vec == null) Seq.empty[(Long, Double)] // null vec -> null assign
      else cents.map { case (id, cv) => (id, cosineKernel(vec, cv)) }
        .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
        .take(n).toSeq)

  /** Collects a centroid frame to the model array [[nearestCentroidsUdf]]
    * closes over — model-sized driver traffic only (k x dim floats, the
    * kmeans/PCA precedent), never corpus rows. */
  private def collectCentroids(centroids: DataFrame, centId: String,
                               centVec: String): Array[(Long, Seq[Float])] = {
    val cents = centroids
      .select(col(centId).cast("long"),
        transform(col(centVec), _.cast("float")).as("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    // refuse, don't guess: an empty model would emit null assignments
    // for every vector instead of a diagnosable failure
    require(cents.nonEmpty, "centroid frame is empty")
    cents
  }

  /** IVF-style coarse quantization: assign every vector to its nearest of
    * `centroids`, search only within the probe's cell. Centroids are
    * caller-provided (e.g. from a sample + k-means outside, or a
    * deterministic seed set) and model-sized: they collect to a driver
    * array once and the assignment is a NARROW map-side argmin per vector
    * ([[nearestCentroidsUdf]]) — no crossJoin row blowup, no per-vector
    * window shuffle, zero exchanges in the whole plan. */
  def ivfAssign(vectors: DataFrame, vecId: String, vecCol: String,
                centroids: DataFrame, centId: String, centVec: String): DataFrame = {
    val cents = collectCentroids(centroids, centId, centVec)
    val nearest1 = nearestCentroidsUdf(cents, 1)
    vectors.select(col(vecId).as("v_id"), col(vecCol).as("v"))
      .select(col("v_id"), element_at(nearest1(col("v")), 1).as("a"))
      .select(col("v_id"), col("a._1").as("cent_id"),
        round(col("a._2"), 6).as("cosine"))
  }

  /** Full IVF search: corpus vectors live in their nearest-centroid cell
    * (one cell each); every query probes its `nProbe` nearest centroids and
    * scores ONLY those cells' vectors. Per-query work is bounded by probed
    * cell sizes, independent of corpus size — nProbe is the standard IVF
    * recall/latency dial. Cell/probe assignment is a map-side argmin over
    * the collected model-sized centroid array (zero shuffles); the
    * cell-restricted search is a shuffle equi-join on cent_id. Output:
    * (q_id, c_id, cosine, rank <= k); pairs are unique because each corpus
    * vector belongs to exactly one cell. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              corpusId: String, queryId: String, vecCol: String,
              centroids: DataFrame, centId: String, centVec: String,
              k: Int, nProbe: Int = 2): DataFrame = {
    val cents = collectCentroids(centroids, centId, centVec)
    val nearest1 = nearestCentroidsUdf(cents, 1)
    val cells = corpus.select(col(corpusId).as("c_id"), col(vecCol).as("c_v"))
      .select(col("c_id"), col("c_v"),
        element_at(nearest1(col("c_v")), 1).getField("_1").as("cent_id"))
    val nearestP = nearestCentroidsUdf(cents, nProbe)
    val probes = queries.select(col(queryId).as("q_id"), col(vecCol).as("q_v"))
      .select(col("q_id"), col("q_v"),
        explode(nearestP(col("q_v")).getField("_1")).as("cent_id"))
    val cands = probes.join(cells, "cent_id")
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(cands, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Persist the IVF layout as a standing index — the embedding analog
    * of the standing BM25 search index: corpus vectors written
    * partitioned BY CELL (their nearest-centroid assignment) under
    * `path/cells`, the centroid model under `path/model`. Build once,
    * query forever: at corpus scale the per-batch cell-assignment pass
    * of [[ivfTopK]] is the cost this amortizes away, and every query
    * batch afterwards reads ONLY its probed cells' partitions. */
  def writeIvfIndex(corpus: DataFrame, corpusId: String, vecCol: String,
                    centroids: DataFrame, centId: String, centVec: String,
                    path: String): Unit = {
    val cents = collectCentroids(centroids, centId, centVec)
    val nearest1 = nearestCentroidsUdf(cents, 1)
    corpus.select(col(corpusId).as("c_id"), col(vecCol).as("c_v"))
      .select(col("c_id"), col("c_v"),
        element_at(nearest1(col("c_v")), 1).getField("_1").as("cent_id"))
      .write.mode("overwrite").partitionBy("cent_id")
      .parquet(s"$path/cells")
    centroids.select(col(centId).cast("long").as("cent_id"),
        transform(col(centVec), _.cast("float")).as("cent_v"))
      .write.mode("overwrite").parquet(s"$path/model")
  }

  /** Append an ingest batch to a standing [[writeIvfIndex]] layout —
    * the daily-ingest operation of a serving IVF index. The batch
    * assigns against the STANDING centroid model (broadcast,
    * model-sized — same argmin kernel as the build, so append-then-
    * query is bit-identical to rebuild-then-query by construction) and
    * appends rows ONLY under its own cells' partitions: per-batch cost
    * is O(|batch| × k centroids) assignment plus writes touching the
    * batch's cells — the corpus-sized cell files are never read or
    * rewritten. Centroid DRIFT is the caller's retrain gate: the model
    * is frozen here on purpose, because re-assigning the corpus is the
    * rebuild this operation exists to avoid. Batch ids must be new
    * (the re-ingestion contract of every standing index here);
    * replaying a completed append duplicates rows — at rest, land each
    * batch under a batch-stamped subdirectory (the `batch_id`
    * partition discipline of [[graft.streaming.IncrementalIngest]]) if
    * the ingest source can replay. */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String, batch: DataFrame, batchId: String,
                     vecCol: String): Unit = {
    val cents = collectCentroids(spark.read.parquet(s"$path/model"),
      "cent_id", "cent_v")
    val nearest1 = nearestCentroidsUdf(cents, 1)
    batch.select(col(batchId).as("c_id"), col(vecCol).as("c_v"))
      .select(col("c_id"), col("c_v"),
        element_at(nearest1(col("c_v")), 1).getField("_1").as("cent_id"))
      .write.mode("append").partitionBy("cent_id")
      .parquet(s"$path/cells")
  }

  /** IVF top-k against a standing [[writeIvfIndex]] layout. The query
    * batch routes on the broadcast model exactly like [[ivfTopK]]; the
    * probed cell ids (query-batch-bounded: ≤ nProbe × batch, collected
    * driver-side per the model-only traffic discipline) prune the cell
    * scan at the PARTITION level, so only probed cells' files are ever
    * opened — the at-rest analog of ivfTopK's cell equi-join. Answers
    * are identical to [[ivfTopK]] under the same model by construction
    * (same assignment kernel at write time, same scoring after). */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, queryId: String, vecCol: String,
                     k: Int, nProbe: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cents = collectCentroids(spark.read.parquet(s"$path/model"),
      "cent_id", "cent_v")
    val nearestP = nearestCentroidsUdf(cents, nProbe)
    val probes = queries.select(col(queryId).as("q_id"), col(vecCol).as("q_v"))
      .select(col("q_id"), col("q_v"),
        explode(nearestP(col("q_v")).getField("_1")).as("cent_id"))
    val probedCells = probes.select(col("cent_id")).distinct()
      .collect().map(_.getLong(0))
    val cells = spark.read.parquet(s"$path/cells")
      .where(col("cent_id").isin(probedCells: _*))
    val cands = probes.join(cells, "cent_id")
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(cands, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  /** Centroid-DRIFT audit for a standing [[writeIvfIndex]] layout — the
    * signal [[appendIvfIndex]]'s frozen-model contract leaves to the
    * caller: per cell, the assignment-similarity distribution of the
    * standing corpus vs an incoming batch. A batch whose vectors land
    * systematically FARTHER from their nearest centroid than the corpus
    * did (drift < 0 and widening) is the retrain trigger; cells with
    * batch_n = 0 going stale and cells absorbing the whole batch are the
    * imbalance signals. Cost: one scan of the cells (each row scores
    * against ITS OWN stored centroid via the broadcast model — 1 cosine
    * per row), one scan of the batch (argmin over the model-sized
    * centroid array, same kernel the append uses), two cell-keyed
    * partial aggs — output is model-sized (one row per centroid).
    *
    * Engine-parity: per-row cosines quantize to 1e-6 LONGS before
    * aggregation, so the cell sums are exact integers (order-proof) and
    * the means are one deterministic division each — the integer-
    * histogram discipline, immune to distributed double-sum ordering.
    *
    * @return (cent_id, corpus_n, corpus_mean, batch_n, batch_mean,
    *         drift = batch_mean − corpus_mean; means null for empty
    *         sides) for every centroid in the standing model. */
  def ivfDriftAudit(spark: org.apache.spark.sql.SparkSession, path: String,
                    batch: DataFrame, batchId: String,
                    vecCol: String): DataFrame = {
    val model = spark.read.parquet(s"$path/model")
    val cents = collectCentroids(model, "cent_id", "cent_v")
    val nearest1 = nearestCentroidsUdf(cents, 1)
    val corpusQ = spark.read.parquet(s"$path/cells")
      .join(broadcast(model), "cent_id")
      .select(col("cent_id"),
        floor(cosineCol(col("c_v"), col("cent_v")) * lit(1e6) + lit(0.5))
          .cast("long").as("q"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("corpus_n"),
        sum(col("q")).cast("double").as("cq"))
    val batchQ = batch
      .select(col(batchId).as("v_id"), col(vecCol).as("v"))
      .select(element_at(nearest1(col("v")), 1).as("a"))
      .select(col("a._1").as("cent_id"),
        floor(col("a._2") * lit(1e6) + lit(0.5)).cast("long").as("q"))
      .groupBy("cent_id")
      .agg(count(lit(1)).as("batch_n"),
        sum(col("q")).cast("double").as("bq"))
    // floor(x*1e6+0.5)/1e6, not round: integer-sum/count quotients land
    // on decimal midpoints (cq/n = k.5 exactly), where round() diverges
    // across engines — the ts_interp/histQuantiles lesson
    val cm = floor(col("cq") / col("corpus_n") + lit(0.5)) / lit(1e6)
    val bm = floor(col("bq") / col("batch_n") + lit(0.5)) / lit(1e6)
    model.select(col("cent_id"))
      .join(corpusQ, Seq("cent_id"), "left")
      .join(batchQ, Seq("cent_id"), "left")
      .select(col("cent_id"),
        coalesce(col("corpus_n"), lit(0L)).as("corpus_n"),
        cm.as("corpus_mean"),
        coalesce(col("batch_n"), lit(0L)).as("batch_n"),
        bm.as("batch_mean"),
        (bm - cm).as("drift"))
  }

  /** Squared-euclidean JIT kernel over double vectors (sequential fold —
    * same accumulation order as the oracle's list_reduce). */
  def sqDistKernel(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = a(i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Lloyd k-means over an embedding column, deterministic end to end:
    * centroids initialize from the `k` smallest-id vectors (cluster label =
    * that id), ties in the nearest-centroid argmin break by label
    * ascending, and the driver never sees a vector — only the k x dim
    * centroid model (the standard Lloyd driver loop, like MLlib's).
    *
    * Per iteration: one narrow pass scoring every vector against the
    * broadcast centroid array (no crossJoin row blowup, no window), then
    * one shuffle keyed (cluster, dim) for the element-wise means — k*dim
    * aggregate rows collect back as the next model. Work per iteration is
    * O(rows * k * dim) map-side + an O(k * dim) shuffle, so the plan holds
    * at any corpus size; `iters` bounds the fixpoint like the CC loop.
    *
    * Output: (idCol, cluster, dist) — final assignment with euclidean
    * distance rounded to 6 (absorbs cross-engine sum-order ulps). */
  def kmeans(vectors: DataFrame, idCol: String, vecCol: String,
             k: Int, iters: Int): DataFrame = {
    require(k > 0 && iters > 0)
    val spark = vectors.sparkSession
    val v = vectors.select(col(idCol).as("v_id"),
      transform(col(vecCol), _.cast("double")).as("v"))

    var model: Array[(Int, Seq[Double])] = v.orderBy("v_id").limit(k)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1)))

    def nearestUdf(cents: Array[(Int, Seq[Double])]) =
      udf((vec: Seq[Double]) => {
        var bestId = cents(0)._1
        var bestD = sqDistKernel(vec, cents(0)._2)
        var i = 1
        while (i < cents.length) {
          val d = sqDistKernel(vec, cents(i)._2)
          if (d < bestD || (d == bestD && cents(i)._1 < bestId)) {
            bestD = d; bestId = cents(i)._1
          }
          i += 1
        }
        (bestId, math.sqrt(bestD))
      })

    var it = 1
    while (it < iters) {
      val assigned = v.withColumn("cluster",
        nearestUdf(model)(col("v")).getField("_1"))
      model = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy("cluster", "d").agg(avg("x").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
        }
        .toArray.sortBy(_._1)
      it += 1
    }
    val fin = nearestUdf(model)
    v.withColumn("a", fin(col("v")))
      .select(col("v_id").as(idCol), col("a._1").as("cluster"),
        round(col("a._2"), 6).as("dist"))
  }

  /** PCA first-principal-component projection — the standard embedding
    * whitening/dim-reduction step (common-component removal per Mu &
    * Viswanath 2018, "All-but-the-Top", reduces to exactly this
    * operator). Exact covariance by distributed aggregation, dominant
    * eigenvector by a FIXED-round power iteration on the driver:
    *
    *  - per-dim means + the d x d covariance via posexplode -> self-join
    *    on the row id -> (i, j) partial-agg SUM. Work is O(rows * d^2)
    *    map-side but the shuffle carries only d^2 rows per task (the
    *    exact-covariance cost every textbook PCA pays; at 100 TB with
    *    large d you switch to a sketched covariance, not a different
    *    plan shape).
    *  - ONLY the d^2 covariance scalars cross the driver (the k-means
    *    centroid-model precedent), where `iterations` deterministic
    *    power-iteration rounds from the fixed uniform start vector run
    *    in plain loops — no convergence epsilon, so the result (sign
    *    included) is a pure function of the COLLECTED covariance.
    *    The covariance itself is an unordered distributed double sum
    *    (partial aggs merge in task-completion order), so cross-engine
    *    parity is TOLERANCE-based, not bit-exact: the round(,4) output
    *    absorbs the ulp-scale disagreement everywhere except a pc1
    *    landing exactly on a decimal midpoint — accepted and documented
    *    (an ordered fold would need a per-element sort the operator's
    *    scale story can't pay; callers needing bit-stability should
    *    quantize inputs to fixed-point first).
    *  - the projection is a map-only SEQUENTIAL fold per row
    *    (aggregate over zip_with — the engine-parity fold shape used by
    *    every embedding operator here), so cross-engine sum order
    *    cannot reorder it.
    *
    * @return (idCol, pc1) — signed scalar projection of each centered
    *         vector onto the dominant eigenvector, rounded to 4. */
  def pcaProject(vectors: DataFrame, idCol: String, vecCol: String,
                 iterations: Int = 10): DataFrame = {
    require(iterations >= 1, "need at least one power-iteration round")
    val v = vectors.select(col(idCol).as("v_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val x = v.select(col("v_id"), posexplode(col("v")).as(Seq("i", "xi")))
    val mu = x.groupBy("i").agg(avg("xi").as("mu"))
    // centered feeds BOTH sides of the covariance self-join — persist so
    // the explode + mean join executes once, not twice (the a20/hits
    // multi-consumer discipline)
    val centered = x.join(mu, "i")
      .select(col("v_id"), col("i"), (col("xi") - col("mu")).as("ci"))
      .transform(CacheScope.pin)
    val n = v.count()
    require(n >= 2, "need at least two vectors")
    val covRows = centered
      .join(centered.select(col("v_id"), col("i").as("j"),
        col("ci").as("cj")), "v_id")
      .groupBy("i", "j").agg(sum(col("ci") * col("cj")).as("s"))
      .collect()
    val d = covRows.iterator.map(_.getInt(0)).max + 1
    val cov = Array.ofDim[Double](d, d)
    covRows.foreach(r =>
      cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2) / (n - 1))
    val muArr = mu.collect().map(r => r.getInt(0) -> r.getDouble(1))
      .sortBy(_._1).map(_._2)
    centered.unpersist(false) // fully consumed by the covariance collect
    // fixed-round power iteration, uniform deterministic start; every
    // inner sum is a sequential loop so the oracle can replay it with
    // ordered list folds
    var vec = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var it = 0
    while (it < iterations) {
      val w = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * vec(j); j += 1 }; s
      }
      var nrm = 0.0; var i = 0
      while (i < d) { nrm += w(i) * w(i); i += 1 }
      nrm = math.sqrt(nrm)
      require(nrm > 0, "degenerate covariance (zero variance)")
      vec = w.map(_ / nrm)
      it += 1
    }
    val muLit = array(muArr.map(lit(_)).toSeq: _*)
    val vLit = array(vec.map(lit(_)).toSeq: _*)
    v.select(col("v_id").as(idCol),
      (round(aggregate(
        zip_with(zip_with(col("v"), muLit, (xc, m) => xc - m), vLit,
          (c, w) => c * w),
        lit(0.0), (acc, t) => acc + t), 4) + 0.0).as("pc1"))
  }

  // ------------------------------------------------- scalar quantization

  /** Int8 scalar-quantization codes over a FIXED [lo, hi) domain (the
    * faiss SQ8 shape): code = clamp(floor((v - lo)/(hi - lo) * 256)).
    * Like [[Sketches.histogramCounts]], the range comes from domain
    * knowledge, NOT a data scan — at rest a 64-dim float vector becomes
    * 64 bytes (4x smaller; the at-scale win is cache footprint and
    * shuffle bytes, and codes survive in columnar storage). */
  def sqCodesKernel(v: Seq[Float], lo: Double, hi: Double): Seq[Int] = {
    val out = new Array[Int](v.length)
    var i = 0
    while (i < v.length) {
      val c = math.floor((v(i).toDouble - lo) / (hi - lo) * 256.0).toInt
      out(i) = if (c < 0) 0 else if (c > 255) 255 else c
      i += 1
    }
    out.toSeq
  }
  private val sqCodesUdf = udf(sqCodesKernel _)

  /** Asymmetric distance computation (ADC): cosine between a DEQUANTIZED
    * code vector (bin centers: lo + (code + 0.5) * (hi-lo)/256) and a
    * full-precision query — the standard SQ search arithmetic. Same
    * sequential fold order as [[cosineKernel]] for oracle parity. */
  def sqAdcCosineKernel(codes: Seq[Int], q: Seq[Float], lo: Double,
                        hi: Double): Double = {
    val step = (hi - lo) / 256.0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    val n = math.min(codes.length, q.length)
    while (i < n) {
      val x = lo + (codes(i).toDouble + 0.5) * step
      val y = q(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }
  private val sqAdcUdf = udf(sqAdcCosineKernel _)

  /** SQ8 approximate top-k with exact rerank: quantize the corpus to
    * int8 codes, score every (code, query) pair with ADC cosine, keep
    * the top `rerank` candidates per query by approximate score, then
    * re-score ONLY those on the original float vectors and emit the
    * exact top `k`. Same output contract as [[bruteForceTopK]];
    * recall depends on `rerank / k` headroom and quantization error
    * (SQ8 over a unit-ish domain is near-lossless for cosine ranking).
    * The scan side carries 64-byte codes instead of 256-byte floats —
    * the at-scale memory-bandwidth win — and the exact pass touches
    * only `rerank` rows per query. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
             queryId: String, vecCol: String, k: Int, rerank: Int,
             lo: Double = -0.5, hi: Double = 0.5): DataFrame = {
    require(rerank >= k, "rerank must be >= k")
    val c = corpus.select(col(corpusId).as("c_id"), col(vecCol).as("c_v"))
    val codes = c.select(col("c_id"),
      sqCodesUdf(col("c_v"), lit(lo), lit(hi)).as("cd"))
    val q = queries.select(col(queryId).as("q_id"), col(vecCol).as("q_v"))
    // the corpus-sized approximate scan funnels through the bounded-heap
    // partial aggregation, NOT a per-query window — at 100 TB the window
    // sort, not memory bandwidth, would be the actual bottleneck
    val approx = codes.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        sqAdcUdf(col("cd"), col("q_v"), lit(lo), lit(hi)).as("approx"))
    val cand = topKPerQuery(approx, "approx", rerank).select("q_id", "c_id")
    val exact = cand.join(c, "c_id").join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(exact, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }

  // --------------------------------------------- product quantization

  /** Product-quantization codebooks (Jegou et al. 2011): the vector
    * space splits into `m` contiguous subspaces and each subspace gets
    * its own `kc`-centroid Lloyd codebook — deterministic exactly like
    * [[kmeans]] (seeded from the kc smallest ids' sub-vectors, `iters`
    * assignment rounds, argmin ties to the smaller code, a code whose
    * cell empties keeps its previous centroid), so an oracle engine can
    * replay training bit-for-bit. Driver traffic is the model only:
    * m * kc * (dim/m) doubles — the k-means centroid precedent.
    * @return model(s)(c) = centroid of subspace s, code c. */
  def pqTrain(vectors: DataFrame, idCol: String, vecCol: String,
              m: Int, kc: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && kc > 0 && iters > 0)
    val v = vectors.select(col(idCol).as("v_id"),
      transform(col(vecCol), _.cast("double")).as("v"))
    val dim = v.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val seeds = v.orderBy("v_id").limit(kc).collect()
      .map(_.getSeq[Double](1))
    require(seeds.length == kc, s"need >= $kc vectors to seed, got ${seeds.length}")
    var model: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => seeds.map(_.slice(s * sub, (s + 1) * sub).toArray))
    var it = 1
    while (it < iters) {
      // one narrow pass encodes every row against the broadcast model;
      // the only shuffle carries (s, code, d) -> mean — model-sized
      val enc = pqCodesUdf(model)
      val means = v.select(posexplode(enc(col("v"))).as(Seq("s", "code")),
          col("v"))
        .select(col("s"), col("code"),
          posexplode(slice(col("v"), col("s") * lit(sub) + 1, lit(sub)))
            .as(Seq("d", "x")))
        .groupBy("s", "code", "d").agg(avg("x").as("mu"))
        .collect()
      val next = model.map(_.map(_.clone()))
      means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((s, c), rows) =>
          val cent = new Array[Double](sub)
          rows.foreach(r => cent(r.getInt(2)) = r.getDouble(3))
          next(s)(c) = cent
      }
      model = next
      it += 1
    }
    model
  }

  /** m codes per vector: per subspace, the nearest codebook centroid
    * (squared euclidean, ties to the smaller code). */
  private def pqCodesUdf(model: Array[Array[Array[Double]]]) = {
    val m = model.length
    val sub = model(0)(0).length
    udf((vec: Seq[Double]) => {
      Array.tabulate(m) { s =>
        val sv = vec.slice(s * sub, (s + 1) * sub)
        var best = 0
        var bestD = sqDistKernel(sv, model(s)(0).toSeq)
        var c = 1
        while (c < model(s).length) {
          val d = sqDistKernel(sv, model(s)(c).toSeq)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }
    })
  }

  /** Asymmetric PQ distance: sum over subspaces of the squared distance
    * from the query's sub-vector to the CODE's centroid (the query side
    * stays exact — Jegou's ADC). Subspaces accumulate in order, each an
    * in-order fold, for oracle-identical double arithmetic. */
  private def pqAdcUdf(model: Array[Array[Array[Double]]]) = {
    val m = model.length
    val sub = model(0)(0).length
    udf((codes: Seq[Int], qv: Seq[Double]) => {
      var tot = 0.0
      var s = 0
      while (s < m) {
        tot += sqDistKernel(qv.slice(s * sub, (s + 1) * sub),
          model(s)(codes(s)).toSeq)
        s += 1
      }
      tot
    })
  }

  /** PQ asymmetric-distance top-k — the quantized-scan half of IVF-PQ,
    * the canonical web-scale ANN layout. The corpus is carried as m
    * SMALL-INT codes per row (here m bytes vs dim floats — a dim/m-fold
    * scan-bandwidth cut beyond [[sqTopK]]'s fixed 4x) and scoring reads
    * codes + the broadcast model only; the corpus-sized scored stream
    * funnels through the k-bounded [[TopKPairs]] heap, never a per-query
    * window. Accuracy is the PQ contract: argmin over cell centroids, so
    * ranks are approximate (the oracle replays the identical model, so
    * the CHECK is exact even though the metric is approximate).
    * Output (q_id, c_id, adist, rank): smallest ADC first, ties by c_id;
    * adist quantized floor(x*1e6+0.5)/1e6 on both engines. */
  /** Residual IVF-PQ top-k — the full canonical web-scale ANN layout
    * (Jegou et al. 2011): a caller-provided coarse quantizer routes
    * every corpus vector to its nearest cell (cosine argmin, the
    * [[ivfAssign]] contract), PQ codebooks train on the RESIDUALS
    * x - centroid(cell) (residuals concentrate near the origin, which
    * is where a fixed-size codebook has resolution), and each query
    * probes its `nProbe` nearest cells scoring the cell's codes against
    * the query's OWN residual for that cell. Per-query work is bounded
    * by probed cell sizes; the corpus travels as (cell, m codes); both
    * models (coarse centroids, PQ codebooks) are driver/broadcast-sized.
    * Metric note: coarse routing is cosine (this engine's IVF family
    * contract), ADC is squared L2 on residuals — the FAISS-style mixed
    * deployment. Deterministic end to end, so the oracle replays
    * routing, residuals, training, encoding, and the ADC sum exactly.
    * Output (q_id, c_id, adist, rank): smallest ADC first, ties by
    * c_id; adist quantized floor(x*1e6+0.5)/1e6 on both engines. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
                queryId: String, vecCol: String,
                centroids: DataFrame, centId: String, centVec: String,
                k: Int, nProbe: Int = 2, m: Int = 4, kc: Int = 4,
                iters: Int = 2): DataFrame = {
    val cents = collectCentroids(centroids, centId, centVec)
    val nearest1 = nearestCentroidsUdf(cents, 1)
    val centMap = cents.toMap
    val residUdf = udf((vec: Seq[Float], cell: Long) => {
      val cv = centMap(cell)
      Array.tabulate(math.min(vec.length, cv.length))(i =>
        vec(i).toDouble - cv(i).toDouble)
    })
    // residual frame feeds pqTrain's passes + the encode — pin it
    val cells = corpus
      .select(col(corpusId).as("c_id"), col(vecCol).as("c_v"))
      .select(col("c_id"),
        element_at(nearest1(col("c_v")), 1).getField("_1").as("cell"),
        col("c_v"))
      .withColumn("rv", residUdf(col("c_v"), col("cell")))
      .select("c_id", "cell", "rv")
      .transform(CacheScope.pin)
    val model = pqTrain(cells, "c_id", "rv", m, kc, iters)
    val enc = pqCodesUdf(model)
    val codes = cells.select(col("c_id"), col("cell"),
      enc(col("rv")).as("codes"))
    val nearestP = nearestCentroidsUdf(cents, nProbe)
    val probes = queries
      .select(col(queryId).as("q_id"), col(vecCol).as("q_v"))
      .select(col("q_id"), col("q_v"),
        explode(nearestP(col("q_v")).getField("_1")).as("cell"))
      .withColumn("qr", residUdf(col("q_v"), col("cell")))
      .select("q_id", "cell", "qr")
    val adc = pqAdcUdf(model)
    val scored = codes.join(broadcast(probes), "cell")
      .select(col("q_id"), col("c_id"),
        (adc(col("codes"), col("qr")) * lit(-1.0)).as("nadist"))
    topKPerQuery(scored, "nadist", k)
      .select(col("q_id"), col("c_id"),
        (floor(col("nadist") * lit(-1e6) + lit(0.5)) / lit(1e6)).as("adist"),
        col("rank"))
  }

  def pqTopK(corpus: DataFrame, queries: DataFrame, corpusId: String,
             queryId: String, vecCol: String, k: Int,
             m: Int = 4, kc: Int = 4, iters: Int = 2): DataFrame = {
    val model = pqTrain(corpus, corpusId, vecCol, m, kc, iters)
    val enc = pqCodesUdf(model)
    val codes = corpus.select(col(corpusId).as("c_id"),
      enc(transform(col(vecCol), _.cast("double"))).as("codes"))
    val q = queries.select(col(queryId).as("q_id"),
      transform(col(vecCol), _.cast("double")).as("q_v"))
    val adc = pqAdcUdf(model)
    val scored = codes.crossJoin(broadcast(q))
      .select(col("q_id"), col("c_id"),
        (adc(col("codes"), col("q_v")) * lit(-1.0)).as("nadist"))
    topKPerQuery(scored, "nadist", k)
      .select(col("q_id"), col("c_id"),
        (floor(col("nadist") * lit(-1e6) + lit(0.5)) / lit(1e6)).as("adist"),
        col("rank"))
  }

  /** IVF-PQ shortlist + exact re-rank — the full production ANN recipe
    * (FAISS `IVFPQ` + refine): the quantized [[ivfPqTopK]] scan produces
    * a `shortlist`-sized candidate set per query (cheap: codes +
    * broadcast models only), then ONLY those candidates' raw vectors are
    * re-read and scored with exact cosine, and the exact top-`k` ships.
    * The rerank stage touches `n_queries * shortlist` corpus rows — the
    * shortlist frame broadcasts, so the raw-vector fetch is one
    * broadcast-hash semi-join against the corpus scan, never a corpus
    * shuffle; the re-scored stream funnels through the same k-bounded
    * heap. ADC ranks are approximate, the refined top-k is exact OVER
    * the shortlist — the standard recall/cost dial (`shortlist`/`k`).
    * Output (q_id, c_id, cosine, rank): cosine desc, ties by c_id,
    * rounded to 6dp like the exact ANN family. */
  def ivfPqRerank(corpus: DataFrame, queries: DataFrame, corpusId: String,
                  queryId: String, vecCol: String,
                  centroids: DataFrame, centId: String, centVec: String,
                  k: Int, shortlist: Int, nProbe: Int = 2, m: Int = 4,
                  kc: Int = 4, iters: Int = 2): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = ivfPqTopK(corpus, queries, corpusId, queryId, vecCol,
      centroids, centId, centVec, shortlist, nProbe, m, kc, iters)
      .select("q_id", "c_id")
    val c = corpus.select(col(corpusId).cast("long").as("c_id"),
      col(vecCol).as("c_v"))
    val q = queries.select(col(queryId).cast("long").as("q_id"),
      col(vecCol).as("q_v"))
    val exact = c.join(broadcast(short), "c_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("c_id"),
        cosineCol(col("c_v"), col("q_v")).as("cosine"))
    topKPerQuery(exact, "cosine", k)
      .select(col("q_id"), col("c_id"), round(col("cosine"), 6).as("cosine"),
        col("rank"))
  }
}

/** Bounded k-heap "largest k candidates by (score desc, id asc)" Aggregator
  * — the [[SmallestK]] partial-aggregation shape specialized to per-query
  * ANN top-k. State is a sorted list capped at k `(c_id, score)` pairs
  * (k is 10s, so a sorted-list insert beats heap bookkeeping); `reduce`
  * inserts and re-caps, `merge` concatenates and re-caps. Both are
  * associative and commutative on the "k largest by (score, -id)" lattice,
  * so Spark runs it map-side-combine first: no candidate row ever crosses
  * the shuffle, only k-bounded buffers. `finish` returns the pairs in rank
  * order (score desc, id asc). */
class TopKPairs(k: Int)
    extends Aggregator[(Long, Long, Double), List[(Long, Double)],
      Seq[(Long, Double)]] {

  require(k > 0, s"k must be positive, got $k")

  // (score desc, id asc) — identical to the window ORDER BY it replaces;
  // scores are never NaN (the cosine kernels guard the zero-norm case)
  private def keep(xs: List[(Long, Double)]): List[(Long, Double)] =
    xs.sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
      .take(k)

  override def zero: List[(Long, Double)] = Nil

  override def reduce(buf: List[(Long, Double)],
                      in: (Long, Long, Double)): List[(Long, Double)] =
    keep((in._2, in._3) :: buf)

  override def merge(a: List[(Long, Double)],
                     b: List[(Long, Double)]): List[(Long, Double)] =
    keep(a ++ b)

  override def finish(buf: List[(Long, Double)]): Seq[(Long, Double)] =
    keep(buf)

  override def bufferEncoder: Encoder[List[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Long, Double)]]()
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Double)]]()
}
