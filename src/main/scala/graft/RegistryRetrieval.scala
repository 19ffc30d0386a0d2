package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.er.EntityResolution
import graft.functions.GeoFunctions
import graft.functions.TextFunctions
import graft.functions.UrlFunctions
import graft.operators._
import graft.sources.Sources
import graft.staging.CityAssignment
import graft.RegistryCore._

/** IR / retrieval + kNN-standing rows (split from the former single-file SparkEntry registry;
  * rows and oracles are unchanged). */
private[graft] object RetrievalRegistry {
  val rows: Seq[Q] = Seq(
    // BM25 top-k: Lucene-form idf ln(1+(N-df+.5)/(df+.5)), k1=1.2 b=0.75,
    // df counted over the query terms by broadcast prefilter, each
    // document scored in its own row against the broadcast query batch,
    // per-query ranking via the bounded-heap TopKPairs aggregation.
    // Scores quantize to 1e-6 BEFORE ranking so rank order is
    // engine-portable.
    Q("ir_bm25_topk",
      (s, dir) => Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
        "text", bm25FixtureQueries(s, dir), k = 10),
      Some(bm25OracleSql)),

    // BM25 against the STANDING index: postings partitioned by term-hash
    // bucket at rest, the query batch prunes the scan to its terms'
    // partitions, each document's pruned postings are scored by the same
    // shared stage — identical answers (same oracle SQL), amortized
    // index cost. The row rebuilds the index per run (fixture
    // discipline: at sf0.01 the build is cheap; production builds once
    // and queries forever).
    Q("ir_bm25_indexed",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val path = s"/tmp/graft_search_index/$tag"
        Retrieval.writeSearchIndex(t(s, dir, "documents"), "doc_id",
          "text", path)
        Retrieval.bm25TopKIndexed(s, path, bm25FixtureQueries(s, dir),
          k = 10)
      },
      Some(bm25OracleSql)),

    // Hybrid retrieval: BM25 lexical leg + exact-cosine embedding leg,
    // fused by reciprocal rank (RRF, c=60) — the production two-tower
    // shape where neither score scale needs calibrating. Query batch
    // capped at id < 500 so BOTH legs cover every query at every scale
    // (the embeddings table spans a prefix of the doc ids). Each leg is
    // k-bounded before fusion, so fuse + final top-k are query-batch-
    // sized; swap the brute leg for lshTopK/ivfTopK at corpus scale —
    // rrfFuse only sees (q_id, doc_id, rank). n_legs audits which
    // results both towers agree on.
    Q("ir_hybrid_rrf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            "text", bm25FixtureQueries(s, dir, cap = 500), k = 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
        val sem = Similarity.bruteForceTopK(emb,
            emb.where(col("vec_id") % 41 === 0 && col("vec_id") < 500),
            "vec_id", "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("c_id").as("doc_id"), col("rank"))
        Retrieval.rrfFuse(Seq(lex, sem), k = 10)
      },
      Some(s"""WITH ${bm25RankedCtes(500)},
              |$irSemCtes,
              |$irHybridCtes
              |SELECT q_id, doc_id, rrf, n_legs, rk::INT AS rank
              |FROM rk WHERE rk <= 10""".stripMargin)),

    // Retrieval evaluation: recall@10 / MRR / nDCG@10 of the lexical
    // BM25 ranking against graded semantic truth (exact-cosine top-10,
    // rel = 11 - rank) — the measurement loop every retrieval/ANN
    // tuning pass needs, here quantifying per-query lexical-semantic
    // agreement on the same fixture the hybrid row fuses. Everything
    // downstream of the two k-bounded legs is query-batch-sized (the
    // idcg window partitions are judgment-sized, never corpus-sized).
    Q("ir_eval_ndcg",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            "text", bm25FixtureQueries(s, dir, cap = 500), k = 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
        val qrels = Similarity.bruteForceTopK(emb,
            emb.where(col("vec_id") % 41 === 0 && col("vec_id") < 500),
            "vec_id", "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("c_id").as("doc_id"),
            (lit(11) - col("rank")).as("rel"))
        Retrieval.evalTopK(lex, qrels, k = 10)
      },
      Some(s"""WITH ${bm25RankedCtes(500)},
              |$irSemCtes,
              |res AS (SELECT q_id, id AS doc_id, rn AS rank
              |        FROM ranked WHERE rn <= 10),
              |$irTruthEvalCtes,
              |${irEvalPerSql("res", "")}
              |${irEvalMetricsSql("per")}""".stripMargin)),

    // PIPE: retrieval capstone — the two-tower story end to end in ONE
    // oracle-checked plan: lexical BM25, the semantic leg, RRF fusion,
    // then BOTH systems macro-evaluated against the graded semantic
    // truth. (The hybrid contains the truth-producing leg, so its win
    // over lexical-alone is by construction — the row pins the
    // COMPOSITION: every stage's SQL is the same shared chain its
    // standalone registry row replays.) Both legs are pinned: each
    // feeds the fusion AND an eval/truth consumer.
    Q("pipe_rag_eval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val lex = Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id",
            "text", bm25FixtureQueries(s, dir, cap = 500), k = 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
          .transform(CacheScope.pin)
        val sem = Similarity.bruteForceTopK(emb,
            emb.where(col("vec_id") % 41 === 0 && col("vec_id") < 500),
            "vec_id", "vec_id", "embedding", k = 10)
          .select(col("q_id"), col("c_id").as("doc_id"), col("rank"))
          .transform(CacheScope.pin)
        val hyb = Retrieval.rrfFuse(Seq(lex, sem), k = 10)
          .select(col("q_id"), col("doc_id"), col("rank"))
        val truth = sem.select(col("q_id"), col("doc_id"),
          (lit(11) - col("rank")).as("rel"))
        def macroEval(res: org.apache.spark.sql.DataFrame, system: String) =
          Retrieval.evalTopK(res, truth, k = 10)
            .agg(count(lit(1)).as("n_queries"),
              (floor(avg("recall") * lit(1e6) + lit(0.5)) / lit(1e6))
                .as("mean_recall"),
              (floor(avg("rr") * lit(1e6) + lit(0.5)) / lit(1e6))
                .as("mean_rr"),
              (floor(avg("ndcg") * lit(1e6) + lit(0.5)) / lit(1e6))
                .as("mean_ndcg"))
            .select(lit(system).as("system"), col("n_queries"),
              col("mean_recall"), col("mean_rr"), col("mean_ndcg"))
        macroEval(lex, "lexical").unionByName(macroEval(hyb, "hybrid"))
      },
      Some(s"""WITH ${bm25RankedCtes(500)},
              |$irSemCtes,
              |$irHybridCtes,
              |hybres AS (SELECT q_id, doc_id, rk AS rank
              |           FROM rk WHERE rk <= 10),
              |$irTruthEvalCtes,
              |${irEvalPerSql("lex", "l")},
              |${irEvalPerSql("hybres", "h")},
              |lm AS (${irEvalMetricsSql("lper")}),
              |hm AS (${irEvalMetricsSql("hper")})
              |SELECT 'lexical' AS system, count(*)::BIGINT AS n_queries,
              |  floor(avg(recall) * 1e6 + 5e-1) / 1e6 AS mean_recall,
              |  floor(avg(rr) * 1e6 + 5e-1) / 1e6 AS mean_rr,
              |  floor(avg(ndcg) * 1e6 + 5e-1) / 1e6 AS mean_ndcg
              |FROM lm
              |UNION ALL
              |SELECT 'hybrid', count(*)::BIGINT,
              |  floor(avg(recall) * 1e6 + 5e-1) / 1e6,
              |  floor(avg(rr) * 1e6 + 5e-1) / 1e6,
              |  floor(avg(ndcg) * 1e6 + 5e-1) / 1e6
              |FROM hm""".stripMargin)),

    // Positional exact-phrase match: candidate starts from the term join,
    // a start is real iff all distinct phrase offsets land on it (robust
    // to repeated terms in the phrase); counts per (phrase, doc).
    Q("ir_phrase_match",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ph = docs.where(col("doc_id") % 53 === 0 && col("doc_id") < 5000)
          .select(col("doc_id").as("q_id"),
            slice(Dedup.tokens(col("text")), 3, 2).as("terms"))
          .where(size(col("terms")) === 2)
        Retrieval.phraseMatch(docs, "doc_id", "text", ph)
      },
      Some(s"""WITH toks AS ($toksSql),
              |ph AS (SELECT id AS q_id, tk[3:4] AS ph FROM toks
              |       WHERE id % 53 = 0 AND id < 5000 AND len(tk) >= 4),
              |slots AS (SELECT q_id, len(ph) AS plen, i AS off,
              |            ph[i + 1] AS term
              |          FROM (SELECT q_id, ph, unnest(range(0, len(ph))) AS i
              |                FROM ph)),
              |pos AS (SELECT id, i AS pos, tk[i + 1] AS term
              |        FROM (SELECT id, tk, unnest(range(0, len(tk))) AS i
              |              FROM toks)),
              |starts AS (
              |  SELECT q_id, id, plen, pos - off AS start,
              |    count(DISTINCT off) AS hits
              |  FROM pos JOIN slots USING (term)
              |  WHERE pos - off >= 0
              |  GROUP BY q_id, id, plen, start)
              |SELECT q_id, id AS doc_id, count(*) AS n_matches
              |FROM starts WHERE hits = plen
              |GROUP BY q_id, id""".stripMargin)),

    // DD: content-defined chunking dedup — gear-style token-hash cut
    // points (boundary after t iff h32(t) % 16 == 0), per-doc array
    // expressions only (zero shuffles until the final chunk-hash
    // groupBy); duplicated chunks = same md5 in >1 distinct doc. The
    // shift-robustness that motivates CDC over fixed-stride splitting is
    // pinned in RetrievalSpec/OperatorsSpec (edit one token, only the
    // edit's neighborhood re-chunks).
    Q("dd_cdc_chunks",
      (s, dir) => Dedup.cdcDuplicateChunks(
        t(s, dir, "documents"), "doc_id", "text", avgLen = 16),
      Some(s"""WITH toks AS ($toksSql),
              |cut AS (SELECT id, tk,
              |    list_concat(list_concat([0],
              |      list_filter(range(1, len(tk) + 1),
              |        i -> ${h32Sql("tk[i]", "7")} % 16 = 0)),
              |      [len(tk)]) AS cuts
              |  FROM toks),
              |ch AS (SELECT id, tk[cuts[j] + 1 : cuts[j + 1]] AS ch
              |       FROM (SELECT id, tk, cuts,
              |               unnest(range(1, len(cuts))) AS j
              |             FROM cut)),
              |sel AS (SELECT id, len(ch) AS n_toks,
              |          md5(array_to_string(ch, ' ')) AS chunk_hash
              |        FROM ch WHERE len(ch) > 0)
              |SELECT chunk_hash, CAST(max(n_toks) AS BIGINT) AS n_tokens,
              |  count(DISTINCT id) AS n_docs, count(*) AS n_occurrences
              |FROM sel GROUP BY chunk_hash
              |HAVING count(DISTINCT id) > 1""".stripMargin)),

    // TA: Kneser-Ney bigram LM perplexity — the CCNet curation stage:
    // train on the doc_id % 4 != 0 reference slice, score EVERY doc by
    // mean -ln P(w2|w1) under interpolated KN (D=0.75, add-one over the
    // continuation distribution folds all OOV mass into one class). The
    // corpus is scanned twice (train counts, scoring); model frames are
    // bigram-type/vocab-sized and join on term keys; Ntypes/V ride a
    // broadcast 1-row frame. The probability expression is written in
    // one fixed operation order in BOTH engines; per-doc mean rounds to
    // 6 (the ta_bigram_surprisal ln-parity precedent). Docs with < 2
    // tokens emit no row in either engine.
    Q("ta_kn_perplexity",
      (s, dir) => LanguageModel.knLogPerplexity(
        t(s, dir, "documents"), "doc_id", "text",
        pmod(col("doc_id"), lit(4)) =!= 0),
      Some(s"""WITH $knPplCtes
              |SELECT doc_id, logppl FROM kn_scored""".stripMargin)),

    // TA: CCNet head/middle/tail perplexity buckets — tercile cuts of
    // the scored distribution via exact interpolated percentiles (the
    // a14 percentile/quantile_cont parity precedent, rounded to the same
    // 1e-6 grid as the scores), docs labeled by broadcast-joined cuts.
    // No global window: the cuts are a 1-row aggregate.
    Q("ta_ppl_buckets",
      (s, dir) => LanguageModel.perplexityBuckets(
        LanguageModel.knLogPerplexity(t(s, dir, "documents"), "doc_id",
          "text", pmod(col("doc_id"), lit(4)) =!= 0)),
      Some(s"""WITH $knPplCtes,
              |cuts AS (SELECT
              |    round(quantile_cont(logppl, 1e0/3), 6) AS t1,
              |    round(quantile_cont(logppl, 2e0/3), 6) AS t2
              |  FROM kn_scored)
              |SELECT doc_id, logppl,
              |  CASE WHEN logppl <= t1 THEN 'head'
              |       WHEN logppl <= t2 THEN 'middle'
              |       ELSE 'tail' END AS bucket
              |FROM kn_scored CROSS JOIN cuts""".stripMargin)),

    // TA: BPE tokenizer TRAINING (Sennrich 2016) — learn the first 6
    // merges from the corpus word-frequency dictionary. The corpus is
    // scanned ONCE (word counts); each round is vocab-sized with one
    // (pair,count) row of driver traffic (the k-means precedent). Ties
    // break (count desc, lhs, rhs); greedy merge application is pinned
    // by BpeTrainerSpec and replayed by the oracle as run-start parity
    // (overlaps exist only when lhs == rhs — every other position of
    // each maximal run merges, provably the greedy scan's choice set).
    Q("ta_bpe_train",
      (s, dir) => BpeTrainer.bpeTrain(t(s, dir, "documents"),
        "text", nMerges = 6),
      Some(bpeTrainSql(6))),

    // DQ: l-diversity — the release audit dq_k_anonymity is incomplete
    // without: a k-sized class whose rows all share one SENSITIVE value
    // still discloses it. Two stacked partial-agg shuffles (class+value
    // counts, then class rollup with the one-pass entropy identity
    // H = ln N - Σ n·ln n / N); output is class-count-sized.
    Q("dq_l_diversity",
      (s, dir) => DataChecks.lDiversity(
        t(s, dir, "customer").select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
          col("c_mktsegment")),
        Seq("c_nationkey", "bal_bucket"), "c_mktsegment", l = 3),
      Some("""WITH b AS (SELECT c_nationkey,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             |    c_mktsegment
             |  FROM customer),
             |sv AS (SELECT c_nationkey, bal_bucket, c_mktsegment,
             |         count(*) AS n
             |       FROM b GROUP BY 1, 2, 3)
             |SELECT c_nationkey, bal_bucket,
             |  CAST(sum(n) AS BIGINT) AS group_n,
             |  count(*) AS n_sensitive,
             |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS max_frac,
             |  round(ln(CAST(sum(n) AS DOUBLE)) - sum(n * ln(n)) / sum(n), 6)
             |    + 0e0 AS entropy,
             |  count(*) >= 3 AS diverse
             |FROM sv GROUP BY 1, 2""".stripMargin)),

    // K14: ORC roundtrip — the columnar format Spark ships besides
    // parquet (same pushdown/pruning machinery; ORC's own row-group
    // stats drive skipping). Write, read back, aggregate; must equal
    // the direct parquet aggregate.
    Q("k14_orc_roundtrip",
      (s, dir) => {
        val tmp = s"/tmp/graft_k14_${new java.io.File(dir).getName}"
        t(s, dir, "part").select("p_partkey", "p_type", "p_retailprice")
          .write.mode("overwrite").orc(tmp)
        s.read.orc(tmp).where(col("p_retailprice") > 950)
          .groupBy("p_type")
          .agg(count(lit(1)).as("n"),
            round(sum("p_retailprice"), 2).as("total"))
      },
      Some("""SELECT p_type, count(*) AS n,
             |  round(sum(p_retailprice), 2) AS total
             |FROM part WHERE p_retailprice > 950
             |GROUP BY p_type""".stripMargin)),

    // DD: asymmetric shingle containment (Broder 1997) —
    // |Sh(A)∩Sh(B)|/|Sh(A)| ≥ 0.9 finds docs whose passages appear
    // inside others, which resemblance Jaccard scores near zero (union
    // dominated by the container). One-sided PPJoin prefix on the
    // CONTAINED side only (exact recall — o ≥ t·n_a), container side
    // joins full postings; 3-gram SHINGLE space deliberately (the
    // token space of this corpus is 31 words — token postings make
    // every prefix bucket corpus-sized; shingles stay Zipf-sparse,
    // 27k at sf0.1, and the truth set stays linear: 505 pairs at
    // sf0.1 vs 8.3M for bag-of-words containment, both measured).
    // Oracle is the brute-force shingle truth.
    Q("dd_containment",
      (s, dir) => Dedup.containmentPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.9),
      Some(s"""WITH sh0 AS ($shinglesSql),
              |t AS (SELECT id, unnest(list_distinct(list_transform(sh,
              |    s_ -> ('0x' || substr(md5(s_), 1, 15))::BIGINT))) AS h
              |  FROM sh0),
              |sz AS (SELECT id, count(*) AS n FROM t GROUP BY id),
              |inter AS (
              |  SELECT a.id AS a_id, b.id AS b_id, count(*) AS o
              |  FROM t a JOIN t b ON a.h = b.h AND a.id <> b.id
              |  GROUP BY 1, 2),
              |c AS (SELECT a_id, b_id, CAST(o AS DOUBLE) / sa.n
              |        AS containment
              |      FROM inter JOIN sz sa ON a_id = sa.id)
              |SELECT a_id, b_id, round(containment, 6) + 0e0
              |  AS containment
              |FROM c WHERE containment >= 9e-1""".stripMargin)),

    // DS: K-fold leakage-safe target encoding — each row's category
    // becomes the OTHER folds' smoothed target mean, so its own label
    // never leaks into its feature. Everything derives from one
    // (category, fold) partial agg; fold/global frames are
    // nFolds-row broadcasts; 0/1 target makes every sum exact so the
    // single rounded division carries no tolerance.
    Q("ds_target_encode",
      (s, dir) => Features.targetEncode(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"), col("o_orderstatus")),
        "o_orderpriority",
        when(col("o_orderstatus") === "F", 1.0).otherwise(0.0),
        pmod(col("o_orderkey"), lit(5)), smoothing = 20.0)
        .select("o_orderkey", "fold", "enc"),
      Some("""WITH b AS (SELECT o_orderkey, o_orderpriority AS cat,
             |    CAST(o_orderkey % 5 AS INTEGER) AS fold,
             |    CASE WHEN o_orderstatus = 'F' THEN 1e0 ELSE 0e0 END AS t
             |  FROM orders),
             |cf AS (SELECT cat, fold, sum(t) AS s_cf, count(*) AS n_cf
             |       FROM b GROUP BY 1, 2),
             |c AS (SELECT cat, sum(s_cf) AS s_c,
             |        CAST(sum(n_cf) AS BIGINT) AS n_c
             |      FROM cf GROUP BY 1),
             |f AS (SELECT fold, sum(s_cf) AS s_f,
             |        CAST(sum(n_cf) AS BIGINT) AS n_f
             |      FROM cf GROUP BY 1),
             |g AS (SELECT sum(s_f) AS s_g, CAST(sum(n_f) AS BIGINT) AS n_g
             |      FROM f)
             |SELECT b.o_orderkey, b.fold,
             |  round((c.s_c - cf.s_cf
             |      + 20e0 * ((g.s_g - f.s_f) / (g.n_g - f.n_f)))
             |    / (c.n_c - cf.n_cf + 20e0), 6) + 0e0 AS enc
             |FROM b JOIN cf ON b.cat IS NOT DISTINCT FROM cf.cat
             |  AND b.fold = cf.fold
             |JOIN c ON b.cat IS NOT DISTINCT FROM c.cat
             |JOIN f ON b.fold = f.fold CROSS JOIN g""".stripMargin)),

    // TS: dominant-period detection — the ACF argmax over lags 2..48 on
    // the gap-filled hourly series (the question ts_seasonal's period
    // parameter begs). Lag pairs via ONE expression-equi-join (b.i =
    // a.i + L, L exploded — never a range join); moments are exact
    // integer sums per the seasonalDecompose unit-lift discipline, each
    // ACF one fixed-order double expression quantized to 1e-6; argmax
    // is a max-of-struct aggregate (acf desc, then the SHORTEST lag).
    Q("ts_period",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 8)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        val filled = TimeSeries.gapFill(hourly, "user_id", "h", "v", 3600L)
          .select("user_id", "h", "v")
        TimeSeries.acfDominantPeriod(filled, "user_id", "h", "v",
          stepSeconds = 3600L, minLag = 2, maxLag = 48)
      },
      Some(s"""WITH ${filledSeriesCtes(8)},
              |d AS (SELECT user_id AS k,
              |    CAST(epoch(h) AS BIGINT) // 3600 AS i,
              |    CAST(floor(v * 1e2 + 5e-1) AS BIGINT) AS x
              |  FROM filled),
              |km AS (SELECT k, CAST(sum(x) AS BIGINT) AS s, count(*) AS n,
              |         CAST(sum(x * x) AS BIGINT) AS sxx
              |       FROM d GROUP BY 1),
              |lg AS (
              |  SELECT a.k, l.L, CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
              |    CAST(sum(a.x) AS BIGINT) AS sa,
              |    CAST(sum(b.x) AS BIGINT) AS sb, count(*) AS nl
              |  FROM d a
              |  CROSS JOIN (SELECT unnest(range(2, 49)) AS L) l
              |  JOIN d b ON b.k = a.k AND b.i = a.i + l.L
              |  GROUP BY 1, 2),
              |acf AS (
              |  SELECT lg.k, L, km.n,
              |    floor((sxy - (CAST(s AS DOUBLE) / n) * (sa + sb)
              |        + nl * (CAST(s AS DOUBLE) / n)
              |          * (CAST(s AS DOUBLE) / n))
              |      / (sxx - 2e0 * (CAST(s AS DOUBLE) / n) * s
              |        + n * (CAST(s AS DOUBLE) / n)
              |          * (CAST(s AS DOUBLE) / n))
              |      * 1e6 + 5e-1) / 1e6 AS a
              |  FROM lg JOIN km ON lg.k = km.k
              |  WHERE (sxx - 2e0 * (CAST(s AS DOUBLE) / n) * s
              |    + n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
              |    > 0),
              |r AS (SELECT *, row_number() OVER (
              |        PARTITION BY k ORDER BY a DESC, L ASC) AS rn
              |      FROM acf)
              |SELECT k AS user_id, CAST(L AS INTEGER) AS period,
              |  a + 0e0 AS acf, n
              |FROM r WHERE rn = 1""".stripMargin)),

    // J13: bucketed co-located join — the 100 TB join lever the
    // standing indexes use for SCANS, demonstrated for JOINS: both
    // sides written bucketBy(8) + sortBy on the join key, the join
    // re-reads them and runs SHUFFLE-FREE (no Exchange in the plan —
    // PlanSpec-gated; the merge hint keeps AQE from hiding the
    // demonstration behind a broadcast). At 100 TB this is the
    // difference between re-shuffling both fact tables per join and
    // reading co-located buckets.
    Q("j13_bucketed_join",
      (s, dir) => {
        val sfx = new java.io.File(dir).getName.replace(".", "_")
        val base = s"/tmp/graft_j13_$sfx"
        t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$base/orders")
          .saveAsTable(s"graft_j13_orders_$sfx")
        t(s, dir, "customer").select("c_custkey", "c_mktsegment")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$base/customer")
          .saveAsTable(s"graft_j13_customer_$sfx")
        s.table(s"graft_j13_orders_$sfx").hint("merge")
          .join(s.table(s"graft_j13_customer_$sfx"),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("total"))
      },
      Some("""SELECT c_mktsegment, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1""".stripMargin)),

    // J14: dynamic partition pruning — the fact side is partitioned on
    // the join key at rest; the dim side's selective filter is turned
    // into a runtime partition filter on the fact SCAN (dynamicpruning
    // subquery in the plan, PlanSpec-gated), so only the matching
    // partitions are read. The Spark-native form of the reference's
    // manual partition-slug routing, and the main reason a 100 TB
    // star-schema scan reads 2 partitions instead of all of them.
    Q("j14_dpp",
      (s, dir) => {
        val sfx = new java.io.File(dir).getName.replace(".", "_")
        val p = s"/tmp/graft_j14_$sfx"
        t(s, dir, "orders")
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
        val dim = t(s, dir, "orders").select("o_orderpriority").distinct()
          .where(col("o_orderpriority") < "3")
        s.read.parquet(p).join(dim, "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("total"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders WHERE o_orderpriority < '3'
             |GROUP BY 1""".stripMargin)),

    // S11: corrupt-record routing on JSON ingest — PERMISSIVE parse
    // with a _corrupt_record column, good rows projected, bad rows
    // COUNTED (never silently dropped — the quarantine rule applied to
    // the parser itself). The fixture corrupts every 7th line by
    // truncation, so the oracle derives the same routing from the
    // corruption rule both engines share.
    Q("s11_json_corrupt",
      (s, dir) => {
        val raw = t(s, dir, "orders").select(
          when(pmod(col("o_orderkey"), lit(7)) === 0,
            concat(lit("{\"k\":"), col("o_orderkey").cast("string")))
            .otherwise(concat(lit("{\"k\":"), col("o_orderkey").cast("string"),
              lit(",\"p\":\""), col("o_orderpriority"), lit("\"}")))
            .as("line"))
        val opts = new java.util.HashMap[String, String]
        opts.put("mode", "PERMISSIVE")
        opts.put("columnNameOfCorruptRecord", "_corrupt_record")
        val parsed = raw.select(from_json(col("line"),
          "k LONG, p STRING, _corrupt_record STRING", opts).as("j"))
        parsed.select(col("j.k"), col("j.p"), col("j._corrupt_record"))
          .agg(
            count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
            count(when(col("_corrupt_record").isNotNull, 1)).as("n_bad"),
            sum(when(col("_corrupt_record").isNull, col("k"))).as("sum_good"),
            countDistinct(when(col("_corrupt_record").isNull, col("p")))
              .as("n_priorities"))
      },
      Some("""SELECT
             |  count(*) FILTER (o_orderkey % 7 <> 0) AS n_good,
             |  count(*) FILTER (o_orderkey % 7 = 0) AS n_bad,
             |  CAST(sum(o_orderkey) FILTER (o_orderkey % 7 <> 0) AS BIGINT)
             |    AS sum_good,
             |  count(DISTINCT o_orderpriority)
             |    FILTER (o_orderkey % 7 <> 0) AS n_priorities
             |FROM orders""".stripMargin)),

    // K15: right-to-be-forgotten deletion — rewrite ONLY the partitions
    // containing deleted keys (dynamic overwrite scoped to the writer;
    // fully-emptied partitions dropped explicitly — dynamic overwrite
    // would silently leave them). The oracle derives the same audit
    // from the deletion rule; n_rows_after is RE-READ from disk by the
    // impl, so a partition the rewrite missed would hash-mismatch.
    Q("k15_delete_propagation",
      (s, dir) => {
        val sfx = new java.io.File(dir).getName.replace(".", "_")
        val p = s"/tmp/graft_k15_$sfx"
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
        val deletes = t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"))
          .where(pmod(col("o_custkey"), lit(97)) === 0)
        Sources.deletePropagate(s, p, "o_orderpriority", "o_custkey",
          deletes)
      },
      Some("""WITH del AS (
             |  SELECT o_orderpriority AS p, count(*) AS nd
             |  FROM orders WHERE o_custkey % 97 = 0 GROUP BY 1),
             |tot AS (
             |  SELECT o_orderpriority AS p, count(*) AS n
             |  FROM orders GROUP BY 1)
             |SELECT CAST(coalesce(sum(nd), 0) AS BIGINT) AS n_deleted,
             |  CAST(count(*) FILTER (nd < n) AS BIGINT)
             |    AS n_parts_rewritten,
             |  CAST(count(*) FILTER (nd = n) AS BIGINT) AS n_parts_dropped,
             |  CAST((SELECT count(*) FROM orders) - coalesce(sum(nd), 0)
             |    AS BIGINT) AS n_rows_after
             |FROM del JOIN tot USING (p)""".stripMargin)),

    // DQ: key-skew audit — the measure-before-you-salt diagnostic for
    // a prospective join/aggregation key: top-5 heaviest values with
    // share and skew ratio (count / uniform per-key expectation). One
    // key-count-sized partial agg + 1-row broadcast + k-bounded
    // TakeOrdered.
    Q("dq_skew_audit",
      (s, dir) => Skew.skewReport(t(s, dir, "events"), "user_id", topK = 5),
      Some("""WITH c AS (
             |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
             |s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
             |        count(*) AS n_keys
             |      FROM c)
             |SELECT user_id, cnt, total_rows, n_keys,
             |  round(CAST(cnt AS DOUBLE) / total_rows, 6) + 0e0 AS share,
             |  round(CAST(cnt AS DOUBLE) * n_keys / total_rows, 6) + 0e0
             |    AS skew_ratio
             |FROM c CROSS JOIN s
             |ORDER BY cnt DESC, user_id ASC LIMIT 5""".stripMargin)),

    // TA: trigram interpolated Kneser-Ney — the full recursive KN of
    // Chen & Goodman 1998 (raw counts at the top, continuation counts
    // in the middle, the bigram add-one continuation base; each unseen
    // level falls through), pushing the CCNet curation stage from the
    // ta_kn_perplexity bigram to the production n-gram depth. Same
    // scale shape: two corpus scans, term-keyed model joins, one
    // broadcast scalar row. Docs with < 3 tokens emit no row.
    Q("ta_kn3_perplexity",
      (s, dir) => LanguageModel.kn3LogPerplexity(
        t(s, dir, "documents"), "doc_id", "text",
        pmod(col("doc_id"), lit(4)) =!= 0),
      Some(s"""WITH $kn3PplCtes
              |SELECT doc_id, logppl FROM kn3_scored""".stripMargin)),

    // TA: apply the LEARNED merges — close the tokenizer loop: train 6
    // BPE merges on the corpus, re-tokenize every doc under them, and
    // report per-doc subword/word counts. The merge table is collected
    // (model-sized) into a kernel UDF; the oracle reuses the SAME
    // training CTE chain and reads each word's subword count off the
    // final symbolized dictionary (words segment independently, so the
    // dict IS the tokenizer).
    Q("ta_bpe_apply_learned",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        BpeTrainer.subwordCounts(docs, "doc_id", "text",
          BpeTrainer.bpeTrain(docs, "text", nMerges = 6))
      },
      Some(s"""WITH ${bpeTrainCtes(6)},
              |wl AS (SELECT word, len(sy) AS nsub FROM bpe_s6),
              |tokd AS (SELECT id, unnest(tk) AS word FROM tk0)
              |SELECT id AS doc_id,
              |  CAST(sum(nsub) AS BIGINT) AS n_subwords,
              |  count(*) AS n_words
              |FROM tokd JOIN wl USING (word)
              |GROUP BY id""".stripMargin)),

    // The pretraining-corpus CAPSTONE: C4 line dedup -> Gopher gate on
    // the rebuilt text -> exact dedup -> MinHash-LSH near-dup removal
    // -> an interpolated-KN LM trained on the SURVIVORS' reference
    // split scores every survivor and the tail perplexity tercile is
    // dropped (the CCNet stage). Every stage is the library operator
    // behind its own oracle-checked row, and this oracle composes the
    // SAME shared CTE chains (lineDedupCtes, gopherCtes,
    // lshDropsSqlFrom, knPplCtesFrom) — the pipeline cannot drift from
    // its stages.
    Q("pipe_pretrain_corpus",
      (s, dir) => Pipelines.buildPretrainCorpus(linedDocs(s, dir),
        minLineLen = 10, minWords = 50, minStopHits = 1),
      Some(s"""WITH $lineDedupCtes,
              |c4t AS (${toksSqlFrom("lined_docs")}),
              |${gopherCtes("c4t")},
              |gated AS (
              |  SELECT gf.doc_id, ld.text, gf.n_words
              |  FROM gf JOIN lined_docs ld USING (doc_id)
              |  WHERE ${gopherKeepSql(50, 1)}),
              |kept AS (
              |  SELECT doc_id, text, n_words FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
              |${lshDropsSqlFrom("kept")},
              |surv AS (SELECT doc_id, text, n_words FROM kept
              |         WHERE doc_id NOT IN (SELECT b_id FROM drops)),
              |${knPplCtesFrom("surv")},
              |cuts AS (SELECT
              |    round(quantile_cont(logppl, 1e0/3), 6) AS t1,
              |    round(quantile_cont(logppl, 2e0/3), 6) AS t2
              |  FROM kn_scored),
              |lab AS (SELECT s.doc_id, s.n_words, k.logppl,
              |    CASE WHEN k.logppl <= t1 THEN 'head'
              |         WHEN k.logppl <= t2 THEN 'middle'
              |         ELSE 'tail' END AS bucket
              |  FROM surv s JOIN kn_scored k USING (doc_id)
              |  CROSS JOIN cuts)
              |SELECT doc_id, n_words, logppl, bucket FROM lab
              |WHERE bucket <> 'tail'""".stripMargin)),

    // The capstone CLOSED through its own trained tokenizer (v2): the
    // same five curation stages, then a BPE merge table LEARNED from
    // the kept corpus meters every kept doc and packs it into
    // 512-subword bins per (bucket, source) shard — the token budget
    // reported is the one the training run would meter with. Oracle
    // composes the SAME shared CTE chains as pipe_pretrain_corpus plus
    // the bpeTrainCtesFrom chain over the kept text (subword counts
    // read off the final dictionary state — the ta_bpe_apply_learned
    // equivalence).
    Q("pipe_pretrain_tokenized",
      (s, dir) => Pipelines.buildPretrainCorpusTokenized(linedDocs(s, dir),
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        minLineLen = 10, minWords = 50, minStopHits = 1),
      Some(s"""WITH $lineDedupCtes,
              |c4t AS (${toksSqlFrom("lined_docs")}),
              |${gopherCtes("c4t")},
              |gated AS (
              |  SELECT gf.doc_id, ld.text, gf.n_words
              |  FROM gf JOIN lined_docs ld USING (doc_id)
              |  WHERE ${gopherKeepSql(50, 1)}),
              |kept AS (
              |  SELECT doc_id, text, n_words FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
              |${lshDropsSqlFrom("kept")},
              |surv AS (SELECT doc_id, text, n_words FROM kept
              |         WHERE doc_id NOT IN (SELECT b_id FROM drops)),
              |${knPplCtesFrom("surv")},
              |cuts AS (SELECT
              |    round(quantile_cont(logppl, 1e0/3), 6) AS t1,
              |    round(quantile_cont(logppl, 2e0/3), 6) AS t2
              |  FROM kn_scored),
              |lab AS (SELECT s.doc_id, s.text, s.n_words, k.logppl,
              |    CASE WHEN k.logppl <= t1 THEN 'head'
              |         WHEN k.logppl <= t2 THEN 'middle'
              |         ELSE 'tail' END AS bucket
              |  FROM surv s JOIN kn_scored k USING (doc_id)
              |  CROSS JOIN cuts),
              |fin AS MATERIALIZED (
              |  SELECT doc_id, text, n_words, logppl, bucket
              |  FROM lab WHERE bucket <> 'tail'),
              |btk AS MATERIALIZED (${toksSqlFrom("fin")}),
              |${bpeTrainCtesFrom(6, "btk")},
              |wl AS (SELECT word, len(sy) AS nsub FROM bpe_s6),
              |tokd AS (SELECT id, unnest(tk) AS word FROM btk),
              |met AS (SELECT id AS doc_id,
              |          CAST(sum(nsub) AS BIGINT) AS n_subwords
              |        FROM tokd JOIN wl USING (word) GROUP BY id),
              |pk AS (SELECT f.doc_id, d.source, f.n_words, f.logppl,
              |    f.bucket, m.n_subwords,
              |    sum(m.n_subwords) OVER (
              |      PARTITION BY f.bucket, d.source ORDER BY f.doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM fin f JOIN met m USING (doc_id)
              |  JOIN documents d USING (doc_id))
              |SELECT doc_id, source, n_words, logppl, bucket, n_subwords,
              |  CAST((cum - n_subwords) // 512 AS BIGINT) AS seq_id
              |FROM pk""".stripMargin)),

    // DS: deterministic hard-negative sampling for contrastive
    // training — 4 seeded pseudo-random negatives per anchor, with
    // exact-duplicate pairs EXCLUDED before ranking (a near-dup
    // sampled as a negative is a false negative). Each slot draws one
    // rank off its seeded candidate bucket's (anchor, candidate)-hash
    // permutation (never the full corpus; same-bucket slots take
    // distinct ranks, so an anchor's negatives are distinct by
    // construction); n_bucket audits the population each slot drew
    // from (no silent caps). Buckets AUTO-SIZE to ~256 candidates each
    // (nBuckets = 0) — the production shape; the oracle replays the
    // same count-derived bucket count, so the fixture measures what a
    // corpus-scale run would execute (the ann_ivf_topk fixture lesson).
    Q("ds_negative_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val dg = docs.select(col("doc_id"), md5(col("text")).as("dg"))
        val avoid = dg.alias("x")
          .join(dg.alias("y"), col("x.dg") === col("y.dg") &&
            col("x.doc_id") =!= col("y.doc_id"))
          .select(col("x.doc_id"), col("y.doc_id"))
        Sampling.negativeSample(
          docs.where(pmod(col("doc_id"), lit(20)) === 0), docs,
          "doc_id", k = 4, avoid = avoid, nBuckets = 0, seed = 7)
      },
      Some(s"""WITH nb AS (
              |  SELECT greatest(1, count(*) // 256) AS b FROM documents),
              |a AS (
              |  SELECT doc_id FROM documents WHERE doc_id % 20 = 0),
              |cand AS (SELECT doc_id AS neg_id,
              |    ${h32Sql("CAST(doc_id AS VARCHAR)", "7")}
              |      % (SELECT b FROM nb) AS bucket
              |  FROM documents),
              |slots AS (SELECT a.doc_id, s.slot,
              |    ${h32Sql(
                     "CAST(a.doc_id AS VARCHAR) || ':' || CAST(s.slot AS VARCHAR)",
                     "8")} % (SELECT b FROM nb) AS bucket
              |  FROM a, (SELECT unnest(range(0, 4)) AS slot) s),
              |sr AS (SELECT doc_id, slot, bucket,
              |    row_number() OVER (PARTITION BY doc_id, bucket
              |      ORDER BY slot) AS rs
              |  FROM slots),
              |dgx AS (SELECT doc_id, md5(text) AS dg FROM documents),
              |av AS (SELECT x.doc_id, y.doc_id AS neg_id
              |       FROM dgx x JOIN dgx y
              |         ON x.dg = y.dg AND x.doc_id <> y.doc_id),
              |sc AS (SELECT sl.doc_id, sl.bucket, c.neg_id,
              |    ${h32Sql(
                     "CAST(sl.doc_id AS VARCHAR) || ':' || CAST(c.neg_id AS VARCHAR)",
                     "9")} AS score
              |  FROM (SELECT DISTINCT doc_id, bucket FROM slots) sl
              |  JOIN cand c USING (bucket)
              |  WHERE c.neg_id <> sl.doc_id
              |    AND NOT EXISTS (SELECT 1 FROM av
              |      WHERE av.doc_id = sl.doc_id
              |        AND av.neg_id = c.neg_id)),
              |r AS (SELECT doc_id, bucket, neg_id,
              |    count(*) OVER (PARTITION BY doc_id, bucket) AS n_bucket,
              |    row_number() OVER (PARTITION BY doc_id, bucket
              |      ORDER BY score, neg_id) AS rn
              |  FROM sc)
              |SELECT sr.doc_id, CAST(sr.slot AS INT) AS slot, r.neg_id,
              |  CAST(r.n_bucket AS BIGINT) AS n_bucket
              |FROM sr JOIN r ON sr.doc_id = r.doc_id
              |  AND sr.bucket = r.bucket AND sr.rs = r.rn""".stripMargin)),

    // GR: one synchronized Louvain local-move round over the detected
    // communities — the modularity-ASCENT refinement label propagation
    // lacks; gr_modularity then scores the result. Oracle shares the
    // exact l3 chain (lpropL3Ctes) and replays the gain formula in the
    // same operation order; ties break to the smallest target label.
    Q("gr_louvain_step",
      (s, dir) => {
        val bidir = suppBidirEdges(s, dir)
        PageRank.louvainMoveRound(bidir,
          PageRank.labelPropagation(bidir, iterations = 3))
      },
      Some(s"""WITH $lpropL3Ctes,
              |tot AS (SELECT count(*)::DOUBLE AS m2 FROM e),
              |dg AS (SELECT src AS node, count(*) AS ki FROM e GROUP BY 1),
              |ds AS (SELECT l.label, CAST(sum(d.ki) AS BIGINT) AS dc
              |       FROM l3 l JOIN dg d ON l.node = d.node GROUP BY 1),
              |kic0 AS (SELECT e.src AS node, lb.label AS c,
              |           count(*) AS kic
              |         FROM e JOIN l3 lb ON e.dst = lb.node GROUP BY 1, 2),
              |cands AS (SELECT node, c, CAST(sum(kic) AS BIGINT) AS kic
              |  FROM (SELECT node, c, kic FROM kic0
              |        UNION ALL SELECT node, label AS c, 0 FROM l3)
              |  GROUP BY 1, 2),
              |kown AS (SELECT cands.node, kic AS kown
              |         FROM cands JOIN l3
              |           ON cands.node = l3.node AND cands.c = l3.label),
              |gg AS (SELECT cd.node, l3.label AS a, cd.c,
              |    CASE WHEN cd.c = l3.label THEN 0e0 ELSE
              |      2e0 * (cd.kic - kown.kown) / m2
              |      - 2e0 * dg.ki * (dt.dc - da.dc + dg.ki) / (m2 * m2)
              |    END AS gn
              |  FROM cands cd JOIN l3 ON cd.node = l3.node
              |  JOIN dg ON cd.node = dg.node
              |  JOIN ds dt ON cd.c = dt.label
              |  JOIN ds da ON l3.label = da.label
              |  JOIN kown ON cd.node = kown.node, tot),
              |r AS (SELECT node, a, c, gn, row_number() OVER (
              |        PARTITION BY node ORDER BY gn DESC, c ASC) AS rn
              |      FROM gg)
              |SELECT node, a AS old_label,
              |  CAST(CASE WHEN gn > 0 THEN c ELSE a END AS BIGINT)
              |    AS new_label,
              |  (CASE WHEN gn > 0 THEN floor(gn * 1e9 + 5e-1) / 1e9
              |    ELSE 0e0 END) + 0e0 AS gain
              |FROM r WHERE rn = 1""".stripMargin)),

    // GR: multi-level Louvain over a GENUINELY WEIGHTED graph — the
    // part co-order graph with co-occurrence counts as edge weights
    // (affinity graphs are where weighted ΔQ earns its keep: a pair
    // co-ordered 5 times pulls 5x harder than a one-off). Identity
    // start labels; same 2-level x 2-round unrolled oracle schedule as
    // gr_louvain_multi, seeded with the input's own weights.
    Q("gr_louvain_weighted",
      (s, dir) => {
        val e = partCoorderEdges(s, dir)
        val labels0 = e.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label"))
        PageRank.louvainMultiWeighted(e.select("src", "dst", "w"),
          labels0, maxRounds = 2, maxLevels = 2)
      },
      Some(s"""WITH ew AS MATERIALIZED (
              |  SELECT a.l_partkey AS src, b.l_partkey AS dst,
              |    CAST(count(*) AS BIGINT) AS w
              |  FROM lineitem a JOIN lineitem b
              |  ON a.l_orderkey = b.l_orderkey
              |    AND a.l_partkey <> b.l_partkey
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |l0w AS MATERIALIZED (
              |  SELECT DISTINCT src AS node, src AS label FROM ew),
              |${louvainWRoundCtes("q1", "ew", "l0w", "wv1a", 1)},
              |${louvainWRoundCtes("q2", "ew", "wv1a", "wv1", 2)},
              |${louvainContractCtes("ew", "wv1", "we2", "wi0")},
              |${louvainWRoundCtes("q3", "we2", "wi0", "wv2a", 1)},
              |${louvainWRoundCtes("q4", "we2", "wv2a", "wv2", 2)}
              |SELECT m.node, f.label
              |FROM wv1 m JOIN wv2 f ON m.label = f.node""".stripMargin)),

    // GR: deterministic truncated RANDOM WALKS over the co-order graph
    // — the DeepWalk/node2vec data-prep operator: the walk corpus a
    // skip-gram embedding trains on. Step s of walk (node, j) moves to
    // the md5(node:j:s)-th neighbor (neighbors ranked by id), so the
    // corpus is a pure function of (graph, seed) and the oracle
    // unrolls the 4 steps exactly.
    Q("gr_random_walks",
      (s, dir) => PageRank.randomWalks(
        partCoorderEdges(s, dir).select("src", "dst"),
        walksPerNode = 2, length = 4, seed = 11),
      Some {
        def step(k: Int) =
          s"""s$k AS MATERIALIZED (
             |  SELECT c.node, c.walk, CAST($k AS INT) AS step,
             |    nb.dst AS visited
             |  FROM s${k - 1} c JOIN nb ON nb.src = c.visited
             |  WHERE nb.rn = ${h32Sql(
                 "CAST(c.node AS VARCHAR) || ':' || " +
                   s"CAST(c.walk AS VARCHAR) || ':$k'", "11")}
             |    % nb.deg)"""
        s"""WITH e AS MATERIALIZED (
           |  SELECT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey
           |    AND a.l_partkey <> b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |nb AS MATERIALIZED (
           |  SELECT src, dst,
           |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1
           |      AS rn,
           |    count(*) OVER (PARTITION BY src) AS deg FROM e),
           |s0 AS MATERIALIZED (
           |  SELECT node, CAST(wj AS INT) AS walk, CAST(0 AS INT)
           |    AS step, node AS visited
           |  FROM (SELECT DISTINCT src AS node FROM e),
           |    (SELECT unnest(range(0, 2)) AS wj)),
           |${(1 to 4).map(step).mkString(",\n")}
           |SELECT node, walk, step, visited FROM s0
           |UNION ALL SELECT node, walk, step, visited FROM s1
           |UNION ALL SELECT node, walk, step, visited FROM s2
           |UNION ALL SELECT node, walk, step, visited FROM s3
           |UNION ALL SELECT node, walk, step, visited FROM s4""".stripMargin
      }),

    // GR: the CONVERGED 3-core of the part CO-ORDER graph (parts
    // co-occurring in at least 2 orders — the co-purchase graph,
    // sparsified so the peel has real structure: 1892 -> 1055 nodes
    // over 8 rounds at the gate sf) — gr_kcore's bounded 3-round peel
    // run to the FIXPOINT with within-core degrees out. Oracle unrolls
    // 9 peel rounds (matching maxRounds; a no-drop round replays as a
    // no-op, the louvainMulti replayability contract) and reads the
    // degrees off the final survivor set.
    Q("gr_kcore_full",
      (s, dir) => PageRank.kCore(
        partCoorderEdges(s, dir).select("src", "dst"),
        k = 3, maxRounds = 9),
      Some {
        def round(n: Int) = {
          val prev = if (n == 1) "ks0" else s"ks${n - 1}"
          s"""kd$n AS (SELECT e.src AS node, count(*) AS d
             |  FROM e JOIN $prev a ON e.src = a.node
             |  JOIN $prev b ON e.dst = b.node GROUP BY 1),
             |ks$n AS MATERIALIZED (SELECT node FROM kd$n WHERE d >= 3)"""
        }
        s"""WITH e AS MATERIALIZED (
           |  SELECT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey
           |    AND a.l_partkey <> b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |ks0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
           |${(1 to 9).map(round).mkString(",\n")}
           |SELECT node, CAST(d AS BIGINT) AS core_deg FROM (
           |  SELECT e.src AS node, count(*) AS d
           |  FROM e JOIN ks9 a ON e.src = a.node
           |  JOIN ks9 b ON e.dst = b.node GROUP BY 1)""".stripMargin
      }),

    // GR: full CORENESS decomposition of the same co-order graph via
    // the H-index iteration (Lü et al. 2016: c0 = degree, c_{t+1}(v) =
    // H of neighbors' c_t; the fixpoint IS the coreness) — converges
    // in 7 rounds at the gate sf; the oracle unrolls 8 (no-change
    // rounds replay as no-ops). Cross-checked against gr_kcore by
    // spec: {coreness >= 3} == the 3-core.
    Q("gr_coreness",
      (s, dir) => PageRank.coreness(
        partCoorderEdges(s, dir).select("src", "dst"), maxRounds = 8)
        .select(col("node"), col("core").as("coreness")),
      Some {
        def round(n: Int) =
          s"""cr$n AS (SELECT e.src AS node, c.core AS nc
             |  FROM e JOIN core${n - 1} c ON e.dst = c.node),
             |hx$n AS (SELECT node, max(least(nc, rn)) AS h FROM (
             |  SELECT node, nc, row_number() OVER (
             |    PARTITION BY node ORDER BY nc DESC) AS rn
             |  FROM cr$n) GROUP BY node),
             |core$n AS MATERIALIZED (
             |  SELECT node, CAST(h AS BIGINT) AS core FROM hx$n)"""
        s"""WITH e AS MATERIALIZED (
           |  SELECT a.l_partkey AS src, b.l_partkey AS dst
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey
           |    AND a.l_partkey <> b.l_partkey
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |core0 AS MATERIALIZED (
           |  SELECT src AS node, CAST(count(*) AS BIGINT) AS core
           |  FROM e GROUP BY 1),
           |${(1 to 8).map(round).mkString(",\n")}
           |SELECT node, core AS coreness FROM core8""".stripMargin
      }),

    // GR: weighted modularity of the CONTRACTED community graph under
    // its identity labeling — by the contraction convention (intra
    // weight on the self-loop, degrees preserved) these q_contribs
    // EQUAL gr_modularity's on the original graph (the invariance
    // spec), so the row pins the convention end to end with its own
    // oracle replay of contraction + weighted scoring.
    Q("gr_modularity_contracted",
      (s, dir) => {
        val bidir = suppBidirEdges(s, dir)
        val labels = PageRank.labelPropagation(bidir, iterations = 3)
        PageRank.modularityWeighted(
          PageRank.contract(bidir.withColumn("w", lit(1L)), labels),
          labels.select(col("label").as("node"), col("label")).distinct())
      },
      Some(s"""WITH $lpropL3Ctes,
              |ew AS (SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e),
              |${louvainContractCtes("ew", "l3", "e2", "i0")},
              |tot AS (SELECT sum(w)::DOUBLE AS m2 FROM e2),
              |dg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS d
              |       FROM e2 GROUP BY 1),
              |dl AS (SELECT i0.label, count(*) AS n_nodes,
              |         CAST(sum(dg.d) AS BIGINT) AS degree_sum
              |       FROM i0 JOIN dg ON i0.node = dg.node GROUP BY 1),
              |iw AS (SELECT la.label AS label,
              |         CAST(sum(e2.w) AS BIGINT) AS intra_w
              |       FROM e2 JOIN i0 la ON e2.src = la.node
              |       JOIN i0 lb ON e2.dst = lb.node
              |       WHERE la.label = lb.label GROUP BY 1)
              |SELECT dl.label, dl.n_nodes,
              |  CAST(coalesce(iw.intra_w, 0) AS BIGINT) AS intra_w,
              |  dl.degree_sum,
              |  floor((coalesce(iw.intra_w, 0) / m2 -
              |    (dl.degree_sum / m2) * (dl.degree_sum / m2)) * 1e6
              |    + 5e-1) / 1e6 AS q_contrib
              |FROM dl LEFT JOIN iw USING (label), tot""".stripMargin)),

    // GR: MULTI-LEVEL Louvain (both Blondel phases) — local-move rounds
    // to a fixpoint, communities CONTRACTED to super-nodes (intra
    // weight on a self-loop, parallel edges summed), move rounds
    // re-run on the coarsened graph, labels unfolded. The oracle
    // UNROLLS the exact (2 levels x 2 rounds) schedule — round CTEs
    // generated by the same template, contraction replayed — which the
    // impl's replayability contract guarantees matches its early-exit
    // behavior (it only exits early in provable no-op states).
    Q("gr_louvain_multi",
      (s, dir) => {
        val bidir = suppBidirEdges(s, dir)
        PageRank.louvainMulti(bidir,
          PageRank.labelPropagation(bidir, iterations = 3),
          maxRounds = 2, maxLevels = 2)
      },
      Some(s"""WITH $lpropL3Ctes,
              |ew AS MATERIALIZED (
              |  SELECT src, dst, CAST(1 AS BIGINT) AS w FROM e),
              |l3m AS MATERIALIZED (SELECT node, label FROM l3),
              |${louvainWRoundCtes("r1", "ew", "l3m", "lv1a", 1)},
              |${louvainWRoundCtes("r2", "ew", "lv1a", "lv1", 2)},
              |${louvainContractCtes("ew", "lv1", "e2", "i0")},
              |${louvainWRoundCtes("r3", "e2", "i0", "lv2a", 1)},
              |${louvainWRoundCtes("r4", "e2", "lv2a", "lv2", 2)}
              |SELECT m.node, f.label
              |FROM lv1 m JOIN lv2 f ON m.label = f.node""".stripMargin))
  )

  /** DuckDB replay of ONE PARITY-GATED weighted Louvain move round
    * over edge CTE `e` (src, dst, w) and label CTE `l` (node, label),
    * emitting label CTE `out`(node, label) —
    * PageRank.louvainMoveRoundWeighted term for term (weighted degrees,
    * self-loops excluded from k_ic, smallest-label ties, same operation
    * order so doubles match bit-for-bit), with round `r`'s move gate
    * (md5(node:r) % 2 == 0) applied to the winning move exactly as
    * PageRank.fixpointWeighted applies it. Internal CTE names carry
    * prefix `x` so unrolled rounds don't collide. */
}
