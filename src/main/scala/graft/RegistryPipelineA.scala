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

/** LLM-pipeline rows: dedup / sampling / text-analysis (part 1 of 2) (split from the former single-file SparkEntry registry;
  * rows and oracles are unchanged). */
private[graft] object PipelineRegistryA {
  val rows: Seq[Q] = Seq(
    // Exact dedup by content digest
    Q("dd_exact",
      (s, dir) => Dedup.exact(t(s, dir, "documents"), "doc_id", "text"),
      Some("""SELECT md5(text) AS digest, min(doc_id) AS keep_id,
             |  count(*) AS dup_count
             |FROM documents GROUP BY md5(text)""".stripMargin)),

    // MinHash + LSH near-dup candidates (16 hashes, 8 bands x 2 rows)
    Q("dd_minhash_lsh",
      (s, dir) => Dedup.minHashLSH(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.25),
      Some(s"""WITH $minhashBandedSql,
              |pairs AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    a.sig AS a_sig, b.sig AS b_sig
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
              |SELECT a_id, b_id,
              |  list_sum(list_transform(range(1, 17), i ->
              |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |    AS sig_sim
              |FROM pairs
              |WHERE list_sum(list_transform(range(1, 17), i ->
              |  CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |  >= 0.25""".stripMargin)),

    // Incremental (append-batch) dedup: every 4th doc is the "new batch",
    // the rest are the already-indexed corpus — batch-vs-index and
    // batch-vs-batch candidates only; the indexed corpus is never paired
    // against itself (the steady-state ingest shape at 100 TB).
    Q("dd_incremental",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val index = Dedup.minHashIndex(
          docs.where(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2)
        Dedup.incrementalMinHash(index,
          docs.where(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.25)
      },
      Some(s"""WITH $minhashBandedSql,
              |old AS (SELECT * FROM banded WHERE id % 4 <> 0),
              |new AS (SELECT * FROM banded WHERE id % 4 = 0),
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    'vs_index' AS kind, a.sig AS a_sig, b.sig AS b_sig
              |  FROM old a JOIN new b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'within_batch', a.sig, b.sig
              |  FROM new a JOIN new b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
              |SELECT a_id, b_id, kind,
              |  list_sum(list_transform(range(1, 17), i ->
              |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |    AS sig_sim
              |FROM cand
              |WHERE list_sum(list_transform(range(1, 17), i ->
              |  CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |  >= 0.25""".stripMargin)),

    // The same append-batch probe against a PERSISTED index, bucketed by
    // the probe keys (band, bucket): the standing corpus index pays its
    // layout once at write; each ingest then shuffles only the batch —
    // PlanSpec asserts the index side plans with no exchange. Results
    // are identical to dd_incremental (same oracle).
    //
    // SERIAL-RUN ASSUMPTION (same as the k6/j13 bucketed tables): the
    // table/path is keyed only by the dataset dir tag, so two CONCURRENT
    // runs against the same dataset would race on the overwrite, and the
    // layout persists across runs (which is the point — a standing index
    // is reused, not rebuilt). A multi-tenant deployment would key the
    // path by catalog namespace instead; the bench/verify harness runs
    // queries serially.
    Q("dd_incremental_bucketed",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val tbl = s"graft_mh_index_$tag"
        val docs = t(s, dir, "documents")
        Dedup.writeMinHashIndex(Dedup.minHashIndex(
            docs.where(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2),
          tbl, s"/tmp/graft_bucketed/${tag}_mh_index")
        Dedup.incrementalMinHash(s.table(tbl),
          docs.where(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.25)
      },
      Some(s"""WITH $minhashBandedSql,
              |old AS (SELECT * FROM banded WHERE id % 4 <> 0),
              |new AS (SELECT * FROM banded WHERE id % 4 = 0),
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    'vs_index' AS kind, a.sig AS a_sig, b.sig AS b_sig
              |  FROM old a JOIN new b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'within_batch', a.sig, b.sig
              |  FROM new a JOIN new b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
              |SELECT a_id, b_id, kind,
              |  list_sum(list_transform(range(1, 17), i ->
              |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |    AS sig_sim
              |FROM cand
              |WHERE list_sum(list_transform(range(1, 17), i ->
              |  CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |  >= 0.25""".stripMargin)),

    // ST: streaming dedup against the STANDING index — continuous-
    // ingest shape: micro-batches arrive in order, each probes the
    // persisted bucketed index plus all earlier batches, then appends
    // its signatures so later batches dedup against it. The registry
    // row runs DedupStream.ingestFold (the deterministic batch-
    // sequenced path); the foreachBatch streaming path is pinned
    // stream ≡ batch by DedupStreamSpec over a MemoryStream — the
    // st_ohlc gating pattern. B1 x B2 pairs surface as vs_index (B1
    // was already ingested when B2 arrived), NOT within_batch — the
    // semantic difference vs dd_incremental's one-shot batch.
    Q("st_dedup_index",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val tbl = s"graft_mh_stream_$tag"
        val docs = t(s, dir, "documents")
        Dedup.writeMinHashIndex(Dedup.minHashIndex(
            docs.where(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2),
          tbl, s"/tmp/graft_bucketed/${tag}_stream_index")
        graft.streaming.DedupStream.ingestFold(s.table(tbl),
          Seq(docs.where(pmod(col("doc_id"), lit(8)) === 0),
            docs.where(pmod(col("doc_id"), lit(8)) === 4)),
          "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
          simThreshold = 0.25)
      },
      Some(s"""WITH $minhashBandedSql,
              |old AS (SELECT * FROM banded WHERE id % 4 <> 0),
              |b1 AS (SELECT * FROM banded WHERE id % 8 = 0),
              |b2 AS (SELECT * FROM banded WHERE id % 8 = 4),
              |i2 AS (SELECT * FROM old UNION ALL SELECT * FROM b1),
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    'vs_index' AS kind, 0 AS batch_id, a.sig AS a_sig,
              |    b.sig AS b_sig
              |  FROM old a JOIN b1 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'within_batch', 0, a.sig, b.sig
              |  FROM b1 a JOIN b1 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'vs_index', 1, a.sig, b.sig
              |  FROM i2 a JOIN b2 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'within_batch', 1, a.sig, b.sig
              |  FROM b2 a JOIN b2 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
              |SELECT a_id, b_id, kind,
              |  list_sum(list_transform(range(1, 17), i ->
              |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |    AS sig_sim,
              |  CAST(batch_id AS BIGINT) AS batch_id
              |FROM cand
              |WHERE list_sum(list_transform(range(1, 17), i ->
              |  CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |  >= 0.25""".stripMargin)),

    // ST: standing-index COMPACTION + TTL, oracle-checked end-to-end —
    // the maintenance story that keeps the append-only index operable
    // long-run. Build the bucketed index (3/4 of the corpus), ingest one
    // micro-batch (ids %8==0) through the REAL probe-then-append path
    // (IncrementalIngest.ingestBatch), compact with a retention horizon
    // (age out ids < 100 — the id is the fixture's ingest watermark),
    // then probe the NEXT batch (ids %8==4) against the swapped-in
    // compacted table. The oracle models the retained population
    // directly, so pairs among retained ids are pinned identical to an
    // uncompacted run and pairs against aged-out ids provably absent.
    // CompactionSpec pins the physical side (fragments collapse to one
    // file per bucket, zero-shuffle rewrite, exchange-free probe layout
    // survives the atomic swap); this row pins the ANSWER.
    Q("st_compact_probe",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val tbl = s"graft_mh_ttl_$tag"
        val docs = t(s, dir, "documents")
        Dedup.writeMinHashIndex(Dedup.minHashIndex(
            docs.where(pmod(col("doc_id"), lit(4)) =!= 0), "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2),
          tbl, s"/tmp/graft_bucketed/${tag}_ttl_index")
        graft.streaming.IncrementalIngest.ingestBatch(
          docs.where(pmod(col("doc_id"), lit(8)) === 0),
          Dedup.minHashIndex(_, "doc_id", "text", shingleN = 3, bands = 8,
            rowsPerBand = 2),
          Dedup.incrementalMinHashBuckets(_, _, 16, 0.25),
          tbl, s"/tmp/graft_bucketed/${tag}_ttl_out", 0L)
        // compaction target must be a fresh location (the swap makes the
        // table external there; clear last run's files first)
        val cpath = s"/tmp/graft_bucketed/${tag}_ttl_compacted"
        val hp = new org.apache.hadoop.fs.Path(cpath)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
        graft.streaming.IncrementalIngest.compactIndex(s, tbl, cpath,
          retain = col("id") >= 100)
        Dedup.incrementalMinHash(s.table(tbl),
          docs.where(pmod(col("doc_id"), lit(8)) === 4), "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.25)
      },
      Some(s"""WITH $minhashBandedSql,
              |idx AS (SELECT * FROM banded
              |        WHERE (id % 4 <> 0 OR id % 8 = 0) AND id >= 100),
              |b2 AS (SELECT * FROM banded WHERE id % 8 = 4),
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    'vs_index' AS kind, a.sig AS a_sig, b.sig AS b_sig
              |  FROM idx a JOIN b2 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id <> b.id
              |  UNION
              |  SELECT DISTINCT a.id, b.id, 'within_batch', a.sig, b.sig
              |  FROM b2 a JOIN b2 b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
              |SELECT a_id, b_id, kind,
              |  list_sum(list_transform(range(1, 17), i ->
              |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |    AS sig_sim
              |FROM cand
              |WHERE list_sum(list_transform(range(1, 17), i ->
              |  CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
              |  >= 0.25""".stripMargin)),

    // ST: streaming EMBEDDING dedup against a standing SRP-bucket index
    // — DedupStream for vectors: two arrival-ordered batches probe the
    // index (vs_index) and themselves (within_batch), exact cosine
    // verifies, and each batch's buckets join the index for the next.
    // The index is the only state; per-batch cost is O(batch + matching
    // buckets) regardless of history. Oracle replays the identical SRP
    // bucketing and the batch fold.
    Q("st_embed_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = Dedup.embedLshIndex(
          emb.where(pmod(col("vec_id"), lit(4)) =!= 0), "vec_id",
          "embedding", numPlanes = 8, tables = 4)
        graft.streaming.EmbedDedupStream.ingestFold(index,
          Seq(emb.where(pmod(col("vec_id"), lit(8)) === 0),
            emb.where(pmod(col("vec_id"), lit(8)) === 4)),
          "vec_id", "embedding", threshold = 0.3, numPlanes = 8,
          tables = 4)
      },
      Some {
        val buckets = (0 until 4).map(tb =>
          s"SELECT id, v, $tb AS tbl, ${srpBucketSql("v", tb, 8)} AS bucket FROM e")
          .mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
           |b AS ($buckets),
           |old AS (SELECT * FROM b WHERE id % 4 <> 0),
           |b1 AS (SELECT * FROM b WHERE id % 8 = 0),
           |b2 AS (SELECT * FROM b WHERE id % 8 = 4),
           |i2 AS (SELECT * FROM old UNION ALL SELECT * FROM b1),
           |cand AS (
           |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
           |    'vs_index' AS kind, 0 AS batch_id, a.v AS a_v, b.v AS b_v
           |  FROM old a JOIN b1 b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
           |  UNION
           |  SELECT DISTINCT a.id, b.id, 'within_batch', 0, a.v, b.v
           |  FROM b1 a JOIN b1 b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id
           |  UNION
           |  SELECT DISTINCT a.id, b.id, 'vs_index', 1, a.v, b.v
           |  FROM i2 a JOIN b2 b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id
           |  UNION
           |  SELECT DISTINCT a.id, b.id, 'within_batch', 1, a.v, b.v
           |  FROM b2 a JOIN b2 b
           |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id)
           |SELECT a_id, b_id, kind,
           |  round(${cosSql("a_v", "b_v")}, 6) AS cosine,
           |  CAST(batch_id AS BIGINT) AS batch_id
           |FROM cand WHERE ${cosSql("a_v", "b_v")} >= 0.3""".stripMargin
      }),

    // ST: FLAG-mode streaming embedding dedup — the scale-safe default
    // (pair emission above stays the opt-in for when pairs ARE the
    // product): each batch COLLAPSES exact-duplicate vectors to a
    // min-id rep before the LSH probe (the semanticDedup collapse —
    // an exact-dup mega-group costs one rep row + n-1 collapse flags,
    // never n^2/2 pairs), probes index + earlier reps, and emits
    // keep flags with a rep-multiplicity audit column. Only REPS'
    // buckets join the index: identical non-reps match later batches
    // through their rep (same vector, same buckets, cosine 1).
    Q("st_embed_dedup_collapse",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        // duplicate-heavy fixture: every 5th vector re-ingested under
        // a shifted id, so the collapse has real groups to collapse
        val dup = emb.where(pmod(col("vec_id"), lit(5)) === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
        val all = emb.unionByName(dup)
        val index = Dedup.embedLshIndex(
          all.where(pmod(col("vec_id"), lit(4)) =!= 0 &&
            col("vec_id") < 100000L),
          "vec_id", "embedding", numPlanes = 8, tables = 4)
        graft.streaming.EmbedDedupStream.ingestFoldCollapse(index,
          Seq(all.where(pmod(col("vec_id"), lit(8)) === 0 ||
              col("vec_id") >= 100000L),
            all.where(pmod(col("vec_id"), lit(8)) === 4 &&
              col("vec_id") < 100000L)),
          "vec_id", "embedding", threshold = 0.3, numPlanes = 8,
          tables = 4)
      },
      Some {
        val buckets = (0 until 4).map(tb =>
          s"SELECT id, v, $tb AS tbl, ${srpBucketSql("v", tb, 8)} AS bucket FROM ea")
          .mkString("\nUNION ALL\n")
        def collapseBatch(n: Int, src: String, idx: String) =
          s"""g$n AS (SELECT id, v,
             |  CASE WHEN len(v) = 0
             |      OR list_max(list_transform(v, x_ -> abs(x_))) <= 0
             |    THEN 'u:' || CAST(id AS VARCHAR)
             |    ELSE 'g:' || v::VARCHAR END AS gk
             |  FROM $src),
             |r$n AS (SELECT gk, min(id) AS rep_id, count(*) AS n_rep
             |        FROM g$n GROUP BY gk),
             |w$n AS (SELECT g$n.id, g$n.v, r$n.rep_id, r$n.n_rep
             |        FROM g$n JOIN r$n USING (gk)),
             |rb$n AS (SELECT b.* FROM b
             |         JOIN w$n ON b.id = w$n.id AND w$n.id = w$n.rep_id),
             |d$n AS (
             |  SELECT DISTINCT y.id AS rep_id FROM $idx x JOIN rb$n y
             |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id <> y.id
             |  WHERE ${cosSql("x.v", "y.v")} >= 0.3
             |  UNION
             |  SELECT DISTINCT y.id FROM rb$n x JOIN rb$n y
             |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id
             |  WHERE ${cosSql("x.v", "y.v")} >= 0.3),
             |f$n AS (SELECT w$n.id, w$n.rep_id,
             |    CAST(w$n.n_rep AS BIGINT) AS n_rep,
             |    CASE WHEN w$n.id <> w$n.rep_id OR d$n.rep_id IS NOT NULL
             |      THEN 0 ELSE 1 END AS keep,
             |    CAST(${n - 1} AS BIGINT) AS batch_id
             |  FROM w$n LEFT JOIN d$n ON w$n.rep_id = d$n.rep_id)"""
        s"""WITH e0 AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
           |ea AS (SELECT id, v FROM e0
           |       UNION ALL
           |       SELECT id + 100000, v FROM e0 WHERE id % 5 = 0),
           |b AS ($buckets),
           |old AS (SELECT * FROM b WHERE id % 4 <> 0 AND id < 100000),
           |${collapseBatch(1,
              "ea WHERE id % 8 = 0 OR id >= 100000", "old")},
           |i2 AS (SELECT * FROM old UNION ALL SELECT * FROM rb1),
           |${collapseBatch(2,
              "ea WHERE id % 8 = 4 AND id < 100000", "i2")}
           |SELECT id, rep_id, n_rep, keep, batch_id FROM f1
           |UNION ALL
           |SELECT id, rep_id, n_rep, keep, batch_id FROM f2""".stripMargin
      }),

    // ST: FLAG-mode streaming TEXT dedup — st_embed_dedup_collapse's
    // MinHash sibling (one shared IncrementalIngest.foldCollapse
    // skeleton): exact-duplicate texts collapse to a min-id rep by
    // text digest before the probe (identical text = identical
    // signature, so sig_sim is exactly 1 and the collapse is always
    // sound), reps probe the standing index + each other, per-id keep
    // flags + rep multiplicity out, reps-only index growth.
    Q("st_dedup_collapse",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val dup = docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        val all = docs.unionByName(dup)
        val index = Dedup.minHashIndex(
          all.where(pmod(col("doc_id"), lit(4)) =!= 0 &&
            col("doc_id") < 100000L),
          "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2)
        graft.streaming.DedupStream.ingestFoldCollapse(index,
          Seq(all.where(pmod(col("doc_id"), lit(8)) === 0 ||
              col("doc_id") >= 100000L),
            all.where(pmod(col("doc_id"), lit(8)) === 4 &&
              col("doc_id") < 100000L)),
          "doc_id", "text", shingleN = 3, bands = 8, rowsPerBand = 2,
          simThreshold = 0.25)
      },
      Some {
        val sim = """list_sum(list_transform(range(1, 17), i_ ->
                    |  CASE WHEN x.sig[i_] = y.sig[i_] THEN 1 ELSE 0
                    |  END))::DOUBLE / 16""".stripMargin
        def collapseBatch(n: Int, pred: String, idx: String) =
          s"""g$n AS (SELECT doc_id AS id, md5(text) AS gk
             |        FROM da WHERE $pred),
             |r$n AS (SELECT gk, min(id) AS rep_id, count(*) AS n_rep
             |        FROM g$n GROUP BY gk),
             |w$n AS (SELECT g$n.id, r$n.rep_id, r$n.n_rep
             |        FROM g$n JOIN r$n USING (gk)),
             |rb$n AS (SELECT b.* FROM banded b
             |         JOIN w$n ON b.id = w$n.id AND w$n.id = w$n.rep_id),
             |d$n AS (
             |  SELECT DISTINCT y.id AS rep_id FROM $idx x JOIN rb$n y
             |    ON x.band = y.band AND x.bucket = y.bucket
             |      AND x.id <> y.id
             |  WHERE $sim >= 0.25
             |  UNION
             |  SELECT DISTINCT y.id FROM rb$n x JOIN rb$n y
             |    ON x.band = y.band AND x.bucket = y.bucket
             |      AND x.id < y.id
             |  WHERE $sim >= 0.25),
             |f$n AS (SELECT w$n.id, w$n.rep_id,
             |    CAST(w$n.n_rep AS BIGINT) AS n_rep,
             |    CASE WHEN w$n.id <> w$n.rep_id OR d$n.rep_id IS NOT NULL
             |      THEN 0 ELSE 1 END AS keep,
             |    CAST(${n - 1} AS BIGINT) AS batch_id
             |  FROM w$n LEFT JOIN d$n ON w$n.rep_id = d$n.rep_id)"""
        s"""WITH d0 AS (SELECT doc_id, text FROM documents),
           |da AS (SELECT doc_id, text FROM d0
           |       UNION ALL
           |       SELECT doc_id + 100000, text FROM d0
           |       WHERE doc_id % 5 = 0),
           |${minhashBandedSqlFrom("da")},
           |old AS (SELECT * FROM banded
           |        WHERE id % 4 <> 0 AND id < 100000),
           |${collapseBatch(1, "doc_id % 8 = 0 OR doc_id >= 100000",
              "old")},
           |i2 AS (SELECT * FROM old UNION ALL SELECT * FROM rb1),
           |${collapseBatch(2, "doc_id % 8 = 4 AND doc_id < 100000",
              "i2")}
           |SELECT id, rep_id, n_rep, keep, batch_id FROM f1
           |UNION ALL
           |SELECT id, rep_id, n_rep, keep, batch_id FROM f2""".stripMargin
      }),

    // Cluster-level dedup: LSH pair graph -> connected components ->
    // canonical keep (longest text, min-id tiebreak). The transitive-
    // closure policy LLM corpus dedup uses, vs pipe_clean_corpus's
    // pairwise-greedy drop; singleton docs are their own component.
    Q("dd_cluster_keep",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.5)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val cc = ConnectedComponents.run(pairs)
          .withColumnRenamed("node", "doc_id")
        val labeled = docs.join(cc, Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
        val w = Window.partitionBy("component")
          .orderBy(length(col("text")).desc, col("doc_id").asc)
        labeled.withColumn("rn", row_number().over(w))
          .select(col("doc_id"), col("component"),
            (col("rn") === 1).cast("int").as("keep"))
      },
      Some(s"""WITH RECURSIVE $minhashBandedSql,
              |$lshComponentsSql,
              |lab AS (
              |  SELECT d.doc_id, d.text,
              |    coalesce(c.component, d.doc_id) AS component
              |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
              |ranked AS (
              |  SELECT doc_id, component, row_number() OVER (
              |    PARTITION BY component
              |    ORDER BY length(text) DESC, doc_id ASC) AS rn
              |  FROM lab)
              |SELECT doc_id, component,
              |  CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep
              |FROM ranked""".stripMargin)),

    // Incremental duplicate-CLUSTER maintenance end to end: the corpus
    // builds a standing MinHash band index + CC labels over its own
    // verified pairs; each ingest batch probes the index for its pairs
    // (Dedup.incrementalMinHashBuckets — batch-vs-index + within-batch,
    // the corpus is never re-paired) and folds them into the standing
    // labeling (ConnectedComponents.incrementalMerge — batch-sized
    // label-merge graph + flat alias), then appends its bands for the
    // next batch. Per-ingest cost is O(batch + matching buckets) for
    // pairing AND clustering — the steady-state dedup shape at 100 TB,
    // where both the re-pairing and the re-clustering of the corpus are
    // the costs this amortizes away. The oracle is the FULL-corpus
    // LSH + reachability-closure clustering (the dd_cluster_keep chain)
    // — fold-equals-rebuild is the correctness claim, so the oracle
    // shares zero incremental logic with the engine.
    Q("dd_incremental_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val corpus = docs.where(pmod(col("doc_id"), lit(4)) =!= 0)
        // standing state materializes between steps (eager
        // localCheckpoint — the KnnGraphStream fold discipline): the
        // lazy chains otherwise re-execute the corpus banding and every
        // earlier step's merge inside each later step's plan (measured:
        // 18.5 s -> ~9 s for this row at sf0.1). At rest these ARE
        // tables, which get this for free.
        var index = Dedup.minHashIndex(corpus, "doc_id", "text")
          .localCheckpoint(true)
        var base = ConnectedComponents.run(
            Dedup.minHashLSH(corpus, "doc_id", "text")
              .select(col("a_id").as("src"), col("b_id").as("dst")))
          .localCheckpoint(true)
        var alias = base
          .select(col("component").as("c"), col("component").as("canon"))
          .where(lit(false))
          .localCheckpoint(true)
        Seq(docs.where(pmod(col("doc_id"), lit(8)) === 0),
            docs.where(pmod(col("doc_id"), lit(8)) === 4)).foreach { b =>
          val banded = Dedup.minHashIndex(b, "doc_id", "text")
            .localCheckpoint(true)
          val pairs = Dedup.incrementalMinHashBuckets(index, banded,
              numHashes = 16, simThreshold = 0.5)
            .select(col("a_id").as("src"), col("b_id").as("dst"))
          // base stays APPEND-ONLY: only the batch-bounded insert frame
          // materializes per batch (re-checkpointing base ∪ inserts
          // whole would write O(batches · corpus) — the incrementalFold
          // frontier discipline; at rest this is a table append)
          val (ins, na) =
            ConnectedComponents.incrementalMergeParts(base, alias, pairs)
          base = base.unionByName(ins.localCheckpoint(true))
          alias = na.localCheckpoint(true)
          index = index.unionByName(banded)
        }
        ConnectedComponents.resolveLabels(base, alias)
      },
      Some(s"""WITH RECURSIVE $minhashBandedSql,
              |$lshComponentsSql
              |SELECT node, component FROM comp""".stripMargin)),

    // SimHash fingerprint near-dup pairs (hamming <= 3, byte-blocked:
    // 4 = maxHamming+1 chunks give pigeonhole-guaranteed recall)
    Q("dd_simhash",
      (s, dir) => Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3),
      Some(s"""WITH toks AS ($toksSql),
              |h AS (SELECT id, list_transform(tk, t -> ${h32Sql("t", "0")}) AS hs
              |      FROM toks),
              |fp AS (SELECT id, COALESCE(list_sum(list_transform(range(0, 32), j ->
              |    CASE WHEN COALESCE(list_sum(list_transform(hs, h ->
              |        CASE WHEN CAST(floor(h / pow(2e0, j)) AS BIGINT) % 2 = 1
              |          THEN 1 ELSE -1 END)), 0) > 0
              |      THEN CAST(pow(2e0, j) AS BIGINT) ELSE 0 END)), 0)::BIGINT AS fp
              |  FROM h),
              |chunked AS (
              |  SELECT id, fp, k AS chunk_idx,
              |    CAST(floor(fp / pow(2e0, k * 8)) AS BIGINT) % 256 AS chunk
              |  FROM fp, (SELECT unnest(range(0, 4)) AS k)),
              |pairs AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
              |    a.fp AS a_fp, b.fp AS b_fp
              |  FROM chunked a JOIN chunked b
              |    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
              |    AND a.id < b.id)
              |SELECT a_id, b_id,
              |  CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
              |FROM pairs
              |WHERE bit_count(xor(a_fp, b_fp)) <= 3""".stripMargin)),

    // Exact n-gram jaccard pairs (MinHash-LSH candidate generation,
    // exact-jaccard verify stage — no natural-language blocking key)
    Q("dd_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 3, threshold = 0.03, bands = 8, rowsPerBand = 2),
      Some(s"""WITH $minhashBandedSql,
              |pairs AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
              |j AS (
              |  SELECT p.a_id, p.b_id,
              |    len(list_intersect(ha.h1, hb.h1))::DOUBLE /
              |      len(list_distinct(ha.h1 || hb.h1))::DOUBLE AS jaccard
              |  FROM pairs p JOIN h1 ha ON p.a_id = ha.id
              |               JOIN h1 hb ON p.b_id = hb.id)
              |SELECT a_id, b_id, round(jaccard, 6) AS jaccard
              |FROM j WHERE jaccard >= 0.03""".stripMargin)),

    // EXACT-recall token-set similarity join via prefix filtering
    // (PPJoin family): rarest-first global token order, per-doc
    // (n - ceil(t*n) + 1)-token prefixes, prefix equi-join + length
    // bound, exact intersection verify. Because the filter is LOSSLESS,
    // the oracle is the brute-force all-pairs Jaccard — any missed or
    // extra pair hash-mismatches.
    Q("dd_prefix_jaccard",
      (s, dir) => Dedup.prefixJaccardPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.95),
      Some(s"""WITH toks AS ($toksSql),
              |t AS (SELECT DISTINCT id, unnest(tk) AS tok FROM toks),
              |sz AS (SELECT id, count(*) AS n FROM t GROUP BY id),
              |inter AS (
              |  SELECT a.id AS a_id, b.id AS b_id, count(*) AS o
              |  FROM t a JOIN t b ON a.tok = b.tok AND a.id < b.id
              |  GROUP BY 1, 2),
              |j AS (
              |  SELECT a_id, b_id,
              |    CAST(o AS DOUBLE) / (sa.n + sb.n - o) AS jaccard
              |  FROM inter JOIN sz sa ON a_id = sa.id
              |              JOIN sz sb ON b_id = sb.id)
              |SELECT a_id, b_id, round(jaccard, 6) + 0e0 AS jaccard
              |FROM j WHERE jaccard >= 95e-2""".stripMargin)),

    // Blocking-quality eval — the step a real dedup pipeline runs before
    // trusting a blocking scheme: MinHash-LSH raw candidates (shingle
    // space, simThreshold 0 = pre-verify banding output) scored against
    // the exact-recall prefix-join truth set (token space): pairs
    // completeness (recall of true pairs) and reduction ratio (fraction
    // of the all-pairs space avoided). One row; every count is a 1-row
    // broadcast aggregate, the all-pairs denominator is arithmetic on
    // the doc count — never a cartesian.
    //
    // The measured report IS the point: at sf0.01 completeness is 0.012
    // at reduction 0.9996 — this corpus's token-level near-dups are
    // largely token REORDERS, which order-sensitive 3-gram shingles
    // cannot see. That mismatch (order-insensitive truth vs
    // order-sensitive blocking) is precisely what this eval exists to
    // catch before a 100 TB run trusts its blocking recall.
    Q("dd_blocking_quality",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cand = Dedup.minHashLSH(docs, "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.0)
        val truth = Dedup.prefixJaccardPairs(docs, "doc_id", "text", 0.95)
        Dedup.blockingQuality(cand, truth, docs, "doc_id")
      },
      Some(s"""WITH $minhashBandedSql,
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
              |toks AS ($toksSql),
              |tt AS (SELECT DISTINCT id, unnest(tk) AS tok FROM toks),
              |sz AS (SELECT id, count(*) AS n FROM tt GROUP BY id),
              |ov AS (
              |  SELECT a.id AS a_id, b.id AS b_id, count(*) AS o
              |  FROM tt a JOIN tt b ON a.tok = b.tok AND a.id < b.id
              |  GROUP BY 1, 2),
              |truth AS (
              |  SELECT a_id, b_id FROM ov
              |  JOIN sz sa ON a_id = sa.id JOIN sz sb ON b_id = sb.id
              |  WHERE CAST(o AS DOUBLE) / (sa.n + sb.n - o) >= 95e-2),
              |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
              |       FROM documents)
              |SELECT
              |  (SELECT count(*) FROM cand) AS n_candidates,
              |  (SELECT count(*) FROM truth) AS n_truth,
              |  (SELECT count(*) FROM truth JOIN cand USING (a_id, b_id))
              |    AS n_hit,
              |  round(CAST((SELECT count(*) FROM truth JOIN cand
              |      USING (a_id, b_id)) AS DOUBLE) /
              |    (SELECT count(*) FROM truth), 6) + 0e0
              |    AS pairs_completeness,
              |  round(1e0 - CAST((SELECT count(*) FROM cand) AS DOUBLE) /
              |    ((SELECT n FROM nd) * ((SELECT n FROM nd) - 1e0) / 2e0), 6)
              |    + 0e0 AS reduction_ratio""".stripMargin)),

    // Sampled-truth blocking quality — the variant that can actually
    // RUN on the corpus blocking exists to protect. The exact row
    // above computes pairs-completeness against the full-corpus truth
    // set, which is quadratic-OUTPUT work; here exact truth is
    // computed only for pairs touching a seeded fixed sample of docs
    // (id % 13 == 3, lowest 64 — the knnRecallSampled discipline),
    // whose postings broadcast against ONE corpus token scan. The
    // candidate leg and the reduction ratio are unchanged; the
    // completeness column is an unbiased estimate of the exact row's
    // (sampled 0.0172 on 290 truth pairs vs exact 0.0122 on 1887 at
    // sf0.01 — the order-sensitivity mismatch the eval exists to catch
    // reads the same either way; see SCALE.md r14). The exact row
    // stays as the small-sf cross-check.
    Q("dd_blocking_quality_sampled",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val cand = Dedup.minHashLSH(docs, "doc_id", "text",
          shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.0)
        val sample = docs.where(pmod(col("doc_id"), lit(13)) === 3)
          .orderBy(col("doc_id")).limit(64).select("doc_id")
        val truth = Dedup.sampledJaccardTruthPairs(docs, sample,
          "doc_id", "text", 0.95)
        Dedup.blockingQuality(cand, truth, docs, "doc_id")
      },
      Some(s"""WITH $minhashBandedSql,
              |cand AS (
              |  SELECT DISTINCT a.id AS a_id, b.id AS b_id
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
              |toks AS ($toksSql),
              |tt AS (SELECT DISTINCT id, unnest(tk) AS tok FROM toks),
              |sz AS (SELECT id, count(*) AS n FROM tt GROUP BY id),
              |smp AS (SELECT doc_id AS id FROM documents
              |        WHERE doc_id % 13 = 3 ORDER BY doc_id LIMIT 64),
              |st AS (SELECT id, tok FROM tt
              |       WHERE id IN (SELECT id FROM smp)),
              |ov AS (SELECT s.id AS s_id, c.id AS c_id, count(*) AS o
              |       FROM st s JOIN tt c
              |         ON s.tok = c.tok AND s.id <> c.id
              |       GROUP BY 1, 2),
              |truth AS (
              |  SELECT DISTINCT least(s_id, c_id) AS a_id,
              |                  greatest(s_id, c_id) AS b_id
              |  FROM ov JOIN sz sa ON s_id = sa.id
              |          JOIN sz sb ON c_id = sb.id
              |  WHERE CAST(o AS DOUBLE) / (sa.n + sb.n - o) >= 95e-2),
              |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n
              |       FROM documents)
              |SELECT
              |  (SELECT count(*) FROM cand) AS n_candidates,
              |  (SELECT count(*) FROM truth) AS n_truth,
              |  (SELECT count(*) FROM truth JOIN cand USING (a_id, b_id))
              |    AS n_hit,
              |  round(CAST((SELECT count(*) FROM truth JOIN cand
              |      USING (a_id, b_id)) AS DOUBLE) /
              |    (SELECT count(*) FROM truth), 6) + 0e0
              |    AS pairs_completeness,
              |  round(1e0 - CAST((SELECT count(*) FROM cand) AS DOUBLE) /
              |    ((SELECT n FROM nd) * ((SELECT n FROM nd) - 1e0) / 2e0), 6)
              |    + 0e0 AS reduction_ratio""".stripMargin)),

    // Embedding near-dup pairs (cosine >= 0.3, label-blocked)
    Q("dd_embed_cosine",
      (s, dir) => Dedup.embeddingCosinePairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, blockKeyExpr = col("label")),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings)
              |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
              |  round(${cosSql("a.embedding", "b.embedding")}, 6) AS cosine
              |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
              |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3""".stripMargin)),

    // Embedding near-dup WITHOUT a caller block key: SRP-LSH buckets
    // generate candidates (8 planes x 4 tables), exact cosine verifies.
    // Recall is the documented S-curve of the SRP family; the oracle
    // replays the identical bucketing so the check is exact.
    Q("dd_embed_lsh",
      (s, dir) => Dedup.embeddingLshPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, numPlanes = 8, tables = 4),
      Some {
        val buckets = (0 until 4).map(tb =>
          s"SELECT id, v, $tb AS tbl, ${srpBucketSql("v", tb, 8)} AS bucket FROM e")
          .mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
           |b AS ($buckets),
           |cand AS (
           |  SELECT DISTINCT x.id AS a_id, y.id AS b_id,
           |    x.v AS a_v, y.v AS b_v
           |  FROM b x JOIN b y
           |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.id < y.id)
           |SELECT a_id, b_id, round(${cosSql("a_v", "b_v")}, 6) AS cosine
           |FROM cand WHERE ${cosSql("a_v", "b_v")} >= 0.3""".stripMargin
      }),

    // SemDedup (Abbas et al. 2023): k-means the embedding space, drop
    // near-duplicates WITHIN clusters only — clustering bounds the
    // quadratic pair work to cluster-sized blocks and cross-cluster
    // pairs are never scored. Deterministic end to end (Lloyd with
    // smallest-id seeding, min-id keep), so the oracle replays the
    // identical clustering + pruning.
    // maxBlock = Int.MaxValue pins the UNGUARDED branch explicitly: this
    // row's oracle models unconditional exact all-pairs within clusters,
    // so the impl must never route a cluster onto the SRP sub-blocked
    // path regardless of cluster size or future default changes. The
    // guard itself is hash-checked by dd_semantic_guarded/_oversized.
    Q("dd_semantic",
      (s, dir) => Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2, threshold = 0.3,
        maxBlock = Int.MaxValue),
      Some {
        s"""WITH ${kmeansA2Sql()},
           |dropped AS (
           |  SELECT DISTINCT b.vec_id FROM a2 a JOIN a2 b
           |    ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  WHERE ${cosSql("a.v", "b.v")} >= 0.3)
           |SELECT a2.vec_id, CAST(a2.cid AS INT) AS cluster,
           |  CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS keep
           |FROM a2 LEFT JOIN dropped ON a2.vec_id = dropped.vec_id""".stripMargin
      }),

    // SemDedup with the mega-cluster guard ACTIVE: maxBlock=40 pushes the
    // larger clusters (avg size 500/8 ≈ 62 at the gate sf) onto the SRP
    // sub-blocked branch while small clusters keep the exact scan — the
    // oracle replays BOTH branches (kmeans assignment, the exact-duplicate
    // rep collapse — min id per (cluster, vector), zero-norm rows exempt —
    // size split over REPS, exact pairs below the bound, (cluster, table,
    // bucket) SRP candidates + exact-cosine verify above it), so the
    // guarded path itself is hash-checked, not just spec'd.
    Q("dd_semantic_guarded",
      (s, dir) => Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2, threshold = 0.3,
        maxBlock = 40, numPlanes = 8, tables = 4),
      Some {
        val buckets = (0 until 4).map(tb =>
          s"""SELECT vec_id, v, cid, $tb AS tbl,
             |  ${srpBucketSql("v", tb, 8)} AS bucket FROM bg""".stripMargin)
          .mkString("\nUNION ALL\n")
        s"""WITH ${kmeansA2Sql()},
           |rk AS (
           |  SELECT *, row_number() OVER (
           |    PARTITION BY cid,
           |      CASE WHEN len(v) = 0
           |          OR list_max(list_transform(v, x_ -> abs(x_))) <= 0
           |        THEN vec_id ELSE -1 END, v
           |    ORDER BY vec_id) AS rn
           |  FROM a2),
           |reps AS (SELECT cid, vec_id, v FROM rk WHERE rn = 1),
           |dupdrop AS (SELECT vec_id FROM rk WHERE rn > 1),
           |sz AS (SELECT cid, count(*) AS cl_n FROM reps GROUP BY cid),
           |sm AS (SELECT reps.* FROM reps JOIN sz USING (cid)
           |       WHERE cl_n <= 40),
           |bg AS (SELECT reps.* FROM reps JOIN sz USING (cid)
           |       WHERE cl_n > 40),
           |be AS ($buckets),
           |exdrop AS (
           |  SELECT DISTINCT b.vec_id FROM sm a JOIN sm b
           |    ON a.cid = b.cid AND a.vec_id < b.vec_id
           |  WHERE ${cosSql("a.v", "b.v")} >= 0.3),
           |cand AS (
           |  SELECT DISTINCT a.vec_id AS aid, b.vec_id AS bid,
           |    a.v AS av, b.v AS bv
           |  FROM be a JOIN be b
           |    ON a.cid = b.cid AND a.tbl = b.tbl AND a.bucket = b.bucket
           |      AND a.vec_id < b.vec_id),
           |lshdrop AS (
           |  SELECT DISTINCT bid AS vec_id FROM cand
           |  WHERE ${cosSql("av", "bv")} >= 0.3),
           |dropped AS (SELECT vec_id FROM exdrop
           |            UNION SELECT vec_id FROM lshdrop
           |            UNION SELECT vec_id FROM dupdrop)
           |SELECT a2.vec_id, CAST(a2.cid AS INT) AS cluster,
           |  CASE WHEN dropped.vec_id IS NULL THEN 1 ELSE 0 END AS keep
           |FROM a2 LEFT JOIN dropped ON a2.vec_id = dropped.vec_id""".stripMargin
      }),

    // The guard's no-silent-caps audit row (gr_link_capped precedent):
    // which clusters crossed maxBlock and fell back to SRP recall.
    Q("dd_semantic_oversized",
      (s, dir) => Dedup.semanticDedupOversized(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 2, maxBlock = 40,
        threshold = 0.3),
      Some {
        val rep =
          """CASE WHEN len(v) = 0
            |    OR list_max(list_transform(v, x_ -> abs(x_))) <= 0
            |  THEN 'u:' || CAST(vec_id AS VARCHAR)
            |  ELSE 'g:' || v::VARCHAR END""".stripMargin
        s"""WITH ${kmeansA2Sql()}
           |SELECT CAST(cid AS INT) AS cluster, count(*) AS cl_size,
           |  count(DISTINCT $rep) AS n_reps,
           |  CASE WHEN count(DISTINCT $rep) > 40 THEN 1 ELSE 0
           |  END AS oversized
           |FROM a2 GROUP BY cid""".stripMargin
      }),

    // ANN: NN-Descent kNN-GRAPH construction (Dong et al. 2011,
    // deterministic variant) — every node's k nearest, initialized
    // from SRP bucket mates, improved by 2 neighbor-of-neighbor
    // rounds (reverse lists k-capped). The all-nodes graph that
    // SemDedup clustering and graph-ANN serving start from; per-query
    // top-k is the wrong shape when every node is a query. Oracle
    // unrolls init + both rounds (one shared CTE chain with the
    // recall row below).
    Q("ann_knn_descent",
      (s, dir) => Similarity.knnDescent(t(s, dir, "embeddings"),
        "vec_id", "embedding", k = 5, rounds = 2),
      Some(s"""WITH $knnDescentCtes
              |SELECT q AS id, c AS nbr_id,
              |  floor(cosine * 1e6 + 5e-1) / 1e6 AS cosine,
              |  CAST(rn AS INT) AS rank
              |FROM l2""".stripMargin)),

    // ANN: recall@5 of the NN-Descent graph against a SEEDED
    // FIXED-SIZE sampled exact truth — the eval that decides whether
    // the approximate builder is usable before anything downstream
    // trusts it (the dd_blocking_quality discipline for the ANN
    // family). Truth = 64 sampled queries x corpus (queries
    // broadcast): linear in the corpus, replacing r12's all-pairs n²
    // truth. Run on the near-random `embeddings` fixture this reads
    // LOW by design (there is no neighborhood structure to exploit;
    // the structured row below shows the operating regime).
    Q("ann_knn_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        knnRecallSampled(emb, Similarity.knnDescent(emb, "vec_id",
          "embedding", k = 5, rounds = 2))
      },
      Some(s"""WITH $knnDescentCtes,
              |$knnRecallSampledSql""".stripMargin)),

    // ANN: NN-Descent in its OPERATING REGIME — the same operator and
    // config over a manifold-structured cluster-mixture fixture
    // (8 tight clusters; see structuredE0Sql). Bucket mates are true
    // neighbors here, so the descent converges to a usable graph —
    // the recall row below gates it.
    Q("ann_knn_descent_structured",
      (s, dir) => Similarity.knnDescent(structuredEmb(s, dir),
        "vec_id", "embedding", k = 5, rounds = 2),
      Some(s"""WITH ${knnDescentCtesOver(structuredE0Sql)}
              |SELECT q AS id, c AS nbr_id,
              |  floor(cosine * 1e6 + 5e-1) / 1e6 AS cosine,
              |  CAST(rn AS INT) AS rank
              |FROM l2""".stripMargin)),

    // ANN: recall@5 of the structured-regime descent graph vs sampled
    // exact truth — the number that demonstrates the builder is USABLE
    // on data with real neighborhood structure (gated >= 0.8 in
    // SimilaritySpec), alongside the honest near-random row above.
    Q("ann_knn_recall_structured",
      (s, dir) => {
        val emb = structuredEmb(s, dir)
        knnRecallSampled(emb, Similarity.knnDescent(emb, "vec_id",
          "embedding", k = 5, rounds = 2))
      },
      Some(s"""WITH ${knnDescentCtesOver(structuredE0Sql)},
              |$knnRecallSampledSql""".stripMargin)),

    // ANN: INCREMENTAL kNN-graph maintenance — the operator a standing
    // embedding pipeline runs per ingest batch, where a from-scratch
    // NN-Descent rebuild re-pays the whole corpus. Standing graph +
    // standing SRP index over ids % 5 != 0; the % 5 == 0 batch
    // arrives: batch nodes take bucket-mate candidates + one bounded
    // descent round, then ONE reverse pass re-ranks only the touched
    // corpus neighborhoods. Output is the delta (new + updated rows);
    // per-batch compute ∝ batch, never corpus (its growth curve:
    // SCALE.md, "Round 14", incremental ANN cost shape). Oracle
    // unrolls the standing build (shared CTE chain) plus the
    // incremental step.
    Q("ann_knn_incremental",
      (s, dir) => {
        val emb = structuredEmb(s, dir)
        val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
        // standing graph + index arrive ON DISK (knnStanding fixture) —
        // the row times the incremental step, which is the operator
        val (g, idx) = knnStanding(s, dir)
        Similarity.knnDescentIncremental(g, idx, batch, "vec_id",
          "embedding", k = 5, rounds = 1)
      },
      Some(knnIncrementalSql)),

    // ST: STREAMING kNN-graph maintenance — the ingest-fold equivalent
    // of the micro-batch path (KnnGraphStream.run): two batches arrive
    // in order, each computes its delta against the standing graph +
    // bucket index AS LEFT BY the previous batch, and the delta folds
    // into the standing state (graph upsert by id, bucket append).
    // The stream ≡ batch discipline every st_* family follows; oracle
    // chains two unrolled incremental steps through the same folded
    // state.
    Q("st_knn_incremental",
      (s, dir) => {
        val emb = structuredEmb(s, dir)
        // standing state from the on-disk knnStanding fixture (see there)
        val (g, idx) = knnStanding(s, dir)
        graft.streaming.KnnGraphStream.ingestFold(g, idx,
          Seq(emb.where(pmod(col("vec_id"), lit(10)) === 0),
            emb.where(pmod(col("vec_id"), lit(10)) === 5)),
          "vec_id", "embedding", k = 5, rounds = 1)
      },
      Some(stKnnIncrementalSql)),

    // Brute-force cosine top-k (5 query vectors vs the rest of the corpus)
    Q("ann_brute_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          emb.where(col("vec_id") >= 5), emb.where(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5)
      },
      Some(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
              |           WHERE vec_id < 5),
              |c AS (SELECT vec_id AS c_id, embedding AS c_v FROM embeddings
              |      WHERE vec_id >= 5),
              |scored AS (
              |  SELECT q_id, c_id, ${cosSql("c_v", "q_v")} AS cosine,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY ${cosSql("c_v", "q_v")} DESC, c_id ASC) AS rank
              |  FROM c CROSS JOIN q)
              |SELECT q_id, c_id, round(cosine, 6) AS cosine,
              |  CAST(rank AS INT) AS rank
              |FROM scored WHERE rank <= 5""".stripMargin)),

    // ANN: PCA first-component projection — exact d x d covariance by
    // distributed (i, j) partial agg, fixed 10-round power iteration on
    // the collected d^2 scalars (k-means model precedent), map-only
    // sequential-fold projection. The oracle replays the SAME pipeline:
    // covariance in SQL, the iteration unrolled with ORDERED list folds
    // (every inner sum sequential on both engines), projection as the
    // foldSql shape every embedding operator uses.
    Q("ann_pca_project",
      (s, dir) => Similarity.pcaProject(
        t(s, dir, "embeddings"), "vec_id", "embedding", iterations = 10),
      Some {
        def iter(k: Int) =
          s"""w$k AS MATERIALIZED (
             |  SELECT i, ${foldSql(
                  s"list_transform(range(1, 65), k_ -> row_[k_] * v${k - 1}.v[k_])")} AS wi
             |  FROM cl, v${k - 1}),
             |wn$k AS MATERIALIZED (
             |  SELECT sqrt(${foldSql("list_transform(wl, t_ -> t_ * t_)")}) AS s
             |  FROM (SELECT list(wi ORDER BY i) AS wl FROM w$k)),
             |v$k AS MATERIALIZED (
             |  SELECT list_transform(wl, t_ -> t_ / wn$k.s) AS v
             |  FROM (SELECT list(wi ORDER BY i) AS wl FROM w$k), wn$k)"""
        s"""WITH x AS MATERIALIZED (
           |  SELECT vec_id AS id, k_ AS i, embedding[k_]::DOUBLE AS xi
           |  FROM embeddings, (SELECT unnest(range(1, 65)) AS k_)),
           |m AS MATERIALIZED (SELECT i, avg(xi) AS mu FROM x GROUP BY i),
           |cx AS MATERIALIZED (
           |  SELECT id, x.i, xi - mu AS ci FROM x JOIN m ON x.i = m.i),
           |nn AS (SELECT count(*) AS n FROM embeddings),
           |cov AS MATERIALIZED (
           |  SELECT a.i AS i, b.i AS j, sum(a.ci * b.ci) AS s
           |  FROM cx a JOIN cx b ON a.id = b.id GROUP BY 1, 2),
           |cl AS MATERIALIZED (
           |  SELECT i, list(s / (n - 1) ORDER BY j) AS row_
           |  FROM cov, nn GROUP BY i, n),
           |ml AS (SELECT list(mu ORDER BY i) AS mu FROM m),
           |v0 AS (SELECT list_transform(range(1, 65),
           |  k_ -> 1e0 / sqrt(64e0)) AS v),
           |${(1 to 10).map(iter).mkString(",\n")}
           |SELECT e.vec_id, round(${foldSql(
              "list_transform(range(1, 65), k_ -> " +
                "(e.embedding[k_]::DOUBLE - ml.mu[k_]) * v10.v[k_])")}, 4)
           |  + 0e0 AS pc1
           |FROM embeddings e, ml, v10""".stripMargin
      }),

    // ANN: SQ8 scalar quantization + asymmetric-distance scan + exact
    // rerank (the faiss SQ pattern): the corpus lives as 64-byte int8
    // codes (4x smaller at rest/in cache — the 100 TB bandwidth win),
    // every candidate is scored with ADC cosine on dequantized bin
    // centers, the top-16 per query rerank EXACTLY on the original
    // floats, and the exact top-5 ships. Codes/dequant/fold arithmetic
    // is engine-identical, so the oracle replays it bit-for-bit.
    Q("ann_sq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.sqTopK(
          emb.where(col("vec_id") >= 5), emb.where(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding", k = 5, rerank = 16)
      },
      Some {
        val code = "least(255, greatest(0, " +
          "CAST(floor((x::DOUBLE - (-5e-1)) / 1e0 * 256e0) AS INT)))"
        s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
           |           WHERE vec_id < 5),
           |c AS (SELECT vec_id AS c_id, embedding AS c_v FROM embeddings
           |      WHERE vec_id >= 5),
           |dq AS (
           |  SELECT c_id, list_transform(c_v, x ->
           |    (-5e-1) + ($code::DOUBLE + 5e-1) * (1e0 / 256e0)) AS dv
           |  FROM c),
           |approx AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("dv", "q_v")} DESC, c_id ASC) AS arank
           |  FROM dq CROSS JOIN q),
           |cand AS (SELECT q_id, c_id FROM approx WHERE arank <= 16),
           |exact AS (
           |  SELECT q_id, c_id, ${cosSql("c_v", "q_v")} AS cosine,
           |    row_number() OVER (PARTITION BY q_id
           |      ORDER BY ${cosSql("c_v", "q_v")} DESC, c_id ASC) AS rank
           |  FROM cand JOIN c USING (c_id) JOIN q USING (q_id))
           |SELECT q_id, c_id, round(cosine, 6) AS cosine,
           |  CAST(rank AS INT) AS rank
           |FROM exact WHERE rank <= 5""".stripMargin
      }),

    // PQ asymmetric-distance top-k (Jegou et al. 2011) — the quantized
    // scan half of IVF-PQ, the canonical web-scale ANN layout: per-
    // subspace Lloyd codebooks (deterministic: smallest-id seeds, one
    // refinement, empty cells keep their centroid), corpus carried as m
    // codes per row, query-side exact ADC, k-bounded heap top-k. The
    // oracle replays training, encoding, and the subspace-ordered ADC
    // sum, so the approximate METRIC gets an exact CHECK.
    Q("ann_pq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.pqTopK(emb.where(col("vec_id") >= 21),
          emb.where(col("vec_id") < 5), "vec_id", "vec_id", "embedding",
          k = 5, m = 4, kc = 4, iters = 2)
      },
      Some(pqTopKSql())),

    // Residual IVF-PQ — the FULL canonical layout composed from the two
    // halves above: cosine cell routing (fixed 16-centroid model), PQ
    // codebooks trained on residuals x - centroid(cell), queries probe
    // 2 cells scoring the cell's codes against their own per-cell
    // residual. The oracle replays routing, residuals, training,
    // encoding, and the ADC sum.
    Q("ann_ivfpq_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqTopK(emb.where(col("vec_id") >= 21),
          emb.where(col("vec_id") < 5), "vec_id", "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding",
          k = 5, nProbe = 2, m = 4, kc = 4, iters = 2)
      },
      Some(ivfPqTopKSql())),

    // IVF-PQ + exact re-rank — the production recipe end to end: the
    // quantized scan shortlists 15 candidates per query, only those rows'
    // raw vectors are re-read (broadcast semi-join, no corpus shuffle),
    // and exact cosine re-ranks to the final 5. Same fixture as
    // ann_ivfpq_topk; the oracle shares its ADC CTE chain verbatim.
    Q("ann_ivfpq_rerank",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfPqRerank(emb.where(col("vec_id") >= 21),
          emb.where(col("vec_id") < 5), "vec_id", "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding",
          k = 5, shortlist = 15, nProbe = 2, m = 4, kc = 4, iters = 2)
      },
      Some(ivfPqRerankSql())),

    // IVF-style coarse assignment (every 50th vector is a "centroid")
    Q("ann_ivf_assign",
      (s, dir) => {
        // FIXED centroid count (16), independent of corpus size — IVF's
        // model is a parameter, so the scale probe must measure the
        // production O(rows x k) assignment, not O(rows x centroids)
        // with centroids growing alongside the corpus.
        val emb = t(s, dir, "embeddings")
        Similarity.ivfAssign(emb.where(col("vec_id") >= 16), "vec_id",
          "embedding", emb.where(col("vec_id") < 16), "vec_id", "embedding")
      },
      Some(s"""WITH c AS (SELECT vec_id AS cent_id, embedding AS cent_v
              |           FROM embeddings WHERE vec_id < 16),
              |v AS (SELECT vec_id AS v_id, embedding AS v FROM embeddings
              |      WHERE vec_id >= 16),
              |scored AS (
              |  SELECT v_id, cent_id, ${cosSql("v", "cent_v")} AS cosine,
              |    row_number() OVER (PARTITION BY v_id
              |      ORDER BY ${cosSql("v", "cent_v")} DESC, cent_id ASC) AS rn
              |  FROM v CROSS JOIN c)
              |SELECT v_id, cent_id, round(cosine, 6) AS cosine
              |FROM scored WHERE rn = 1""".stripMargin)),

    // IVF full search: probe the 2 nearest centroids per query, score only
    // those cells — the bounded-candidate ANN scale path completing
    // ann_ivf_assign (assignment) with the search stage.
    Q("ann_ivf_topk",
      (s, dir) => {
        // queries: vec_id<5; FIXED 16-centroid model: 5<=vec_id<21;
        // corpus: the rest. The model never grows with the corpus, so
        // the sf1 probe measures production IVF's O(rows x k).
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(
          emb.where(col("vec_id") >= 21),
          emb.where(col("vec_id") < 5),
          "vec_id", "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding",
          k = 5, nProbe = 2)
      },
      Some(ivfTopKOracleSql)),

    // ANN against the STANDING IVF index — the embedding analog of
    // ir_bm25_indexed: cells partitioned at rest by their centroid
    // assignment, the query batch's probed cells prune the scan at the
    // partition level, scoring is unchanged — identical answers (same
    // oracle SQL), the per-batch assignment pass amortized into the
    // one-time build. Same fixture discipline as the search index: the
    // row rebuilds per run; production builds once and queries forever.
    Q("ann_ivf_indexed",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val path = s"/tmp/graft_ivf_index/$tag"
        val emb = t(s, dir, "embeddings")
        Similarity.writeIvfIndex(emb.where(col("vec_id") >= 21),
          "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding", path)
        Similarity.ivfTopKIndexed(s, path, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nProbe = 2)
      },
      Some(ivfTopKOracleSql)),

    // IVF daily ingest: build the standing index over PART of the
    // corpus, append the rest as a batch through the frozen standing
    // model (cell-pruned append — corpus cell files never read), then
    // query. Append-then-query is bit-identical to rebuild-then-query
    // because per-vector assignment is independent — so this row
    // shares ann_ivf_topk's full-corpus oracle verbatim, which IS the
    // equivalence check.
    Q("ann_ivf_incremental",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val path = s"/tmp/graft_ivf_inc/$tag"
        val emb = t(s, dir, "embeddings")
        Similarity.writeIvfIndex(
          emb.where(col("vec_id") >= 21 && pmod(col("vec_id"), lit(3)) =!= 0),
          "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding", path)
        Similarity.appendIvfIndex(s, path,
          emb.where(col("vec_id") >= 21 && pmod(col("vec_id"), lit(3)) === 0),
          "vec_id", "embedding")
        Similarity.ivfTopKIndexed(s, path, emb.where(col("vec_id") < 5),
          "vec_id", "embedding", k = 5, nProbe = 2)
      },
      Some(ivfTopKOracleSql)),

    // IVF centroid-DRIFT audit — the retrain signal appendIvfIndex's
    // frozen-model contract deliberately leaves to the caller: per cell,
    // the corpus's assignment-similarity distribution vs an incoming
    // batch's (one cells scan against stored centroids + one batch
    // argmin pass; model-sized output). Per-row cosines quantize to
    // 1e-6 longs BEFORE aggregation so the cell sums are order-proof
    // integers; the means are floor-quantized (round() diverges at the
    // sum/count midpoints integer quotients land on). The oracle
    // replays assignment, quantization, and both means.
    Q("ann_ivf_drift",
      (s, dir) => {
        val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
        val path = s"/tmp/graft_ivf_drift/$tag"
        val emb = t(s, dir, "embeddings")
        Similarity.writeIvfIndex(emb.where(col("vec_id") >= 21),
          "vec_id", "embedding",
          emb.where(col("vec_id") >= 5 && col("vec_id") < 21),
          "vec_id", "embedding", path)
        Similarity.ivfDriftAudit(s, path, emb.where(col("vec_id") < 5),
          "vec_id", "embedding")
      },
      Some {
        val assignQ = (src: String) =>
          s"""SELECT cent_id, CAST(floor(cos * 1e6 + 5e-1) AS BIGINT) AS q
             |FROM (
             |  SELECT c.cent_id, ${cosSql(s"$src.v", "c.cent_v")} AS cos,
             |    row_number() OVER (PARTITION BY $src.v_id
             |      ORDER BY ${cosSql(s"$src.v", "c.cent_v")} DESC,
             |        c.cent_id ASC) AS rn
             |  FROM $src CROSS JOIN c) WHERE rn = 1"""
        s"""WITH c AS MATERIALIZED (
           |  SELECT vec_id AS cent_id, embedding AS cent_v
           |  FROM embeddings WHERE vec_id >= 5 AND vec_id < 21),
           |corp AS MATERIALIZED (
           |  SELECT vec_id AS v_id, embedding AS v FROM embeddings
           |  WHERE vec_id >= 21),
           |b AS MATERIALIZED (
           |  SELECT vec_id AS v_id, embedding AS v FROM embeddings
           |  WHERE vec_id < 5),
           |ca AS MATERIALIZED (${assignQ("corp")}),
           |ba AS MATERIALIZED (${assignQ("b")}),
           |cs AS (SELECT cent_id, count(*) AS corpus_n,
           |         CAST(sum(q) AS DOUBLE) AS cq FROM ca GROUP BY 1),
           |bs AS (SELECT cent_id, count(*) AS batch_n,
           |         CAST(sum(q) AS DOUBLE) AS bq FROM ba GROUP BY 1)
           |SELECT c.cent_id,
           |  coalesce(cs.corpus_n, 0) AS corpus_n,
           |  floor(cs.cq / cs.corpus_n + 5e-1) / 1e6 AS corpus_mean,
           |  coalesce(bs.batch_n, 0) AS batch_n,
           |  floor(bs.bq / bs.batch_n + 5e-1) / 1e6 AS batch_mean,
           |  floor(bs.bq / bs.batch_n + 5e-1) / 1e6
           |    - floor(cs.cq / cs.corpus_n + 5e-1) / 1e6 AS drift
           |FROM c LEFT JOIN cs ON c.cent_id = cs.cent_id
           |LEFT JOIN bs ON c.cent_id = bs.cent_id""".stripMargin
      }),

    // Lloyd k-means over the embedding corpus: k=8 centroids seeded from
    // the 8 smallest vec_ids, 2 iterations, euclidean assignment
    Q("ann_kmeans",
      (s, dir) => Similarity.kmeans(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, iters = 2),
      Some {
        def sq(a: String, b: String) = foldSql(
          s"list_transform(range(0, 64), d_ -> ($a[d_+1] - $b[d_+1]) * ($a[d_+1] - $b[d_+1]))")
        s"""WITH v AS (SELECT vec_id,
           |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |c0 AS (SELECT vec_id AS cid, v AS cv FROM v WHERE vec_id < 8),
           |a1 AS (
           |  SELECT vec_id, v, cid FROM (
           |    SELECT v.vec_id, v.v, c0.cid, row_number() OVER (
           |      PARTITION BY v.vec_id
           |      ORDER BY ${sq("v.v", "c0.cv")} ASC, c0.cid ASC) AS rn
           |    FROM v CROSS JOIN c0) WHERE rn = 1),
           |c1 AS (
           |  SELECT cid, list(m ORDER BY d) AS cv FROM (
           |    SELECT a1.cid, d.d, avg(a1.v[d.d+1]) AS m
           |    FROM a1, range(0, 64) AS d(d)
           |    GROUP BY a1.cid, d.d)
           |  GROUP BY cid)
           |SELECT vec_id, CAST(cid AS INT) AS cluster,
           |  round(dist, 6) AS dist FROM (
           |  SELECT v.vec_id, c1.cid, sqrt(${sq("v.v", "c1.cv")}) AS dist,
           |    row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${sq("v.v", "c1.cv")} ASC, c1.cid ASC) AS rn
           |  FROM v CROSS JOIN c1) WHERE rn = 1""".stripMargin
      }),

    // Language-ID heuristic over marker stopword hits
    Q("ta_langid",
      (s, dir) => t(s, dir, "documents")
        .withColumn("pred_lang", TextAnalysis.langId(col("text")))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n")),
      Some(s"""WITH toks AS ($toksSql),
              |d AS (SELECT documents.lang, toks.tk FROM documents
              |      JOIN toks ON documents.doc_id = toks.id)
              |SELECT lang, ${langIdCaseSql("tk")} AS pred_lang, count(*) AS n
              |FROM d GROUP BY 1, 2""".stripMargin)),

    // LEARNED language/quality classifier — the fastText-filter shape of
    // CCNet-style curation as pure aggregations: multinomial Naive Bayes
    // over hashed unigram buckets, trained on the doc_id%5!=0 split
    // (label = lang), applied to the held-out fifth. The model is
    // labels x 64 rows (broadcast); scoring is one bucket-count shuffle
    // + an argmax. The oracle refits the smoothed model and replays the
    // quantized log posterior (the DSIR ln-parity precedent).
    Q("ta_nb_classifier",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = TextAnalysis.nbTrain(
          docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", "lang")
        TextAnalysis.nbClassify(docs.where(col("doc_id") % 5 === 0),
            "doc_id", "text", model)
          .join(docs.select(col("doc_id").as("id"), col("lang").as("actual")),
            "id")
          .select(col("id").as("doc_id"), col("actual"), col("pred"),
            col("score"))
      },
      Some(s"""WITH $nbScoredCtes,
              |best AS (
              |  SELECT id, label, score, row_number() OVER (
              |    PARTITION BY id ORDER BY score DESC, label ASC) AS rn
              |  FROM sc)
              |SELECT b.id AS doc_id, d.lang AS actual, b.label AS pred,
              |  floor(b.score * 1e6 + 5e-1) / 1e6 AS score
              |FROM best b JOIN documents d ON d.doc_id = b.id
              |WHERE rn = 1""".stripMargin)),

    // DS: reliability (calibration) audit of the learned NB filter —
    // the check a confidence-gated curation filter needs before its
    // scores gate data: softmax confidence of the predicted class,
    // binned into deciles, each bin's mean confidence vs empirical
    // accuracy (gap = the ECE integrand). Shares the EXACT scored-CTE
    // chain with ta_nb_classifier (the pipelines-share-stages rule).
    Q("ds_calibration",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val model = TextAnalysis.nbTrain(
          docs.where(col("doc_id") % 5 =!= 0), "doc_id", "text", "lang")
        val conf = TextAnalysis.nbConfidences(
          docs.where(col("doc_id") % 5 === 0), "doc_id", "text", model)
        Features.calibrationReport(
          conf.join(docs.select(col("doc_id").as("id"), col("lang")), "id")
            .select(col("conf"),
              (col("pred") === col("lang")).cast("int").as("correct")),
          "conf", "correct")
      },
      Some(s"""WITH $nbScoredCtes,
              |m AS (SELECT id, label AS pred, score AS smax FROM (
              |  SELECT id, label, score, row_number() OVER (
              |    PARTITION BY id ORDER BY score DESC, label ASC) AS rn
              |  FROM sc) WHERE rn = 1),
              |z AS (SELECT sc.id, m.pred,
              |        sum(exp(sc.score - m.smax)) AS z
              |      FROM sc JOIN m USING (id) GROUP BY 1, 2),
              |cf AS (SELECT id, pred, 1e0 / z AS conf FROM z),
              |j AS (SELECT cf.conf,
              |        CASE WHEN cf.pred = d.lang THEN 1e0 ELSE 0e0 END
              |          AS ok
              |      FROM cf JOIN documents d ON d.doc_id = cf.id)
              |SELECT CAST(least(floor(conf * 10), 9) AS INT) AS bin,
              |  count(*) AS n,
              |  floor(avg(conf) * 1e6 + 5e-1) / 1e6 AS mean_conf,
              |  floor(avg(ok) * 1e6 + 5e-1) / 1e6 AS accuracy
              |FROM j GROUP BY 1""".stripMargin)),

    // Quality features + composite score per document
    Q("ta_quality",
      (s, dir) => {
        val d = t(s, dir, "documents")
        // ONE kernel evaluation per row (struct), fields projected after
        val names = Seq("n_chars", "n_tokens", "mean_token_len",
          "punct_ratio", "stopword_ratio", "digit_ratio", "quality")
        d.select(col("doc_id"),
            TextAnalysis.qualityStruct(col("text")).as("q"))
          .select(col("doc_id") +: names.zipWithIndex.map { case (nm, i) =>
            col(s"q._${i + 1}").as(nm) }: _*)
      },
      Some {
        val stop = TextAnalysis.markers("en").map(w => s"'$w'").mkString(", ")
        s"""WITH toks AS ($toksSql)
           |SELECT id AS doc_id,
           |  length(text)::BIGINT AS n_chars,
           |  len(tk)::BIGINT AS n_tokens,
           |  round(CASE WHEN len(tk) = 0 THEN 0.0 ELSE
           |    ${foldSql("list_transform(tk, x_ -> len(x_)::DOUBLE)")} / len(tk)
           |    END, 6) AS mean_token_len,
           |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
           |    (length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))
           |    ::DOUBLE / length(text) END, 6) AS punct_ratio,
           |  round(CASE WHEN len(tk) = 0 THEN 0.0 ELSE
           |    len(list_filter(tk, x_ -> list_contains([$stop], x_)))::DOUBLE /
           |    len(tk) END, 6) AS stopword_ratio,
           |  round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
           |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
           |    ::DOUBLE / length(text) END, 6) AS digit_ratio,
           |  ${qualitySql("text", "tk")} AS quality
           |FROM toks""".stripMargin
      }),

    // Gopher rule-based quality filter (Rae et al. 2021, Table A1): the
    // standard pre-training web-corpus gate — word-count bounds, mean
    // word length, symbol-to-word ratio, alpha-word fraction, required
    // stopwords, bullet/ellipsis line fractions — emitted per doc WITH
    // the keep verdict (rows are flags, not a silent filter: the audit
    // is the output, per the no-silent-caps rule). One kernel pass per
    // doc, a narrow map fused onto the scan.
    Q("ta_gopher_rules",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val names = Seq("n_words", "mean_word_len", "symbol_ratio",
          "frac_alpha_words", "stop_hits", "frac_bullet_lines",
          "frac_ellipsis_lines", "keep")
        d.select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
          .select(col("doc_id") +: names.zipWithIndex.map { case (nm, i) =>
            col(s"g._${i + 1}").as(nm) }: _*)
      },
      Some(s"""WITH toks AS ($toksSql),
              |${gopherCtes("toks")}
              |SELECT *, ${gopherKeepSql(50, 2)} AS keep
              |FROM gf""".stripMargin)),

    // Token + BPE-ish subword counting
    Q("ta_token_counts",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.subwordCount(col("text")).as("n_subwords")),
      Some(s"""WITH toks AS ($toksSql)
              |SELECT id AS doc_id, len(tk)::BIGINT AS n_tokens,
              |  COALESCE(list_sum(list_transform(tk,
              |    t -> CAST(ceil(len(t) / 4e0) AS BIGINT))), 0)::BIGINT
              |    AS n_subwords
              |FROM toks""".stripMargin)),

  )
}
