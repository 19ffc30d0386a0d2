package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.er.EntityResolution
import graft.functions.GeoFunctions
import graft.functions.TextFunctions
import graft.functions.UrlFunctions
import graft.operators._
import graft.sources.Sources
import graft.staging.CityAssignment
import graft.RegistryCore._

/** later-round operator rows: sources, sketches, multimodal, graph (part 1 of 2) (split from the former single-file SparkEntry registry;
  * rows and oracles are unchanged). */
private[graft] object TailRegistryA {
  val rows: Seq[Q] = Seq(
    // S4: streaming-XML page ingest — the dump is synthesized from table
    // rows, split on the page delimiter exactly as the distributed
    // lineSep-based file reader does, field-extracted and entity-unescaped;
    // ns!=0 and redirect pages are skipped (wikivoyage_xml.py:154-169).
    Q("s4_xml_pages",
      (s, dir) => {
        val pageXml = concat(
          lit("<page><title>"), col("p_name"), lit(" &amp; Co</title>"),
          when(pmod(col("p_partkey"), lit(5)) === 0, lit("<ns>4</ns>"))
            .otherwise(lit("<ns>0</ns>")),
          when(pmod(col("p_partkey"), lit(7)) === 0,
            lit("<redirect title=\"X\"/>")).otherwise(lit("")),
          lit("<revision><text bytes=\"1\">{{see| name="), col("p_name"),
          lit(" | lat=48.2 | long=16.37 | content=&lt;b&gt;"), col("p_type"),
          lit("&lt;/b&gt;}}</text></revision></page>"))
        val dumps = t(s, dir, "part").where(col("p_partkey") < 400)
          .withColumn("grp", pmod(col("p_partkey"), lit(20)))
          .groupBy("grp")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("p_partkey").as("k"),
              pageXml.as("x")))),
            e => e.getField("x")), "").as("dump"))
        val segments = dumps
          .select(explode(split(col("dump"), "</page>")).as("value"))
        graft.sources.Sources.pagesFromSegments(segments)
          .where(col("ns") === 0 && !col("redirect"))
          .select("title", "ns", "text")
      },
      Some(s"""WITH p AS (
              |  SELECT p_partkey, p_partkey % 20 AS grp,
              |    '<page><title>' || p_name || ' &amp; Co</title>' ||
              |    CASE WHEN p_partkey % 5 = 0 THEN '<ns>4</ns>'
              |         ELSE '<ns>0</ns>' END ||
              |    CASE WHEN p_partkey % 7 = 0 THEN '<redirect title="X"/>'
              |         ELSE '' END ||
              |    '<revision><text bytes="1">{{see| name=' || p_name ||
              |    ' | lat=48.2 | long=16.37 | content=&lt;b&gt;' || p_type ||
              |    '&lt;/b&gt;}}</text></revision></page>' AS x
              |  FROM part WHERE p_partkey < 400),
              |d AS (SELECT grp, string_agg(x, '' ORDER BY p_partkey) AS dump
              |      FROM p GROUP BY grp),
              |seg AS (SELECT unnest(string_split(dump, '</page>')) AS value
              |        FROM d),
              |pg AS (
              |  SELECT
              |    ${xmlUnescSql("regexp_extract(value, '(?s)<title>(.*?)</title>', 1)")} AS title,
              |    COALESCE(TRY_CAST(regexp_extract(value, '<ns>(-?\\d+)</ns>', 1)
              |      AS INT), 0) AS ns,
              |    contains(value, '<redirect') AS redirect,
              |    ${xmlUnescSql("regexp_extract(value, '(?s)<text[^>]*>(.*?)</text>', 1)")} AS text
              |  FROM seg WHERE contains(value, '<page>'))
              |SELECT title, ns, text FROM pg
              |WHERE ns = 0 AND NOT redirect""".stripMargin)),

    // S7: CSV repair pre-pass — broken '" ,' quoting and trailing CR are
    // synthesized per row, repaired with the library's repair column, and
    // parsed with from_csv; the oracle repairs and parses the same lines.
    Q("s7_csv_repair",
      (s, dir) => {
        val line = concat(col("c_custkey").cast("string"), lit(",\""),
          col("c_name"), lit(" \" ,"),
          pmod(col("c_custkey") * 7, lit(10000)).cast("string"), lit(".25\r"))
        val schema = "id BIGINT, name STRING, bal DOUBLE"
        t(s, dir, "customer").where(col("c_custkey") < 500)
          .select(graft.sources.Sources.repairCsvValue(line).as("value"))
          .select(from_csv(col("value"),
            org.apache.spark.sql.types.StructType.fromDDL(schema),
            Map.empty[String, String]).as("r"))
          .select(col("r.id"), col("r.name"), col("r.bal"))
      },
      Some("""WITH l AS (
             |  SELECT CAST(c_custkey AS VARCHAR) || ',"' || c_name || ' " ,'
             |    || CAST(c_custkey * 7 % 10000 AS VARCHAR) || '.25'
             |    || chr(13) AS value
             |  FROM customer WHERE c_custkey < 500),
             |r AS (SELECT replace(regexp_replace(value, '\r$', ''),
             |  '" ,', '",') AS value FROM l)
             |SELECT CAST(split_part(value, ',', 1) AS BIGINT) AS id,
             |  trim(split_part(value, ',', 2), '"') AS name,
             |  CAST(split_part(value, ',', 3) AS DOUBLE) AS bal
             |FROM r""".stripMargin)),

    // K1: partitioned parquet sink roundtrip — write partitionBy, read the
    // partitioned layout back, aggregate; must equal the direct aggregate.
    Q("k1_partitioned_sink",
      (s, dir) => {
        val tmp = s"/tmp/graft_k1_${new java.io.File(dir).getName}"
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
          .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
        s.read.parquet(tmp).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_orderpriority""".stripMargin)),

    // K2: appending sink — overwrite one half, append the other, read the
    // union back; replaces the reference's read-concat-rewrite append
    // (etl/reviews_jsonl.py:57-73) with the native append mode.
    Q("k2_append_sink",
      (s, dir) => {
        val tmp = s"/tmp/graft_k2_${new java.io.File(dir).getName}"
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        o.where(pmod(col("o_orderkey"), lit(2)) === 0)
          .write.mode("overwrite").parquet(tmp)
        o.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .write.mode("append").parquet(tmp)
        s.read.parquet(tmp).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_orderstatus""".stripMargin)),

    // F5: the crude plural stemmer (extra plurals appended so every rule
    // fires: boxes -> box, stories -> story, tiles -> til).
    Q("f5_stem",
      (s, dir) => t(s, dir, "part").where(col("p_partkey") < 500)
        .select(col("p_partkey"), concat_ws(" ", TextFunctions.stemTokensUdf(
          concat(col("p_name"), lit(" boxes stories tiles")))).as("stems")),
      Some(s"""SELECT p_partkey, array_to_string(
              |${stemSql("p_name || ' boxes stories tiles'")}, ' ') AS stems
              |FROM part WHERE p_partkey < 500""".stripMargin)),

    // F9: sorted-content-token substring containment — a name vs itself
    // minus its first token: containment holds iff the dropped token sorts
    // at the boundary, so the output mixes true and false.
    Q("f9_containment",
      (s, dir) => t(s, dir, "part").where(col("p_partkey") < 500)
        .withColumn("shorter", regexp_replace(col("p_name"), "^\\w+ ", ""))
        .select(col("p_partkey"),
          TextFunctions.hasSubstringUdf(col("p_name"), col("shorter"))
            .as("contained")),
      Some(s"""WITH w AS (
              |  SELECT p_partkey,
              |    ${contentJoinSql("p_name")} AS ca,
              |    ${contentJoinSql("regexp_replace(p_name, '^\\w+ ', '')")} AS cb
              |  FROM part WHERE p_partkey < 500)
              |SELECT p_partkey,
              |  CASE WHEN len(ca) <= len(cb)
              |    THEN len(ca) >= 3 AND contains(cb, ca)
              |    ELSE len(cb) >= 3 AND contains(ca, cb) END AS contained
              |FROM w""".stripMargin)),

    // F12: point-in-polygon ray cast over the customer lattice against a
    // pinned polygon; the oracle replays the reference formula edge by edge
    // (crossing-count parity), byte-identical arithmetic incl. the 1e-12
    // guard.
    Q("f12_point_in_polygon",
      (s, dir) => {
        val polyCol = array(testPolygon.map { case (la, lo) =>
          struct(lit(la).as("lat"), lit(lo).as("lon")) }: _*)
        custPoints(s, dir).select(col("c_custkey"),
          GeoFunctions.pointInPolygonUdf(col("lat"), col("lon"), polyCol)
            .as("inside"))
      },
      Some {
        val edges = testPolygon.indices.map { i =>
          val j = (i + testPolygon.length - 1) % testPolygon.length
          val (yi, xi) = testPolygon(i)
          val (yj, xj) = testPolygon(j)
          s"(${dLit(yi)}, ${dLit(xi)}, ${dLit(yj)}, ${dLit(xj)})"
        }.mkString(", ")
        s"""WITH pts AS ($custPointsSql),
           |edges(yi, xi, yj, xj) AS (VALUES $edges),
           |cr AS (
           |  SELECT c_custkey,
           |    sum(CASE WHEN ((xi > lon) <> (xj > lon)) AND
           |      (lat < (yj - yi) * (lon - xi) / ((xj - xi) + 1e-12) + yi)
           |      THEN 1 ELSE 0 END) AS crossings
           |  FROM pts CROSS JOIN edges GROUP BY c_custkey)
           |SELECT c_custkey, crossings % 2 = 1 AS inside FROM cr""".stripMargin
      }),

    // F18: first float-looking token from a dirty string (dirty strings
    // synthesized from integer arithmetic — doubles never round-trip
    // through strings), null when nothing matches.
    Q("f18_dirty_float",
      (s, dir) => t(s, dir, "customer").where(col("c_custkey") < 600)
        .withColumn("raw",
          when(pmod(col("c_custkey"), lit(11)) === 0, lit("no coordinates here"))
            .otherwise(concat(lit("approx "),
              pmod(col("c_custkey") * 13, lit(180)).cast("string"), lit("."),
              pmod(col("c_custkey"), lit(100)).cast("string"),
              lit("°N of map"))))
        .select(col("c_custkey"),
          graft.sources.Sources.dirtyFloatCol(col("raw")).as("val")),
      Some("""WITH w AS (
             |  SELECT c_custkey,
             |    CASE WHEN c_custkey % 11 = 0 THEN 'no coordinates here'
             |    ELSE 'approx ' || CAST(c_custkey * 13 % 180 AS VARCHAR) ||
             |      '.' || CAST(c_custkey % 100 AS VARCHAR) || '°N of map'
             |    END AS raw
             |  FROM customer WHERE c_custkey < 600)
             |SELECT c_custkey,
             |  CASE WHEN regexp_extract(raw, '-?\d+(\.\d+)?', 0) = '' THEN NULL
             |    ELSE CAST(regexp_extract(raw, '-?\d+(\.\d+)?', 0) AS DOUBLE)
             |  END AS val
             |FROM w""".stripMargin)),

    // End-to-end corpus cleaning — the flagship training-data composition:
    // quality gate -> language filter -> exact dedup (keep min id per
    // digest) -> MinHash-LSH near-dup removal (drop the higher id of every
    // verified pair). One declarative plan over the library operators; the
    // oracle replays every stage.
    Q("pipe_clean_corpus",
      (s, dir) => Pipelines.buildCleanCorpus(t(s, dir, "documents")),
      Some(s"""WITH toks0 AS ($toksSql),
              |scored AS (
              |  SELECT d.doc_id, d.text,
              |    ${qualitySql("d.text", "t.tk")} AS q,
              |    ${langIdCaseSql("t.tk")} AS pred_lang
              |  FROM documents d JOIN toks0 t ON d.doc_id = t.id),
              |gated AS (SELECT * FROM scored
              |          WHERE q >= 0.5 AND pred_lang = 'en'),
              |kept AS (
              |  SELECT doc_id, text, q, pred_lang FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
              |${lshDropsSqlFrom("kept")}
              |SELECT doc_id, pred_lang, q FROM kept
              |WHERE doc_id NOT IN (SELECT b_id FROM drops)""".stripMargin)),

    // The canonical LLM training-data pipeline as ONE oracle-checked plan:
    // quality + language + repetition gates -> exact dedup -> MinHash-LSH
    // near-dup removal -> benchmark decontamination (vs the doc_id < 10
    // probe set) -> deterministic per-source mixing -> PII-redacted
    // output (md5 of the redacted text proves the scrub end-to-end).
    // Every stage is the library operator; DuckDB replays all of them.
    Q("pipe_training_corpus",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Pipelines.buildTrainingCorpus(docs,
          probes = docs.where(col("doc_id") < 10),
          mixWeights = (0 until 20).map(i =>
            s"src$i" -> (if (i % 2 == 0) 1.0 else 0.5)).toMap,
          seed = 11)
      },
      Some {
        val mixCase = (0 until 20).map(i =>
          s"WHEN 'src$i' THEN ${if (i % 2 == 0) 1000000 else 500000}")
          .mkString(" ")
        val redacted = TextAnalysis.PiiPatterns
          .foldLeft("text") { case (acc, (_, re, tag)) =>
            s"regexp_replace($acc, '$re', '$tag', 'g')"
          }
        s"""WITH toks0 AS ($toksSql),
           |scored AS (
           |  SELECT d.doc_id, d.text, d.source,
           |    ${qualitySql("d.text", "t.tk")} AS q,
           |    ${langIdCaseSql("t.tk")} AS pred_lang,
           |    round(1e0 - len(list_distinct(CASE WHEN len(t.tk) < 3
           |      THEN [array_to_string(t.tk, ' ')]
           |      ELSE list_transform(range(0, len(t.tk) - 2),
           |        i -> array_to_string(t.tk[i+1:i+3], ' ')) END))::DOUBLE /
           |      len(CASE WHEN len(t.tk) < 3
           |      THEN [array_to_string(t.tk, ' ')]
           |      ELSE list_transform(range(0, len(t.tk) - 2),
           |        i -> array_to_string(t.tk[i+1:i+3], ' ')) END), 6) AS rep
           |  FROM documents d JOIN toks0 t ON d.doc_id = t.id),
           |gated AS (SELECT * FROM scored
           |          WHERE q >= 0.5 AND pred_lang = 'en' AND rep <= 0.2),
           |kept AS (
           |  SELECT doc_id, text, source, q, pred_lang FROM (
           |    SELECT *, row_number() OVER (PARTITION BY md5(text)
           |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
           |${lshDropsSqlFrom("kept")},
           |psh AS (${shinglesSqlFrom(
              "(SELECT doc_id, text FROM documents WHERE doc_id < 10) prb")}),
           |ph1 AS (
           |  SELECT id, list_transform(sh, s -> ${h32Sql("s", "0")}) AS h1
           |  FROM psh),
           |contam AS (
           |  SELECT DISTINCT doc_id FROM (
           |    SELECT dg.id AS doc_id, pg.id AS probe_id
           |    FROM (SELECT id, unnest(h1) AS g FROM h1) dg
           |    JOIN (SELECT id, unnest(h1) AS g FROM ph1) pg USING (g)
           |    GROUP BY dg.id, pg.id HAVING count(*) >= 2)),
           |clean AS (
           |  SELECT * FROM kept
           |  WHERE doc_id NOT IN (SELECT b_id FROM drops)
           |    AND doc_id NOT IN (SELECT doc_id FROM contam)),
           |mixed AS (
           |  SELECT * FROM clean
           |  WHERE ${h32Sql("doc_id::VARCHAR", "11")} % 1000000 <
           |    CASE source $mixCase ELSE -1 END)
           |SELECT doc_id, source, pred_lang, q,
           |  md5($redacted) AS redacted_md5
           |FROM mixed""".stripMargin
      }),

    // The web-corpus pipeline STARTING FROM HTML — the shape a real crawl
    // feeds: render (fixture) -> jusText-shaped extraction -> quality +
    // language gates over the EXTRACTED text -> exact dedup -> MinHash-LSH
    // near-dup removal. Extraction is a codegen'd map fused into the scan
    // stage, so the front end adds zero shuffles to pipe_clean_corpus's
    // plan; both engines render and extract independently.
    Q("pipe_html_corpus",
      (s, dir) => Pipelines.buildHtmlCorpus(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          synthHtmlCol(col("doc_id"), col("text")).as("html"))),
      Some(s"""WITH hraw AS (SELECT doc_id, source, $synthHtmlSql AS html
              |            FROM documents),
              |hx AS (SELECT doc_id, source,
              |       ${htmlExtractSql("html")} AS text FROM hraw),
              |toks0 AS (${toksSqlFrom("hx")}),
              |scored AS (
              |  SELECT d.doc_id, d.text, d.source,
              |    ${qualitySql("d.text", "t.tk")} AS q,
              |    ${langIdCaseSql("t.tk")} AS pred_lang
              |  FROM hx d JOIN toks0 t ON d.doc_id = t.id),
              |gated AS (SELECT * FROM scored
              |          WHERE q >= 0.5 AND pred_lang = 'en'),
              |kept AS (
              |  SELECT doc_id, text, source, q, pred_lang FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
              |${lshDropsSqlFrom("kept")}
              |SELECT doc_id, source, pred_lang, q FROM kept
              |WHERE doc_id NOT IN (SELECT b_id FROM drops)""".stripMargin)),

    // The C4-shaped curation recipe end to end over the 4-token-line
    // corpus: corpus-wide line dedup -> Gopher rule gate on the REBUILT
    // text (stopword floor 1: the synthetic vocabulary carries only
    // 'the' from the required list) -> exact dedup -> MinHash-LSH
    // near-dup removal. Every stage is the library operator; the oracle
    // composes the same shared CTE chains the per-stage rows use.
    Q("pipe_c4_corpus",
      (s, dir) => Pipelines.buildC4Corpus(linedDocs(s, dir),
        minLineLen = 10, minWords = 50, minStopHits = 1),
      Some(s"""WITH $lineDedupCtes,
              |c4t AS (${toksSqlFrom("lined_docs")}),
              |${gopherCtes("c4t")},
              |gated AS (
              |  SELECT gf.doc_id, ld.text, ld.n_lines, ld.n_dropped,
              |         gf.n_words
              |  FROM gf JOIN lined_docs ld USING (doc_id)
              |  WHERE ${gopherKeepSql(50, 1)}),
              |kept AS (
              |  SELECT doc_id, text, n_lines, n_dropped, n_words FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated) WHERE rn = 1),
              |${lshDropsSqlFrom("kept")}
              |SELECT doc_id, n_lines, n_dropped, n_words,
              |       md5(text) AS text_md5
              |FROM kept WHERE doc_id NOT IN (SELECT b_id FROM drops)"""
        .stripMargin)),

    // Multimodal REAL decode roundtrip: per-doc PCM WAV payloads are
    // synthesized from closed-form parameters, decoded by the RIFF header
    // parser (genuine byte-level decode, no codec libs), and the oracle
    // recomputes the parameters arithmetically — decode(synth(p)) == p.
    Q("mm_wav_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val channels = (id % 2 + 1).toInt
            val rate = 8000 + (id % 3).toInt * 4000
            val n = (id % 50 + 10).toInt
            val samples = (0 until n * channels)
              .map(i => (((id * 31 + i * 7) % 65536) - 32768).toShort)
            (id, Multimodal.wavSynth(channels, rate, samples))
          }.toDF("doc_id", "payload")
        Multimodal.extractWavMeta(payloads, "doc_id", "payload").toDF()
          .select("doc_id", "n_bytes", "channels", "sample_rate",
            "bits_per_sample", "n_samples", "duration_ms")
      },
      Some("""SELECT doc_id,
             |  44 + (doc_id % 50 + 10) * (doc_id % 2 + 1) * 2 AS n_bytes,
             |  CAST(doc_id % 2 + 1 AS INT) AS channels,
             |  CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
             |  CAST(16 AS INT) AS bits_per_sample,
             |  doc_id % 50 + 10 AS n_samples,
             |  ((doc_id % 50 + 10) * 1000) // (8000 + (doc_id % 3) * 4000)
             |    AS duration_ms
             |FROM documents""".stripMargin)),

    // REAL audio transform: decimate the synthesized PCM by 2 (keep every
    // other frame, halve the rate), re-encode, and read the metadata +
    // first-channel sample sum back from the RE-ENCODED bytes. Oracle is
    // the closed form of which source samples survive.
    Q("mm_wav_resample",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val channels = (id % 2 + 1).toInt
            val rate = 8000 + (id % 3).toInt * 4000
            val n = (id % 50 + 10).toInt
            val samples = (0 until n * channels)
              .map(i => (((id * 31 + i * 7) % 65536) - 32768).toShort)
            (id, Multimodal.wavSynth(channels, rate, samples))
          }.toDF("doc_id", "payload")
        Multimodal.extractWavDownsampled(payloads, "doc_id", "payload",
            factor = 2).toDF()
          .select("doc_id", "n_bytes", "sample_rate", "n_samples", "ch_sum")
      },
      Some("""SELECT doc_id,
             |  44 + ((doc_id % 50 + 10 + 1) // 2) * (doc_id % 2 + 1) * 2
             |    AS n_bytes,
             |  CAST((8000 + (doc_id % 3) * 4000) // 2 AS INT) AS sample_rate,
             |  (doc_id % 50 + 10 + 1) // 2 AS n_samples,
             |  CAST(list_sum(list_transform(
             |    range(0, (doc_id % 50 + 10 + 1) // 2),
             |    j -> ((doc_id * 31 + 2 * j * (doc_id % 2 + 1) * 7) % 65536)
             |      - 32768)) AS BIGINT) AS ch_sum
             |FROM documents""".stripMargin)),

    // §2.10: gap-based sessionization — the flatMapGroupsWithState
    // operator's batch path, hash-verified against a lag/cumulative-sum
    // sessionizer in SQL (same (ts, event_type) fold order, same ms gap
    // arithmetic; session stats are tie-permutation invariant).
    Q("st_sessionize",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val ev = t(s, dir, "events")
          .selectExpr("user_id", "ts", "event_type", "value")
          .as[graft.streaming.Sessionize.Event]
        graft.streaming.Sessionize.sessionize(ev, gapMs = 60 * 60 * 1000L)
          .toDF()
          .select(col("user_id"),
            unix_timestamp(col("session_start")).as("start_s"),
            unix_timestamp(col("session_end")).as("end_s"),
            col("n_events"),
            round(col("total_value"), 2).as("total_value"))
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_type, value,
             |    CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
             |        (PARTITION BY user_id ORDER BY ts, event_type) > 3600000
             |      THEN 1 ELSE 0 END AS brk
             |  FROM events),
             |s AS (
             |  SELECT *, sum(brk) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_type ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x),
             |g AS (SELECT user_id, sid, min(ts) AS t0, max(ts) AS t1,
             |        count(*) AS n, sum(value) AS tv
             |      FROM s GROUP BY user_id, sid)
             |SELECT user_id, epoch_ms(t0) // 1000 AS start_s,
             |  epoch_ms(t1) // 1000 AS end_s, CAST(n AS INT) AS n_events,
             |  round(tv, 2) AS total_value
             |FROM g""".stripMargin)),

    // Skew-handling primitive under the oracle: two-stage salted distinct
    // count — result-identical to countDistinct, but the distinct state is
    // bounded per (key, salt) group instead of per hot key.
    Q("sk_salted_distinct",
      (s, dir) => Skew.saltedDistinctCount(t(s, dir, "lineitem"),
        "l_orderkey", "l_suppkey", saltFactor = 8),
      Some("""SELECT l_orderkey, count(DISTINCT l_suppkey) AS n_distinct
             |FROM lineitem GROUP BY l_orderkey""".stripMargin)),

    // Salted equi-join under the oracle: result-identical to the plain
    // join (the oracle IS the plain join), with the hot-key spread and
    // duplicate-row salt dispersion asserted in SkewSpec.
    Q("sk_salted_join",
      (s, dir) => Skew.saltedJoin(
        t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
          col("l_partkey"), col("l_quantity")),
        t(s, dir, "orders").select(col("o_orderkey").as("okey"),
          col("o_orderpriority")),
        "okey", saltFactor = 8),
      Some("""SELECT l_orderkey AS okey, l_partkey, l_quantity,
             |  o_orderpriority
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey"""
        .stripMargin)),

    // TPC-H q6 forecast-revenue-change shape through spark.sql
    Q("q6_forecast_revenue",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""
          SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                 count(*) AS n
          FROM lineitem
          WHERE l_discount >= 5e-2 AND l_discount <= 7e-2
            AND l_quantity < 24""")
      },
      Some("""SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             |  count(*) AS n
             |FROM lineitem
             |WHERE l_discount >= 5e-2 AND l_discount <= 7e-2
             |  AND l_quantity < 24""".stripMargin)),

    // F20: newline normalization (CRLF/CR -> LF) + line count
    Q("f20_newline_normalize",
      (s, dir) => t(s, dir, "customer").where(col("c_custkey") < 400)
        .withColumn("raw", concat(lit("line1\r\nline2\r"), col("c_name"),
          lit("\nline4")))
        .withColumn("norm", regexp_replace(col("raw"), "\r\n|\r", "\n"))
        .select(col("c_custkey"), col("norm"),
          size(split(col("norm"), "\n", -1)).as("n_lines")),
      Some("""WITH w AS (
             |  SELECT c_custkey, regexp_replace(
             |    'line1' || chr(13) || chr(10) || 'line2' || chr(13) ||
             |      c_name || chr(10) || 'line4',
             |    '\r\n|\r', chr(10), 'g') AS norm
             |  FROM customer WHERE c_custkey < 400)
             |SELECT c_custkey, norm,
             |  CAST(len(string_split(norm, chr(10))) AS INT) AS n_lines
             |FROM w""".stripMargin)),

    // The reference's WHOLE dataflow as ONE oracle-checked plan
    // (`/root/reference/scripts/run_all.py:71-178` staging -> ER -> exports;
    // `neo4j_cypher/11` NEAR edges -> `12` popularity z -> `13b` review
    // lift -> `20` POI cards): city cascade (polygon > bbox > radius, list-
    // order tie-breaks) -> distance guard -> ER candidate pairs -> banded
    // acceptance (the SQL-expressible g1 proxy, so DuckDB can replay it;
    // the rapidfuzz-kernel rule is pinned separately by g1's specs) ->
    // connected components -> canonical mint (norm_name) -> review lift ->
    // listings_nearby counts -> per-city popularity z + flags -> capped
    // nested POI cards. Every stage is the library operator, composed.
    Q("pipe_kg_etl",
      (s, dir) => {
        val cities = t(s, dir, "region")
          .select(col("r_regionkey").cast("string").as("slug"),
            concat(lit("city-"), col("r_regionkey").cast("string")).as("name"),
            (lit(40.0) + col("r_regionkey") * 0.04).as("center_lat"),
            lit(-74.95).as("center_lon"),
            lit(3.0).as("radius_km"),
            col("r_regionkey").cast("long").as("city_order"))
          .withColumn("min_lat", col("center_lat") - 0.01)
          .withColumn("max_lat", col("center_lat") + 0.01)
          .withColumn("min_lon", col("center_lon") - 0.02)
          .withColumn("max_lon", col("center_lon") + 0.02)
          .withColumn("polygon", array(
            struct((col("center_lat") + 0.008).as("lat"), col("center_lon").as("lon")),
            struct(col("center_lat").as("lat"), (col("center_lon") + 0.016).as("lon")),
            struct((col("center_lat") - 0.008).as("lat"), col("center_lon").as("lon")),
            struct(col("center_lat").as("lat"), (col("center_lon") - 0.016).as("lon"))))
        val places = custPoints(s, dir).select(
          col("c_custkey").as("place_id"), col("c_name").as("name"),
          col("lat"), col("lon"))
        // staging: cascade assignment + distance guard (G4/P6)
        val assigned = CityAssignment.assign(places, cities, hintCol = None)
          .where(col("city_slug").isNotNull)
        // members feeds three branches (ER edges, reviews, listings) —
        // materialize once instead of replaying the cascade per branch
        val members = CityAssignment.distanceGuard(assigned, cities, maxKm = 2.5)
          .select("place_id", "name", "lat", "lon", "city_slug")
          .localCheckpoint()
        // ER: grid-blocked candidates, banded acceptance, components, mint;
        // priced at its stored bytes, not the cascade's product estimate,
        // so the blocking and name joins broadcast
        val priced = CheckpointOps.withStoredStats(members)
        val pairs = SpatialJoins.gridSelfJoin(priced, "place_id", "lat", "lon",
          radiusM = 200.0, extraKeys = Seq("city_slug"))
        val links = pairs
          .join(priced.select(col("place_id").as("a_id"),
            col("name").as("a_name")), "a_id")
          .join(priced.select(col("place_id").as("b_id"),
            col("name").as("b_name")), "b_id")
          .withColumn("sim", TextFunctions.levRatioCol(col("a_name"), col("b_name")))
          .where(col("sim") >= 0.9 ||
            (col("sim") >= 0.85 && col("meters") <= 200.0) ||
            (col("sim") >= 0.8 && col("meters") <= 180.0))
          // carry the city: both endpoints share it (grid join co-key), and
          // it routes canonicalMapFromLinks onto the single-shuffle
          // per-city union-find instead of the iterative CC fixpoint
          .select(col("a_id").as("a"), col("b_id").as("b"),
            col("a_city_slug").as("city_slug"))
        val cmap = EntityResolution.canonicalMapFromLinks(members, links)
        val memberCanon = members.drop("city_slug")
          .join(cmap, col("place_id") === col("source_place_id"))
          .select(col("place_id"), col("lat"), col("lon"),
            col("canonical_id"), col("canonical_name"), col("city_slug"))
          .localCheckpoint()
        // review lift (G6 / cypher 13b): orders play the review role
        val wq = Window.partitionBy("canonical_id")
          .orderBy(length(col("o_orderpriority")).desc, col("o_orderkey").asc)
        val revAgg = t(s, dir, "orders")
          .join(memberCanon, col("o_custkey") === col("place_id"))
          .withColumn("rn", row_number().over(wq))
          .groupBy("canonical_id")
          .agg(count(lit(1)).as("n_reviews"),
            round(sum("o_totalprice"), 2).as("revenue"),
            array_join(transform(array_sort(collect_list(
              when(col("rn") <= 2, struct(col("rn"),
                substring(col("o_orderpriority"), 1, 120).as("txt"))))),
              x => x.getField("txt")), " | ").as("quotes"))
        // listings_nearby (§3.3 / cypher 11+12): NEAR suppliers per canonical
        val listAgg = SpatialJoins.gridWithinJoin(
            memberCanon, suppPoints(s, dir),
            "place_id", "s_suppkey", thresholdM = 300.0)
          .join(memberCanon.select("place_id", "canonical_id"), "place_id")
          .groupBy("canonical_id")
          .agg(countDistinct("s_suppkey").as("listings_nearby"))
        val base = memberCanon
          .groupBy("canonical_id", "canonical_name", "city_slug")
          .agg(count(lit(1)).as("n_members"))
          .join(revAgg, Seq("canonical_id"), "left")
          .join(listAgg, Seq("canonical_id"), "left")
          .withColumn("n_reviews", coalesce(col("n_reviews"), lit(0L)))
          .withColumn("revenue", coalesce(col("revenue"), lit(0.0)))
          .withColumn("quotes", coalesce(col("quotes"), lit("")))
          .withColumn("listings_nearby", coalesce(col("listings_nearby"), lit(0L)))
        // popularity z + flag per city (cypher 12)
        val wz = Window.partitionBy("city_slug")
        val mu = avg(col("listings_nearby").cast("double")).over(wz)
        val sd = stddev_samp(col("listings_nearby").cast("double")).over(wz)
        base.withColumn("z",
            round(when(sd === 0 || sd.isNull, 0.0)
              .otherwise((col("listings_nearby") - mu) / sd), 4) + 0.0)
          .withColumn("flag", when(col("z") >= 1.0, "high")
            .when(col("z") >= 0.0, "medium").otherwise("low"))
          .select("canonical_id", "canonical_name", "city_slug", "n_members",
            "n_reviews", "revenue", "listings_nearby", "z", "flag", "quotes")
      },
      Some(s"""WITH RECURSIVE
              |cities AS (
              |  SELECT r_regionkey AS city_id,
              |    CAST(r_regionkey AS VARCHAR) AS slug,
              |    40e0 + r_regionkey * 4e-2 AS center_lat,
              |    -7.495e1 AS center_lon FROM region),
              |pts AS ($custPointsSql),
              |verts AS (
              |  SELECT city_id, center_lat, center_lon, v,
              |    CASE v WHEN 0 THEN center_lat + 8e-3 WHEN 1 THEN center_lat
              |           WHEN 2 THEN center_lat - 8e-3 ELSE center_lat END AS vy,
              |    CASE v WHEN 0 THEN center_lon WHEN 1 THEN center_lon + 1.6e-2
              |           WHEN 2 THEN center_lon ELSE center_lon - 1.6e-2 END AS vx
              |  FROM cities, (SELECT unnest(range(0, 4)) AS v)),
              |pedges AS (
              |  SELECT a.city_id, a.vy AS yi, a.vx AS xi, b.vy AS yj, b.vx AS xj
              |  FROM verts a JOIN verts b
              |    ON a.city_id = b.city_id AND b.v = (a.v + 3) % 4),
              |poly AS (
              |  SELECT p.c_custkey, e.city_id,
              |    sum(CASE WHEN ((xi > p.lon) <> (xj > p.lon)) AND
              |      (p.lat < (yj - yi) * (p.lon - xi) / ((xj - xi) + 1e-12) + yi)
              |      THEN 1 ELSE 0 END) % 2 = 1 AS in_poly
              |  FROM pts p CROSS JOIN pedges e GROUP BY p.c_custkey, e.city_id),
              |cand AS (
              |  SELECT p.c_custkey, c.city_id, c.slug, poly.in_poly,
              |    (lat >= center_lat - 1e-2 AND lat <= center_lat + 1e-2 AND
              |     lon >= center_lon - 2e-2 AND lon <= center_lon + 2e-2) AS in_bbox,
              |    ${havSql("lat", "lon", "center_lat", "center_lon")} AS center_m
              |  FROM pts p CROSS JOIN cities c
              |  JOIN poly ON poly.c_custkey = p.c_custkey
              |    AND poly.city_id = c.city_id),
              |ruled AS (
              |  SELECT *, CASE WHEN in_poly THEN 1 WHEN in_bbox THEN 2
              |    WHEN center_m <= 3e3 THEN 3 END AS rule
              |  FROM cand WHERE in_poly OR in_bbox OR center_m <= 3e3),
              |ranked AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
              |  ORDER BY rule ASC,
              |    CASE WHEN rule = 3 THEN center_m ELSE 0e0 END ASC,
              |    city_id ASC) AS rn FROM ruled),
              |members AS (
              |  SELECT r.c_custkey AS place_id, p.c_name AS name,
              |    p.lat, p.lon, r.slug AS city_slug
              |  FROM ranked r JOIN pts p ON r.c_custkey = p.c_custkey
              |  WHERE r.rn = 1 AND r.center_m <= 25e2),
              |links AS (
              |  SELECT a.place_id AS src, b.place_id AS dst
              |  FROM members a JOIN members b
              |    ON a.city_slug = b.city_slug AND a.place_id < b.place_id
              |  WHERE ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0
              |    AND (1.0 - levenshtein(a.name, b.name) /
              |           greatest(length(a.name), length(b.name)) >= 0.9
              |      OR (1.0 - levenshtein(a.name, b.name) /
              |           greatest(length(a.name), length(b.name)) >= 0.85
              |          AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0)
              |      OR (1.0 - levenshtein(a.name, b.name) /
              |           greatest(length(a.name), length(b.name)) >= 0.8
              |          AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 180.0))),
              |sym AS (
              |  SELECT src AS u, dst AS v FROM links
              |  UNION SELECT dst, src FROM links
              |  UNION SELECT src, src FROM links
              |  UNION SELECT dst, dst FROM links),
              |reach AS (
              |  SELECT u, v FROM sym
              |  UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
              |comps AS (SELECT u AS place_id, min(v) AS component
              |          FROM reach GROUP BY u),
              |withcomp AS (
              |  SELECT m.*, coalesce(c.component, m.place_id) AS component
              |  FROM members m LEFT JOIN comps c ON m.place_id = c.place_id),
              |canonpick AS (
              |  SELECT *, row_number() OVER (PARTITION BY component
              |    ORDER BY length(name) DESC, name ASC, place_id ASC) AS rn,
              |    regexp_replace(regexp_replace(lower(trim(name)),
              |      '\\s+', '-', 'g'), '[^a-z0-9\\-:_.,]+', '', 'g') AS nslug
              |  FROM withcomp),
              |canon AS (
              |  SELECT component, name AS canonical_name,
              |    CASE WHEN length(nslug) > 0 AND city_slug IS NOT NULL
              |      THEN nslug || '::' || city_slug END AS canonical_id
              |  FROM canonpick WHERE rn = 1),
              |membercanon AS (
              |  SELECT w.place_id, w.lat, w.lon, w.city_slug,
              |    c.canonical_id, c.canonical_name
              |  FROM withcomp w JOIN canon c ON w.component = c.component),
              |revrn AS (
              |  SELECT mc.canonical_id, o.o_orderpriority, o.o_totalprice,
              |    row_number() OVER (PARTITION BY mc.canonical_id
              |      ORDER BY length(o.o_orderpriority) DESC, o.o_orderkey ASC) AS rn
              |  FROM orders o JOIN membercanon mc ON o.o_custkey = mc.place_id),
              |revagg AS (
              |  SELECT canonical_id, count(*) AS n_reviews,
              |    round(sum(o_totalprice), 2) AS revenue,
              |    string_agg(CASE WHEN rn <= 2 THEN substr(o_orderpriority, 1, 120) END,
              |      ' | ' ORDER BY rn) AS quotes
              |  FROM revrn GROUP BY canonical_id),
              |sup AS ($suppPointsSql),
              |listagg AS (
              |  SELECT mc.canonical_id,
              |    count(DISTINCT s.s_suppkey) AS listings_nearby
              |  FROM membercanon mc JOIN sup s
              |    ON ${havSql("mc.lat", "mc.lon", "s.lat", "s.lon")} <= 300.0
              |  GROUP BY mc.canonical_id),
              |base AS (
              |  SELECT d.canonical_id, d.canonical_name, d.city_slug,
              |    d.n_members,
              |    coalesce(r.n_reviews, 0) AS n_reviews,
              |    coalesce(r.revenue, 0e0) AS revenue,
              |    coalesce(r.quotes, '') AS quotes,
              |    coalesce(l.listings_nearby, 0) AS listings_nearby
              |  FROM (SELECT canonical_id, canonical_name, city_slug,
              |          count(*) AS n_members
              |        FROM membercanon GROUP BY 1, 2, 3) d
              |  LEFT JOIN revagg r ON d.canonical_id = r.canonical_id
              |  LEFT JOIN listagg l ON d.canonical_id = l.canonical_id),
              |zed AS (
              |  SELECT *, round(CASE
              |      WHEN stddev_samp(CAST(listings_nearby AS DOUBLE)) OVER w = 0
              |        OR stddev_samp(CAST(listings_nearby AS DOUBLE)) OVER w
              |          IS NULL THEN 0.0
              |      ELSE (CAST(listings_nearby AS DOUBLE) -
              |        avg(CAST(listings_nearby AS DOUBLE)) OVER w) /
              |        stddev_samp(CAST(listings_nearby AS DOUBLE)) OVER w
              |      END, 4) + 0e0 AS z
              |  FROM base WINDOW w AS (PARTITION BY city_slug))
              |SELECT canonical_id, canonical_name, city_slug, n_members,
              |  n_reviews, revenue, listings_nearby, z,
              |  CASE WHEN z >= 1.0 THEN 'high' WHEN z >= 0.0 THEN 'medium'
              |    ELSE 'low' END AS flag, quotes
              |FROM zed""".stripMargin)),

    // K9: the reference loader's EXACT Wikivoyage place rows — the
    // name/lat/lon presence gate and the composite place_id mint
    // `wv:{slug(title)}:{slug(name)}:{lat:.5f},{lon:.5f}` of
    // wikivoyage_xml.py:72-76,171-211 (slug: strip/lower, whitespace->'-',
    // drop chars outside [a-z0-9-:_.,], cap 120; 'Café' exercises the
    // accent-drop since slug does NOT deaccent). Listing fields are driven
    // from part columns (the parse step itself is oracle-gated by
    // s4/s5 and kernel-spec'd); every 7th row loses lat -> gated out.
    Q("k9_wv_places",
      (s, dir) => {
        def slugWv(c: Column): Column = substring(
          regexp_replace(regexp_replace(lower(trim(c)), "\\s+", "-"),
            "[^a-z0-9\\-:_.,]+", ""), 1, 120)
        def fmt5(c: Column): Column = format_string("%.5f", c)
        t(s, dir, "part")
          .withColumn("title",
            concat(lit("City "), pmod(col("p_partkey"), lit(25)).cast("string")))
          .withColumn("tpl",
            when(pmod(col("p_partkey"), lit(3)) === 0, lit("see"))
              .when(pmod(col("p_partkey"), lit(3)) === 1, lit("eat"))
              .otherwise(lit("sleep")))
          .withColumn("nm", concat(lit("Café "), col("p_name")))
          .withColumn("lat",
            when(pmod(col("p_partkey"), lit(7)) === 0, lit(null).cast("double"))
              .otherwise(lit(40.0003) +
                (col("p_partkey") % 97).cast("double") * 0.002))
          .withColumn("lon", lit(-75.0) +
            pmod(floor(col("p_partkey") / 97.0), lit(89.0)) * 0.002)
          .where(col("nm").isNotNull && col("nm") =!= "" &&
            col("lat").isNotNull && col("lon").isNotNull)
          .select(
            concat(lit("wv:"), slugWv(col("title")), lit(":"), slugWv(col("nm")),
              lit(":"), fmt5(col("lat")), lit(","), fmt5(col("lon")))
              .as("place_id"),
            lit("wikivoyage").as("source"), col("nm").as("name"),
            col("lat"), col("lon"), col("tpl").as("type"),
            col("title").as("city_hint"))
      },
      Some("""WITH base AS (
             |  SELECT 'City ' || CAST(p_partkey % 25 AS VARCHAR) AS title,
             |    CASE CAST(p_partkey % 3 AS INTEGER) WHEN 0 THEN 'see'
             |      WHEN 1 THEN 'eat' ELSE 'sleep' END AS tpl,
             |    'Café ' || p_name AS nm,
             |    CASE WHEN p_partkey % 7 = 0 THEN NULL
             |      ELSE 4.00003e1 + (p_partkey % 97) * 2e-3 END AS lat,
             |    -75e0 + (floor(p_partkey / 97e0) % 89e0) * 2e-3 AS lon
             |  FROM part),
             |slugged AS (
             |  SELECT *,
             |    substr(regexp_replace(regexp_replace(lower(trim(title)),
             |      '\s+', '-', 'g'), '[^a-z0-9\-:_.,]+', '', 'g'), 1, 120) AS ts,
             |    substr(regexp_replace(regexp_replace(lower(trim(nm)),
             |      '\s+', '-', 'g'), '[^a-z0-9\-:_.,]+', '', 'g'), 1, 120) AS ns
             |  FROM base)
             |SELECT 'wv:' || ts || ':' || ns || ':' || printf('%.5f', lat)
             |    || ',' || printf('%.5f', lon) AS place_id,
             |  'wikivoyage' AS source, nm AS name, lat, lon, tpl AS type,
             |  title AS city_hint
             |FROM slugged
             |WHERE nm IS NOT NULL AND nm <> '' AND lat IS NOT NULL
             |  AND lon IS NOT NULL""".stripMargin)),

    // K12: snapshot diff (CDC extraction) — the inverse of K11's MERGE:
    // recover the added/removed/changed/unchanged delta between two full
    // snapshots with one full-outer key join and a null-safe struct
    // compare. The "new" snapshot drops every 11th key, bumps every 7th
    // balance, and mints keys from every 13th.
    Q("k12_snapshot_diff",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        val newSnap = c.where(pmod(col("c_custkey"), lit(11)) =!= 0)
          .withColumn("c_acctbal",
            when(pmod(col("c_custkey"), lit(7)) === 0,
              col("c_acctbal") + 10.0).otherwise(col("c_acctbal")))
          .unionByName(c.where(pmod(col("c_custkey"), lit(13)) === 0)
            .select((col("c_custkey") + 1000000).as("c_custkey"),
              concat(lit("new-"), col("c_custkey").cast("string"))
                .as("c_name"),
              lit(0.0).as("c_acctbal")))
        Sources.snapshotDiff(c, newSnap, "c_custkey")
      },
      Some("""WITH c AS (
             |  SELECT c_custkey, c_name, c_acctbal FROM customer),
             |n AS (
             |  SELECT c_custkey, c_name,
             |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 1e1
             |      ELSE c_acctbal END AS c_acctbal
             |  FROM c WHERE c_custkey % 11 <> 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000,
             |    'new-' || CAST(c_custkey AS VARCHAR), 0e0
             |  FROM c WHERE c_custkey % 13 = 0)
             |SELECT coalesce(n.c_custkey, o.c_custkey) AS c_custkey,
             |  CASE WHEN o.c_custkey IS NULL THEN 'added'
             |    WHEN n.c_custkey IS NULL THEN 'removed'
             |    WHEN o.c_name IS NOT DISTINCT FROM n.c_name
             |      AND o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
             |      THEN 'unchanged'
             |    ELSE 'changed' END AS change,
             |  o.c_name AS old_c_name, o.c_acctbal AS old_c_acctbal,
             |  n.c_name AS new_c_name, n.c_acctbal AS new_c_acctbal
             |FROM c o FULL OUTER JOIN n ON o.c_custkey = n.c_custkey"""
        .stripMargin)),

    // K11: copy-on-write MERGE upsert — the reference's Cypher
    // never-clobber-with-null upsert discipline as a batch parquet op
    // (SURVEY G5's extension point): matched keys coalesce per column
    // (the null c_name update must NOT erase the existing name),
    // update-only keys insert, target-only keys carry through.
    // SCD Type-2 dimension versioning — the warehouse history operator
    // completing the merge family (k11 overwrites in place, k12 reports
    // the diff; SCD2 keeps every version). Fixture: the customer dim all
    // open at ts 0, then a backfilled new-key wave (ts 5), a change wave
    // (ts 10), a no-op/revert wave (ts 15 — no-op for keys it leaves
    // unchanged, a REAL new version where it reverts a ts-10 change),
    // and a second change wave (ts 20). One per-key window pass; the
    // oracle replays the lag-based no-op drop and lead-based intervals.
    Q("k13_scd2",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val hist = cust
          .withColumn("valid_from", lit(0L))
          .withColumn("valid_to", lit(null).cast("long"))
        def wave(m: Int, dn: Int, ts: Long, shift: Long = 0L) =
          cust.where(pmod(col("c_custkey"), lit(m)) === 0)
            .select((col("c_custkey") + shift).as("c_custkey"),
              (col("c_nationkey") + dn).as("c_nationkey"),
              col("c_acctbal"), lit(ts).as("ts"))
        val updates = wave(9, 0, 5L, shift = 1000000L)
          .unionByName(wave(4, 1, 10L))
          .unionByName(wave(6, 0, 15L))
          .unionByName(wave(8, 2, 20L))
        Sources.scd2Apply(hist, updates, "c_custkey", "ts",
          Seq("c_nationkey", "c_acctbal"))
      },
      Some("""WITH cust AS (
             |  SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
             |allv AS (
             |  SELECT c_custkey, c_nationkey, c_acctbal, 0 AS ts FROM cust
             |  UNION ALL SELECT c_custkey + 1000000, c_nationkey,
             |    c_acctbal, 5 FROM cust WHERE c_custkey % 9 = 0
             |  UNION ALL SELECT c_custkey, c_nationkey + 1, c_acctbal, 10
             |    FROM cust WHERE c_custkey % 4 = 0
             |  UNION ALL SELECT c_custkey, c_nationkey, c_acctbal, 15
             |    FROM cust WHERE c_custkey % 6 = 0
             |  UNION ALL SELECT c_custkey, c_nationkey + 2, c_acctbal, 20
             |    FROM cust WHERE c_custkey % 8 = 0),
             |lg AS (
             |  SELECT *, lag(c_nationkey) OVER w AS pn,
             |    lag(c_acctbal) OVER w AS pa, row_number() OVER w AS rn
             |  FROM allv
             |  WINDOW w AS (PARTITION BY c_custkey
             |               ORDER BY ts, c_nationkey, c_acctbal)),
             |chg AS (
             |  SELECT * FROM lg WHERE rn = 1 OR NOT
             |    (c_nationkey IS NOT DISTINCT FROM pn
             |     AND c_acctbal IS NOT DISTINCT FROM pa)),
             |v AS (
             |  SELECT c_custkey, c_nationkey, c_acctbal,
             |    ts AS valid_from,
             |    lead(ts) OVER (PARTITION BY c_custkey
             |                   ORDER BY ts, c_nationkey, c_acctbal)
             |      AS valid_to
             |  FROM chg)
             |SELECT c_custkey, c_nationkey, c_acctbal,
             |  CAST(valid_from AS BIGINT) AS valid_from,
             |  CAST(valid_to AS BIGINT) AS valid_to,
             |  valid_to IS NULL AS is_current
             |FROM v""".stripMargin)),

    Q("k11_merge_upsert",
      (s, dir) => {
        val base = s"/tmp/graft_merge_base_${new java.io.File(dir).getName}"
        val out = s"/tmp/graft_merge_out_${new java.io.File(dir).getName}"
        val target = t(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        target.write.mode("overwrite").parquet(base)
        val updates = target.where(pmod(col("c_custkey"), lit(10)) === 0)
          .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
            (col("c_acctbal") + 1000.0).as("c_acctbal"))
          .unionByName(target.where(pmod(col("c_custkey"), lit(7)) === 0)
            .select((col("c_custkey") + 1000000L).as("c_custkey"),
              concat(lit("new-"), col("c_custkey").cast("string")).as("c_name"),
              lit(0.0).as("c_acctbal")))
        Sources.mergeParquet(s, base, updates, "c_custkey", out)
        s.read.parquet(out)
      },
      Some("""WITH t AS (SELECT c_custkey, c_name, c_acctbal FROM customer),
             |upd AS (
             |  SELECT c_custkey, CAST(NULL AS VARCHAR) AS c_name,
             |    c_acctbal + 1e3 AS c_acctbal
             |  FROM t WHERE c_custkey % 10 = 0
             |  UNION ALL
             |  SELECT c_custkey + 1000000, 'new-' || CAST(c_custkey AS VARCHAR),
             |    0e0
             |  FROM t WHERE c_custkey % 7 = 0)
             |SELECT coalesce(u.c_custkey, t.c_custkey) AS c_custkey,
             |  coalesce(u.c_name, t.c_name) AS c_name,
             |  coalesce(u.c_acctbal, t.c_acctbal) AS c_acctbal
             |FROM t FULL OUTER JOIN upd u ON t.c_custkey = u.c_custkey"""
        .stripMargin)),

    // DS: deterministic IMPORTANCE sampling — keep probability scales
    // with a per-doc weight (here length-derived, capped), decided by the
    // doc's stable hash bucket, so the sample is reproducible across
    // runs/layouts and appends never resample old docs. The threshold is
    // kept in exact integer space (min(n_chars,2000)*5 of 10000) so both
    // engines compare identical integers — no double boundary rounding.
    Q("ds_weighted_sample",
      (s, dir) => {
        val bucket = pmod(
          Dedup.md5Hash32(col("doc_id").cast("string"), lit(7)), lit(10000L))
        t(s, dir, "documents")
          .withColumn("bucket", bucket)
          .where(col("bucket") < least(col("n_chars"), lit(2000L)) * 5)
          .select(col("doc_id"), col("n_chars"), col("bucket"))
      },
      Some(s"""SELECT doc_id, n_chars,
              |  ${h32Sql("CAST(doc_id AS VARCHAR)", "7")} % 10000 AS bucket
              |FROM documents
              |WHERE ${h32Sql("CAST(doc_id AS VARCHAR)", "7")} % 10000 <
              |  least(n_chars, 2000) * 5""".stripMargin)),

    // MM: FULL PNG pixel decode — payloads are real PNGs (zlib-deflated
    // IDAT, row filters cycling through None/Sub/Up/Average/Paeth since
    // every height >= 5), decoded back through chunk-CRC walk + inflate +
    // unfilter; the checksum reads the DECODED pixels, so the oracle's
    // closed form over the synthesis parameters proves the whole
    // compressed-pixel path. (JPEG entropy decode remains the one
    // declared stub — PNG left the stub this round because zlib ships in
    // the JDK.)
    Q("mm_png_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 6 + 2).toInt
            val h = (id % 5 + 5).toInt
            (id, Multimodal.pngEncodeRgb(w, h, Multimodal.rgbSynthPixels(w, h)))
          }.toDF("doc_id", "payload")
        Multimodal.extractPngPixels(payloads, "doc_id", "payload").toDF()
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, CAST(doc_id % 6 + 2 AS INTEGER) AS w,
             |    CAST(doc_id % 5 + 5 AS INTEGER) AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, w, h, i, j FROM dims,
             |    (SELECT unnest(range(0, 8)) AS i),
             |    (SELECT unnest(range(0, 10)) AS j)
             |  WHERE i < w AND j < h),
             |packed AS (
             |  SELECT doc_id, w, h, i, j,
             |    ((i * 3 + j * 17 + 11) % 256) * 65536 +
             |    ((i * 11 + j * 5 + 7) % 256) * 256 +
             |    ((i * 7 + j * 13 + 3) % 256) AS v
             |  FROM px)
             |SELECT doc_id, max(w) AS width, max(h) AS height,
             |  CAST(sum(v) AS BIGINT) AS pix_sum,
             |  CAST(max(CASE WHEN i = w - 1 AND j = h - 1 THEN v END)
             |    AS BIGINT) AS px_last,
             |  TRUE AS valid
             |FROM packed GROUP BY doc_id""".stripMargin)),

    // MM: FULL baseline JPEG entropy decode — the round-5 retirement of
    // the engine's last image stub. Payloads are complete baseline JPEGs
    // (DQT/SOF0/optimal DHT/SOS + Huffman-coded MCUs, RSTn on every 4th
    // doc) built by the pure-JVM encoder; decode runs the whole entropy
    // path (Huffman -> dequant -> IDCT -> YCbCr->RGB). The synthesis
    // pattern lives in the exact-integer DCT span (constant + the
    // (4,0)/(0,4)/(4,4) half-amplitude cosine basis), so with unit quant
    // tables the lossy codec roundtrips bit-exactly and the oracle
    // replays the closed form — every rounding site is floor(x+0.5) on
    // doubles in both engines (e0 literals keep DuckDB in DOUBLE).
    Q("mm_jpeg_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 9 + 4).toInt
            val h = (id % 7 + 4).toInt
            (id, Jpeg.jpegSynth(id, w, h))
          }.toDF("doc_id", "payload")
        Multimodal.extractJpegPixels(payloads, "doc_id", "payload").toDF()
      },
      jpegPixelsOracle),

    // The SOF2 counterpart of mm_jpeg_decode: the SAME exact-integer
    // planes emitted as a progressive multi-scan stream (spectral bands +
    // successive approximation + restarts) — the decoder reassembles
    // coefficients across scans and must land on the identical pixels,
    // which the shared closed-form oracle checks. Web crawls carry
    // progressive JPEGs at double-digit percentages; this is the row
    // proving the engine decodes them for real.
    Q("mm_jpeg_progressive",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 9 + 4).toInt
            val h = (id % 7 + 4).toInt
            (id, Jpeg.jpegSynthProgressive(id, w, h))
          }.toDF("doc_id", "payload")
        Multimodal.extractJpegPixels(payloads, "doc_id", "payload").toDF()
      },
      jpegPixelsOracle),

    // MM: FULL GIF decode — the LZW sibling of mm_png_decode /
    // mm_jpeg_decode: payloads are real GIF89a streams (dictionary-built
    // LZW with width growth, every 3rd doc interlaced) from the pure-JVM
    // encoder; decode runs sub-block reassembly -> LZW -> palette ->
    // deinterlace. GIF is lossless, so the oracle replays the palette and
    // index closed forms exactly.
    Q("mm_gif_decode",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val w = (id % 11 + 3).toInt
            val h = (id % 8 + 3).toInt
            (id, Gif.gifSynth(id, w, h))
          }.toDF("doc_id", "payload")
        Multimodal.extractGifPixels(payloads, "doc_id", "payload").toDF()
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, CAST(doc_id % 1000 AS INTEGER) AS idi,
             |    CAST(doc_id % 11 + 3 AS INTEGER) AS w,
             |    CAST(doc_id % 8 + 3 AS INTEGER) AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, w, h, x, y,
             |    (x * 7 + y * 13 + idi) % 256 AS ci
             |  FROM dims,
             |    (SELECT unnest(range(0, 13)) AS x),
             |    (SELECT unnest(range(0, 10)) AS y)
             |  WHERE x < w AND y < h),
             |packed AS (
             |  SELECT doc_id, w, h, x, y,
             |    ((ci * 5 + 7) % 256) * 65536 +
             |    ((ci * 11 + 3) % 256) * 256 +
             |    ((ci * 17 + 29) % 256) AS v
             |  FROM px)
             |SELECT doc_id, max(w) AS width, max(h) AS height,
             |  CAST(sum(v) AS BIGINT) AS pix_sum,
             |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN v END)
             |    AS BIGINT) AS px_last,
             |  TRUE AS valid
             |FROM packed GROUP BY doc_id""".stripMargin)),

    // DD/MM: image near-duplicate pairs over REAL decoded pixels — the
    // capstone tying the codecs into the dedup story. Each doc pair
    // (doc_id//2) renders the same deterministic 9x8 grayscale pattern,
    // the odd variant nudged +1 at (0,0); payloads rotate through the
    // three LOSSLESS encoders (PNG / GIF / BMP) so the decode dispatch
    // is exercised and the oracle closed form holds bit-exactly. dHash
    // + pigeonhole chunk blocking (exact recall at the budget) + a
    // codegen'd bit_count(xor) verify; the oracle recomputes every
    // hash from the formula and all-pairs-joins the bit tables.
    Q("dd_image_phash",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id / 2
            val v = (id % 2).toInt
            // multiplicative-hash mixing makes adjacent-pixel comparisons
            // behave like coin flips, so DIFFERENT groups sit ~32 bits
            // apart (blocking prunes them) while the odd variant's +1
            // nudge at (0,0) moves its pair by at most one bit
            // the QUADRATIC mix matters twice: a wide class space
            // (g % 1000003) keeps groups collision-free at any probe SF,
            // and the product of two affine terms de-linearizes the
            // pixel sequence so dHash bits are unbiased coin flips —
            // an affine rotation made whole hashes near-constant and
            // skewed the chunk buckets into quadratic candidate blowup
            val gray = Array.tabulate(9 * 8) { i =>
              val x = i % 9; val y = i / 9
              val gm = g % 1000003
              ((x + 9L * y + 1L + gm) * (x + 9L * y + 13L + 2L * gm)
                % 100003L % 200L + 28L).toInt +
                (if (v == 1 && x == 0 && y == 0) 1 else 0)
            }
            val rgb = Array.tabulate(9 * 8 * 3)(i => gray(i / 3).toByte)
            val p = (g % 3).toInt match {
              case 0 => Multimodal.pngEncodeRgb(9, 8, rgb)
              case 1 =>
                val pal = Array.tabulate(256 * 3)(i => (i / 3).toByte)
                Gif.encodeGif(9, 8, pal, gray.map(_.toByte))
              case _ => Multimodal.bmpEncodeRgb(9, 8, rgb)
            }
            (id, p)
          }.toDF("doc_id", "payload")
        Multimodal.imageDHashPairs(payloads, "doc_id", "payload",
          maxHamming = 4)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v
             |  FROM documents),
             |cell AS (
             |  SELECT doc_id, x, y,
             |    (x + 9 * y + 1 + g % 1000003)
             |      * (x + 9 * y + 13 + 2 * (g % 1000003))
             |      % 100003 % 200 + 28
             |      + CASE WHEN v = 1 AND x = 0 AND y = 0 THEN 1 ELSE 0 END
             |      AS gr
             |  FROM d,
             |    (SELECT unnest(range(0, 9)) AS x),
             |    (SELECT unnest(range(0, 8)) AS y)),
             |bits AS (
             |  SELECT a.doc_id, a.y * 8 + a.x AS k,
             |    CASE WHEN b.gr > a.gr THEN 1 ELSE 0 END AS bit
             |  FROM cell a JOIN cell b
             |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 8),
             |pairs AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
             |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id, CAST(hamming AS INTEGER) AS hamming
             |FROM pairs WHERE hamming <= 4""".stripMargin)),

    // PIPE: the end-to-end IMAGE corpus dedup — the multimodal capstone
    // composing this round's codecs into one plan: render payloads in
    // three formats -> sniff each container's REAL magic bytes ->
    // decode (format-dispatched) -> dHash -> pigeonhole-blocked near-dup
    // pairs -> connected components -> min-id canonical keep. Mirrors
    // pipe_clean_corpus's shape with images instead of text; the oracle
    // replays the hash closed form and closes the pair graph with a
    // recursive CTE.
    Q("pipe_image_dedup",
      (s, dir) => {
        val payloads = imageCorpus(s, dir)
        val formats = Multimodal
          .extractSniffedMeta(payloads, "doc_id", "payload").toDF()
          .select(col("doc_id"), col("format"))
        val pairs = Multimodal.imageDHashPairs(payloads, "doc_id", "payload",
            maxHamming = 4)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val cc = ConnectedComponents.run(pairs)
          .withColumnRenamed("node", "doc_id")
        formats.join(cc, Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .select(col("doc_id"), col("component"), col("format"),
            (col("doc_id") === col("component")).cast("int").as("keep"))
      },
      Some("""WITH RECURSIVE d AS (
             |  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v
             |  FROM documents),
             |cell AS (
             |  SELECT doc_id, x, y,
             |    (x + 9 * y + 1 + g % 1000003)
             |      * (x + 9 * y + 13 + 2 * (g % 1000003))
             |      % 100003 % 200 + 28
             |      + CASE WHEN v = 1 AND x = 0 AND y = 0 THEN 1 ELSE 0 END
             |      AS gr
             |  FROM d,
             |    (SELECT unnest(range(0, 9)) AS x),
             |    (SELECT unnest(range(0, 8)) AS y)),
             |bits AS (
             |  SELECT a.doc_id, a.y * 8 + a.x AS k,
             |    CASE WHEN b.gr > a.gr THEN 1 ELSE 0 END AS bit
             |  FROM cell a JOIN cell b
             |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 8),
             |pairs AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM bits a JOIN bits b ON a.k = b.k AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2
             |  HAVING sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) <= 4),
             |sym AS (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION SELECT b_id, a_id FROM pairs
             |  UNION SELECT a_id, a_id FROM pairs
             |  UNION SELECT b_id, b_id FROM pairs),
             |reach AS (
             |  SELECT u, v FROM sym
             |  UNION
             |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
             |comp AS (SELECT u AS node, min(v) AS component
             |         FROM reach GROUP BY u)
             |SELECT d.doc_id,
             |  coalesce(c.component, d.doc_id) AS component,
             |  (['png', 'gif', 'bmp'])[CAST(d.g % 3 AS INTEGER) + 1]
             |    AS format,
             |  CAST(d.doc_id = coalesce(c.component, d.doc_id) AS INTEGER)
             |    AS keep
             |FROM d LEFT JOIN comp c ON d.doc_id = c.node"""
        .stripMargin)),

    // DD: audio near-dup via Haitsma-Kalker fingerprints — the AUDIO leg
    // of the cross-modal dedup set (text shingles / image phash /
    // embedding cosine already covered). Per doc: a 5-frame two-sine PCM
    // clip (variant v=1 shifts the last frame's dominant band one up —
    // the "same recording, slightly different master" case), REAL WAV
    // decode -> per-frame band powers -> 32 time-band delta-sign bits,
    // then pigeonhole bit-chunk blocking at hamming <= 4 (exact recall,
    // never all-pairs). Band powers quantize to integers before the sign
    // so no bit can hinge on a last-ulp trig difference; the oracle
    // replays synthesis, DFT, bits, and (as the oracle may) brute-force
    // hamming.
    Q("dd_audio_fingerprint",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id / 2
            val v = id % 2
            val samples = (0 until 5).flatMap { f =>
              var m1 = ((g * 7 + f * 3) % 9).toInt
              if (v == 1 && f == 4) m1 = (m1 + 1) % 9
              val m2 = ((g * 4 + f) % 7).toInt
              val k1 = 3 * m1 + 2
              val k2 = 3 * m2 + 2
              (0 until 64).map(x => math.floor(
                1000 * math.sin(2 * math.Pi * k1 * x / 64) +
                  400 * math.sin(2 * math.Pi * k2 * x / 64) + 0.5)
                .toInt.toShort)
            }
            (id, Multimodal.wavSynth(1, 8000, samples))
          }.toDF("doc_id", "payload")
        val fps = Multimodal.extractAudioFingerprint(
            payloads, "doc_id", "payload").toDF()
          .where(col("valid"))
          .select(col("doc_id").as("id"), col("fp"))
        Dedup.fingerprintHammingPairs(fps, maxHamming = 4)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, doc_id // 2 AS g, doc_id % 2 AS v
             |  FROM documents),
             |pf AS (
             |  SELECT doc_id, f,
             |    CASE WHEN v = 1 AND f = 4
             |      THEN ((g * 7 + f * 3) % 9 + 1) % 9
             |      ELSE (g * 7 + f * 3) % 9 END AS m1,
             |    (g * 4 + f) % 7 AS m2
             |  FROM d, (SELECT unnest(range(0, 5)) AS f)),
             |samp AS (
             |  SELECT doc_id, f, x,
             |    FLOOR(1000 * sin(2 * pi() * (3 * m1 + 2) * x / 64) +
             |          400 * sin(2 * pi() * (3 * m2 + 2) * x / 64)
             |          + 5e-1) AS s
             |  FROM pf, (SELECT unnest(range(0, 64)) AS x)),
             |dft AS (
             |  SELECT doc_id, f, k,
             |    pow(sum(s * cos(2 * pi() * k * x / 64)), 2) +
             |    pow(sum(s * sin(2 * pi() * k * x / 64)), 2) AS p
             |  FROM samp, (SELECT unnest(range(1, 28)) AS k)
             |  GROUP BY doc_id, f, k),
             |eng AS (
             |  SELECT doc_id, f, (k - 1) // 3 AS m,
             |    CAST(FLOOR(sum(p) / 64 + 5e-1) AS BIGINT) AS eq
             |  FROM dft GROUP BY doc_id, f, (k - 1) // 3),
             |bits AS (
             |  SELECT a.doc_id, (a.f - 1) * 8 + a.m AS idx
             |  FROM eng a
             |  JOIN eng b ON b.doc_id = a.doc_id AND b.f = a.f
             |    AND b.m = a.m + 1
             |  JOIN eng c ON c.doc_id = a.doc_id AND c.f = a.f - 1
             |    AND c.m = a.m
             |  JOIN eng e2 ON e2.doc_id = a.doc_id AND e2.f = a.f - 1
             |    AND e2.m = a.m + 1
             |  WHERE a.f >= 1 AND a.m <= 7
             |    AND (a.eq - b.eq) - (c.eq - e2.eq) > 0),
             |fp AS (
             |  SELECT d.doc_id,
             |    coalesce(sum(CAST(1 AS BIGINT) << idx), 0) AS fp
             |  FROM d LEFT JOIN bits ON d.doc_id = bits.doc_id
             |  GROUP BY d.doc_id)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 4""".stripMargin)),

    // MM: audio spectral analysis — synthesize one 64-sample 16-bit PCM
    // sine per doc (bin k0 = id%26+3, amplitude 1000, samples
    // floor(1000*sin(2*pi*k0*x/64)+0.5) — a closed form BOTH engines can
    // regenerate), decode, DFT, report the peak bin + its magnitude.
    // The peak magnitude ~ N*A/2 dwarfs the rounding-leakage floor, so
    // the argmax is engine-robust; magnitudes round to 2 decimals
    // (cross-engine double sums differ ~1e-10 relative).
    Q("mm_wav_spectrum",
      (s, dir) => {
        val spark = s
        import spark.implicits._
        val payloads = t(s, dir, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val k0 = (id % 26 + 3).toInt
            val samples = (0 until 64).map(x => math.floor(
              1000 * math.sin(2 * math.Pi * k0 * x / 64) + 0.5).toInt.toShort)
            (id, Multimodal.wavSynth(1, 8000, samples))
          }.toDF("doc_id", "payload")
        Multimodal.extractWavSpectrum(payloads, "doc_id", "payload").toDF()
      },
      Some("""WITH param AS (
             |  SELECT doc_id, CAST(doc_id % 26 + 3 AS INTEGER) AS k0
             |  FROM documents),
             |samp AS (
             |  SELECT doc_id, k0, x,
             |    FLOOR(1000 * sin(2 * pi() * k0 * x / 64) + 0.5e0) AS s
             |  FROM param, (SELECT unnest(range(0, 64)) AS x)),
             |spec AS (
             |  SELECT doc_id, k,
             |    sqrt(pow(sum(s * cos(2 * pi() * k * x / 64)), 2) +
             |         pow(sum(s * sin(2 * pi() * k * x / 64)), 2)) AS mag
             |  FROM samp, (SELECT unnest(range(0, 33)) AS k)
             |  GROUP BY doc_id, k),
             |best AS (
             |  SELECT doc_id, k, mag, row_number() OVER (
             |    PARTITION BY doc_id ORDER BY mag DESC, k ASC) AS rn
             |  FROM spec)
             |SELECT doc_id, CAST(k AS INTEGER) AS peak_bin,
             |  round(mag, 2) AS peak_mag, TRUE AS valid
             |FROM best WHERE rn = 1""".stripMargin)),

    // TA: corpus BIGRAM surprisal — per-doc mean -ln p(tok | prev) with
    // the conditional estimated from this corpus's own bigram/context
    // counts (the stronger sibling of ta_self_surprisal's unigram
    // model; repetitive boilerplate scores near zero, unusual word
    // orders score high). Positions via posexplode, bigrams via a
    // position self-join on the doc key; counts are two partial-agg
    // shuffles; the count join-back is term-keyed (the documented
    // vocabulary-skew shape — AQE-splittable, broadcastable when the
    // bigram vocabulary fits). Docs with fewer than 2 tokens emit no
    // row, same as the SQL's bigram set being empty.
    Q("ta_bigram_surprisal",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            posexplode(Dedup.tokens(col("text"))).as(Seq("pos", "tok")))
        val bg = toks.alias("a")
          .join(toks.alias("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") === col("a.pos") + 1)
          .select(col("a.doc_id"), col("a.tok").as("w1"),
            col("b.tok").as("w2"))
        val bigramC = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("bc"))
        val contextC = bg.groupBy(col("w1")).agg(count(lit(1)).as("cc"))
        bg.join(bigramC, Seq("w1", "w2"))
          .join(contextC, Seq("w1"))
          .groupBy(col("doc_id"))
          .agg((round(avg(log(col("cc").cast("double") / col("bc"))), 6)
            + 0.0).as("bigram_surprisal"))
      },
      Some(s"""WITH tk0 AS ($toksSql),
              |tok AS (
              |  SELECT id, unnest(tk) AS tok,
              |    unnest(range(1, len(tk) + 1)) AS pos
              |  FROM tk0),
              |bg AS (
              |  SELECT a.id, a.tok AS w1, b.tok AS w2
              |  FROM tok a JOIN tok b
              |    ON a.id = b.id AND b.pos = a.pos + 1),
              |bc AS (SELECT w1, w2, count(*) AS bc FROM bg GROUP BY 1, 2),
              |cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY 1)
              |SELECT bg.id AS doc_id,
              |  round(avg(ln(CAST(cc.cc AS DOUBLE) / bc.bc)), 6) + 0e0
              |    AS bigram_surprisal
              |FROM bg JOIN bc USING (w1, w2) JOIN cc USING (w1)
              |GROUP BY bg.id""".stripMargin)),

    // ST: the funnel under a conversion window — each step must land
    // within 48h of the previous step's completion (earliest-completion
    // greedy under the same cascaded min-agg shape).
    Q("st_funnel_windowed",
      (s, dir) => Funnel.funnelDepth(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        horizonSeconds = Some(172800L)),
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t0 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t1
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |    AND e.ts > v.t0 AND e.ts <= v.t0 + INTERVAL 172800 SECONDS
             |  WHERE e.event_type = 'click' GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |    AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL 172800 SECONDS
             |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT u.user_id,
             |  (CASE WHEN v.t0 IS NOT NULL THEN 1 ELSE 0 END +
             |   CASE WHEN c.t1 IS NOT NULL THEN 1 ELSE 0 END +
             |   CASE WHEN p.t2 IS NOT NULL THEN 1 ELSE 0 END) AS depth
             |FROM (SELECT DISTINCT user_id FROM events) u
             |LEFT JOIN v ON u.user_id = v.user_id
             |LEFT JOIN c ON u.user_id = c.user_id
             |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin)),

    // DS: exact-k deterministic uniform sample — the k docs with the
    // smallest stable hash values (ORDER BY hash LIMIT k in both
    // engines): a fixed-size sample that is reproducible across runs and
    // partitionings, computed distributed as a global top-k (partial
    // per-partition heads), never a full sort to one task.
    Q("ds_exact_k_sample",
      (s, dir) => {
        val h = pmod(
          Dedup.md5Hash32(col("doc_id").cast("string"), lit(99)), lit(1000000L))
        t(s, dir, "documents")
          .select(col("doc_id"), h.as("h"))
          .orderBy(col("h"), col("doc_id")).limit(25)
      },
      Some(s"""SELECT doc_id,
              |  ${h32Sql("CAST(doc_id AS VARCHAR)", "99")} % 1000000 AS h
              |FROM documents ORDER BY h, doc_id LIMIT 25""".stripMargin)),

    // TA: corpus Zipf slope — the log-log linear fit of token frequency
    // against rank, the one-number check that a corpus has natural
    // long-tail token statistics (template/boilerplate corpora flatten
    // it). Frequencies are one partial-agg shuffle; the vocabulary rank is
    // exact-distributed via Ranking.globalRank (range-partitioned sort +
    // per-partition prefix offsets — vocabulary is UNBOUNDED at web scale,
    // 10^8-10^9 distinct tokens, so a bare global window would funnel it
    // through one task); the fit is covar_pop/var_pop in both engines,
    // rounded to 6.
    Q("ta_zipf_slope",
      (s, dir) => {
        val freq = t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c"))
        graft.operators.Ranking
          .globalRank(freq, Seq(col("c").desc, col("tok").asc), "rank")
          .agg((round(
            covar_pop(log(col("rank")), log(col("c"))) /
              var_pop(log(col("rank"))), 6) + 0.0).as("zipf_slope"))
      },
      Some(s"""WITH tk0 AS ($toksSql),
              |tk AS (SELECT unnest(tk) AS tok FROM tk0),
              |freq AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
              |ranked AS (
              |  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC)
              |    AS rank
              |  FROM freq)
              |SELECT round(
              |  covar_pop(ln(rank), ln(c)) / var_pop(ln(rank)), 6) + 0e0
              |  AS zipf_slope
              |FROM ranked""".stripMargin)),

    // DS: per-stratum exact-k sample — the stratified sibling of
    // ds_exact_k_sample: smallest-k by stable hash WITHIN each source, as
    // a bounded k-heap partial-agg Aggregator (Sampling.SmallestK, the t3
    // shape). A per-stratum window would sort each source's ENTIRE
    // stratum on one task — with a handful of sources that is the whole
    // table through ~n_sources tasks; the aggregator shuffles only
    // k-bounded buffers and is map-side combinable.
    Q("ds_stratified_k",
      (s, dir) => {
        val h = pmod(
          Dedup.md5Hash32(col("doc_id").cast("string"), lit(41)), lit(1000000L))
        graft.operators.Sampling.stratifiedSmallestK(
          t(s, dir, "documents"), col("doc_id"), col("source"), h,
          k = 10, keyOut = "doc_id", stratumOut = "source", hOut = "h")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, source,
              |    ${h32Sql("CAST(doc_id AS VARCHAR)", "41")} % 1000000 AS h
              |  FROM documents)
              |SELECT doc_id, source, h FROM (
              |  SELECT doc_id, source, h, row_number() OVER (
              |    PARTITION BY source ORDER BY h, doc_id) AS rn
              |  FROM t)
              |WHERE rn <= 10""".stripMargin)),

    // DS: per-group winsorization — clamp a heavy-tailed metric at its
    // group's p05/p95 (robust-scaling prep). The cuts frame is one
    // partial-agg percentile pass over tiny group cardinality, broadcast
    // back; the clamp itself is a narrow codegen'd pass. percentile <->
    // quantile_cont interpolation parity is already pinned by a14.
    Q("ds_winsorize",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cuts = o.groupBy("o_orderpriority").agg(
          expr("percentile(o_totalprice, 0.05)").as("lo"),
          expr("percentile(o_totalprice, 0.95)").as("hi"))
        o.join(broadcast(cuts), Seq("o_orderpriority"))
          .select(col("o_orderkey"), col("o_orderpriority"),
            (round(least(greatest(col("o_totalprice"), col("lo")),
              col("hi")), 2) + 0.0).as("v_winsor"))
      },
      Some("""WITH cuts AS (
             |  SELECT o_orderpriority,
             |    quantile_cont(o_totalprice, 0.05) AS lo,
             |    quantile_cont(o_totalprice, 0.95) AS hi
             |  FROM orders GROUP BY 1)
             |SELECT o_orderkey, o.o_orderpriority,
             |  round(LEAST(GREATEST(o_totalprice, lo), hi), 2) + 0e0
             |    AS v_winsor
             |FROM orders o JOIN cuts USING (o_orderpriority)"""
        .stripMargin)),

    // DS: temperature-scaled stratum mixing (the mT5/UniMax rule:
    // keep-rate (min_size/size_s)^(1-alpha)) — rates are DERIVED on the
    // cluster from one n_strata-row size aggregate and broadcast back,
    // never a driver round-trip; membership is the same seeded integer
    // hash-cut every sampler here uses, so the oracle replays the
    // identical arithmetic (octet_length sizes keep both engines on the
    // same byte counts).
    Q("ds_temperature_mix",
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("n_bytes", octet_length(col("text")))
        Sampling.temperatureMix(d, "doc_id", "source", "n_bytes",
            alpha = 0.3, seed = 11)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""WITH sz AS (
              |  SELECT source, CAST(sum(strlen(text)) AS DOUBLE) AS s
              |  FROM documents GROUP BY source),
              |r AS (
              |  SELECT source,
              |    pow((SELECT min(s) FROM sz) / s, 1e0 - 3e-1) AS rate
              |  FROM sz)
              |SELECT d.doc_id, d.source
              |FROM documents d JOIN r ON d.source = r.source
              |WHERE ${h32Sql("CAST(d.doc_id AS VARCHAR)", "11")} % 1000000 <
              |  CAST(floor(rate * 1000000) AS BIGINT)""".stripMargin)),

    // DS: weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): u^(1/w) scores from the seeded hash with byte-length
    // weights, global top-k planned as per-partition heaps + a k-row
    // merge (TakeOrderedAndProject — asserted in PlanSpec, never a
    // global sort).
    Q("ds_weighted_k",
      (s, dir) => Sampling.weightedTopK(t(s, dir, "documents"),
          "doc_id", octet_length(col("text")), k = 20, seed = 17)
        .select(col("doc_id"), col("source")),
      Some(s"""SELECT doc_id, source FROM (
              |  SELECT doc_id, source,
              |    pow((${h32Sql("CAST(doc_id AS VARCHAR)", "17")} % 1000000
              |        + 5e-1) / 1e6,
              |      1e0 / strlen(text)) AS es_key
              |  FROM documents)
              |ORDER BY es_key DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // TA: corpus self-surprisal — per-doc mean unigram -ln p(token) with
    // p estimated from THIS corpus's token counts (the model-free quality
    // signal: boilerplate-heavy docs score low, rare-vocabulary docs
    // high). Token counts are one partial-agg shuffle, the corpus total
    // is a broadcast scalar frame, and the per-doc mean is a second
    // partial agg — no driver-side state.
    Q("ta_self_surprisal",
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
        val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        val total = toks.agg(count(lit(1)).cast("double").as("n_total"))
        toks.join(counts, "tok")
          .crossJoin(broadcast(total))
          .groupBy(col("doc_id"))
          .agg((round(avg(log(col("n_total") / col("c"))), 6) + 0.0)
            .as("surprisal"))
      },
      Some(s"""WITH tk0 AS ($toksSql),
              |tk AS (SELECT id, unnest(tk) AS tok FROM tk0),
              |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
              |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM tk)
              |SELECT tk.id AS doc_id,
              |  round(avg(ln(tot.n_total / cnt.c)), 6) + 0e0 AS surprisal
              |FROM tk JOIN cnt USING (tok) CROSS JOIN tot
              |GROUP BY tk.id""".stripMargin)),

    // TS: resample to a dense hourly series with forward fill — the
    // gap-fill step downstream time-series consumers assume; per-key grid
    // via sequence/explode (no global-calendar cross join), one running
    // last(ignoreNulls) window per key.
    Q("ts_gap_fill",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 4)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        TimeSeries.gapFill(hourly, "user_id", "h", "v", 3600L)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    round(sum(value), 2) + 0e0 AS v
             |  FROM events WHERE user_id < 4 GROUP BY 1, 2),
             |spans AS (
             |  SELECT user_id, min(h) AS h0, max(h) AS h1
             |  FROM hourly GROUP BY 1),
             |grid AS (
             |  SELECT user_id,
             |    unnest(generate_series(h0, h1, INTERVAL 3600 SECONDS)) AS h
             |  FROM spans),
             |j AS (
             |  SELECT g.user_id, g.h, hourly.v
             |  FROM grid g LEFT JOIN hourly
             |    ON g.user_id = hourly.user_id AND g.h = hourly.h)
             |SELECT user_id, h,
             |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
             |    ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS v,
             |  CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
             |FROM j""".stripMargin)),

    // TS: classical additive seasonal-trend decomposition over the
    // gap-filled hourly series — centered 2x24 moving-average trend
    // (half-weight endpoints, null until a full window), per-(user,
    // hour-of-day-phase) detrended means centered by the user's grand
    // mean, residual closes the identity. The oracle replays grid,
    // forward fill, windows, and phase means term-for-term.
    Q("ts_seasonal",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 4)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        val filled = TimeSeries.gapFill(hourly, "user_id", "h", "v", 3600L)
          .select("user_id", "h", "v")
        TimeSeries.seasonalDecompose(filled, "user_id", "h", "v",
          stepSeconds = 3600L, period = 24)
      },
      Some(s"""WITH ${filledSeriesCtes(4)},
             |f2 AS (
             |  SELECT user_id, h, v,
             |    CAST(epoch(h) AS BIGINT) // 3600 % 24 AS phase,
             |    CAST(FLOOR(v * 1e2 + 5e-1) AS BIGINT) AS vc
             |  FROM filled),
             |tr AS (
             |  SELECT user_id, h, v, phase, vc,
             |    sum(vc * 2) OVER (PARTITION BY user_id ORDER BY h
             |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
             |    - lag(vc, 12) OVER w - lead(vc, 12) OVER w AS tc
             |  FROM f2
             |  WINDOW w AS (PARTITION BY user_id ORDER BY h)),
             |seas AS (
             |  SELECT user_id, phase,
             |    sum(vc * 48 - tc)::DOUBLE / (4800e0 * count(*)) AS sraw
             |  FROM tr WHERE tc IS NOT NULL GROUP BY 1, 2),
             |grand AS (
             |  SELECT user_id,
             |    list_reduce(list_prepend(0e0, list(sraw ORDER BY phase)),
             |      (acc_, x_) -> acc_ + x_) / count(*) AS smean
             |  FROM seas GROUP BY user_id)
             |SELECT tr.user_id, tr.h, tr.v,
             |  floor(tc::DOUBLE / 4800e0 * 1e4 + 5e-1) / 1e4 + 0e0
             |    AS trend,
             |  floor((sraw - smean) * 1e4 + 5e-1) / 1e4 + 0e0 AS seasonal,
             |  floor((vc::DOUBLE / 1e2 - tc::DOUBLE / 4800e0
             |      - (sraw - smean)) * 1e4 + 5e-1) / 1e4 + 0e0 AS resid
             |FROM tr
             |LEFT JOIN seas ON tr.user_id = seas.user_id
             |  AND tr.phase = seas.phase
             |LEFT JOIN grand ON tr.user_id = grand.user_id""".stripMargin)),

    // TS: OHLC resampling bars — downsample the event stream to hourly
    // open/high/low/close/volume bars per event type. Open/close are
    // value-at-argmin/argmax over (ts, event_id): ONE partial-agg
    // min/max(struct) pass (the a4 argmax discipline — map-side
    // combinable, no per-bucket window sort); the oracle spells the
    // same pick as a row_number window. Raw stored doubles pass
    // through untouched — no arithmetic, no rounding needed.
    Q("ts_ohlc_bars",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value"))).as("mo"),
          max(struct(col("ts"), col("event_id"), col("value"))).as("mc"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("bucket"),
          col("mo.value").as("open"), col("mc.value").as("close"),
          col("high"), col("low"), col("n")),
      Some("""WITH b AS (
             |  SELECT event_type, date_trunc('hour', ts) AS bucket,
             |    ts, event_id, value
             |  FROM events),
             |r AS (
             |  SELECT *,
             |    row_number() OVER (PARTITION BY event_type, bucket
             |      ORDER BY ts, event_id) AS rn,
             |    count(*) OVER (PARTITION BY event_type, bucket) AS cnt
             |  FROM b)
             |SELECT event_type, bucket,
             |  max(CASE WHEN rn = 1 THEN value END) AS open,
             |  max(CASE WHEN rn = cnt THEN value END) AS close,
             |  max(value) AS high, min(value) AS low, count(*) AS n
             |FROM r GROUP BY 1, 2""".stripMargin)),

    // TS: bounded exponentially-weighted moving average over each user's
    // hourly value series. alpha = 0.5 makes every weight a power of two
    // (exact in doubles), so the smoothed series is bit-reproducible by
    // the oracle evaluating the same left-to-right 8-term sum; the
    // truncated normalizer is the closed-form geometric sum. One window
    // (= one shuffle) regardless of lookback.
    Q("ts_ewma",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 4)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        TimeSeries.ewmaBounded(hourly, "user_id", "h", "v", lookback = 8)
      },
      Some(("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    round(sum(value), 2) + 0e0 AS v
             |  FROM events WHERE user_id < 4 GROUP BY 1, 2)
             |SELECT user_id, h, v,
             |  round((0e0""" +
             (0 until 8).map(i =>
               s"\n             |    + coalesce(lag(v, $i) OVER w, 0e0)" +
               s" * pow(0.5e0, $i)").mkString + """)
             |    / (2e0 - pow(0.5e0,
             |        CAST(least(row_number() OVER w, 8) AS DOUBLE) - 1e0)),
             |    4) + 0e0 AS ewma
             |FROM hourly
             |WINDOW w AS (PARTITION BY user_id ORDER BY h)""").stripMargin)),

  )
}
