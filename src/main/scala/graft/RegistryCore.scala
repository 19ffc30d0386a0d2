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
/** Shared machinery for the per-family registry modules (*Registry):
  * the Q row type, table/fixture loaders, the synthetic lattice
  * geometry, and every DuckDB-SQL oracle fragment more than one row
  * composes. The engine-parity discipline documented on [[SparkEntry]]
  * applies to everything here. */
private[graft] object RegistryCore {

  // ------------------------------------------------------------- utilities

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shared build-once-per-sf-dir /tmp fixture machinery for
    * [[videoFixture]] / [[knnStanding]]: a VERSION marker guards reuse
    * across JVMs, and the build PUBLISHES ATOMICALLY — it writes into a
    * process-unique temp directory, stamps the marker inside, and
    * renames over the target, so a concurrent Bench/Verify JVM either
    * sees a complete stamped fixture or none (the old overwrite-in-place
    * build could serve a half-written parquet to a racing reader). If a
    * racing builder wins the rename, the loser keeps the winner's copy
    * (same version string ⇒ identical bytes by determinism) and discards
    * its own. */
  def buildFixtureOnce(path: String, version: String)
                                     (build: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(path)
    def fresh = {
      val marker = dir.resolve("VERSION")
      Files.exists(marker) && Files.readString(marker) == version
    }
    if (fresh) return
    val tmp = Paths.get(path + ".build." +
      java.util.UUID.randomUUID().toString.take(8))
    build(tmp.toString)
    Files.writeString(tmp.resolve("VERSION"), version)
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (Files.exists(p))
        Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
    }
    // re-check: a racing builder of the SAME version may have published
    // while this one built — keep theirs (identical bytes by
    // determinism), never delete a live published fixture
    if (fresh) { rmTree(tmp); return }
    rmTree(dir) // stale layout (old version / legacy in-place build)
    try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileSystemException if fresh => rmTree(tmp)
    }
  }

  /** size+mtime fingerprint of a source table's parquet (file or
    * directory of part files) — folded into fixture version strings so
    * testdata regenerated IN PLACE rebuilds the fixture instead of
    * silently serving state derived from the old data (the oracle would
    * catch that as a confusing hash mismatch; this catches it as a
    * rebuild). */
  def tableFingerprint(dir: String, table: String): String = {
    val f = new java.io.File(s"$dir/$table.parquet")
    if (f.isDirectory) {
      val parts = f.listFiles()
      s"d${parts.length}:${parts.map(p => p.length + p.lastModified).sum}"
    } else s"f${f.length}:${f.lastModified}"
  }

  /** MJPEG-in-MP4 fixture for mm_video_frames, synthesized ONCE per sf
    * dir into /tmp parquet and read back — a real corpus would arrive on
    * disk, and a parquet fixture (unlike a persisted frame) survives the
    * Bench/Verify blanket cache clears, so steady-state runs measure the
    * sample-table walk + decode, not MP4+JPEG construction. Version =
    * recipe + source-data fingerprint ([[buildFixtureOnce]]). */
  val videoFixtureDone = scala.collection.mutable.Set.empty[String]
  def videoFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // keyed by basename AND an absolute-path hash: two corpora whose
    // directories share a basename must never reuse each other's fixture
    val abs = new java.io.File(dir).getAbsolutePath
    val dirTag = f"${new java.io.File(dir).getName}_${abs.hashCode & 0xfffffff}%x"
    val path = s"/tmp/graft_video_fixture_$dirTag"
    videoFixtureDone.synchronized {
      if (!videoFixtureDone.contains(path)) {
        val version = "v2:docs*(jpeg(id+101f) mp4 ts1000 d40) src=" +
          tableFingerprint(dir, "documents")
        buildFixtureOnce(path, version) { tmp =>
          t(s, dir, "documents").select(col("doc_id")).as[Long]
            .map { id =>
              val w = (id % 9 + 4).toInt
              val h = (id % 7 + 4).toInt
              val nf = (id % 3 + 2).toInt
              val frames = (0 until nf).map(f =>
                Jpeg.jpegSynth(id + 101L * f, w, h))
              (id, Mp4.mp4SynthVideo(frames, timescale = 1000,
                frameDur = 40, w = w, h = h))
            }.toDF("doc_id", "payload")
            .write.mode("overwrite").parquet(s"$tmp/data")
        }
        videoFixtureDone += path
      }
    }
    s.read.parquet(s"$path/data")
  }

  /** STANDING kNN state for the incremental-ANN rows (ann_knn_incremental
    * / st_knn_incremental): the structured corpus's NN-Descent graph and
    * SRP bucket index, built ONCE per sf dir into /tmp parquet and read
    * back — a standing index by definition exists on disk before a batch
    * arrives (the r13 verdict's own observation: "real deployments
    * amortize the standing build, which is the operator's entire
    * point"), and the on-disk form survives the Bench/Verify blanket
    * cache clears so steady-state runs time the INCREMENTAL step, not
    * per-row re-synthesis of state whose construction ann_knn_descent*
    * already times as its own row. Values are identical to the inline
    * build (deterministic frames, parquet roundtrip), so the oracle's
    * replayed standing chain is unchanged. */
  // the ONE copy of the standing-build config: the version marker is
  // DERIVED from these, so a parameter edit cannot silently serve a
  // fixture built under the old config (previously a hand-bumped string)
  val knnStandingK = 5
  val knnStandingRounds = 2
  val knnStandingPlanes = 8
  val knnStandingTables = 4
  def knnStandingVersion(dir: String): String =
    s"v2:structuredEmb corpus=id%5!=0 knnDescent(k$knnStandingK," +
      s"r$knnStandingRounds) srp(p$knnStandingPlanes,t$knnStandingTables)" +
      s" src=${tableFingerprint(dir, "embeddings")}"
  val knnStandingDone = scala.collection.mutable.Set.empty[String]
  def knnStanding(s: SparkSession,
                          dir: String): (DataFrame, DataFrame) = {
    val abs = new java.io.File(dir).getAbsolutePath
    val dirTag = f"${new java.io.File(dir).getName}_${abs.hashCode & 0xfffffff}%x"
    val path = s"/tmp/graft_knn_standing_$dirTag"
    knnStandingDone.synchronized {
      if (!knnStandingDone.contains(path)) {
        buildFixtureOnce(path, knnStandingVersion(dir)) { tmp =>
          val corpus = structuredEmb(s, dir)
            .where(pmod(col("vec_id"), lit(5)) =!= 0)
          Similarity.knnDescent(corpus, "vec_id", "embedding",
              k = knnStandingK, rounds = knnStandingRounds)
            .write.mode("overwrite").parquet(s"$tmp/graph")
          Similarity.srpBucketed(corpus, "vec_id", "embedding",
              numPlanes = knnStandingPlanes, tables = knnStandingTables)
            .write.mode("overwrite").parquet(s"$tmp/index")
        }
        knnStandingDone += path
      }
    }
    (s.read.parquet(s"$path/graph"), s.read.parquet(s"$path/index"))
  }


  /** Synthetic lattice geometry over customer/supplier keys — gives the geo
    * operators (SURVEY §2 J4/J5, G1-G4, F10-F13) oracle-checkable inputs on
    * the driver's tables. Customers sit on a 97 x 89 grid with 0.002 deg
    * spacing (~222 m lat / ~171 m lon at 40N); suppliers sit 0.0003 deg
    * (~33 m) north of lattice points. */
  def custPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("lat", lit(40.0) + (col("c_custkey") % 97).cast("double") * 0.002)
      .withColumn("lon", lit(-75.0) +
        pmod(floor(col("c_custkey") / 97.0), lit(89.0)) * 0.002)

  // NB: e-notation literals force DOUBLE arithmetic in DuckDB (plain
  // decimals like 0.002 become DECIMAL there, diverging from Spark doubles)
  val custPointsSql =
    """SELECT *, 40e0 + (c_custkey % 97) * 2e-3 AS lat,
      |  -75e0 + (floor(c_custkey / 97e0) % 89e0) * 2e-3 AS lon
      |FROM customer""".stripMargin

  def suppPoints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "supplier")
      .withColumn("lat", lit(40.0003) + (col("s_suppkey") % 97).cast("double") * 0.002)
      .withColumn("lon", lit(-75.0) +
        pmod(floor(col("s_suppkey") / 97.0), lit(89.0)) * 0.002)

  val suppPointsSql =
    """SELECT *, 4.00003e1 + (s_suppkey % 97) * 2e-3 AS lat,
      |  -75e0 + (floor(s_suppkey / 97e0) % 89e0) * 2e-3 AS lon
      |FROM supplier""".stripMargin

  /** The SPARSIFIED part co-order graph (parts co-occurring in >= 2
    * orders, both directions by construction, w = co-occurrence count)
    * shared by gr_louvain_weighted / gr_kcore_full / gr_coreness (the
    * peel's sf0.1 -> sf1 cost: SCALE.md, "Round 12: degeneracy
    * family"). */
  def partCoorderEdges(s: SparkSession,
                                      dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    li.alias("a").join(li.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w")).where(col("w") >= 2)
  }

  /** Symmetrize an (src, dst) edge frame in ONE pass: each edge explodes
    * to itself and its flip. Multiset-equal to
    * `e0.union(e0.select(dst as src, src as dst))`, so every oracle is
    * unchanged — but the union form executes the upstream edge plan (a
    * spatial self-join in the lattice rows) once PER BRANCH each time
    * the frame materializes; this form scans it once (r17 optimization,
    * guide §2.3/§2.4: one pass where two were paid). */
  def bidirOf(e0: DataFrame): DataFrame =
    e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))

  /** Materialize an edge frame ONCE for a standing-state row that
    * slices it several ways (initial load + ingest batches): left lazy,
    * every slice materialization re-executes the upstream plan — for
    * the lattice rows a full spatial self-join per slice (~1 s each at
    * sf0.1; a full input pass + graph-build shuffle per batch at
    * corpus scale). The blocks free as soon as `body` returns: every
    * standing-state operator materializes its own state eagerly
    * (checkpointed register/label frames or catalog tables), so the
    * returned plan never re-reads the input frame. */
  def withEdgesCheckpointed(edges: DataFrame)
      (body: DataFrame => DataFrame): DataFrame = {
    val e = org.apache.spark.sql.graft.CheckpointOps.materialize(edges,
      truncate = true)
    try body(e.df) finally e.release()
  }

  /** The symmetrized supplier-proximity graph several gr_* rows share:
    * grid-join pairs within 200 m, both directions materialized. */
  def suppBidirEdges(s: SparkSession, dir: String): DataFrame =
    bidirOf(SpatialJoins.gridSelfJoin(
        suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
      .select(col("a_id").as("src"), col("b_id").as("dst")))

  /** DuckDB replay of 3-round label propagation over the bidirectional
    * supplier-proximity graph, as CTEs `sup, e, l0..l3(node, label)` —
    * ONE copy shared by gr_label_prop and gr_modularity so the scored
    * communities cannot drift from the detected ones. */
  def lpropL3Ctes: String = {
    val iterSql = (k: Int) =>
      s"""cnt$k AS (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM e JOIN l${k - 1} l ON e.src = l.node
         |  GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, min(label) AS label FROM (
         |    SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx
         |    FROM cnt$k) t
         |  WHERE c = mx GROUP BY node)"""
    s"""sup AS ($suppPointsSql),
       |e AS (
       |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
       |  FROM sup a JOIN sup b
       |    ON a.s_suppkey <> b.s_suppkey
       |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${(1 to 3).map(iterSql).mkString(",\n")}""".stripMargin
  }

  /** Haversine in DuckDB SQL, mirroring GeoFunctions.haversineM exactly. */
  def havSql(lat1: String, lon1: String, lat2: String, lon2: String) =
    s"""asin(sqrt(pow(sin((radians($lat2) - radians($lat1)) / 2), 2) +
       |  cos(radians($lat1)) * cos(radians($lat2)) *
       |  pow(sin((radians($lon2) - radians($lon1)) / 2), 2))) * 2 * 6371000.0"""
      .stripMargin

  /** ONE DuckDB replay of the HyperBall register propagation (customer
    * lattice, 3 rounds, p=6: exploded-register max-merge + the
    * hllEstimate correction CASE), shared by gr_hyperball and
    * gr_hyperball_closeness — the two rows fold the SAME per-round
    * ball-size estimates n0..n3, so their oracles must share the chain
    * or the estimates could drift apart. `finalSelect` is the fold;
    * `rounds` extends the chain for the adaptive-stop rows (which must
    * replay estimates up to the engine's hop CAP to re-derive where
    * the saturation rule stopped). */
  def hyperBallOracleSql(finalSelect: String, rounds: Int = 3): String = {
    val mergeSql = (k: Int) =>
      s"""r$k AS MATERIALIZED (
         |  SELECT node, idx, max(mj) AS mj FROM (
         |    SELECT e.dst AS node, r.idx, r.mj
         |    FROM e JOIN r${k - 1} r ON r.node = e.src
         |    UNION ALL SELECT node, idx, mj FROM r${k - 1})
         |  GROUP BY node, idx)"""
    val estSql = (k: Int) =>
      s"""n$k AS MATERIALIZED (
         |  SELECT node,
         |    CASE WHEN raw <= 160.0 AND v > 0 THEN 64e0 * ln(64e0 / v)
         |         WHEN raw > 4294967296e0 / 30 THEN
         |           -4294967296e0 * ln(1 - raw / 4294967296e0)
         |         ELSE raw END AS est
         |  FROM (
         |    SELECT node,
         |      (0.709e0 * 64e0 * 64e0) / (s_present + (64 - present))
         |        AS raw,
         |      CAST(64 - present AS DOUBLE) AS v
         |    FROM (SELECT node, sum(pow(2e0, -mj)) AS s_present,
         |            count(*) AS present FROM r$k GROUP BY node)))"""
    val hv = h32Sql("CAST(node AS VARCHAR)", "0")
    s"""WITH pts AS MATERIALIZED ($custPointsSql),
       |e AS MATERIALIZED (
       |  SELECT a.c_custkey AS src, b.c_custkey AS dst
       |  FROM pts a JOIN pts b
       |    ON a.c_custkey <> b.c_custkey
       |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
       |r0 AS MATERIALIZED (
       |  SELECT node, hv >> 26 AS idx,
       |    CASE WHEN (hv & 67108863) = 0 THEN 27
       |         ELSE 26 - (length(bin(hv & 67108863)) - 1) END AS mj
       |  FROM (SELECT node, $hv AS hv
       |        FROM (SELECT DISTINCT src AS node FROM e))),
       |${(1 to rounds).map(mergeSql).mkString(",\n")},
       |${(0 to rounds).map(estSql).mkString(",\n")}
       |$finalSelect""".stripMargin
  }

  /** The adaptive-stop CTE tail shared by gr_hyperball_nf_adaptive /
    * gr_eff_diameter_adaptive — replays
    * [[graft.operators.HyperBall.hyperBallNeighborhoodAdaptive]]'s
    * saturation rule on the SAME quantized longs the engine compares:
    * qh = per-hop global ball sums, shop = first hop whose growth
    * (q_h − q_{h−1}) drops below ε·q_h (else the cap), nf = the rows
    * the engine emits (hop ≤ shop). Append a final select over `nf`
    * (+ `stp`). */
  def hyperBallAdaptiveNfSql(hopCap: Int, epsSql: String): String =
    s""", q AS MATERIALIZED (
       |${(0 to hopCap).map(h =>
           s"  SELECT $h AS hop, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) AS q FROM n$h")
         .mkString("\n  UNION ALL\n")}),
       |qh AS MATERIALIZED (SELECT hop, sum(q) AS q FROM q GROUP BY hop),
       |stp AS MATERIALIZED (
       |  SELECT coalesce(min(cur.hop), $hopCap) AS shop
       |  FROM qh cur JOIN qh prev ON prev.hop = cur.hop - 1
       |  WHERE CAST(cur.q - prev.q AS DOUBLE)
       |    < $epsSql * CAST(cur.q AS DOUBLE)),
       |nf AS MATERIALIZED (
       |  SELECT hop, CAST(q AS DOUBLE) / 1e6 AS nf FROM qh, stp
       |  WHERE hop <= stp.shop)""".stripMargin

  /** ONE DuckDB reachability-closure CC oracle over the 200 m customer
    * proximity graph — shared VERBATIM by g2_connected_components and
    * gr_cc_incremental, because the incremental fold's entire
    * correctness claim is "identical labels to the from-scratch run". */
  def ccClosureOracleSql: String =
    s"""WITH RECURSIVE pts AS ($custPointsSql),
       |edges AS (
       |  SELECT a.c_custkey AS src, b.c_custkey AS dst
       |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
       |  WHERE ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
       |sym AS (
       |  SELECT src AS u, dst AS v FROM edges
       |  UNION SELECT dst, src FROM edges
       |  UNION SELECT src, src FROM edges
       |  UNION SELECT dst, dst FROM edges),
       |reach AS (
       |  SELECT u, v FROM sym
       |  UNION
       |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u)
       |SELECT u AS node, min(v) AS component FROM reach GROUP BY u"""
      .stripMargin

  /** The DIRECTED hub-ring customer graph shared by gr_scc /
    * gr_scc_condense: every customer points at its nation's hub (min
    * custkey); hubs form a directed ring with a doubling chord
    * (diameter O(log #hubs), so BFS rounds stay flat as customers
    * scale); hubs point back at every 7th member. Truth: one big SCC =
    * all hubs + the %7 members, everything else a singleton. Hub frames
    * are model-sized (≤25 rows); member joins are keyed on nationkey. */
  def sccHubEdges(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val hubs = cust.groupBy(col("c_nationkey").as("nk"))
      .agg(min("c_custkey").as("hub"))
    val hr = hubs.select(col("hub"),
      row_number().over(Window.orderBy("nk")).cast("long").as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("hcnt"))
    val e1 = cust.join(hubs, col("c_nationkey") === col("nk"))
      .where(col("c_custkey") =!= col("hub"))
      .select(col("c_custkey").as("src"), col("hub").as("dst"))
    val ha = hr.select(col("hub").as("a_hub"), col("rn").as("a_rn"),
      col("hcnt"))
    val hb = hr.select(col("hub").as("b_hub"), col("rn").as("b_rn"))
    val e2a = ha.join(hb,
        col("b_rn") === pmod(col("a_rn"), col("hcnt")) + 1 &&
          col("b_rn") =!= col("a_rn"))
      .select(col("a_hub").as("src"), col("b_hub").as("dst"))
    val e2b = ha.join(hb,
        col("b_rn") === pmod(col("a_rn") * 2, col("hcnt")) + 1 &&
          col("b_rn") =!= col("a_rn"))
      .select(col("a_hub").as("src"), col("b_hub").as("dst"))
    val e3 = cust.join(hubs, col("c_nationkey") === col("nk"))
      .where(pmod(col("c_custkey"), lit(7)) === 0 &&
        col("c_custkey") =!= col("hub"))
      .select(col("hub").as("src"), col("c_custkey").as("dst"))
    e1.union(e2a).union(e2b).union(e3).distinct()
  }

  /** ONE DuckDB replay of the [[sccHubEdges]] graph's exact SCC truth —
    * recursive reachability closure + mutual-pair min, no FW-BW logic
    * shared with the engine — as CTEs `e` (the distinct edge set) and
    * `lab(node, scc)`, shared by gr_scc and gr_scc_condense so the
    * labels the condensation folds over cannot drift from the detected
    * ones. `finalSelect` is the fold. */
  def sccOracleSql(finalSelect: String): String =
    s"""WITH RECURSIVE hubs AS MATERIALIZED (
       |  SELECT c_nationkey AS nk, min(c_custkey) AS hub
       |  FROM customer GROUP BY 1),
       |hr AS MATERIALIZED (
       |  SELECT hub, row_number() OVER (ORDER BY nk) AS rn,
       |    count(*) OVER () AS hcnt FROM hubs),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT c.c_custkey AS src, h.hub AS dst
       |    FROM customer c JOIN hubs h ON c.c_nationkey = h.nk
       |    WHERE c.c_custkey <> h.hub
       |    UNION ALL
       |    SELECT a.hub, b.hub FROM hr a JOIN hr b
       |      ON b.rn = (a.rn % a.hcnt) + 1 AND b.rn <> a.rn
       |    UNION ALL
       |    SELECT a.hub, b.hub FROM hr a JOIN hr b
       |      ON b.rn = ((2 * a.rn) % a.hcnt) + 1 AND b.rn <> a.rn
       |    UNION ALL
       |    SELECT h.hub, c.c_custkey
       |    FROM customer c JOIN hubs h ON c.c_nationkey = h.nk
       |    WHERE c.c_custkey % 7 = 0 AND c.c_custkey <> h.hub)),
       |walk(s, d) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT w.s, e2.dst FROM walk w JOIN e e2 ON e2.src = w.d),
       |nodes AS MATERIALIZED (
       |  SELECT src AS node FROM e UNION SELECT dst FROM e),
       |mut AS MATERIALIZED (
       |  SELECT a.s AS u, a.d AS v FROM walk a
       |  JOIN walk b ON a.s = b.d AND a.d = b.s),
       |lab AS MATERIALIZED (
       |  SELECT n.node, least(n.node, coalesce(min(m.u), n.node)) AS scc
       |  FROM nodes n LEFT JOIN mut m ON m.v = n.node
       |  GROUP BY n.node)
       |$finalSelect""".stripMargin

  case class Q(name: String,
                       fn: (SparkSession, String) => DataFrame,
                       oracle: Option[String])

  // =================================================================
  // §2.1 scans / sinks
  // =================================================================

  def toksSqlFrom(rel: String): String =
    s"""SELECT doc_id AS id, text,
       |  list_filter(string_split(trim(regexp_replace(lower(text),
       |    '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0) AS tk
       |FROM $rel""".stripMargin
  val toksSql = toksSqlFrom("documents")

  /** DuckDB fragment: distinct word 3-gram shingles (mirrors Dedup.shingles). */
  def shinglesSqlFrom(rel: String): String =
    s"""SELECT id, CASE WHEN len(tk) < 3
       |  THEN list_distinct([array_to_string(tk, ' ')])
       |  ELSE list_distinct(list_transform(range(0, len(tk) - 2),
       |    i -> array_to_string(tk[i+1:i+3], ' '))) END AS sh
       |FROM (${toksSqlFrom(rel)})""".stripMargin
  val shinglesSql = shinglesSqlFrom("documents")

  /** DuckDB Gopher-feature CTE chain over `rel(id, text, tk)`, ending in
    * `gf(doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha_words,
    * stop_hits, frac_bullet_lines, frac_ellipsis_lines)` — mirrors
    * TextAnalysis.gopherKernel. Shared by ta_gopher_rules and
    * pipe_c4_corpus so the rule SQL cannot drift between rows. */
  def gopherCtes(rel: String): String = {
    val stops = TextAnalysis.gopherStops.map(w => s"'$w'").mkString(", ")
    val ws = "[ \\t\\n\\r\\f\\x0B]"
    val wsNoNl = "[ \\t\\r\\f\\x0B]"
    s"""gfx AS (
       |  SELECT id AS doc_id, text, tk,
       |    list_filter(string_split(regexp_replace(text, '$ws+', ' ', 'g'),
       |      ' '), w_ -> len(w_) > 0) AS words,
       |    string_split(text, chr(10)) AS lines
       |  FROM $rel),
       |gf AS (
       |  SELECT doc_id,
       |    len(words)::BIGINT AS n_words,
       |    round(CASE WHEN len(words) = 0 THEN 0.0 ELSE
       |      ${foldSql("list_transform(words, w_ -> len(w_)::DOUBLE)")} /
       |      len(words) END, 6) AS mean_word_len,
       |    round(CASE WHEN len(words) = 0 THEN 0.0 ELSE (
       |      (length(text) - length(replace(text, '#', ''))) +
       |      (length(text) - length(replace(text, '…', ''))) +
       |      ((length(text) - length(replace(text, '...', ''))) // 3)
       |      )::DOUBLE / len(words) END, 6) AS symbol_ratio,
       |    round(CASE WHEN len(words) = 0 THEN 0.0 ELSE
       |      len(list_filter(words, w_ -> regexp_matches(w_, '[a-zA-Z]')))
       |      ::DOUBLE / len(words) END, 6) AS frac_alpha_words,
       |    len(list_intersect(tk, [$stops]))::BIGINT AS stop_hits,
       |    round(len(list_filter(lines, l_ ->
       |      regexp_matches(l_, '^$wsNoNl*[-*•]')))::DOUBLE / len(lines), 6)
       |      AS frac_bullet_lines,
       |    round(len(list_filter(lines, l_ ->
       |      regexp_matches(l_, '(\\.\\.\\.|…)$wsNoNl*$$')))::DOUBLE /
       |      len(lines), 6) AS frac_ellipsis_lines
       |  FROM gfx)""".stripMargin
  }

  /** The Gopher keep conjunction over gf's columns (thresholds from Rae
    * et al. 2021 Table A1; word-count floor and required-stopword count
    * parameterized like Pipelines.buildC4Corpus). */
  def gopherKeepSql(minWords: Int, minStopHits: Int): String =
    s"""(n_words >= $minWords AND n_words <= 100000 AND
       |   mean_word_len >= 3e0 AND mean_word_len <= 1e1 AND
       |   symbol_ratio < 1e-1 AND frac_alpha_words >= 8e-1 AND
       |   stop_hits >= $minStopHits AND frac_bullet_lines < 9e-1 AND
       |   frac_ellipsis_lines < 3e-1)""".stripMargin

  /** DuckDB replay of the 4-token-line synthesis + Dedup.lineDedup
    * (minLen=10, maxLines=2^20) over the documents table, ending in
    * `lined_docs(doc_id, text, n_lines, n_dropped)` — shared by
    * dd_line_dedup and pipe_c4_corpus so the line-dedup SQL cannot
    * drift between rows. */
  def lineDedupCtes: String =
    s"""ldt AS ($toksSql),
       |ldl AS (
       |  SELECT id AS doc_id, i::BIGINT AS line_no,
       |    array_to_string(tk[i*4+1:i*4+4], ' ') AS line
       |  FROM ldt, range(0, 100) AS r(i)
       |  WHERE i < greatest(CAST(ceil(len(tk) / 4e0) AS BIGINT), 1)),
       |ldk AS (SELECT doc_id, line_no, line,
       |      doc_id * 1048576 + line_no AS k FROM ldl),
       |ldf AS (SELECT line, min(k) AS first_k FROM ldk
       |        WHERE length(line) >= 10 GROUP BY line),
       |ldg AS (SELECT ldk.doc_id, ldk.line_no, ldk.line,
       |      (first_k IS NULL OR first_k = ldk.k) AS keep
       |      FROM ldk LEFT JOIN ldf USING (line)),
       |lined_docs AS (
       |  SELECT doc_id,
       |    coalesce(array_to_string(list(line ORDER BY line_no)
       |      FILTER (WHERE keep), chr(10)), '') AS text,
       |    count(*)::BIGINT AS n_lines,
       |    sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped
       |  FROM ldg GROUP BY doc_id)""".stripMargin

  /** DuckDB composite-quality-score expression over (text, token-list)
    * refs — mirrors TextAnalysis.qualityScore exactly (shared by ta_quality
    * and the corpus-cleaning pipeline oracle). */
  def qualitySql(text: String, tk: String): String = {
    val stop = TextAnalysis.markers("en").map(w => s"'$w'").mkString(", ")
    s"""round(greatest(0e0,
       |    least(len($tk)::DOUBLE / 50.0, 1e0) * 0.4 +
       |    least(round(CASE WHEN len($tk) = 0 THEN 0.0 ELSE
       |      len(list_filter($tk, x_ -> list_contains([$stop], x_)))::DOUBLE /
       |      len($tk) END, 6) * 5.0, 1e0) * 0.4 +
       |    (1e0 - least((round(CASE WHEN length($text) = 0 THEN 0.0 ELSE
       |      (length($text) - length(regexp_replace($text, '[\\.,;:!\\?]', '', 'g')))
       |      ::DOUBLE / length($text) END, 6) +
       |      round(CASE WHEN length($text) = 0 THEN 0.0 ELSE
       |      (length($text) - length(regexp_replace($text, '[0-9]', '', 'g')))
       |      ::DOUBLE / length($text) END, 6)) * 5.0, 1e0)) * 0.2), 6)"""
      .stripMargin
  }

  /** DuckDB language-ID CASE chain over a token-list ref — mirrors
    * TextAnalysis.langId. */
  def langIdCaseSql(tk: String): String = {
    val langs = TextAnalysis.markers.keys.toSeq.sorted
    def hits(l: String) = {
      val arr = TextAnalysis.markers(l).map(w => s"'$w'").mkString(", ")
      s"len(list_intersect($tk, [$arr]))"
    }
    val chain = langs.map { l =>
      val isMax = langs.filter(_ != l).map(o => s"${hits(l)} >= ${hits(o)}")
        .mkString(" AND ")
      s"WHEN $isMax AND ${hits(l)} > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $chain ELSE 'und' END"
  }

  /** Deterministic HTML page render for the html-extraction rows: wraps a
    * document's text in the boilerplate a real crawl carries — nav bar,
    * ad unit, title/heading chrome, footer, script/style/comment noise
    * (including a `<div>` inside the script and a bare `<` in its code,
    * which a naive tag-strip would mangle) — with the content
    * entity-escaped and split across two `<p>` blocks. BOTH engines
    * synthesize AND extract independently from the raw documents table,
    * so the oracle checks the whole extraction pipeline, not a replay. */
  def synthHtmlCol(docId: Column, text: Column): Column = {
    val esc = replace(replace(replace(text,
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    concat(
      lit("<html><head><title>Doc "), docId.cast("string"), lit("</title>"),
      lit("<style>p { margin: 0; } .x > y { color: red; }</style>"),
      lit("<script>if (a < b) { track(\"page\"); } // <div>skip me</div></script>"),
      lit("</head><body>"),
      lit("<nav><a href=\"/\">home</a> <a href=\"/about\">about us</a>" +
        " <a href=\"/contact\">contact</a></nav>"),
      lit("<h1>Entry "), docId.cast("string"), lit("</h1>"),
      lit("<!-- build "), docId.cast("string"), lit(" -->"),
      lit("<p>"), substring(esc, 1, 120), lit("</p><p>"),
      substring(esc, 121, 1000000), lit("</p>"),
      lit("<div class=\"ad\"><a href=\"/buy\">buy now before the offer" +
        " expires</a>&nbsp;today</div>"),
      lit("<footer>&copy; 2026 corpus&nbsp;&amp;&nbsp;co</footer>"),
      lit("</body></html>"))
  }

  /** The DuckDB render of [[synthHtmlCol]] over `documents` columns. */
  val synthHtmlSql: String = {
    val esc =
      "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    s"""'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>' ||
       |'<style>p { margin: 0; } .x > y { color: red; }</style>' ||
       |'<script>if (a < b) { track("page"); } // <div>skip me</div></script>' ||
       |'</head><body>' ||
       |'<nav><a href="/">home</a> <a href="/about">about us</a> <a href="/contact">contact</a></nav>' ||
       |'<h1>Entry ' || CAST(doc_id AS VARCHAR) || '</h1>' ||
       |'<!-- build ' || CAST(doc_id AS VARCHAR) || ' -->' ||
       |'<p>' || substr($esc, 1, 120) || '</p><p>' || substr($esc, 121, 1000000) || '</p>' ||
       |'<div class="ad"><a href="/buy">buy now before the offer expires</a>&nbsp;today</div>' ||
       |'<footer>&copy; 2026 corpus&nbsp;&amp;&nbsp;co</footer>' ||
       |'</body></html>'""".stripMargin
  }

  /** DuckDB replay of [[TextAnalysis.htmlExtract]]: the identical regex
    * spec (script/style/comment strip, block split, tag strip + entity
    * decode + whitespace collapse, `len >= minLen` and
    * `2*linkLen < textLen` keep rules) in RE2/list functions. */
  def htmlExtractSql(c: String, minLen: Int = 25): String = {
    val stripped =
      s"""regexp_replace(regexp_replace(regexp_replace($c,
         |  '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |  '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |  '(?s)<!--.*?-->', ' ', 'g')""".stripMargin
    // explicit whitespace class: Java \s includes \x0B, RE2's does not
    def btxt(b: String) =
      s"""trim(regexp_replace(replace(replace(replace(replace(
         |  regexp_replace($b, '<[^>]*>', ' ', 'g'),
         |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&amp;', '&'),
         |  '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))""".stripMargin
    // coalesce: DuckDB's array_to_string is NULL on an empty list where
    // Spark's array_join is '' — an anchor-free block must score ll=0.
    val link =
      s"coalesce(array_to_string(regexp_extract_all(b_, '(?is)<a[^>]*>(.*?)</a>', 1), ' '), '')"
    s"""coalesce(array_to_string(list_transform(list_filter(
       |  regexp_split_to_array($stripped, '${TextAnalysis.HtmlBlockPattern}'),
       |  b_ -> length(${btxt("b_")}) >= $minLen
       |    AND length(${btxt(link)}) * 2 < length(${btxt("b_")})),
       |  b_ -> ${btxt("b_")}), chr(10)), '')""".stripMargin
  }

  /** DuckDB: md5-derived 32-bit hash under a seed (mirrors Dedup.md5Hash32). */
  def h32Sql(expr: String, seed: String) =
    s"('0x' || substr(md5(CAST($seed AS VARCHAR) || ':' || $expr), 1, 8))::BIGINT"

  /** DuckDB replay of `Dedup.minHashIndex(rel, "doc_id", "text",
    * shingleN=3, bands=8, rowsPerBand=2)` as a CTE chain `sh -> h1 ->
    * sig -> banded(id, sig, band, bucket)` — the ONE copy of the
    * MinHash banding SQL. Shared (via [[minhashBandedSql]] over
    * `documents`) by dd_minhash_lsh, dd_incremental(+bucketed),
    * st_dedup_index, st_compact_probe, dd_cluster_keep,
    * dd_ngram_jaccard, and dd_blocking_quality, and (via
    * [[lshDropsSqlFrom]]) by the corpus pipelines, so the banding SQL
    * cannot drift between rows. */
  def minhashBandedSqlFrom(rel: String): String =
    s"""sh AS (${shinglesSqlFrom(rel)}),
       |h1 AS (
       |  SELECT id, list_transform(sh, s -> ${h32Sql("s", "0")}) AS h1
       |  FROM sh),
       |sig AS (
       |  SELECT id, list_transform(range(0, 16), i ->
       |    list_min(list_transform(h1,
       |      h -> (h * (i * 2 + 3) + i * 12582917) % 4294967291))) AS sig
       |  FROM h1),
       |banded AS (
       |  SELECT id, sig, b AS band,
       |    md5(b::VARCHAR || '_' || sig[b*2+1]::VARCHAR || '_' ||
       |      sig[b*2+2]::VARCHAR) AS bucket
       |  FROM sig, (SELECT unnest(range(0, 8)) AS b))""".stripMargin
  val minhashBandedSql = minhashBandedSqlFrom("documents")

  /** DuckDB replay of connected components over the verified MinHash
    * near-dup pairs (simThreshold = 0.5): CTEs `cand -> pairs -> sym ->
    * reach -> comp(node, component = min reachable id)`, continuing
    * from [[minhashBandedSqlFrom]]'s `banded` under WITH RECURSIVE —
    * ONE copy shared by dd_cluster_keep and ds_split_leakage so the
    * component SQL cannot drift between the dedup and the split. */
  def lshComponentsSql: String =
    s"""cand AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       |    a.sig AS a_sig, b.sig AS b_sig
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |pairs AS (
       |  SELECT a_id, b_id FROM cand
       |  WHERE list_sum(list_transform(range(1, 17), i ->
       |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
       |    >= 0.5),
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
       |         FROM reach GROUP BY u)""".stripMargin

  /** DuckDB replay of `Dedup.minHashLSH(rel, "doc_id", "text", shingleN=3,
    * bands=8, rowsPerBand=2, simThreshold=0.5)` as a CTE chain ending in
    * `drops(b_id)` — the higher id of every verified near-dup pair.
    * Shared by the corpus-pipeline oracles so the LSH SQL cannot drift
    * between pipe_clean_corpus, pipe_training_corpus, and
    * pipe_html_corpus. */
  def lshDropsSqlFrom(rel: String): String =
    s"""${minhashBandedSqlFrom(rel)},
       |pairs AS (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id,
       |    a.sig AS a_sig, b.sig AS b_sig
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
       |drops AS (
       |  SELECT DISTINCT b_id FROM pairs
       |  WHERE list_sum(list_transform(range(1, 17), i ->
       |    CASE WHEN a_sig[i] = b_sig[i] THEN 1 ELSE 0 END))::DOUBLE / 16
       |    >= 0.5)""".stripMargin

  /** DuckDB: sequential double fold of a list (mirrors Spark `aggregate`). */
  def foldSql(listExpr: String) =
    s"list_reduce(list_prepend(0e0, $listExpr), (acc_, x_) -> acc_ + x_)"

  /** DuckDB: cosine of two FLOAT[] columns in double, sequential sums. */
  def cosSql(a: String, b: String) = {
    val dot = foldSql(s"list_transform(range(0, 64), d -> $a[d+1]::DOUBLE * $b[d+1]::DOUBLE)")
    val na = s"sqrt(${foldSql(s"list_transform(range(0, 64), d -> $a[d+1]::DOUBLE * $a[d+1]::DOUBLE)")})"
    val nb = s"sqrt(${foldSql(s"list_transform(range(0, 64), d -> $b[d+1]::DOUBLE * $b[d+1]::DOUBLE)")})"
    s"CASE WHEN $na = 0 OR $nb = 0 THEN 0.0 ELSE $dot / ($na * $nb) END"
  }

  /** 4-token-per-line re-rendering of the documents table — the
    * multi-line corpus behind dd_line_dedup and pipe_c4_corpus (both
    * engines synthesize independently, the htmlPage precedent). The
    * token array materializes ONCE per row before the per-chunk lambda —
    * the SCALE.md HOF rule: slicing an unmaterialized tokens(text)
    * expression re-runs the regex+split per chunk (measured 7.12 ->
    * 4.41 s at sf0.1 for dd_line_dedup). */
  def linedDocs(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tk = col("tk")
    val nCh = ceil(size(tk).cast("double") / 4.0).cast("int")
    t(s, dir, "documents")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        array_join(transform(
          sequence(lit(0), greatest(nCh, lit(1)) - 1),
          i => concat_ws(" ", slice(tk, i * lit(4) + 1, lit(4)))), "\n")
          .as("text"))
  }

  /** The image-corpus render behind `pipe_image_dedup` (its pair counts
    * at sf1 and sf3: SCALE.md, "Round-6 probe"): one tiny image per doc in
    * three real container formats, where ids 2g/2g+1 form a near-dup pair
    * (a single +1 on the corner pixel). */
  def imageCorpus(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val spark = s
    import spark.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val g = id / 2
        val v = (id % 2).toInt
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
  }

  def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue

  /** DuckDB double literal via string cast — decimal-literal-safe. */
  def dLit(v: Double): String = s"'$v'::DOUBLE"

  /** Pinned inputs for t3: one group with a 6-strong near-dup family plus
    * distinct shorter texts (greedy must keep 1 family rep + 2 distinct),
    * one singleton group. */
  lazy val t3Docs: Seq[(String, String)] = {
    val family = (1 to 6).map(i =>
      s"the grand hotel by the river offers fine rooms and views v$i")
    val distinct = Seq(
      "a completely different museum of modern art",
      "quiet garden cafe serving breakfast daily",
      "night market with street food stalls",
      "tiny bookshop near the square")
    (family ++ distinct).map(("g1", _)) ++
      Seq(("g2", "only one text in this group"))
  }

  /** The reference's sequential greedy (`etl/reviews_jsonl.py:316-325`),
    * identical ordering/threshold semantics to TopKDistinct. */
  def refTopKGreedy(texts: Seq[String], k: Int, thr: Double,
                            maxLen: Int): Seq[String] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    val cands = texts
      .map(t => if (t == null) "" else if (t.length > maxLen) t.substring(0, maxLen) else t)
      .filter(_.nonEmpty).sortBy(s => (-s.length, s))
    for (c <- cands if kept.size < k)
      if (kept.forall(p => TextFunctions.tokenSetRatio(c, p) < thr))
        kept += c
    kept.toSeq
  }

  // =================================================================
  // Coverage-completion queries (P7, F2/F14/F15/F21, J7, A11, G6, ANN-LSH)
  // =================================================================

  /** DuckDB replay of IVF top-k under the registry's fixed 16-centroid
    * model (queries vec_id<5, model 5..20, corpus >=21, nProbe=2, k=5)
    * — ONE oracle for ann_ivf_topk and ann_ivf_indexed: the standing
    * index changes the at-rest layout (cell-partitioned files, pruned
    * scan), not the answer, and the shared SQL pins that contract. */
  def ivfTopKOracleSql: String =
    s"""WITH cent AS (SELECT vec_id AS cent_id, embedding AS cent_v
       |             FROM embeddings WHERE vec_id >= 5 AND vec_id < 21),
       |c AS (SELECT vec_id AS c_id, embedding AS c_v FROM embeddings
       |      WHERE vec_id >= 21),
       |q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
       |      WHERE vec_id < 5),
       |cells AS (
       |  SELECT c_id, c_v, cent_id FROM (
       |    SELECT c.c_id, c.c_v, cent.cent_id,
       |      row_number() OVER (PARTITION BY c.c_id
       |        ORDER BY ${cosSql("c_v", "cent_v")} DESC, cent_id ASC)
       |        AS rn
       |    FROM c CROSS JOIN cent) WHERE rn = 1),
       |probes AS (
       |  SELECT q_id, q_v, cent_id FROM (
       |    SELECT q.q_id, q.q_v, cent.cent_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q_v", "cent_v")} DESC, cent_id ASC)
       |        AS rn
       |    FROM q CROSS JOIN cent) WHERE rn <= 2),
       |cand AS (
       |  SELECT probes.q_id, cells.c_id,
       |    ${cosSql("c_v", "q_v")} AS cosine
       |  FROM probes JOIN cells ON probes.cent_id = cells.cent_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |  ORDER BY cosine DESC, c_id ASC) AS rank FROM cand)
       |SELECT q_id, c_id, round(cosine, 6) AS cosine,
       |  CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** The deterministic Lloyd k-means replay (k=8 seeded from the 8
    * smallest vec_ids, 2 iterations, squared-euclidean assignment) as a
    * CTE chain ending in `a2(vec_id, v, cid)` — shared by the SemDedup
    * family's oracles so the clustering SQL cannot drift between the
    * dedup row, the guarded row, and the oversized audit. */
  def kmeansA2Sql(): String = {
    def sq(a: String, b: String) = foldSql(
      s"list_transform(range(0, 64), d_ -> ($a[d_+1] - $b[d_+1]) * ($a[d_+1] - $b[d_+1]))")
    s"""v AS (SELECT vec_id,
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
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT v.vec_id, v.v, c1.cid, row_number() OVER (
       |      PARTITION BY v.vec_id
       |      ORDER BY ${sq("v.v", "c1.cv")} ASC, c1.cid ASC) AS rn
       |    FROM v CROSS JOIN c1) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB replay of `Similarity.pqTopK(m=4, kc=4, iters=2)` over the
    * registry fixture (corpus vec_id>=21, queries vec_id<5, k=5): per
    * subspace a seed -> assign -> mean (empty code keeps its seed) ->
    * encode chain, then the ADC sum in subspace order and a rank by
    * (adist asc, c_id asc). Double arithmetic matches the JVM kernels:
    * each subspace distance is a sequential fold and subspaces add
    * left-to-right. */
  // final + literal => compile-time constants, safe to reference from
  // the queries val however the object initializes
  final val PqM = 4
  final val PqSub = 16
  final val PqKc = 4

  def pqSq(a: String, b: String) = foldSql(
    s"list_transform(range(0, $PqSub), d_ -> ($a[d_+1] - $b[d_+1]) * ($a[d_+1] - $b[d_+1]))")

  /** The per-subspace PQ training+encode CTE chains over `rel(vec_id,
    * v)` (v a 64-double list): seeds sd\$s -> assign a\$s -> means m\$s
    * (empty code keeps its seed) -> codebook c\$s -> encode e\$s(vec_id,
    * cv). Shared by the flat-PQ and IVF-PQ oracles. */
  def pqChainsSql(rel: String): String =
    (0 until PqM).map { s =>
      val lo = s * PqSub
      val sl = s"v[${lo + 1}:${lo + PqSub}]"
      s"""sd$s AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, cv
         |  FROM (SELECT vec_id, $sl AS cv FROM $rel
         |        ORDER BY vec_id LIMIT $PqKc)),
         |a$s AS (
         |  SELECT vec_id, sv, code FROM (
         |    SELECT r.vec_id, r.$sl AS sv, sd.code,
         |      row_number() OVER (PARTITION BY r.vec_id
         |        ORDER BY ${pqSq(s"r.$sl", "sd.cv")} ASC, sd.code ASC) AS rn
         |    FROM $rel r CROSS JOIN sd$s sd) WHERE rn = 1),
         |m$s AS (
         |  SELECT code, list(mu ORDER BY d) AS cv FROM (
         |    SELECT a.code, d.d, avg(a.sv[d.d+1]) AS mu
         |    FROM a$s a, range(0, $PqSub) AS d(d)
         |    GROUP BY a.code, d.d) GROUP BY code),
         |c$s AS (
         |  SELECT sd.code, coalesce(m.cv, sd.cv) AS cv
         |  FROM sd$s sd LEFT JOIN m$s m ON sd.code = m.code),
         |e$s AS (
         |  SELECT vec_id, cv FROM (
         |    SELECT r.vec_id, cc.cv,
         |      row_number() OVER (PARTITION BY r.vec_id
         |        ORDER BY ${pqSq(s"r.$sl", "cc.cv")} ASC, cc.code ASC) AS rn
         |    FROM $rel r CROSS JOIN c$s cc) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  def pqEncJoins: String = (1 until PqM)
    .map(s => s"JOIN e$s ON e$s.vec_id = e0.vec_id").mkString(" ")

  /** DuckDB replay of `Similarity.pqTopK(m=4, kc=4, iters=2)` over the
    * registry fixture (corpus vec_id>=21, queries vec_id<5, k=5). */
  def pqTopKSql(): String = {
    val dsum = (0 until PqM).map { s =>
      val lo = s * PqSub
      s"(${pqSq(s"q.v[${lo + 1}:${lo + PqSub}]", s"e$s.cv")})"
    }.mkString(" + ")
    s"""WITH vv AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |c AS (SELECT * FROM vv WHERE vec_id >= 21),
       |q AS (SELECT * FROM vv WHERE vec_id < 5),
       |${pqChainsSql("c")},
       |adc AS (
       |  SELECT q.vec_id AS q_id, e0.vec_id AS c_id,
       |    $dsum AS adist
       |  FROM q CROSS JOIN e0 $pqEncJoins),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |  ORDER BY adist ASC, c_id ASC) AS rank FROM adc)
       |SELECT q_id, c_id, floor(adist * 1e6 + 5e-1) / 1e6 AS adist,
       |  CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** DuckDB replay of `Similarity.ivfPqTopK(nProbe=2, m=4, kc=4,
    * iters=2)` over the registry fixture: cosine cell routing, residual
    * computation, the shared PQ chains over the residual frame, per-
    * (query, cell) query residuals, and the cell-restricted ADC. */
  def ivfPqTopKSql(): String =
    s"""WITH ${ivfPqRankedCtes()}
       |SELECT q_id, c_id, floor(adist * 1e6 + 5e-1) / 1e6 AS adist,
       |  CAST(rank AS INT) AS rank
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** DuckDB replay of `Similarity.ivfPqRerank(k=5, shortlist=15)`: the
    * shared ADC chain ranks the quantized scan, the top-15 shortlist
    * joins back to the RAW corpus vectors, and exact cosine re-ranks —
    * the same shortlist-then-exact shape as the SQ8 oracle. */
  def ivfPqRerankSql(): String =
    s"""WITH ${ivfPqRankedCtes()},
       |cand AS (SELECT q_id, c_id FROM ranked WHERE rank <= 15),
       |exact AS (
       |  SELECT cand.q_id, cand.c_id, ${cosSql("c.v", "q.v")} AS cosine,
       |    row_number() OVER (PARTITION BY cand.q_id
       |      ORDER BY ${cosSql("c.v", "q.v")} DESC, cand.c_id ASC) AS rank
       |  FROM cand JOIN c ON c.vec_id = cand.c_id
       |            JOIN q ON q.vec_id = cand.q_id)
       |SELECT q_id, c_id, round(cosine, 6) AS cosine,
       |  CAST(rank AS INT) AS rank
       |FROM exact WHERE rank <= 5""".stripMargin

  /** The IVF-PQ ADC chain CTE body (through `ranked`) shared by the
    * direct top-k and rerank oracles — one SQL spec, two consumers, so
    * the shortlist stage cannot drift from the scored stage. */
  def ivfPqRankedCtes(): String = {
    val dsum = (0 until PqM).map { s =>
      val lo = s * PqSub
      s"(${pqSq(s"p.qr[${lo + 1}:${lo + PqSub}]", s"e$s.cv")})"
    }.mkString(" + ")
    s"""vv AS (SELECT vec_id,
       |  list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
       |c AS (SELECT * FROM vv WHERE vec_id >= 21),
       |q AS (SELECT * FROM vv WHERE vec_id < 5),
       |cent AS (SELECT vec_id AS cell, v AS cv FROM vv
       |         WHERE vec_id >= 5 AND vec_id < 21),
       |cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT c.vec_id, cent.cell,
       |      row_number() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${cosSql("c.v", "cent.cv")} DESC, cent.cell ASC)
       |        AS rn
       |    FROM c CROSS JOIN cent) WHERE rn = 1),
       |res AS (
       |  SELECT c.vec_id, cells.cell,
       |    list_transform(range(0, 64), d -> c.v[d+1] - cent.cv[d+1]) AS v
       |  FROM c JOIN cells USING (vec_id) JOIN cent USING (cell)),
       |${pqChainsSql("res")},
       |probes AS (
       |  SELECT q_id, cell, qr FROM (
       |    SELECT q.vec_id AS q_id, cent.cell,
       |      list_transform(range(0, 64), d -> q.v[d+1] - cent.cv[d+1])
       |        AS qr,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.v", "cent.cv")} DESC, cent.cell ASC)
       |        AS rn
       |    FROM q CROSS JOIN cent) WHERE rn <= 2),
       |adc AS (
       |  SELECT p.q_id, e0.vec_id AS c_id, $dsum AS adist
       |  FROM probes p
       |  JOIN res ON res.cell = p.cell
       |  JOIN e0 ON e0.vec_id = res.vec_id $pqEncJoins),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |  ORDER BY adist ASC, c_id ASC) AS rank FROM adc)""".stripMargin
  }

  /** DuckDB SRP bucket expression for LSH table `t` over vector column
    * `v` — unrolled to mirror Similarity.lshTopK exactly (planeId =
    * p + t*numPlanes, md5-derived +-1 coefficients, 2^p bit packing). */
  def srpBucketSql(v: String, t: Int, numPlanes: Int): String = {
    val bits = (0 until numPlanes).map { p =>
      val pid = p + t * numPlanes
      val sign = s"""(CASE WHEN ('0x' || substr(md5('$pid:' || d::VARCHAR), 1, 8))
                    |::BIGINT % 2 = 0 THEN 1e0 ELSE -1e0 END)""".stripMargin
      val dot = foldSql(
        s"list_transform(range(0, 64), d -> $v[d+1]::DOUBLE * $sign)")
      s"(CASE WHEN $dot > 0 THEN ${1L << p} ELSE 0 END)"
    }
    s"(${t.toLong * (1L << 40)} + ${bits.mkString(" + ")})"
  }

  /** Shared partsupp PROXY for the TPC-H q2/q11/q16/q20 shapes: the
    * corpus has no partsupp table (the q9 precedent,
    * `/root/reference` ships none either), so the part-supplier
    * relation is the DISTINCT (l_partkey, l_suppkey) pairs observed in
    * lineitem, and supply cost (integer cents, 1.00..10.00) and
    * available quantity (units, 100..10000) are deterministic integer
    * functions of the key pair — identical modular arithmetic in Spark
    * and DuckDB, all operands positive so `%` sign rules cannot
    * diverge. One string feeds BOTH engines. */
  val psProxySql: String =
    """WITH ps AS (SELECT DISTINCT l_partkey AS ps_partkey,
      |                            l_suppkey AS ps_suppkey FROM lineitem),
      |psc AS (SELECT ps_partkey, ps_suppkey,
      |        CAST((ps_partkey * 31 + ps_suppkey * 7) % 901 + 100
      |          AS BIGINT) AS cost2,
      |        CAST((ps_partkey * 17 + ps_suppkey * 13) % 9901 + 100
      |          AS BIGINT) AS availqty
      |        FROM ps)""".stripMargin

  val q2Sql: String = psProxySql +
    """
      |, eur AS (
      |  SELECT psc.*, s_name, s_acctbal, n_name FROM psc
      |  JOIN supplier ON s_suppkey = ps_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  WHERE r_name = 'EUROPE')
      |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
      |       CAST(cost2 AS DOUBLE) / 1e2 AS supplycost
      |FROM eur JOIN part ON p_partkey = ps_partkey
      |JOIN (SELECT ps_partkey AS mpk, min(cost2) AS mc
      |      FROM eur GROUP BY ps_partkey) m
      |  ON mpk = ps_partkey AND cost2 = mc
      |WHERE p_size = 23 AND p_type = 'LARGE'""".stripMargin

  val q11Sql: String = psProxySql +
    """
      |, val AS (
      |  SELECT ps_partkey, sum(cost2 * availqty) AS v2
      |  FROM psc JOIN supplier ON s_suppkey = ps_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name IN ('NATION_7', 'NATION_8')
      |  GROUP BY ps_partkey),
      |tot AS (SELECT sum(v2) AS t2 FROM val)
      |SELECT ps_partkey, CAST(v2 AS DOUBLE) / 1e2 AS value
      |FROM val CROSS JOIN tot WHERE v2 * 1000 > t2""".stripMargin

  val q12Sql: String =
    """SELECT CASE (l_orderkey * 7 + l_linenumber) % 3
      |         WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' ELSE 'TRUCK'
      |       END AS shipmode,
      |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1""".stripMargin

  val q15Sql: String =
    """WITH rev AS (
      |  SELECT l_suppkey AS supplier_no,
      |         sum(CAST(floor(l_extendedprice * (1e0 - l_discount) * 1e4
      |           + 5e-1) AS BIGINT)) AS total4
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1997-04-01'
      |  GROUP BY l_suppkey),
      |mx AS (SELECT max(total4) AS m4 FROM rev)
      |SELECT s_suppkey, s_name,
      |       floor(CAST(total4 AS DOUBLE) / 1e2 + 5e-1) / 1e2
      |         AS total_revenue
      |FROM rev CROSS JOIN mx
      |JOIN supplier ON s_suppkey = supplier_no
      |WHERE total4 = m4""".stripMargin

  val q16Sql: String = psProxySql +
    """
      |SELECT p_brand, p_type, p_size,
      |       count(DISTINCT ps_suppkey) AS supplier_cnt
      |FROM psc JOIN part ON p_partkey = ps_partkey
      |WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 12, 17, 23, 27, 33, 42, 50)
      |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                         WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size""".stripMargin

  val q20Sql: String = psProxySql +
    """
      |, shipped AS (
      |  SELECT l_partkey AS sp, l_suppkey AS ss,
      |         sum(CAST(l_quantity AS BIGINT)) AS sq
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01'
      |  GROUP BY 1, 2)
      |SELECT DISTINCT s_name, n_name
      |FROM psc JOIN part ON p_partkey = ps_partkey
      |JOIN shipped ON sp = ps_partkey AND ss = ps_suppkey
      |JOIN supplier ON s_suppkey = ps_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%rod%' AND availqty > sq * 5
      |  AND n_name IN ('NATION_5', 'NATION_6', 'NATION_7')""".stripMargin

  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F' AND n_name IN ('NATION_3', 'NATION_4')
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
      |GROUP BY s_name""".stripMargin

  def xmlUnescSql(e: String): String =
    s"replace(replace(replace(replace(replace($e, '&lt;', '<'), " +
      "'&gt;', '>'), '&quot;', '\"'), '&apos;', ''''), '&amp;', '&')"

  /** DuckDB stemmed-token list mirroring TextFunctions.stemTokens over
    * ASCII input (normText = lower + non-alnum collapse there). */
  def stemSql(expr: String): String =
    s"""list_transform(list_filter(string_split(trim(regexp_replace(
       |  lower($expr), '[^a-z0-9]+', ' ', 'g')), ' '), t_ -> len(t_) >= 3),
       |  t_ -> CASE WHEN t_ LIKE '%ies' AND len(t_) > 4
       |               THEN substr(t_, 1, len(t_) - 3) || 'y'
       |             WHEN t_ LIKE '%es' AND len(t_) > 3
       |               THEN substr(t_, 1, len(t_) - 2)
       |             WHEN t_ LIKE '%s' AND len(t_) > 3
       |               THEN substr(t_, 1, len(t_) - 1)
       |             ELSE t_ END)""".stripMargin

  /** Stop-token SQL list literal (reference _STOP, shared with the Scala
    * kernel so both engines drop the same tokens). */
  def stopListSql: String =
    TextFunctions.StopTokens.toSeq.sorted.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Sorted-content-token join string (reference _has_substring's A/B). */
  def contentJoinSql(expr: String): String =
    s"array_to_string(list_sort(list_distinct(list_filter(${stemSql(expr)}, " +
      s"w_ -> NOT list_contains($stopListSql, w_)))), ' ')"

  /** Test polygon for F12 — spans the customer lattice (lat 40..40.192,
    * lon -75..-74.824), irregular so points land on both sides. */
  lazy val testPolygon: Seq[(Double, Double)] = Seq(
    (40.05, -74.95), (40.12, -74.90), (40.08, -74.82),
    (40.02, -74.85), (40.00, -74.92))

  /** Closed-form oracle for the exact-integer JPEG pixel synthesis —
    * shared by mm_jpeg_decode (baseline) and mm_jpeg_progressive
    * (SOF2): both streams carry the same coefficients, so they decode
    * to identical pixels. */
  val jpegPixelsOracle: Option[String] = Some(
    """WITH dims AS (
             |  SELECT doc_id, CAST(doc_id % 1000 AS INTEGER) AS idi,
             |    CAST(doc_id % 9 + 4 AS INTEGER) AS w,
             |    CAST(doc_id % 7 + 4 AS INTEGER) AS h
             |  FROM documents),
             |px AS (
             |  SELECT doc_id, idi, w, h, x, y,
             |    CAST(x // 8 AS INTEGER) AS bx,
             |    CAST(y // 8 AS INTEGER) AS by,
             |    CASE WHEN (x % 8) IN (0,3,4,7) THEN 1 ELSE -1 END AS sx,
             |    CASE WHEN (y % 8) IN (0,3,4,7) THEN 1 ELSE -1 END AS sy
             |  FROM dims,
             |    (SELECT unnest(range(0, 12)) AS x),
             |    (SELECT unnest(range(0, 10)) AS y)
             |  WHERE x < w AND y < h),
             |ycc AS (
             |  SELECT doc_id, w, h, x, y,
             |    40 + (bx*29 + by*17 + idi*3) % 176
             |      + ((bx + by + idi) % 7 - 3) * sx
             |      + ((2*bx + by + idi) % 5 - 2) * sy
             |      + ((bx + 2*by + idi) % 3 - 1) * sx * sy AS yv,
             |    70 + (13*bx + 7*by + 5*idi) % 116
             |      + ((bx + idi) % 3 - 1) * sx
             |      + ((by + idi) % 3 - 1) * sy AS cb,
             |    70 + (11*bx + 19*by + 7*idi) % 116
             |      + ((by + idi) % 3 - 1) * sx
             |      + ((bx + 2*idi) % 3 - 1) * sy AS cr
             |  FROM px),
             |rgb AS (
             |  SELECT doc_id, w, h, x, y,
             |    LEAST(255, GREATEST(0, CAST(FLOOR(
             |      yv + 1.402e0 * (cr - 128) + 0.5e0) AS INTEGER))) AS r,
             |    LEAST(255, GREATEST(0, CAST(FLOOR(
             |      yv - 0.344136e0 * (cb - 128) - 0.714136e0 * (cr - 128)
             |      + 0.5e0) AS INTEGER))) AS g,
             |    LEAST(255, GREATEST(0, CAST(FLOOR(
             |      yv + 1.772e0 * (cb - 128) + 0.5e0) AS INTEGER))) AS b
             |  FROM ycc),
             |packed AS (
             |  SELECT doc_id, w, h, x, y,
             |    r * 65536 + g * 256 + b AS v
             |  FROM rgb)
             |SELECT doc_id, max(w) AS width, max(h) AS height,
             |  CAST(sum(v) AS BIGINT) AS pix_sum,
             |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN v END)
             |    AS BIGINT) AS px_last,
             |  TRUE AS valid
             |FROM packed GROUP BY doc_id""".stripMargin)

  def bm25FixtureQueries(s: SparkSession, dir: String,
                                 cap: Int = 5000): DataFrame =
    t(s, dir, "documents")
      .where(col("doc_id") % 41 === 0 && col("doc_id") < cap)
      .select(col("doc_id").as("q_id"),
        slice(Dedup.tokens(col("text")), 1, 5).as("q_terms"))
      .where(size(col("q_terms")) > 0)

  /** DuckDB replay of BM25 over the fixture queries, as a CTE chain
    * ending in `ranked(q_id, id, score, rn)` — ONE copy for
    * ir_bm25_topk, ir_bm25_indexed (the standing index changes the
    * physical layout, not the answer) and ir_hybrid_rrf's lexical leg
    * (which caps the query batch at the embedding-covered id range). */
  def bm25RankedCtes(cap: Int): String =
    s"""toks AS ($toksSql),
       |q AS (SELECT id AS q_id, list_distinct(tk[1:5]) AS qts
       |      FROM toks WHERE id % 41 = 0 AND id < $cap
       |        AND len(tk) > 0),
       |qt AS (SELECT DISTINCT q_id, t_ AS term
       |       FROM (SELECT q_id, unnest(qts) AS t_ FROM q)),
       |tf AS (SELECT t_ AS term, id, dl, count(*) AS tf
       |       FROM (SELECT id, len(tk) AS dl, unnest(tk) AS t_
       |             FROM toks)
       |       GROUP BY t_, id, dl),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs,
       |            avg(len(tk)) AS avgdl FROM toks),
       |cand AS (SELECT tf.* FROM tf
       |         WHERE term IN (SELECT DISTINCT term FROM qt)),
       |dfreq AS (SELECT term, count(*) AS df FROM cand GROUP BY term),
       |scored AS (
       |  SELECT qt.q_id, cand.id,
       |    ln(1e0 + (n_docs - df + 5e-1) / (df + 5e-1)) *
       |      (tf * 2.2e0) /
       |      (tf + 1.2e0 * (2.5e-1 + 7.5e-1 * dl / avgdl)) AS part
       |  FROM cand JOIN dfreq USING (term) JOIN qt USING (term),
       |    stats),
       |summed AS (
       |  SELECT q_id, id,
       |    floor(sum(part) * 1e6 + 5e-1) / 1e6 AS score
       |  FROM scored GROUP BY q_id, id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY score DESC, id ASC) AS rn FROM summed)""".stripMargin

  val bm25OracleSql: String =
    s"""WITH ${bm25RankedCtes(5000)}
       |SELECT q_id, id AS doc_id, score, rn::INT AS rank
       |FROM ranked WHERE rn <= 10""".stripMargin

  /** The semantic (exact-cosine) retrieval leg on the embedding-covered
    * id prefix: CTEs `qe, ce, sscored(q_id, c_id, rank)` — shared by
    * ir_hybrid_rrf, ir_eval_ndcg, and pipe_rag_eval. */
  def irSemCtes: String =
    s"""qe AS (SELECT vec_id AS q_id, embedding AS q_v
       |       FROM embeddings WHERE vec_id % 41 = 0 AND vec_id < 500),
       |ce AS (SELECT vec_id AS c_id, embedding AS c_v
       |       FROM embeddings),
       |sscored AS (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
       |    ORDER BY ${cosSql("c_v", "q_v")} DESC, c_id ASC) AS rank
       |  FROM ce CROSS JOIN qe)""".stripMargin

  /** RRF fusion of the lexical (`ranked`, from [[bm25RankedCtes]]) and
    * semantic (`sscored`, from [[irSemCtes]]) legs: CTEs ending in
    * `rk(q_id, doc_id, rrf, n_legs, rk)` — shared by ir_hybrid_rrf and
    * pipe_rag_eval so the fusion SQL cannot drift. */
  def irHybridCtes: String =
    s"""lex AS (SELECT q_id, id AS doc_id, rn AS rank
       |        FROM ranked WHERE rn <= 10),
       |sem AS (SELECT q_id, c_id AS doc_id, rank
       |        FROM sscored WHERE rank <= 10),
       |u AS (SELECT * FROM lex UNION ALL SELECT * FROM sem),
       |fused AS (
       |  SELECT q_id, doc_id,
       |    floor(sum(1e0 / (60 + rank)) * 1e9 + 5e-1) / 1e9 AS rrf,
       |    count(*)::BIGINT AS n_legs
       |  FROM u GROUP BY q_id, doc_id),
       |rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY rrf DESC, doc_id ASC) AS rk FROM fused)""".stripMargin

  /** Graded truth + eval denominators from the semantic leg: CTEs
    * `qr(q_id, doc_id, rel = 11 - rank), pos, ideal(idcg), nrel(n_rel)`
    * — shared by ir_eval_ndcg and pipe_rag_eval. */
  def irTruthEvalCtes: String =
    s"""qr AS (SELECT q_id, c_id AS doc_id, (11 - rank)::DOUBLE AS rel
       |       FROM sscored WHERE rank <= 10),
       |pos AS (SELECT q_id, rel, row_number() OVER (
       |    PARTITION BY q_id ORDER BY rel DESC, doc_id ASC) AS pos
       |  FROM qr WHERE rel > 0),
       |ideal AS (
       |  SELECT q_id, sum((pow(2e0, rel) - 1) / ln(pos + 1)) AS idcg
       |  FROM pos WHERE pos <= 10 GROUP BY q_id),
       |nrel AS (SELECT q_id, count(*)::BIGINT AS n_rel
       |         FROM qr WHERE rel > 0 GROUP BY q_id)""".stripMargin

  /** Per-query eval partials of a (q_id, doc_id, rank) relation against
    * `qr`: CTEs `<p>j, <p>per(q_id, hits, first_rel, dcg)`. */
  def irEvalPerSql(resRel: String, p: String): String =
    s"""${p}j AS (SELECT r.q_id, r.rank, coalesce(qr.rel, 0e0) AS rel
       |      FROM $resRel r LEFT JOIN qr
       |        ON r.q_id = qr.q_id AND r.doc_id = qr.doc_id),
       |${p}per AS (
       |  SELECT q_id,
       |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT AS hits,
       |    min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
       |    sum(CASE WHEN rel > 0
       |      THEN (pow(2e0, rel) - 1) / ln(rank + 1) ELSE 0e0 END)
       |      AS dcg
       |  FROM ${p}j GROUP BY q_id)""".stripMargin

  /** Final per-query metric SELECT over a `<p>per` relation (quantized
    * exactly like Retrieval.evalTopK). */
  def irEvalMetricsSql(per: String): String =
    s"""SELECT $per.q_id, coalesce(n_rel, 0)::BIGINT AS n_rel, hits,
       |  floor(hits / n_rel * 1e6 + 5e-1) / 1e6 AS recall,
       |  floor(coalesce(1e0 / first_rel, 0e0) * 1e6 + 5e-1) / 1e6
       |    AS rr,
       |  floor(CASE WHEN idcg IS NULL OR idcg = 0 THEN 0e0
       |    ELSE dcg / idcg END * 1e6 + 5e-1) / 1e6 AS ndcg
       |FROM $per LEFT JOIN nrel USING (q_id)
       |  LEFT JOIN ideal USING (q_id)""".stripMargin

  def louvainWRoundCtes(x: String, e: String, l: String,
                                out: String, r: Int): String =
    s"""${x}tot AS (SELECT sum(w)::DOUBLE AS m2 FROM $e),
       |${x}dg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS ki
       |           FROM $e GROUP BY 1),
       |${x}ds AS (SELECT l.label, CAST(sum(d.ki) AS BIGINT) AS dc
       |           FROM $l l JOIN ${x}dg d ON l.node = d.node GROUP BY 1),
       |${x}kic AS (SELECT e.src AS node, lb.label AS c,
       |             CAST(sum(e.w) AS BIGINT) AS kic
       |           FROM $e e JOIN $l lb ON e.dst = lb.node
       |           WHERE e.src <> e.dst GROUP BY 1, 2),
       |${x}cd AS (SELECT node, c, CAST(sum(kic) AS BIGINT) AS kic
       |  FROM (SELECT node, c, kic FROM ${x}kic
       |        UNION ALL SELECT node, label AS c, 0 FROM $l)
       |  GROUP BY 1, 2),
       |${x}ko AS (SELECT cd.node, cd.kic AS kown
       |           FROM ${x}cd cd JOIN $l l
       |             ON cd.node = l.node AND cd.c = l.label),
       |${x}gg AS (SELECT cd.node, l.label AS a, cd.c,
       |    CASE WHEN cd.c = l.label THEN 0e0 ELSE
       |      2e0 * (cd.kic - ko.kown) / m2
       |      - 2e0 * dg.ki * (dt.dc - da.dc + dg.ki) / (m2 * m2)
       |    END AS gn
       |  FROM ${x}cd cd JOIN $l l ON cd.node = l.node
       |  JOIN ${x}dg dg ON cd.node = dg.node
       |  JOIN ${x}ds dt ON cd.c = dt.label
       |  JOIN ${x}ds da ON l.label = da.label
       |  JOIN ${x}ko ko ON cd.node = ko.node, ${x}tot),
       |$out AS MATERIALIZED (SELECT node,
       |    CAST(CASE WHEN gn > 0 AND
       |        ${h32Sql(s"CAST(node AS VARCHAR) || ':$r'", "0")} % 2 = 0
       |      THEN c ELSE a END AS BIGINT) AS label
       |  FROM (SELECT node, a, c, gn, row_number() OVER (
       |          PARTITION BY node ORDER BY gn DESC, c ASC) AS rn
       |        FROM ${x}gg)
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB replay of PageRank.contract: communities of label CTE `l`
    * collapse to super-nodes in `outE`(src, dst, w) — the full directed
    * intra weight lands on the (c, c) self-loop row — and `outL` is the
    * identity labeling of the contracted nodes. */
  def louvainContractCtes(e: String, l: String, outE: String,
                                  outL: String): String =
    s"""$outE AS MATERIALIZED (SELECT la.label AS src, lb.label AS dst,
       |    CAST(sum(e.w) AS BIGINT) AS w
       |  FROM $e e JOIN $l la ON e.src = la.node
       |  JOIN $l lb ON e.dst = lb.node
       |  GROUP BY 1, 2),
       |$outL AS MATERIALIZED (SELECT DISTINCT label AS node, label FROM $l)"""
      .stripMargin

  /** DuckDB replay of `LanguageModel.kn3LogPerplexity` (train split
    * doc_id % 4 != 0, D = 0.75) as CTEs ending in
    * `kn3_scored(doc_id, logppl)` — the full recursive interpolated-KN
    * chain: raw trigram counts at the top, continuation counts
    * N1+(·,w2,w3) in the middle, the bigram add-one continuation
    * unigram at the base; each unseen level falls through. Probability
    * expressions mirror the Spark operators term for term in the same
    * operation order. */
  def kn3PplCtes: String = {
    val pcSql = "(coalesce(kn3_cont1.n1r1, 0) + 1e0)" +
      " / (kn3_sc.ntypes2 + kn3_sc.v + 1)"
    val p2Sql =
      s"""CASE WHEN kn3_z2.z2 IS NOT NULL THEN
         |      greatest(coalesce(kn3_b2.ckn, 0) - 0.75e0, 0e0) / kn3_z2.z2
         |      + 0.75e0 * kn3_z2.n1f2k / kn3_z2.z2 * ($pcSql)
         |    ELSE ($pcSql) END""".stripMargin
    s"""tk0 AS ($toksSql),
       |tok AS (SELECT id, unnest(tk) AS tok,
       |          unnest(range(1, len(tk) + 1)) AS pos
       |        FROM tk0),
       |tg AS (SELECT a.id, a.tok AS w1, b.tok AS w2, c.tok AS w3
       |       FROM tok a JOIN tok b ON a.id = b.id AND b.pos = a.pos + 1
       |       JOIN tok c ON a.id = c.id AND c.pos = a.pos + 2),
       |bg3 AS (SELECT a.id, a.tok AS w1, b.tok AS w2
       |        FROM tok a JOIN tok b
       |          ON a.id = b.id AND b.pos = a.pos + 1),
       |kn3_bc AS (SELECT w1, w2, count(*) AS bc FROM bg3
       |           WHERE id % 4 <> 0 GROUP BY 1, 2),
       |kn3_cont1 AS (SELECT w2 AS w3, count(*) AS n1r1
       |              FROM kn3_bc GROUP BY 1),
       |kn3_sc AS (SELECT (SELECT count(*) FROM kn3_bc) AS ntypes2,
       |    (SELECT count(DISTINCT tok) FROM tok WHERE id % 4 <> 0) AS v),
       |kn3_tc AS (SELECT w1, w2, w3, count(*) AS tc3 FROM tg
       |           WHERE id % 4 <> 0 GROUP BY 1, 2, 3),
       |kn3_cc AS (SELECT w1, w2, sum(tc3) AS cc3, count(*) AS n1f3
       |           FROM kn3_tc GROUP BY 1, 2),
       |kn3_b2 AS (SELECT w2, w3, count(*) AS ckn
       |           FROM kn3_tc GROUP BY 1, 2),
       |kn3_z2 AS (SELECT w2, sum(ckn) AS z2, count(*) AS n1f2k
       |           FROM kn3_b2 GROUP BY 1),
       |kn3_p AS (SELECT tg.id,
       |    CASE WHEN kn3_cc.cc3 IS NOT NULL THEN
       |      greatest(coalesce(kn3_tc.tc3, 0) - 0.75e0, 0e0) / kn3_cc.cc3
       |      + 0.75e0 * kn3_cc.n1f3 / kn3_cc.cc3 * ($p2Sql)
       |    ELSE ($p2Sql) END AS prob
       |  FROM tg LEFT JOIN kn3_tc USING (w1, w2, w3)
       |  LEFT JOIN kn3_cc USING (w1, w2)
       |  LEFT JOIN kn3_b2 USING (w2, w3)
       |  LEFT JOIN kn3_z2 USING (w2)
       |  LEFT JOIN kn3_cont1 USING (w3) CROSS JOIN kn3_sc),
       |kn3_scored AS (SELECT id AS doc_id,
       |    round(avg(-ln(prob)), 6) + 0e0 AS logppl
       |  FROM kn3_p GROUP BY id)""".stripMargin
  }

  /** The hourly gap-filled event series as CTEs ending in
    * `filled(user_id, h, v)` — the regular-series front end shared by
    * ts_seasonal and ts_period so the grid/forward-fill SQL cannot
    * drift between the decomposition and the period detector.
    * Mirrors `TimeSeries.gapFill` over hourly round-2 value sums for
    * `user_id < userBound`. */
  def filledSeriesCtes(userBound: Int): String =
    s"""hourly AS (
       |  SELECT user_id, date_trunc('hour', ts) AS h,
       |    round(sum(value), 2) + 0e0 AS v
       |  FROM events WHERE user_id < $userBound GROUP BY 1, 2),
       |spans AS (
       |  SELECT user_id, min(h) AS h0, max(h) AS h1
       |  FROM hourly GROUP BY 1),
       |grid AS (
       |  SELECT user_id,
       |    unnest(generate_series(h0, h1, INTERVAL 3600 SECONDS)) AS h
       |  FROM spans),
       |filled AS (
       |  SELECT g.user_id, g.h,
       |    last_value(hourly.v IGNORE NULLS) OVER (
       |      PARTITION BY g.user_id ORDER BY g.h
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
       |  FROM grid g LEFT JOIN hourly
       |    ON g.user_id = hourly.user_id AND g.h = hourly.h)""".stripMargin

  /** The interpolated-KN scoring chain as CTEs ending in
    * `kn_scored(doc_id, logppl)` — ONE copy shared by ta_kn_perplexity,
    * ta_ppl_buckets, and pipe_pretrain_corpus so the model SQL cannot
    * drift between the score row, the bucket row, and the pipeline.
    * Mirrors `LanguageModel.knLogPerplexity` (train split doc_id % 4
    * != 0, D = 0.75, add-one continuation smoothing) term for term in
    * the same operation order. `rel` must expose (doc_id, text). */
  def knPplCtes: String = knPplCtesFrom("documents")

  def knPplCtesFrom(rel: String): String =
    s"""kn_tk0 AS (${toksSqlFrom(rel)}),
       |kn_tok AS (SELECT id, unnest(tk) AS tok,
       |          unnest(range(1, len(tk) + 1)) AS pos
       |        FROM kn_tk0),
       |kn_bg AS (SELECT a.id, a.tok AS w1, b.tok AS w2
       |       FROM kn_tok a JOIN kn_tok b
       |         ON a.id = b.id AND b.pos = a.pos + 1),
       |kn_tr AS (SELECT * FROM kn_bg WHERE id % 4 <> 0),
       |kn_bc AS (SELECT w1, w2, count(*) AS bc FROM kn_tr GROUP BY 1, 2),
       |kn_cc AS (SELECT w1, sum(bc) AS cc, count(*) AS n1f
       |          FROM kn_bc GROUP BY 1),
       |kn_cont AS (SELECT w2, count(*) AS n1r FROM kn_bc GROUP BY 1),
       |kn_sc AS (SELECT (SELECT count(*) FROM kn_bc) AS ntypes,
       |    (SELECT count(DISTINCT tok) FROM kn_tok WHERE id % 4 <> 0) AS v),
       |kn_p AS (SELECT kn_bg.id,
       |    CASE WHEN kn_cc.cc IS NOT NULL THEN
       |      greatest(coalesce(kn_bc.bc, 0) - 0.75e0, 0e0) / kn_cc.cc
       |      + 0.75e0 * kn_cc.n1f / kn_cc.cc *
       |        ((coalesce(kn_cont.n1r, 0) + 1e0)
       |          / (kn_sc.ntypes + kn_sc.v + 1))
       |    ELSE (coalesce(kn_cont.n1r, 0) + 1e0)
       |      / (kn_sc.ntypes + kn_sc.v + 1) END AS prob
       |  FROM kn_bg LEFT JOIN kn_bc USING (w1, w2)
       |  LEFT JOIN kn_cc USING (w1)
       |  LEFT JOIN kn_cont USING (w2) CROSS JOIN kn_sc),
       |kn_scored AS (SELECT id AS doc_id,
       |    round(avg(-ln(prob)), 6) + 0e0 AS logppl
       |  FROM kn_p GROUP BY id)""".stripMargin

  /** DuckDB replay of `Similarity.knnDescent(k=5, rounds=2)` over the
    * embeddings table: SRP-bucket init, then two
    * neighbor-of-neighbor rounds (reverse lists k-capped, candidates
    * deduped, union with the current list, exact-cosine re-rank) —
    * CTEs ending in `l2(q, c, cosine, rn)`, ONE copy shared by
    * ann_knn_descent and ann_knn_recall. */
  def knnDescentCtes: String = knnDescentCtesOver(
    "SELECT vec_id AS id, embedding AS v FROM embeddings")

  /** 64-dim cluster-mixture fixture body (DuckDB side): 8 tight
    * clusters — a spike of 8 on dimension (vec_id % 8) plus small
    * id-derived jitter. Every term is an exact dyadic (k/16 + m/32 on
    * top of 8.0), so the double arithmetic and the FLOAT cast are
    * exact in both engines and the Spark/DuckDB arrays are
    * bit-identical; pattern period lcm(8,29,23) = 5336 > corpus size,
    * so all vectors are distinct. This is NN-Descent's OPERATING
    * REGIME (manifold-structured data, where bucket mates are true
    * neighbors), in contrast to the near-random `embeddings` fixture
    * where any k-NN structure is noise. */
  def structuredE0Sql: String =
    """SELECT vec_id AS id,
      |  list_transform(range(0, 64), i -> (
      |    (CASE WHEN i = vec_id % 8 THEN 8e0 ELSE 0e0 END)
      |    + ((vec_id * 131 + i * 31) % 29 - 14) / 16e0
      |    + ((vec_id * 17 + i * 13) % 23 - 11) / 32e0)::FLOAT) AS v
      |FROM embeddings""".stripMargin

  /** Spark twin of [[structuredE0Sql]] — identical exact-dyadic
    * arithmetic, one expression string audited against the SQL above. */
  def structuredEmb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"),
      expr("""transform(sequence(0, 63), i -> CAST(
        (CASE WHEN i = vec_id % 8 THEN 8.0 ELSE 0.0 END)
        + ((vec_id * 131 + i * 31) % 29 - 14) / 16.0
        + ((vec_id * 17 + i * 13) % 23 - 11) / 32.0 AS FLOAT))""")
        .as("embedding"))

  /** Recall@5 of a kNN graph `g` against a SEEDED FIXED-SIZE sampled
    * exact truth: the 64 lowest ids with id % 13 == 3 (13 is coprime
    * to the structured fixture's 8 clusters, so the sample spans
    * clusters). Truth = sample x corpus brute force with the sample
    * BROADCAST — linear in the corpus, unlike the all-pairs truth this
    * replaces (n² was the one plan-level scale-killer of r12). The
    * estimate is deterministic (fixed sample, fixed tie-break), so the
    * DuckDB replay is exact. */
  def knnRecallSampled(emb: DataFrame, g: DataFrame): DataFrame = {
    val v = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val q = v.where(pmod(col("id"), lit(13)) === 3)
      .orderBy(col("id")).limit(64)
      .select(col("id").as("q_id"), col("v").as("q_v"))
    val scored = v.select(col("id").as("c_id"), col("v").as("c_v"))
      .crossJoin(broadcast(q))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        Similarity.cosineCol(col("q_v"), col("c_v")).as("cosine"))
    Similarity.topKPerQuery(scored, "cosine", 5)
      .join(g.select(col("id").as("q_id"), col("nbr_id").as("c_id"))
        .withColumn("hit", lit(1)), Seq("q_id", "c_id"), "left")
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit"),
        (floor(sum(coalesce(col("hit"), lit(0))).cast("double") /
          count(lit(1)) * 1e6 + 0.5) / 1e6).as("recall"))
  }

  /** Oracle twin of [[knnRecallSampled]]: truth over the sampled
    * queries only, graph rows read from the chain's `l2`. */
  def knnRecallSampledSql: String =
    s"""qs AS (SELECT id, v FROM e0 WHERE id % 13 = 3
       |       ORDER BY id LIMIT 64),
       |truth AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT x.id AS q_id, y.id AS c_id,
       |      row_number() OVER (PARTITION BY x.id
       |        ORDER BY ${cosSql("x.v", "y.v")} DESC, y.id ASC)
       |        AS rn
       |    FROM qs x JOIN e0 y ON x.id <> y.id)
       |  WHERE rn <= 5)
       |SELECT count(*) AS n_truth,
       |  CAST(sum(CASE WHEN l2.q IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hit,
       |  floor(sum(CASE WHEN l2.q IS NOT NULL THEN 1e0 ELSE 0e0
       |    END) / count(*) * 1e6 + 5e-1) / 1e6 AS recall
       |FROM truth LEFT JOIN l2
       |  ON truth.q_id = l2.q AND truth.c_id = l2.c""".stripMargin

  /** DuckDB replay of `Similarity.knnDescentIncremental` over the
    * structured fixture split id % 5 != 0 (standing corpus) / == 0
    * (batch): the shared descent chain builds the standing graph
    * (`l2`) and standing bucket index (`bk`), then the incremental
    * step unrolls — batch buckets, init candidates, one descent
    * round, reverse pass re-ranking affected corpus nodes. Every
    * ranking comparison happens on the same 1e-6-quantized cosine the
    * Spark side uses. */
  def knnIncrementalSql: String =
    s"""WITH ${knnDescentCtesOver(
        s"SELECT id, v FROM ($structuredE0Sql) WHERE id % 5 <> 0")},
       |gq0 AS (SELECT q, c, floor(cosine * 1e6 + 5e-1) / 1e6 AS cosine,
       |        rn FROM l2),
       |bk0 AS (SELECT id, tbl, bucket FROM bk),
       |av0 AS (SELECT id, v FROM e0),
       |bv1 AS MATERIALIZED (
       |  SELECT id, v FROM ($structuredE0Sql) WHERE id % 5 = 0),
       |${knnIncStepSql(1)}
       |SELECT q AS id, c AS nbr_id, cosine, CAST(rn AS INT) AS rank,
       |  kind FROM delta1""".stripMargin

  /** One unrolled `knnDescentIncremental` step (batch `s`), consuming
    * the chain state CTEs `gq{s-1}` (standing graph, QUANTIZED
    * cosines), `bk{s-1}` (standing bucket index), `av{s-1}` (standing
    * id→vector relation) and the batch CTE `bv$s`; emits `delta$s`
    * (q, c, cosine, rn, kind) plus the folded next state `gq$s` /
    * `bk$s` / `av$s` — so [[knnIncrementalSql]] (one batch) and
    * [[stKnnIncrementalSql]] (batch-sequenced fold) replay the same
    * Spark operator through the same SQL. */
  def knnIncStepSql(s: Int): String = {
    val (g, bk, av) = (s"gq${s - 1}", s"bk${s - 1}", s"av${s - 1}")
    val bv = s"bv$s"
    def qcos(a: String, b: String) =
      s"floor(${cosSql(a, b)} * 1e6 + 5e-1) / 1e6"
    def keepQ(cand: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT q, c, cosine, rn FROM (
         |  SELECT cd.q, cd.c, ${qcos("x.v", "y.v")} AS cosine,
         |    row_number() OVER (PARTITION BY cd.q
         |      ORDER BY ${qcos("x.v", "y.v")} DESC, cd.c ASC) AS rn
         |  FROM $cand cd JOIN avx$s x ON cd.q = x.id
         |  JOIN avx$s y ON cd.c = y.id) WHERE rn <= 5)"""
    val bbk = (0 until 4).map(tb =>
      s"SELECT id, $tb AS tbl, ${srpBucketSql("v", tb, 8)} AS bucket FROM $bv")
      .mkString("\nUNION ALL\n")
    s"""bbk$s AS MATERIALIZED ($bbk),
       |avx$s AS MATERIALIZED (
       |  SELECT id, v FROM $av UNION ALL SELECT id, v FROM $bv),
       |ic0_$s AS (
       |  SELECT a.id AS q, b.id AS c FROM bbk$s a JOIN $bk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  UNION
       |  SELECT a.id, b.id FROM bbk$s a JOIN bbk$s b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id),
       |${keepQ(s"ic0_$s", s"nl0_$s")},
       |ilists$s AS (SELECT q AS n, c FROM nl0_$s
       |             UNION ALL SELECT q AS n, c FROM $g),
       |icd1_$s AS (
       |  SELECT x.q, y.c FROM nl0_$s x JOIN ilists$s y ON x.c = y.n
       |  WHERE x.q <> y.c
       |  UNION SELECT q, c FROM nl0_$s),
       |${keepQ(s"icd1_$s", s"nl1_$s")},
       |irev$s AS MATERIALIZED (
       |  SELECT b.id AS q, a.id AS c FROM bbk$s a JOIN $bk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket
       |  UNION SELECT c AS q, q AS c FROM nl1_$s
       |  WHERE c NOT IN (SELECT id FROM $bv)),
       |irs$s AS (
       |  SELECT rv.q, rv.c, ${qcos("x.v", "y.v")} AS cosine
       |  FROM irev$s rv JOIN avx$s x ON rv.q = x.id
       |  JOIN $bv y ON rv.c = y.id),
       |imerged$s AS (
       |  SELECT q, c, cosine FROM irs$s
       |  UNION ALL
       |  SELECT g.q, g.c, g.cosine FROM $g g
       |  WHERE g.q IN (SELECT q FROM irev$s)),
       |iupd$s AS (SELECT q, c, cosine, rn FROM (
       |  SELECT q, c, cosine, row_number() OVER (PARTITION BY q
       |    ORDER BY cosine DESC, c ASC) AS rn
       |  FROM imerged$s) WHERE rn <= 5),
       |delta$s AS MATERIALIZED (
       |  SELECT q, c, cosine, rn, 'new' AS kind FROM nl1_$s
       |  UNION ALL
       |  SELECT q, c, cosine, rn, 'updated' AS kind FROM iupd$s),
       |gq$s AS (
       |  SELECT q, c, cosine, rn FROM $g
       |  WHERE q NOT IN (SELECT DISTINCT q FROM delta$s)
       |  UNION ALL
       |  SELECT q, c, cosine, rn FROM delta$s),
       |bk$s AS (SELECT id, tbl, bucket FROM $bk
       |         UNION ALL SELECT id, tbl, bucket FROM bbk$s),
       |av$s AS (SELECT id, v FROM avx$s)""".stripMargin
  }

  /** DuckDB replay of `KnnGraphStream.ingestFold` — the standing
    * build, then TWO chained incremental steps (ids % 10 == 0, then
    * % 10 == 5), each folding its delta into the graph/index/vector
    * state the next step consumes, exactly as the Spark fold does. */
  def stKnnIncrementalSql: String =
    s"""WITH ${knnDescentCtesOver(
        s"SELECT id, v FROM ($structuredE0Sql) WHERE id % 5 <> 0")},
       |gq0 AS (SELECT q, c, floor(cosine * 1e6 + 5e-1) / 1e6 AS cosine,
       |        rn FROM l2),
       |bk0 AS (SELECT id, tbl, bucket FROM bk),
       |av0 AS (SELECT id, v FROM e0),
       |bv1 AS MATERIALIZED (
       |  SELECT id, v FROM ($structuredE0Sql) WHERE id % 10 = 0),
       |${knnIncStepSql(1)},
       |bv2 AS MATERIALIZED (
       |  SELECT id, v FROM ($structuredE0Sql) WHERE id % 10 = 5),
       |${knnIncStepSql(2)},
       |deltas AS (
       |  SELECT q, c, cosine, rn, kind, 0 AS batch_id FROM delta1
       |  UNION ALL
       |  SELECT q, c, cosine, rn, kind, 1 AS batch_id FROM delta2)
       |SELECT q AS id, c AS nbr_id, cosine, CAST(rn AS INT) AS rank,
       |  kind, CAST(batch_id AS BIGINT) AS batch_id FROM deltas""".stripMargin

  /** [[knnDescentCtes]] parameterized by the corpus CTE body, so the
    * same chain replays the descent over the real embeddings AND the
    * structured fixture. */
  def knnDescentCtesOver(e0Body: String): String = {
    val buckets = (0 until 4).map(tb =>
      s"SELECT id, $tb AS tbl, ${srpBucketSql("v", tb, 8)} AS bucket FROM e0")
      .mkString("\nUNION ALL\n")
    def keep(cand: String, out: String) =
      s"""$out AS MATERIALIZED (SELECT q, c, cosine, rn FROM (
         |  SELECT cd.q, cd.c, ${cosSql("x.v", "y.v")} AS cosine,
         |    row_number() OVER (PARTITION BY cd.q
         |      ORDER BY ${cosSql("x.v", "y.v")} DESC, cd.c ASC) AS rn
         |  FROM $cand cd JOIN e0 x ON cd.q = x.id
         |  JOIN e0 y ON cd.c = y.id) WHERE rn <= 5)"""
    def round(r: Int) =
      s"""rv$r AS (SELECT nq AS q, nc AS c FROM (
         |  SELECT l.c AS nq, l.q AS nc, row_number() OVER (
         |    PARTITION BY l.c ORDER BY l.cosine DESC, l.q ASC) AS krn
         |  FROM l${r - 1} l) WHERE krn <= 5),
         |ud$r AS (SELECT q AS a, c AS b FROM l${r - 1}
         |         UNION SELECT q, c FROM rv$r),
         |cd$r AS (SELECT DISTINCT x.a AS q, y.b AS c
         |         FROM ud$r x JOIN ud$r y ON x.b = y.a
         |         WHERE x.a <> y.b
         |         UNION SELECT q, c FROM l${r - 1}),
         |${keep(s"cd$r", s"l$r")}"""
    s"""e0 AS MATERIALIZED (
       |$e0Body),
       |bk AS MATERIALIZED ($buckets),
       |c0 AS (SELECT DISTINCT a.id AS q, b.id AS c FROM bk a JOIN bk b
       |       ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id <> b.id),
       |${keep("c0", "l0")},
       |${round(1)},
       |${round(2)}""".stripMargin
  }

  /** DuckDB replay of the hashed-unigram Naive Bayes train + score
    * (TextAnalysis.nbTrain/nbScores: doc_id%5!=0 split, lang label,
    * 64 buckets, add-one smoothing) as CTEs ending in
    * `sc(id, label, score)` — ONE copy shared by ta_nb_classifier and
    * ds_calibration so the scored distribution cannot drift between
    * the classifier row and its calibration audit. */
  def nbScoredCtes: String =
    s"""toks AS ($toksSql),
       |trb AS (
       |  SELECT d.lang AS label, ${h32Sql("tok", "0")} % 64 AS bucket
       |  FROM (SELECT id, unnest(tk) AS tok FROM toks) t
       |  JOIN documents d ON d.doc_id = t.id
       |  WHERE d.doc_id % 5 <> 0),
       |cnt AS (SELECT label, bucket, count(*) AS n FROM trb
       |        GROUP BY 1, 2),
       |tot AS (SELECT label, count(*) AS nn FROM trb GROUP BY 1),
       |nd AS (SELECT lang AS label, count(*) AS docs FROM documents
       |       WHERE doc_id % 5 <> 0 GROUP BY 1),
       |ntot AS (SELECT count(*) AS total FROM documents
       |         WHERE doc_id % 5 <> 0),
       |grid AS (SELECT label, b AS bucket
       |         FROM tot, (SELECT unnest(range(0, 64)) AS b)),
       |model AS (
       |  SELECT g.label, g.bucket,
       |    ln((coalesce(cnt.n, 0) + 1)::DOUBLE / (tot.nn + 64))
       |      AS logp,
       |    ln(nd.docs::DOUBLE / ntot.total) AS logprior
       |  FROM grid g
       |  LEFT JOIN cnt ON g.label = cnt.label AND g.bucket = cnt.bucket
       |  JOIN tot ON g.label = tot.label
       |  JOIN nd ON g.label = nd.label CROSS JOIN ntot),
       |db AS (
       |  SELECT id, ${h32Sql("tok", "0")} % 64 AS bucket,
       |    count(*) AS c
       |  FROM (SELECT id, unnest(tk) AS tok FROM toks) t
       |  WHERE id % 5 = 0 GROUP BY 1, 2),
       |sc AS MATERIALIZED (
       |  SELECT db.id, m.label,
       |    sum(db.c * m.logp) + max(m.logprior) AS score
       |  FROM db JOIN model m ON db.bucket = m.bucket
       |  GROUP BY db.id, m.label)""".stripMargin

  /** DuckDB replay of `BpeTrainer.bpeTrain(nMerges = iters)`: the word-
    * frequency dictionary, then per round — pair counts, the (count
    * desc, lhs, rhs) argmax, and greedy merge application expressed as
    * run-start parity (merge position i iff marked and (i - runStart)
    * even; overlapping marks require lhs == rhs, where the greedy scan
    * takes every other position of each maximal run). Assumes the
    * corpus yields at least `iters` mergeable pairs (true for the
    * documents fixture; the impl stops early otherwise). */
  def bpeTrainSql(iters: Int): String =
    s"""WITH ${bpeTrainCtes(iters)}
       |${bpeMergesOutSql(iters)}""".stripMargin

  def bpeMergesOutSql(iters: Int): String =
    (1 to iters).map(r =>
      s"SELECT CAST($r AS INTEGER) AS rank, a AS lhs, b AS rhs, cnt AS pair_count FROM bpe_b$r")
      .mkString("\nUNION ALL\n")

  def bpeTrainCtes(iters: Int): String =
    s"""tk0 AS ($toksSql),
       |${bpeTrainCtesFrom(iters, "tk0")}""".stripMargin

  /** [[bpeTrainCtes]] parameterized over the token CTE (id, tk) the
    * dictionary builds from — the capstone v2 trains on its own kept
    * corpus, not the raw documents table. */
  def bpeTrainCtesFrom(iters: Int, tokCte: String): String = {
    val rounds = (1 to iters).map { r =>
      val prev = s"bpe_s${r - 1}"
      s"""bpe_p$r AS (
         |  SELECT pa AS a, pb AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, sy[i] AS pa, sy[i + 1] AS pb
         |        FROM (SELECT freq, sy, unnest(range(1, len(sy))) AS i
         |              FROM $prev))
         |  GROUP BY 1, 2),
         |bpe_b$r AS (SELECT a, b, cnt FROM bpe_p$r
         |            ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |bpe_x$r AS (
         |  SELECT word, freq, i, sy[i] AS s_i,
         |    CASE WHEN i < len(sy) AND sy[i] = bpe_b$r.a
         |           AND sy[i + 1] = bpe_b$r.b THEN 1 ELSE 0 END AS m
         |  FROM (SELECT word, freq, sy,
         |          unnest(range(1, len(sy) + 1)) AS i
         |        FROM $prev)
         |  CROSS JOIN bpe_b$r),
         |bpe_g$r AS (
         |  SELECT word, freq, i, s_i,
         |    m = 1 AND (i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0
         |      AS merged
         |  FROM (SELECT *, CASE WHEN m = 1 THEN i - row_number()
         |          OVER (PARTITION BY word, m ORDER BY i)
         |          ELSE NULL END AS grp
         |        FROM bpe_x$r)),
         |bpe_y$r AS (
         |  SELECT word, freq, i,
         |    CASE WHEN merged THEN s_i || lead_s ELSE s_i END AS sym,
         |    lag(merged, 1, FALSE) OVER (PARTITION BY word ORDER BY i)
         |      AS consumed
         |  FROM (SELECT *, lead(s_i) OVER (PARTITION BY word ORDER BY i)
         |          AS lead_s
         |        FROM bpe_g$r)),
         |bpe_s$r AS MATERIALIZED (
         |  SELECT word, freq, list(sym ORDER BY i) AS sy
         |  FROM bpe_y$r WHERE NOT consumed GROUP BY word, freq)"""
        .stripMargin
    }.mkString(",\n")
    s"""bpe_s0 AS MATERIALIZED (
       |  SELECT word, count(*) AS freq, string_split(word, '') AS sy
       |  FROM (SELECT unnest(tk) AS word FROM $tokCte) GROUP BY word),
       |$rounds""".stripMargin
  }

  // =================================================================
  // Assembled registry
  // =================================================================

  /** Internal lookup for rows that compose other rows (e.g. p7 over g4)
    * — resolved lazily inside a row's lambda, never at object init, so
    * the family objects' one-way init dependency on this object stays
    * acyclic. */
  def queriesInternal: Map[String, (SparkSession, String) => DataFrame] =
    (ScanRegistry.rows ++ FilterRegistry.rows ++ JoinRegistry.rows ++
      AggRegistry.rows ++ SortSetRegistry.rows ++ FunctionRegistry.rows ++
      GraphRegistry.rows ++ PipelineRegistryA.rows ++ PipelineRegistryB.rows)
      .map(q => q.name -> q.fn).toMap
}
