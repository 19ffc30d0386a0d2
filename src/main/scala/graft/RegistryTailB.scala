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

/** later-round operator rows: streaming, time-series, centrality (part 2 of 2) (split from the former single-file SparkEntry registry;
  * rows and oracles are unchanged). */
private[graft] object TailRegistryB {
  val rows: Seq[Q] = Seq(
    // TS: linear-interpolation resampling — the gap-fill grid, but each
    // missing bucket gets the time-weighted blend of the surrounding
    // observations (held flat after the last one, null before the
    // first). Same scale shape as ts_gap_fill: per-key grid fan-out, one
    // (key, bucket) join, prev/next as two running windows over one
    // shuffle.
    Q("ts_interp",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") % 5 === 2)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        TimeSeries.interpolate(hourly, "user_id", "h", "v", 3600L)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    round(sum(value), 2) + 0e0 AS v
             |  FROM events WHERE user_id % 5 = 2 GROUP BY 1, 2),
             |spans AS (
             |  SELECT user_id, min(h) AS h0, max(h) AS h1
             |  FROM hourly GROUP BY 1),
             |grid AS (
             |  SELECT user_id,
             |    unnest(generate_series(h0, h1, INTERVAL 3600 SECONDS)) AS h
             |  FROM spans),
             |j AS (
             |  SELECT g.user_id, g.h, hourly.v,
             |    CASE WHEN hourly.user_id IS NOT NULL THEN 1 END AS obs
             |  FROM grid g LEFT JOIN hourly
             |    ON g.user_id = hourly.user_id AND g.h = hourly.h),
             |k AS (
             |  SELECT user_id, h, v, obs,
             |    last_value(v IGNORE NULLS) OVER wb AS pv,
             |    first_value(v IGNORE NULLS) OVER wf AS nv,
             |    last_value(CASE WHEN obs = 1 THEN h END IGNORE NULLS)
             |      OVER wb AS pt,
             |    first_value(CASE WHEN obs = 1 THEN h END IGNORE NULLS)
             |      OVER wf AS nt
             |  FROM j
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY h
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |  wf AS (PARTITION BY user_id ORDER BY h
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT user_id, h,
             |  floor((CASE WHEN obs = 1 THEN v
             |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv +
             |      (nv - pv) *
             |      ((CAST(epoch_us(h) AS DOUBLE) -
             |        CAST(epoch_us(pt) AS DOUBLE)) /
             |       (CAST(epoch_us(nt) AS DOUBLE) -
             |        CAST(epoch_us(pt) AS DOUBLE)))
             |    WHEN pv IS NOT NULL THEN pv END) * 1e4 + 0.5e0) / 1e4 AS v,
             |  CASE WHEN obs IS NULL THEN 1 ELSE 0 END AS was_gap
             |FROM k""".stripMargin)),

    // TS: rolling robust anomaly flagging — the Hampel filter: each
    // hourly point judged against the median/MAD of its trailing
    // 9-observation window (a20's robust z-score made ROLLING, so a
    // level shift ages out of the baseline instead of poisoning it
    // forever). One shuffle on the key; median and MAD are array
    // expressions over the bounded window buffer. MAD=0 (flat baseline)
    // flags any departure directly with a null z.
    Q("ts_anomaly",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 8)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        TimeSeries.rollingRobustAnomaly(hourly, "user_id", "h", "v",
          window = 9, nSigma = 3.0)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    round(sum(value), 2) + 0e0 AS v
             |  FROM events WHERE user_id < 8 GROUP BY 1, 2),
             |b AS (SELECT user_id, h, v,
             |        list(v) OVER (PARTITION BY user_id ORDER BY h
             |          ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS buf
             |      FROM hourly),
             |m AS (SELECT user_id, h, v, buf,
             |        CASE WHEN len(buf) = 9
             |          THEN list_sort(buf)[5] END AS med
             |      FROM b),
             |d AS (SELECT user_id, h, v, med,
             |        CASE WHEN med IS NOT NULL THEN list_sort(
             |          list_transform(buf, x -> abs(x - med)))[5]
             |        END AS mad
             |      FROM m)
             |SELECT user_id, h, v, med, mad,
             |  CASE WHEN mad > 0e0 THEN
             |    floor(abs(v - med) / (1.4826e0 * mad) * 1e4 + 5e-1) / 1e4
             |  END AS robust_z,
             |  CASE WHEN med IS NULL THEN 0
             |    WHEN mad > 0e0 THEN
             |      CASE WHEN abs(v - med) > 1.4826e0 * mad * 3e0
             |        THEN 1 ELSE 0 END
             |    ELSE CASE WHEN v != med THEN 1 ELSE 0 END
             |  END AS anomaly
             |FROM d""".stripMargin)),

    // TS: CUSUM change-point detection — sustained level shifts, the
    // complement of ts_anomaly's pointwise Hampel spikes. No sequential
    // fold: the max(0, ·) recurrence is computed as the drawdown
    // identity over deviation prefix sums, so the plan is one keyed
    // shuffle with two running-prefix windows (spill-safe at any
    // series length). Same hourly fixture as ts_anomaly.
    Q("ts_cusum",
      (s, dir) => {
        val hourly = t(s, dir, "events").where(col("user_id") < 8)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
          .agg((round(sum("value"), 2) + 0.0).as("v"))
        TimeSeries.cusum(hourly, "user_id", "h", "v",
          kappaSigmas = 0.5, hSigmas = 4.0)
      },
      Some("""WITH hourly AS (
             |  SELECT user_id, date_trunc('hour', ts) AS h,
             |    round(sum(value), 2) + 0e0 AS v
             |  FROM events WHERE user_id < 8 GROUP BY 1, 2),
             |st AS (SELECT user_id, avg(v) AS mu,
             |         coalesce(stddev_samp(v), 0e0) AS sigma
             |       FROM hourly GROUP BY user_id),
             |d AS (SELECT hourly.user_id, h, v, mu, sigma,
             |        v - mu - 5e-1 * sigma AS dp,
             |        mu - 5e-1 * sigma - v AS dn
             |      FROM hourly JOIN st USING (user_id)),
             |p AS (SELECT user_id, h, v, sigma,
             |        sum(dp) OVER w AS pp, sum(dn) OVER w AS pn
             |      FROM d WINDOW w AS (PARTITION BY user_id ORDER BY h
             |        ROWS UNBOUNDED PRECEDING)),
             |r AS (SELECT user_id, h, v, sigma, pp, pn,
             |        min(pp) OVER w AS mpp, min(pn) OVER w AS mpn
             |      FROM p WINDOW w AS (PARTITION BY user_id ORDER BY h
             |        ROWS UNBOUNDED PRECEDING))
             |SELECT user_id, h, v,
             |  floor((pp - least(mpp, 0e0)) * 1e4 + 5e-1) / 1e4 AS s_pos,
             |  floor((pn - least(mpn, 0e0)) * 1e4 + 5e-1) / 1e4 AS s_neg,
             |  CASE WHEN pp - least(mpp, 0e0) > 4e0 * sigma
             |    OR pn - least(mpn, 0e0) > 4e0 * sigma
             |  THEN 1 ELSE 0 END AS alarm
             |FROM r""".stripMargin)),

    // DQ: declarative quality-constraint report — every constraint is
    // one aggregate expression inside a single partial-agg pass (one scan
    // no matter how many checks), emitting a tiny violations report.
    Q("dq_constraint_report",
      (s, dir) => DataChecks.checkReport(t(s, dir, "orders"),
        uniqueCols = Seq("o_orderkey"),
        nonNullCols = Seq("o_custkey", "o_orderstatus"),
        ranges = Seq("o_totalprice" -> (0.0, 400000.0))),
      Some("""SELECT 'unique' AS "check", 'o_orderkey' AS "column",
             |  count(o_orderkey) - count(DISTINCT o_orderkey) AS violations
             |FROM orders
             |UNION ALL
             |SELECT 'non_null', 'o_custkey',
             |  count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
             |UNION ALL
             |SELECT 'non_null', 'o_orderstatus',
             |  count(*) FILTER (WHERE o_orderstatus IS NULL) FROM orders
             |UNION ALL
             |SELECT 'range', 'o_totalprice',
             |  count(*) FILTER (WHERE o_totalprice < 0e0 OR o_totalprice > 4e5)
             |FROM orders""".stripMargin)),

    // DQ: quarantine — the actionable complement of the report: the
    // violating ROWS, each carrying which constraints it failed, so the
    // ingest can route them (clean side = anti-join). Fixture mangles
    // every 191st order back in with a NULL custkey, so all three
    // constraint kinds fire: those keys duplicate (both copies flagged),
    // the mangled copies fail non_null, and a tightened price ceiling
    // catches real rows.
    Q("dq_quarantine",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
        val base = o.unionByName(
          o.where(col("o_orderkey") % 191 === 0)
            .select(col("o_orderkey"),
              lit(null).cast("long").as("o_custkey"),
              col("o_totalprice")))
        DataChecks.quarantine(base,
            uniqueCols = Seq("o_orderkey"),
            nonNullCols = Seq("o_custkey"),
            ranges = Seq("o_totalprice" -> (0.0, 150000.0)))
          // The operator keeps `failed` as an array (that's the routing
          // payload); the registry row joins it to a scalar because the
          // harness canonicalizer sorts columns and arrays aren't
          // sortable there. Order inside the array is already
          // deterministic (constraint declaration order).
          .select(col("o_orderkey"), col("o_totalprice"),
            array_join(col("failed"), "|").as("failed"), col("n_failed"))
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, NULL, o_totalprice FROM orders
             |  WHERE o_orderkey % 191 = 0),
             |dup AS (SELECT o_orderkey FROM base
             |        GROUP BY 1 HAVING count(*) > 1),
             |f AS (
             |  SELECT b.o_orderkey, b.o_totalprice,
             |    list_filter([
             |      CASE WHEN d.o_orderkey IS NOT NULL
             |        THEN 'unique:o_orderkey' END,
             |      CASE WHEN b.o_custkey IS NULL
             |        THEN 'non_null:o_custkey' END,
             |      CASE WHEN b.o_totalprice IS NOT NULL AND
             |          (b.o_totalprice < 0e0 OR b.o_totalprice > 15e4)
             |        THEN 'range:o_totalprice' END],
             |      x -> x IS NOT NULL) AS failed
             |  FROM base b LEFT JOIN dup d ON b.o_orderkey = d.o_orderkey)
             |SELECT o_orderkey, o_totalprice,
             |  array_to_string(failed, '|') AS failed,
             |  len(failed)::INT AS n_failed
             |FROM f WHERE len(failed) > 0""".stripMargin)),

    // DQ: k-anonymity generalization audit — per row, the smallest
    // suffix-drop generalization of the quasi-identifiers (nation,
    // segment, balance bucket) whose equivalence class reaches k=5, and
    // that class's size. The level histogram is the privacy/utility
    // curve a release decision reads. One group-sized partial agg +
    // keyed join per level, 1-row broadcast for fully-generalized.
    Q("dq_k_anonymity",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
        DataChecks.kAnonymize(c, "c_custkey",
          Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)
      },
      Some("""WITH b AS (SELECT c_custkey, c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
             |  FROM customer),
             |g0 AS (SELECT c_nationkey, c_mktsegment, bal_bucket,
             |         count(*) AS n
             |       FROM b GROUP BY 1, 2, 3),
             |g1 AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
             |       FROM b GROUP BY 1, 2),
             |g2 AS (SELECT c_nationkey, count(*) AS n FROM b GROUP BY 1),
             |tot AS (SELECT count(*) AS n FROM b)
             |SELECT b.c_custkey,
             |  CASE WHEN g0.n >= 5 THEN 0 WHEN g1.n >= 5 THEN 1
             |    WHEN g2.n >= 5 THEN 2 ELSE 3 END AS level,
             |  (CASE WHEN g0.n >= 5 THEN g0.n WHEN g1.n >= 5 THEN g1.n
             |    WHEN g2.n >= 5 THEN g2.n ELSE tot.n END)::BIGINT
             |    AS group_n
             |FROM b
             |JOIN g0 ON b.c_nationkey = g0.c_nationkey
             |  AND b.c_mktsegment = g0.c_mktsegment
             |  AND b.bal_bucket = g0.bal_bucket
             |JOIN g1 ON b.c_nationkey = g1.c_nationkey
             |  AND b.c_mktsegment = g1.c_mktsegment
             |JOIN g2 ON b.c_nationkey = g2.c_nationkey, tot"""
        .stripMargin)),

    // GR: exact triangle count, oriented two-join formulation — every
    // triangle counted once as a wedge at its (degree, id)-smallest
    // vertex, closed by the oriented third edge. Low-degree-first
    // orientation (round 5) bounds the wedge set by O(m^1.5) on
    // hub-skewed graphs; the oracle's id-oriented SQL counts the same
    // set, so parity is unchanged.
    Q("gr_triangles",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        PageRank.closedWedges(edges)
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some(s"""WITH sup AS ($suppPointsSql),
              |e AS (
              |  SELECT a.s_suppkey AS a, b.s_suppkey AS b
              |  FROM sup a JOIN sup b
              |    ON a.s_suppkey < b.s_suppkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0)
              |SELECT count(*) AS n_triangles
              |FROM e e1
              |JOIN e e2 ON e1.b = e2.a
              |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin)),

    // A19: weekly cohort retention — users cohorted by first-activity
    // week, counted per (cohort, week offset). Two partial-agg shuffles
    // on user + one on the (small) cohort grid; week math is
    // Monday-aligned date_trunc in both engines, offsets via floor to
    // sidestep the engines' different double->int cast rounding.
    Q("a19_cohort_retention",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cohort = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
        ev.select(col("user_id"), date_trunc("week", col("ts")).as("active_week"))
          .distinct()
          .join(cohort, Seq("user_id"))
          .withColumn("week_offset",
            floor(datediff(col("active_week"), col("cohort_week")) / 7)
              .cast("int"))
          .groupBy(col("cohort_week").cast("date").as("cohort_week"),
            col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
      },
      Some("""WITH cohort AS (
             |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
             |  FROM events GROUP BY user_id),
             |activity AS (
             |  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
             |  FROM events)
             |SELECT CAST(c.cohort_week AS DATE) AS cohort_week,
             |  CAST(floor(date_diff('day', c.cohort_week, a.active_week) / 7e0)
             |    AS INTEGER) AS week_offset,
             |  count(DISTINCT a.user_id) AS n_users
             |FROM activity a JOIN cohort c ON a.user_id = c.user_id
             |GROUP BY 1, 2""".stripMargin)),

    // A20: robust outlier flagging — median/MAD z-score (the
    // mean/stddev a8 shape is exactly what a heavy-tailed column
    // breaks; median and MAD have 50% breakdown). Two exact-percentile
    // passes (the a14 memory caveat applies per group) + a broadcast-
    // sized join-back per pass; the deviation, MAD, and threshold
    // compose bit-identically in both engines (selection + linear
    // interpolation only — no order-dependent sums), so the outlier
    // COUNT needs no tolerance at all. The deviation frame feeds TWO
    // consumers (the MAD aggregate and the final count), so it persists
    // — PRUNED to its three consumed columns first: persisting the raw
    // join materializes every lineitem column and measures SLOWER than
    // the recompute (A/B in SCALE.md r9); the projected persist wins at
    // both sf0.1 and sf1 (the prefixJaccard/hits multi-consumer
    // discipline, plus explicit pruning at the cache boundary where
    // Catalyst can no longer prune per-consumer).
    Q("a20_robust_outliers",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val med = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
        val dev = li.select("l_returnflag", "l_extendedprice")
          .join(med, "l_returnflag")
          .select(col("l_returnflag"), col("med"),
            abs(col("l_extendedprice") - col("med")).as("adev"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val mad = dev.groupBy("l_returnflag")
          .agg(first("med").as("med"),
            expr("percentile(adev, 0.5)").as("mad"))
        dev.join(mad.select(col("l_returnflag"), col("mad")),
            "l_returnflag")
          .groupBy("l_returnflag")
          .agg(first("med").as("m_"), first("mad").as("d_"),
            count(when(col("adev") > lit(5.0) * lit(1.4826) * col("mad"),
              lit(1))).as("n_outliers"))
          .select(col("l_returnflag"), round(col("m_"), 4).as("med"),
            round(col("d_"), 4).as("mad"), col("n_outliers"))
      },
      Some("""WITH med AS (
             |  SELECT l_returnflag, median(l_extendedprice) AS med
             |  FROM lineitem GROUP BY 1),
             |d AS (
             |  SELECT l.l_returnflag, med,
             |    abs(l_extendedprice - med) AS adev
             |  FROM lineitem l JOIN med USING (l_returnflag)),
             |mad AS (
             |  SELECT l_returnflag, median(adev) AS mad
             |  FROM d GROUP BY 1)
             |SELECT d.l_returnflag, round(any_value(d.med), 4) AS med,
             |  round(any_value(mad.mad), 4) AS mad,
             |  count(CASE WHEN adev > 5e0 * 1.4826e0 * mad.mad
             |    THEN 1 END) AS n_outliers
             |FROM d JOIN mad USING (l_returnflag)
             |GROUP BY d.l_returnflag""".stripMargin)),

    // GR: PageRank over the supplier proximity graph — fixed 5 power
    // iterations (deterministic, oracle-reproducible: no floating-point
    // convergence epsilon), simplified dangling handling (teleport share
    // only). The oracle unrolls the same 5 iterations in SQL; doubles
    // agree because both sides compose the identical expression shapes,
    // and the output rounds to 6 decimals.
    Q("gr_pagerank",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = edges.union(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        PageRank.run(bidir, iterations = 5)
          .select(col("node"), (round(col("rank"), 6) + 0.0).as("rank"))
      },
      Some {
        val iterSql = (k: Int) =>
          s"""m$k AS (
             |  SELECT e.dst AS node, sum(r.rank / deg.deg) AS mass
             |  FROM e JOIN r${k - 1} r ON e.src = r.node
             |  JOIN deg ON e.src = deg.src
             |  GROUP BY e.dst),
             |r$k AS (
             |  SELECT nd.node,
             |    (1e0 - 85e-2) / nn.n + 85e-2 * coalesce(m$k.mass, 0e0) AS rank
             |  FROM nodes nd CROSS JOIN nn
             |  LEFT JOIN m$k ON nd.node = m$k.node)"""
        s"""WITH sup AS ($suppPointsSql),
           |e AS (
           |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
           |  FROM sup a JOIN sup b
           |    ON a.s_suppkey <> b.s_suppkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, 1e0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |${(1 to 5).map(iterSql).mkString(",\n")}
           |SELECT node, round(rank, 6) + 0e0 AS rank FROM r5""".stripMargin
      }),

    // GR: the standard dangling-mass formulation — the DIRECTED proximity
    // edges (a_id < b_id) leave max-id nodes with no out-edges; their
    // rank mass is redistributed uniformly each round so ranks sum to 1.
    // One extra 1-row aggregate per round (broadcast), state still
    // (node, rank); the oracle unrolls the same 5 rounds with a per-round
    // dangling-mass CTE.
    Q("gr_pagerank_dangling",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        PageRank.run(edges, iterations = 5, redistributeDangling = true)
          .select(col("node"), (round(col("rank"), 6) + 0.0).as("rank"))
      },
      Some {
        val iterSql = (k: Int) =>
          s"""m$k AS (
             |  SELECT e.dst AS node, sum(r.rank / deg.deg) AS mass
             |  FROM e JOIN r${k - 1} r ON e.src = r.node
             |  JOIN deg ON e.src = deg.src
             |  GROUP BY e.dst),
             |d$k AS (
             |  SELECT coalesce(sum(r.rank), 0e0) AS dm
             |  FROM r${k - 1} r LEFT JOIN deg ON r.node = deg.src
             |  WHERE deg.src IS NULL),
             |r$k AS (
             |  SELECT nd.node,
             |    (1e0 - 85e-2) / nn.n
             |      + 85e-2 * (coalesce(m$k.mass, 0e0) + d$k.dm / nn.n) AS rank
             |  FROM nodes nd CROSS JOIN nn CROSS JOIN d$k
             |  LEFT JOIN m$k ON nd.node = m$k.node)"""
        s"""WITH sup AS ($suppPointsSql),
           |e AS (
           |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
           |  FROM sup a JOIN sup b
           |    ON a.s_suppkey < b.s_suppkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |nodes AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, 1e0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |${(1 to 5).map(iterSql).mkString(",\n")}
           |SELECT node, round(rank, 6) + 0e0 AS rank FROM r5""".stripMargin
      }),

    // GR: weighted PageRank — rank splits over out-edges by edge weight
    // (rank * w / weighted out-degree) on the symmetrized proximity
    // graph with the same deterministic integer weights as gr_sssp;
    // 5 unrolled rounds in the oracle, rank rounded to 6 like the other
    // PageRank rows.
    Q("gr_wpagerank",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = edges.union(
            edges.select(col("dst").as("src"), col("src").as("dst")))
          .withColumn("w", pmod(col("src") * 31 + col("dst"), lit(7)) + 1)
        PageRank.weighted(bidir, iterations = 5)
          .select(col("node"), (round(col("rank"), 6) + 0.0).as("rank"))
      },
      Some {
        val iterSql = (k: Int) =>
          s"""m$k AS (
             |  SELECT e.dst AS node, sum(r.rank * e.w / wd.wdeg) AS mass
             |  FROM e JOIN r${k - 1} r ON e.src = r.node
             |  JOIN wd ON e.src = wd.src
             |  GROUP BY e.dst),
             |r$k AS (
             |  SELECT nd.node,
             |    (1e0 - 85e-2) / nn.n + 85e-2 * coalesce(m$k.mass, 0e0) AS rank
             |  FROM nodes nd CROSS JOIN nn
             |  LEFT JOIN m$k ON nd.node = m$k.node)"""
        s"""WITH sup AS ($suppPointsSql),
           |e0 AS (
           |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
           |  FROM sup a JOIN sup b
           |    ON a.s_suppkey <> b.s_suppkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
           |e AS (
           |  SELECT src, dst,
           |    CAST((src * 31 + dst) % 7 + 1 AS DOUBLE) AS w
           |  FROM e0),
           |wd AS (SELECT src, sum(w) AS wdeg FROM e GROUP BY src),
           |nodes AS (SELECT DISTINCT src AS node FROM e),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, 1e0 / nn.n AS rank FROM nodes CROSS JOIN nn),
           |${(1 to 5).map(iterSql).mkString(",\n")}
           |SELECT node, round(rank, 6) + 0e0 AS rank FROM r5""".stripMargin
      }),

    // GR: personalized PageRank — teleport AND dangling mass restart
    // uniformly over the seed set (s_suppkey % 10 = 1), making rank a
    // proximity-to-seeds measure; directed a<b edges leave real
    // dangling nodes, exercising the seed-return term. Same unrolled
    // oracle as the other PageRank rows with the restart vector as a
    // 0/1 CASE.
    Q("gr_ppr",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            suppPoints(s, dir), "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val seeds = suppPoints(s, dir)
          .where(pmod(col("s_suppkey"), lit(10)) === 1)
          .select(col("s_suppkey").as("node"))
        PageRank.personalized(edges, seeds, iterations = 5)
          .select(col("node"), (round(col("rank"), 6) + 0.0).as("rank"))
      },
      Some {
        val iterSql = (k: Int) =>
          s"""m$k AS (
             |  SELECT e.dst AS node, sum(r.rank / deg.deg) AS mass
             |  FROM e JOIN r${k - 1} r ON e.src = r.node
             |  JOIN deg ON e.src = deg.src
             |  GROUP BY e.dst),
             |d$k AS (
             |  SELECT coalesce(sum(r.rank), 0e0) AS dm
             |  FROM r${k - 1} r LEFT JOIN deg ON r.node = deg.src
             |  WHERE deg.src IS NULL),
             |r$k AS (
             |  SELECT sd.node,
             |    (sd.s / sn.n) * ((1e0 - 85e-2) + 85e-2 * d$k.dm)
             |      + 85e-2 * coalesce(m$k.mass, 0e0) AS rank
             |  FROM sd CROSS JOIN sn CROSS JOIN d$k
             |  LEFT JOIN m$k ON sd.node = m$k.node)"""
        s"""WITH sup AS ($suppPointsSql),
           |e AS (
           |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
           |  FROM sup a JOIN sup b
           |    ON a.s_suppkey < b.s_suppkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
           |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
           |nodes AS (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e),
           |sd AS (SELECT node,
           |  CASE WHEN node % 10 = 1 THEN 1e0 ELSE 0e0 END AS s FROM nodes),
           |sn AS (SELECT sum(s) AS n FROM sd),
           |r0 AS (SELECT sd.node, sd.s / sn.n AS rank FROM sd CROSS JOIN sn),
           |${(1 to 5).map(iterSql).mkString(",\n")}
           |SELECT node, round(rank, 6) + 0e0 AS rank FROM r5""".stripMargin
      }),

    // GR: synchronous label propagation (community detection), 3 fixed
    // rounds, min-label tiebreak — per round one (node, label) count
    // shuffle + one partial-agg argmax (max(struct(c, -label))), no
    // window; the oracle unrolls the same rounds with a windowed argmax.
    Q("gr_label_prop",
      (s, dir) => PageRank.labelPropagation(suppBidirEdges(s, dir),
        iterations = 3),
      Some(s"""WITH $lpropL3Ctes
              |SELECT node, label FROM l3""".stripMargin)),

    // GR: community MODULARITY — the quality metric that makes the
    // label-prop result measurable (the graph analog of ir_eval):
    // per-community q_c = intra/|E| - (deg/|E|)^2 over the same
    // bidirectional proximity graph, oracle sharing the exact l3 chain
    // gr_label_prop replays (lpropL3Ctes) so the scored communities
    // cannot drift from the detected ones.
    Q("gr_modularity",
      (s, dir) => {
        val bidir = suppBidirEdges(s, dir)
        PageRank.modularity(bidir,
          PageRank.labelPropagation(bidir, iterations = 3))
      },
      Some(s"""WITH $lpropL3Ctes,
              |tot AS (SELECT count(*)::DOUBLE AS m2 FROM e),
              |dg AS (SELECT src AS node, count(*) AS d FROM e GROUP BY 1),
              |ag AS (SELECT l.label, count(*)::BIGINT AS n_nodes,
              |         sum(d.d)::BIGINT AS degree_sum
              |       FROM l3 l JOIN dg d ON l.node = d.node
              |       GROUP BY 1),
              |intra AS (SELECT la.label,
              |            count(*)::BIGINT AS intra_edges
              |          FROM e JOIN l3 la ON e.src = la.node
              |                 JOIN l3 lb ON e.dst = lb.node
              |          WHERE la.label = lb.label GROUP BY 1)
              |SELECT ag.label, n_nodes,
              |  coalesce(intra_edges, 0)::BIGINT AS intra_edges, degree_sum,
              |  floor((coalesce(intra_edges, 0) / m2 -
              |    (degree_sum / m2) * (degree_sum / m2)) * 1e6 + 5e-1) / 1e6
              |    AS q_contrib
              |FROM ag LEFT JOIN intra ON ag.label = intra.label, tot"""
        .stripMargin)),

    // GR: multi-source BFS shortest hop distances (3-hop bound) over the
    // symmetrized proximity graph — frontier-only edge join + min-merge
    // per round, (node, dist) state; the oracle is a bounded recursive
    // CTE min-ed per node.
    Q("gr_bfs_dist",
      (s, dir) => {
        val pts = suppPoints(s, dir)
        val edges = SpatialJoins.gridSelfJoin(
            pts, "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = edges.union(
          edges.select(col("dst").as("src"), col("src").as("dst")))
        val seeds = pts.where(pmod(col("s_suppkey"), lit(10)) === 1)
          .select(col("s_suppkey").as("node"))
        PageRank.bfsDistances(bidir, seeds, maxHops = 3)
      },
      Some(s"""WITH RECURSIVE sup AS ($suppPointsSql),
              |e AS (
              |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst
              |  FROM sup a JOIN sup b
              |    ON a.s_suppkey <> b.s_suppkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
              |seeds AS (
              |  SELECT s_suppkey AS node FROM sup WHERE s_suppkey % 10 = 1),
              |walk(node, d) AS (
              |  SELECT node, 0 FROM seeds
              |  UNION ALL
              |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node
              |  WHERE w.d < 3)
              |SELECT node, CAST(min(d) AS INTEGER) AS dist
              |FROM walk GROUP BY node""".stripMargin)),

    // GR: bounded weighted shortest paths — frontier-relaxation
    // Bellman-Ford (3 rounds) over the symmetrized proximity graph with
    // deterministic integer edge weights; each round relaxes only the
    // out-edges of nodes the previous round improved, then min-merges
    // into the (node, dist) state. The oracle min-folds a bounded
    // recursive CTE accumulating weight along ≤3-edge walks.
    Q("gr_sssp",
      (s, dir) => {
        val pts = suppPoints(s, dir)
        val e0 = SpatialJoins.gridSelfJoin(
            pts, "s_suppkey", "lat", "lon", radiusM = 200.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
          .withColumn("w", pmod(col("src") * 31 + col("dst"), lit(7)) + 1)
        val seeds = pts.where(pmod(col("s_suppkey"), lit(10)) === 1)
          .select(col("s_suppkey").as("node"))
        PageRank.shortestPaths(bidir, seeds, maxRounds = 3)
      },
      Some(s"""WITH RECURSIVE sup AS ($suppPointsSql),
              |e AS (
              |  SELECT a.s_suppkey AS src, b.s_suppkey AS dst,
              |    (a.s_suppkey * 31 + b.s_suppkey) % 7 + 1 AS w
              |  FROM sup a JOIN sup b
              |    ON a.s_suppkey <> b.s_suppkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 200.0),
              |seeds AS (
              |  SELECT s_suppkey AS node FROM sup WHERE s_suppkey % 10 = 1),
              |walk(node, hops, wt) AS (
              |  SELECT node, 0, CAST(0 AS BIGINT) FROM seeds
              |  UNION ALL
              |  SELECT e.dst, wk.hops + 1, wk.wt + e.w
              |  FROM walk wk JOIN e ON e.src = wk.node
              |  WHERE wk.hops < 3)
              |SELECT node, CAST(min(wt) AS BIGINT) AS dist
              |FROM walk GROUP BY node""".stripMargin)),

    // GR: bounded k-core peeling — 3 synchronous rounds of deleting
    // nodes whose surviving-subgraph degree is < 3 (the fixpoint is the
    // exact 3-core; synchronous removal makes the bounded version
    // order-independent and deterministic). One partial-agg degree
    // count + two semi-joins per round, edge set shrinking
    // monotonically; the oracle unrolls the identical rounds as
    // chained CTE stages.
    Q("gr_kcore",
      (s, dir) => {
        // the customer lattice is a genuine 2-D grid (the supplier strip
        // is near-1-D with max degree 2 — its 3-core is empty); at 250 m
        // lat/lon neighbors connect (222/170 m) but diagonals (280 m)
        // don't, so peeling eats exactly one boundary layer per round
        val pts = custPoints(s, dir)
        val e0 = SpatialJoins.gridSelfJoin(
            pts, "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        PageRank.kCorePeel(bidir, k = 3, rounds = 3)
      },
      Some {
        def peel(i: Int) =
          s"""k$i AS (SELECT src AS node FROM e${i - 1}
             |  GROUP BY src HAVING count(*) >= 3),
             |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  WHERE e.src IN (SELECT node FROM k$i)
             |    AND e.dst IN (SELECT node FROM k$i))""".stripMargin
        s"""WITH pts AS ($custPointsSql),
           |e0 AS (
           |  SELECT a.c_custkey AS src, b.c_custkey AS dst
           |  FROM pts a JOIN pts b
           |    ON a.c_custkey <> b.c_custkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
           |${(1 to 3).map(peel).mkString(",\n")}
           |SELECT src AS node, count(*) AS deg FROM e3 GROUP BY src"""
          .stripMargin
      }),

    // GR: HITS hubs & authorities over the DIRECTED customer lattice
    // (a_id < b_id — low ids feed high ids, so hub and authority mass
    // genuinely separate; the 2-D grid gives a non-uniform score
    // distribution, unlike the near-1-D supplier strip whose HITS
    // scores collapse to a constant). Fixed 5 rounds, L1 norm per
    // half-step (no sqrt — the oracle composes identical IEEE
    // shapes), output rounds to 6 like the PageRank rows. The oracle
    // CTEs are MATERIALIZED (DuckDB-only hint; this SQL never runs in
    // Spark): without it single-referenced CTEs inline recursively
    // and the unrolled 5-round tree re-evaluates the lattice join
    // 2^rounds times.
    Q("gr_hits",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        PageRank.hits(edges, iterations = 5)
          .select(col("node"), (round(col("hub"), 6) + 0.0).as("hub"),
            (round(col("auth"), 6) + 0.0).as("auth"))
      },
      Some {
        val iterSql = (k: Int) =>
          s"""ar$k AS MATERIALIZED (
             |  SELECT e.dst AS node, sum(h.hub) AS raw
             |  FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY e.dst),
             |an$k AS MATERIALIZED (SELECT sum(raw) AS s FROM ar$k),
             |a$k AS MATERIALIZED (
             |  SELECT nd.node, coalesce(ar.raw, 0e0) / an.s AS auth
             |  FROM nodes nd CROSS JOIN an$k an
             |  LEFT JOIN ar$k ar ON nd.node = ar.node),
             |hr$k AS MATERIALIZED (
             |  SELECT e.src AS node, sum(a.auth) AS raw
             |  FROM e JOIN a$k a ON e.dst = a.node GROUP BY e.src),
             |hn$k AS MATERIALIZED (SELECT sum(raw) AS s FROM hr$k),
             |h$k AS MATERIALIZED (
             |  SELECT nd.node, coalesce(hr.raw, 0e0) / hn.s AS hub
             |  FROM nodes nd CROSS JOIN hn$k hn
             |  LEFT JOIN hr$k hr ON nd.node = hr.node)"""
        s"""WITH pts AS MATERIALIZED ($custPointsSql),
           |e AS MATERIALIZED (
           |  SELECT a.c_custkey AS src, b.c_custkey AS dst
           |  FROM pts a JOIN pts b
           |    ON a.c_custkey < b.c_custkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
           |nodes AS MATERIALIZED (
           |  SELECT src AS node FROM e UNION SELECT dst FROM e),
           |h0 AS MATERIALIZED (SELECT node, 1e0 AS hub FROM nodes),
           |${(1 to 5).map(iterSql).mkString(",\n")}
           |SELECT h5.node, round(h5.hub, 6) + 0e0 AS hub,
           |  round(a5.auth, 6) + 0e0 AS auth
           |FROM h5 JOIN a5 ON h5.node = a5.node""".stripMargin
      }),

    // GR: EXACT bounded-radius harmonic centrality over the undirected
    // customer lattice — sum of 1/d(u,v) over all u within 3 hops
    // (Boldi & Vigna 2014's recommended geometric centrality). Pair-state
    // multi-source BFS; per-node distance histogram folds as
    // c1/1 + c2/2 + c3/3 in fixed order (exact integer counts, so the
    // double is order-proof). Quadratic pair state by nature — this is
    // the small-graph cross-check that calibrates gr_hyperball, the
    // sketch-state scale path (the dd_blocking_quality exact/sampled
    // pairing applied to centrality).
    Q("gr_harmonic",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        PageRank.harmonicExact(bidir, maxHops = 3)
          .select(col("node"),
            (round(col("harmonic"), 6) + 0.0).as("harmonic"))
      },
      Some(s"""WITH RECURSIVE pts AS MATERIALIZED ($custPointsSql),
              |e AS MATERIALIZED (
              |  SELECT a.c_custkey AS src, b.c_custkey AS dst
              |  FROM pts a JOIN pts b
              |    ON a.c_custkey <> b.c_custkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
              |walk(src, node, d) AS (
              |  SELECT src, src, 0 FROM (SELECT DISTINCT src FROM e)
              |  UNION ALL
              |  SELECT w.src, e.dst, w.d + 1
              |  FROM walk w JOIN e ON e.src = w.node WHERE w.d < 3),
              |md AS MATERIALIZED (
              |  SELECT src, node, min(d) AS d FROM walk GROUP BY src, node)
              |SELECT node,
              |  round(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) / 1e0
              |    + sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) / 2e0
              |    + sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) / 3e0, 6) + 0e0
              |    AS harmonic
              |FROM md WHERE d >= 1 GROUP BY node""".stripMargin)),

    // GR: bounded-radius closeness — r/Σd over the ≤3-hop ball, the
    // truncated classic form beside gr_harmonic (one shared pair-BFS
    // helper; integer count and sum, one division per node). The oracle
    // reuses gr_harmonic's walk chain with the closeness fold.
    Q("gr_closeness",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        PageRank.closenessExact(bidir, maxHops = 3)
          .select(col("node"),
            (round(col("closeness"), 6) + 0.0).as("closeness"))
      },
      Some(s"""WITH RECURSIVE pts AS MATERIALIZED ($custPointsSql),
              |e AS MATERIALIZED (
              |  SELECT a.c_custkey AS src, b.c_custkey AS dst
              |  FROM pts a JOIN pts b
              |    ON a.c_custkey <> b.c_custkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
              |walk(src, node, d) AS (
              |  SELECT src, src, 0 FROM (SELECT DISTINCT src FROM e)
              |  UNION ALL
              |  SELECT w.src, e.dst, w.d + 1
              |  FROM walk w JOIN e ON e.src = w.node WHERE w.d < 3),
              |md AS MATERIALIZED (
              |  SELECT src, node, min(d) AS d FROM walk GROUP BY src, node)
              |SELECT node,
              |  round(CAST(count(*) AS DOUBLE) / sum(d), 6) + 0e0
              |    AS closeness
              |FROM md WHERE d >= 1 GROUP BY node""".stripMargin)),

    // GR: HyperBall (Boldi & Vigna, ICDMW 2013) — approximate harmonic
    // centrality for EVERY node via HLL registers (p=6, m=64) max-merged
    // along in-edges for 3 rounds; after round h a node's registers ARE
    // the exact HLL sketch of its ball (register max commutes with set
    // union — spec'd as an identity). THE 100 TB centrality path: state
    // is one 64-slot register array per node where the exact row carries
    // a pair row per reachable vertex. Deterministic under the md5
    // parity hash, so even the ESTIMATE is oracle-exact (the sk_hll
    // discipline). Runs the PACKED layout — 3.5x over the exploded
    // register-tuple form at the sf1 probe (fresh-JVM interleaved A/B,
    // SCALE.md r14). The oracle replays the register-tuple form: both
    // layouts sketch the same balls, and the packed estimate is spec'd
    // equal to sketching the brute-force balls directly.
    Q("gr_hyperball",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.hyperBallPacked(bidir, maxHops = 3, p = 6)
          .select(col("node"),
            (round(col("harmonic_est"), 4) + 0.0).as("harmonic_est"))
      },
      Some(hyperBallOracleSql(
        """SELECT node,
          |  round((n1.est - n0.est) / 1e0 + (n2.est - n1.est) / 2e0
          |    + (n3.est - n2.est) / 3e0, 4) + 0e0 AS harmonic_est
          |FROM n0 JOIN n1 USING (node) JOIN n2 USING (node)
          |  JOIN n3 USING (node)""".stripMargin))),

    // GR: CLOSENESS off the SAME HyperBall register propagation — the
    // sketch-state counterpart gr_closeness lacked (the Boldi-Vigna
    // point: the per-round ball-size estimates support ALL geometric
    // centralities, so this row and gr_hyperball differ only in the
    // final fold): r̂/Σd̂ with r̂ = N̂_3 − N̂_0 and
    // Σd̂ = Σ_h h·(N̂_h − N̂_{h−1}) — the truncated r/Σd gr_closeness
    // computes exactly, with ball sizes replaced by HLL estimates. The
    // quadratic exact leg is now the CALIBRATION tool for both folds.
    Q("gr_hyperball_closeness",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.hyperBallCloseness(bidir, maxHops = 3, p = 6)
          .select(col("node"),
            (round(col("closeness_est"), 4) + 0.0).as("closeness_est"))
      },
      Some(hyperBallOracleSql(
        """SELECT node,
          |  round((n3.est - n0.est) /
          |    (1e0 * (n1.est - n0.est) + 2e0 * (n2.est - n1.est)
          |      + 3e0 * (n3.est - n2.est)), 4) + 0e0 AS closeness_est
          |FROM n0 JOIN n1 USING (node) JOIN n2 USING (node)
          |  JOIN n3 USING (node)""".stripMargin))),

    // GR: STRONGLY connected components over a DIRECTED customer graph —
    // hash-pivot forward-backward decomposition (Fleischer et al. 2000;
    // ConnectedComponents.scc), the directed counterpart undirected CC
    // over-merges (link-graph curation is SCC-shaped: spam rings are
    // mutual-reachability classes). Graph: every customer points at its
    // nation's hub (min custkey); hubs form a directed ring with a
    // doubling chord (diameter O(log #hubs), so BFS rounds stay flat as
    // customers scale); hubs point back at every 7th member. Truth: one
    // big SCC = all hubs + the %7 members (mutual with their hub), all
    // other customers singletons. The hub frames are model-sized (≤25
    // rows); the member joins are keyed on nationkey. The oracle is an
    // independent exact-closure replay: recursive reachability + the
    // mutual-pair min — no FW-BW logic shared with the engine.
    Q("gr_scc",
      (s, dir) => ConnectedComponents.scc(sccHubEdges(s, dir)),
      Some(sccOracleSql("SELECT node, scc FROM lab"))),

    // GR: the CONDENSATION of the same directed graph — every SCC
    // collapsed to its min-member label, distinct inter-component edges
    // with multiplicity (acyclic by construction; the DAG link-graph
    // analysis actually reads: which clusters feed which). Two keyed
    // label joins + one partial-agg count over the shared edge set; the
    // oracle folds the SAME lab CTE as gr_scc, so the condensation can
    // never drift from the detected components.
    Q("gr_scc_condense",
      (s, dir) => ConnectedComponents.sccCondense(sccHubEdges(s, dir)),
      Some(sccOracleSql(
        """SELECT a.scc AS src_scc, b.scc AS dst_scc,
          |  count(*) AS n_edges
          |FROM e JOIN lab a ON e.src = a.node
          |JOIN lab b ON e.dst = b.node
          |WHERE a.scc <> b.scc
          |GROUP BY 1, 2""".stripMargin))),

    // GR: TOPOLOGICAL LEVELS over the condensation — the DAG-depth /
    // source-sink audit the condensed link graph is read for (which
    // clusters feed which, how deep the feed chain runs). Iterative
    // source peel: an SCC settles at level L when its last remaining
    // in-edge's source settled before it — i.e. level = longest
    // condensation path ending there, which the oracle replays as a
    // recursive longest-path over the SAME lab CTE as gr_scc (no peel
    // logic shared). On the hub graph: the singleton customers (which
    // point AT their hub) sit at level 0 and the one big hub SCC they
    // all feed sits at level 1 — a 2-level DAG.
    Q("gr_scc_topo",
      (s, dir) => ConnectedComponents.sccTopoLevels(sccHubEdges(s, dir)),
      Some(sccOracleSql(
        """, ce AS MATERIALIZED (
          |  SELECT DISTINCT a.scc AS s, b.scc AS d
          |  FROM e JOIN lab a ON e.src = a.node
          |  JOIN lab b ON e.dst = b.node
          |  WHERE a.scc <> b.scc),
          |lp(v, l) AS (
          |  SELECT DISTINCT scc, 0 FROM lab
          |  UNION
          |  SELECT ce.d, lp.l + 1 FROM lp JOIN ce ON ce.s = lp.v)
          |SELECT v AS scc, max(l) AS level FROM lp GROUP BY v"""
          .stripMargin))),

    // GR: the NEIGHBORHOOD FUNCTION off the same HyperBall registers —
    // the statistic HyperBall was invented for: NF(h) = Σ_v |B̂_h(v)|,
    // reachable ordered pairs within h hops, with the cumulative
    // fraction of NF(3). Per-node estimates quantize to 1e-6 longs
    // BEFORE the global sum (a distributed double sum over every node
    // is order-dependent; the integer sum is exact), fraction
    // floor-quantized. The corpus-graph shape audit whose exact
    // equivalent is the all-pairs state the budget guard refuses.
    Q("gr_hyperball_nf",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.hyperBallNeighborhood(bidir, maxHops = 3, p = 6)
      },
      Some(hyperBallOracleSql(
        """, q AS MATERIALIZED (
          |  SELECT 0 AS hop, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) AS q
          |  FROM n0
          |  UNION ALL
          |  SELECT 1, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n1
          |  UNION ALL
          |  SELECT 2, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n2
          |  UNION ALL
          |  SELECT 3, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n3),
          |nf AS MATERIALIZED (
          |  SELECT hop, CAST(sum(q) AS DOUBLE) / 1e6 AS nf
          |  FROM q GROUP BY hop)
          |SELECT hop, nf,
          |  floor(nf / (SELECT nf FROM nf WHERE hop = 3) * 1e6 + 5e-1)
          |    / 1e6 AS frac
          |FROM nf""".stripMargin))),

    // GR: EFFECTIVE DIAMETER from the neighborhood function — the
    // interpolated distance covering 90% of reachable-within-3 pairs
    // (Palmer et al. 2002's convention). One model-sized frame in, one
    // row out; the oracle replays the threshold, first-crossing hop,
    // and interpolation arithmetic term for term.
    Q("gr_eff_diameter",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.effectiveDiameter(bidir, maxHops = 3, p = 6, alpha = 0.9)
      },
      Some(hyperBallOracleSql(
        """, q AS MATERIALIZED (
          |  SELECT 0 AS hop, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) AS q
          |  FROM n0
          |  UNION ALL
          |  SELECT 1, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n1
          |  UNION ALL
          |  SELECT 2, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n2
          |  UNION ALL
          |  SELECT 3, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n3),
          |nf AS MATERIALIZED (
          |  SELECT hop, CAST(sum(q) AS DOUBLE) / 1e6 AS nf
          |  FROM q GROUP BY hop),
          |thr AS MATERIALIZED (
          |  SELECT nf * 0.9e0 AS thr FROM nf WHERE hop = 3),
          |c AS MATERIALIZED (
          |  SELECT min(nf.hop) AS h FROM nf, thr WHERE nf.nf >= thr.thr)
          |SELECT floor((CASE WHEN c.h = 0 THEN 0e0
          |    ELSE (c.h - 1) + (thr.thr - p.nf) / (cu.nf - p.nf) END)
          |    * 1e6 + 5e-1) / 1e6 AS eff_diameter
          |FROM c CROSS JOIN thr
          |JOIN nf cu ON cu.hop = c.h
          |LEFT JOIN nf p ON p.hop = c.h - 1""".stripMargin))),

    // GR: the neighborhood function under the ADAPTIVE saturation stop
    // — Boldi & Vigna's actual termination (run until N̂ stabilizes,
    // not for a fixed radius): propagation ends at the first hop whose
    // global ball-sum growth drops below ε = 5% of the estimate (cap
    // 5). A fixed maxHops silently reports ≈maxHops on any graph whose
    // effective diameter exceeds it and keeps paying rounds past
    // convergence on any graph that saturates sooner. The stop rule is
    // compared on the quantized LONGS (one scalar pair per hop), so the
    // oracle replays estimates to the CAP and re-derives the same stop
    // hop term for term.
    Q("gr_hyperball_nf_adaptive",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.hyperBallNeighborhoodAdaptive(bidir, hopCap = 5,
          epsilon = 0.05, p = 6)
      },
      Some(hyperBallOracleSql(
        hyperBallAdaptiveNfSql(hopCap = 5, epsSql = "5e-2") +
          """
            |SELECT hop, nf,
            |  floor(nf / (SELECT n.nf FROM nf n, stp WHERE n.hop = stp.shop)
            |    * 1e6 + 5e-1) / 1e6 AS frac
            |FROM nf""".stripMargin,
        rounds = 5))),

    // GR: effective diameter off the ADAPTIVE neighborhood function —
    // meaningful on graphs with diameter past any fixed radius (the
    // fixed-hop row's silent ≈maxHops failure mode), same Palmer 2002
    // interpolation against NF(stop).
    Q("gr_eff_diameter_adaptive",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        HyperBall.effectiveDiameterAdaptive(bidir, hopCap = 5,
          epsilon = 0.05, p = 6, alpha = 0.9)
      },
      Some(hyperBallOracleSql(
        hyperBallAdaptiveNfSql(hopCap = 5, epsSql = "5e-2") +
          """,
            |thr AS MATERIALIZED (
            |  SELECT n.nf * 0.9e0 AS thr FROM nf n, stp
            |  WHERE n.hop = stp.shop),
            |c AS MATERIALIZED (
            |  SELECT min(nf.hop) AS h FROM nf, thr WHERE nf.nf >= thr.thr)
            |SELECT floor((CASE WHEN c.h = 0 THEN 0e0
            |    ELSE (c.h - 1) + (thr.thr - p.nf) / (cu.nf - p.nf) END)
            |    * 1e6 + 5e-1) / 1e6 AS eff_diameter
            |FROM c CROSS JOIN thr
            |JOIN nf cu ON cu.hop = c.h
            |LEFT JOIN nf p ON p.hop = c.h - 1""".stripMargin,
        rounds = 5))),

    // GR: INCREMENTAL neighborhood function — the same 250 m lattice
    // arriving as an initial load plus two ingest batches (the
    // gr_cc_incremental split), folded into standing per-hop register
    // frames by monotone delta propagation: per batch only the nodes
    // whose registers GREW flow along the edges (delta broadcast — the
    // corpus edge set scans, never shuffles; old registers semi-probed
    // for candidates only), where a rebuild pays maxHops corpus-wide
    // register shuffles. Register max-merge is order-free, so fold ==
    // rebuild BIT-identically — the oracle is gr_hyperball_nf's
    // full-corpus replay VERBATIM.
    Q("gr_hyperball_nf_incremental",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        withEdgesCheckpointed(bidirOf(e0)) { bidir =>
          val k = pmod(col("src") + col("dst"), lit(3))
          HyperBall.hyperBallNeighborhoodIncremental(
            bidir.where(k =!= 0),
            Seq(bidir.where(k === 0 && pmod(col("src"), lit(2)) === 0),
              bidir.where(k === 0 && pmod(col("src"), lit(2)) === 1)),
            maxHops = 3, p = 6)
        }
      },
      Some(hyperBallOracleSql(
        """, q AS MATERIALIZED (
          |  SELECT 0 AS hop, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) AS q
          |  FROM n0
          |  UNION ALL
          |  SELECT 1, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n1
          |  UNION ALL
          |  SELECT 2, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n2
          |  UNION ALL
          |  SELECT 3, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n3),
          |nf AS MATERIALIZED (
          |  SELECT hop, CAST(sum(q) AS DOUBLE) / 1e6 AS nf
          |  FROM q GROUP BY hop)
          |SELECT hop, nf,
          |  floor(nf / (SELECT nf FROM nf WHERE hop = 3) * 1e6 + 5e-1)
          |    / 1e6 AS frac
          |FROM nf""".stripMargin))),

    // GR: the incremental neighborhood function under the ADAPTIVE
    // saturation stop — the standing register stacks GROW hops lazily:
    // the initial load propagates only until Boldi-Vigna's quantized
    // rule fires, each batch delta-folds into the maintained hops, and
    // a batch that un-saturates the top (new edges shorten paths, ball
    // sums grow again) extends the state by corpus rounds off the
    // RESOLVED top registers. The emitted hops re-derive the stop over
    // the FINAL corpus sums, so the output is the adaptive rebuild
    // BIT-identically — the oracle is gr_hyperball_nf_adaptive's
    // full-corpus replay VERBATIM (estimates to the cap, same stop
    // rule on the same quantized longs).
    Q("gr_hyperball_nf_incremental_adaptive",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        withEdgesCheckpointed(bidirOf(e0)) { bidir =>
          val k = pmod(col("src") + col("dst"), lit(3))
          HyperBall.hyperBallNeighborhoodIncrementalAdaptive(
            bidir.where(k =!= 0),
            Seq(bidir.where(k === 0 && pmod(col("src"), lit(2)) === 0),
              bidir.where(k === 0 && pmod(col("src"), lit(2)) === 1)),
            hopCap = 5, epsilon = 0.05, p = 6)
        }
      },
      Some(hyperBallOracleSql(
        hyperBallAdaptiveNfSql(hopCap = 5, epsSql = "5e-2") +
          """
            |SELECT hop, nf,
            |  floor(nf / (SELECT n.nf FROM nf n, stp WHERE n.hop = stp.shop)
            |    * 1e6 + 5e-1) / 1e6 AS frac
            |FROM nf""".stripMargin,
        rounds = 5))),

    // GR: harmonic centrality off the SAME incremental standing
    // registers — one delta-folded register history serves every
    // geometric centrality (the Boldi-Vigna point carried to the
    // standing-state form): this row and gr_hyperball_nf_incremental
    // share the register machinery and differ only in the fold. Fold ==
    // rebuild bit-identically, so the oracle is gr_hyperball's
    // full-corpus replay VERBATIM.
    Q("gr_hyperball_incremental",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        withEdgesCheckpointed(bidirOf(e0)) { bidir =>
          val k = pmod(col("src") + col("dst"), lit(3))
          HyperBall.hyperBallIncremental(
              bidir.where(k =!= 0),
              Seq(bidir.where(k === 0 && pmod(col("src"), lit(2)) === 0),
                bidir.where(k === 0 && pmod(col("src"), lit(2)) === 1)),
              maxHops = 3, p = 6)
            .select(col("node"),
              (round(col("harmonic_est"), 4) + 0.0).as("harmonic_est"))
        }
      },
      Some(hyperBallOracleSql(
        """SELECT node,
          |  round((n1.est - n0.est) / 1e0 + (n2.est - n1.est) / 2e0
          |    + (n3.est - n2.est) / 3e0, 4) + 0e0 AS harmonic_est
          |FROM n0 JOIN n1 USING (node) JOIN n2 USING (node)
          |  JOIN n3 USING (node)""".stripMargin))),

    // ST: the incremental HyperBall registers AT REST — the
    // gr_hyperball_nf_incremental fold over the bucketed CATALOG
    // tables ([[graft.streaming.HbStream]]): init writes the standing
    // per-hop register stacks, batch 1 delta-folds in, a COMPACTION
    // max-merges every hop back to one frame mid-sequence (DROP/RENAME
    // swap — resolution must be unchanged through it), batch 2 folds
    // against the compacted state, and the NF reads off the tables.
    // Unlike the in-memory row's corpus-slice batches (heavyweight
    // fold coverage), the batches here are MICRO — a ~0.1% hash slice
    // each — so the driver gate drives the table store's PRIMARY
    // regime: batch node sets under the point-lookup cap, probes
    // pushed down as bucket-pruned In predicates (the plan PlanSpec
    // pins), per the documented broadcast-sized-batch contract. Table
    // frames are max-merge-resolved on read exactly like the
    // session-local frames, so the answer is the full-corpus rebuild's
    // — the oracle is gr_hyperball_nf's replay VERBATIM, which pins
    // stream == fold == rebuild THROUGH the compaction swap in the
    // driver's own gate (HbStreamSpec pins the physical side).
    Q("st_hyperball_atrest",
      (s, dir) => {
        val e0 = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        withEdgesCheckpointed(bidirOf(e0)) { bidir =>
          val k = pmod(col("src") * 31 + col("dst"), lit(1009))
          val tag = new java.io.File(dir).getName
            .replaceAll("[^A-Za-z0-9]", "_")
          val prefix = s"graft_hb_$tag"
          val root = s"/tmp/graft_bucketed/${tag}_hb"
          graft.streaming.HbStream.init(bidir.where(k >= 2), prefix,
            s"$root/gen0", maxHops = 3, p = 6)
          graft.streaming.HbStream.ingestBatch(bidir.where(k === 0), prefix)
          graft.streaming.HbStream.compact(s, prefix, s"$root/gen1")
          graft.streaming.HbStream.ingestBatch(bidir.where(k === 1), prefix)
          graft.streaming.HbStream.neighborhoodFunction(s, prefix)
        }
      },
      Some(hyperBallOracleSql(
        """, q AS MATERIALIZED (
          |  SELECT 0 AS hop, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) AS q
          |  FROM n0
          |  UNION ALL
          |  SELECT 1, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n1
          |  UNION ALL
          |  SELECT 2, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n2
          |  UNION ALL
          |  SELECT 3, CAST(floor(est * 1e6 + 5e-1) AS BIGINT) FROM n3),
          |nf AS MATERIALIZED (
          |  SELECT hop, CAST(sum(q) AS DOUBLE) / 1e6 AS nf
          |  FROM q GROUP BY hop)
          |SELECT hop, nf,
          |  floor(nf / (SELECT nf FROM nf WHERE hop = 3) * 1e6 + 5e-1)
          |    / 1e6 AS frac
          |FROM nf""".stripMargin))),

    // GR: bounded-radius sampled-source betweenness (Brandes 2001 with
    // the two standard scale reductions: Brandes-Pich source sampling +
    // a 3-hop path radius). Forward pass counts shortest paths σ
    // integer-exactly; backward pass unrolls dependency accumulation
    // level by level in the fixed shape (σv/σw)·(1+δw), which the
    // oracle replays operation for operation. The source sample size is
    // the cost dial — state is the SAMPLE's ball mass, never all-pairs.
    Q("gr_betweenness",
      (s, dir) => {
        val pts = custPoints(s, dir)
        val e0 = SpatialJoins.gridSelfJoin(
            pts, "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        val bidir = bidirOf(e0)
        val seeds = pts.where(pmod(col("c_custkey"), lit(100)) === 1)
          .select(col("c_custkey").as("node"))
        PageRank.betweennessBounded(bidir, seeds, maxHops = 3)
          .select(col("node"), (round(col("bc"), 6) + 0.0).as("bc"))
      },
      Some {
        val lvl = (h: Int) =>
          s"""d$h AS MATERIALIZED (
             |  SELECT v.s, v.node,
             |    coalesce(sum((CAST(v.sigma AS DOUBLE) / wsig.sigma)
             |      * (1e0 + dw.delta)), 0e0) AS delta
             |  FROM sig v
             |  LEFT JOIN e ON e.src = v.node
             |  LEFT JOIN sig wsig ON wsig.s = v.s AND wsig.node = e.dst
             |    AND wsig.d = ${h + 1}
             |  LEFT JOIN d${h + 1} dw ON dw.s = v.s AND dw.node = e.dst
             |  WHERE v.d = $h
             |  GROUP BY v.s, v.node)"""
        s"""WITH RECURSIVE pts AS MATERIALIZED ($custPointsSql),
           |e AS MATERIALIZED (
           |  SELECT a.c_custkey AS src, b.c_custkey AS dst
           |  FROM pts a JOIN pts b
           |    ON a.c_custkey <> b.c_custkey
           |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
           |seeds AS (SELECT c_custkey AS node FROM pts
           |  WHERE c_custkey % 100 = 1),
           |walk(s, node, d) AS (
           |  SELECT node, node, 0 FROM seeds
           |  UNION ALL
           |  SELECT w.s, e.dst, w.d + 1
           |  FROM walk w JOIN e ON e.src = w.node WHERE w.d < 3),
           |md AS MATERIALIZED (
           |  SELECT s, node, min(d) AS d FROM walk GROUP BY s, node),
           |sig AS MATERIALIZED (
           |  SELECT w.s, w.node, m.d, count(*) AS sigma
           |  FROM walk w JOIN md m
           |    ON w.s = m.s AND w.node = m.node AND w.d = m.d
           |  GROUP BY w.s, w.node, m.d),
           |d3 AS MATERIALIZED (
           |  SELECT s, node, 0e0 AS delta FROM sig WHERE d = 3),
           |${lvl(2)},
           |${lvl(1)}
           |SELECT node, round(sum(delta), 6) + 0e0 AS bc
           |FROM (SELECT s, node, delta FROM d1
           |  UNION ALL SELECT s, node, delta FROM d2
           |  UNION ALL SELECT s, node, delta FROM d3)
           |GROUP BY node""".stripMargin
      }),

    // GR: common-neighbor link prediction over the customer proximity
    // graph — non-adjacent pairs sharing >= 2 neighbors, scored by
    // common-neighbor count, Jaccard, and Adamic-Adar. Wedge enumeration
    // centered on each shared neighbor (degree-capped against hub
    // blow-up); the oracle composes the identical per-wedge 1/ln(d)
    // terms so the doubles agree at 6-decimal rounding.
    Q("gr_link_predict",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        PageRank.linkPredict(edges, minCommon = 2)
      },
      Some(s"""WITH pts AS MATERIALIZED ($custPointsSql),
              |e AS MATERIALIZED (
              |  SELECT a.c_custkey AS a, b.c_custkey AS b
              |  FROM pts a JOIN pts b
              |    ON a.c_custkey < b.c_custkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
              |adj AS MATERIALIZED (
              |  SELECT a AS n, b AS nbr FROM e
              |  UNION ALL SELECT b, a FROM e),
              |deg AS MATERIALIZED (
              |  SELECT n, count(*) AS d FROM adj GROUP BY n),
              |ctr AS MATERIALIZED (
              |  SELECT adj.n, adj.nbr, deg.d FROM adj
              |  JOIN deg ON adj.n = deg.n WHERE deg.d <= 10000),
              |w AS MATERIALIZED (
              |  SELECT c1.nbr AS x, c2.nbr AS y, c1.d
              |  FROM ctr c1 JOIN ctr c2 ON c1.n = c2.n AND c1.nbr < c2.nbr),
              |s AS MATERIALIZED (
              |  SELECT x, y, count(*) AS cn, sum(1e0 / ln(d)) AS aa
              |  FROM w GROUP BY x, y),
              |cand AS (
              |  SELECT * FROM s WHERE cn >= 2 AND NOT EXISTS
              |    (SELECT 1 FROM e WHERE e.a = s.x AND e.b = s.y))
              |SELECT c.x, c.y, c.cn,
              |  round(c.cn / (dx.d + dy.d - c.cn), 6) + 0e0 AS jaccard,
              |  round(c.aa, 6) + 0e0 AS adamic_adar
              |FROM cand c
              |JOIN deg dx ON c.x = dx.n
              |JOIN deg dy ON c.y = dy.n""".stripMargin)),

    // GR: the linkPredict degree-cap AUDIT as a first-class row — the
    // repo's "no silent caps" rule, oracle-checked. The lattice graph's
    // max degree is 4 (E/W 171 m + N/S 222 m neighbors make the 250 m
    // cut, diagonals at 280 m don't), so a cap of 3 flags exactly the
    // interior lattice points.
    Q("gr_link_capped",
      (s, dir) => {
        val edges = SpatialJoins.gridSelfJoin(
            custPoints(s, dir), "c_custkey", "lat", "lon", radiusM = 250.0)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        PageRank.cappedCenterCount(edges, maxCenterDegree = 3)
          .select(col("n_capped_centers"))
      },
      Some(s"""WITH pts AS MATERIALIZED ($custPointsSql),
              |e AS (
              |  SELECT a.c_custkey AS a, b.c_custkey AS b
              |  FROM pts a JOIN pts b
              |    ON a.c_custkey < b.c_custkey
              |    AND ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} <= 250.0),
              |adj AS (
              |  SELECT a AS n FROM e UNION ALL SELECT b FROM e),
              |deg AS (SELECT n, count(*) AS d FROM adj GROUP BY n)
              |SELECT CAST(sum(CASE WHEN d > 3 THEN 1 ELSE 0 END) AS BIGINT)
              |  AS n_capped_centers
              |FROM deg""".stripMargin)),

    // ST: ordered conversion funnel over the event log — earliest-
    // completion greedy matching (step i+1 strictly after the earliest
    // valid completion of step i), one partial-aggregatable shuffle per
    // step, no per-user event list ever materialized.
    Q("st_funnel",
      (s, dir) => Funnel.funnelDepth(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS t0 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS t1
             |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
             |  WHERE e.event_type = 'click' GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS t2
             |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
             |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
             |SELECT u.user_id,
             |  (CASE WHEN v.t0 IS NOT NULL THEN 1 ELSE 0 END +
             |   CASE WHEN c.t1 IS NOT NULL THEN 1 ELSE 0 END +
             |   CASE WHEN p.t2 IS NOT NULL THEN 1 ELSE 0 END) AS depth
             |FROM (SELECT DISTINCT user_id FROM events) u
             |LEFT JOIN v ON u.user_id = v.user_id
             |LEFT JOIN c ON u.user_id = c.user_id
             |LEFT JOIN p ON u.user_id = p.user_id""".stripMargin)),

    // K10: Z-order layout roundtrip — rewrite points clustered on the
    // (lat, lon) Morton curve, read back through a lat band; values must
    // survive the interleave/sort/write/scan unchanged (the pruning WIN
    // is pinned by the OperatorsSpec file-min/max test; this row pins
    // correctness of the layout path end-to-end).
    Q("k10_zorder_roundtrip",
      (s, dir) => {
        val out = s"/tmp/graft_zorder_rt_${new java.io.File(dir).getName}"
        Layout.zorderWrite(custPoints(s, dir).select("c_custkey", "lat", "lon"),
          Seq(("lat", 40.0, 40.2), ("lon", -75.0, -74.8)), out, numFiles = 8)
        s.read.parquet(out)
          .where(col("lat") >= 40.05 && col("lat") < 40.1)
          .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"))
      },
      Some(s"""WITH pts AS ($custPointsSql)
              |SELECT count(*) AS n, CAST(sum(c_custkey) AS BIGINT) AS key_sum
              |FROM pts WHERE lat >= 4.005e1 AND lat < 4.01e1""".stripMargin)),

    // SK: bloom-pruned exact semi join — fact rows are dropped by a
    // compact driver-held sketch BEFORE the join shuffle (Catalyst's
    // runtime-filter pattern as an explicit operator); the exact semi
    // join over survivors makes false positives invisible, so the result
    // is precisely the plain IN-subquery's.
    Q("sk_bloom_prune",
      (s, dir) => Prune.bloomSemiJoin(
          t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part").where(col("p_size") >= 48).select("p_partkey"),
          "p_partkey", expectedKeys = 4096, numBits = 1L << 16)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("revenue")),
      Some("""SELECT l_returnflag, count(*) AS n,
             |  round(sum(l_extendedprice), 2) AS revenue
             |FROM lineitem
             |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
             |GROUP BY l_returnflag""".stripMargin)),

    // DS: deterministic train/val/test split — hash the stable doc id (not
    // position, not random()) so membership is reproducible across runs,
    // cluster layouts, and re-partitioning, and survives appends without
    // reshuffling old docs between splits. The md5-derived bucket is the
    // cross-engine-stable randomness rule (SparkEntry header note).
    Q("ds_train_split",
      (s, dir) => {
        val bucket = pmod(
          Dedup.md5Hash32(col("doc_id").cast("string"), lit(42)), lit(100L))
        t(s, dir, "documents")
          .select(col("doc_id"), bucket.as("bucket"))
          .withColumn("split",
            when(col("bucket") < 80, lit("train"))
              .when(col("bucket") < 90, lit("val")).otherwise(lit("test")))
      },
      Some(s"""SELECT doc_id,
              |  ${h32Sql("CAST(doc_id AS VARCHAR)", "42")} % 100 AS bucket,
              |  CASE WHEN ${h32Sql("CAST(doc_id AS VARCHAR)", "42")} % 100 < 80
              |    THEN 'train'
              |    WHEN ${h32Sql("CAST(doc_id AS VARCHAR)", "42")} % 100 < 90
              |    THEN 'val' ELSE 'test' END AS split
              |FROM documents""".stripMargin)),

    // DS: LEAKAGE-SAFE split — ds_train_split's per-doc hash puts
    // ~split-fraction of every near-dup cluster on each side, so test
    // docs have train near-dups (benchmark leakage). Here the split
    // unit is the connected component of the MinHash near-dup graph:
    // cluster members land together by construction, singletons reduce
    // to the per-doc split. The oracle replays candidate generation,
    // verify, components (the dd_cluster_keep chain, shared SQL), and
    // the hash cut.
    Q("ds_split_leakage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minHashLSH(docs, "doc_id", "text",
            shingleN = 3, bands = 8, rowsPerBand = 2, simThreshold = 0.5)
          .select(col("a_id").as("src"), col("b_id").as("dst"))
        Sampling.leakageSafeSplit(docs, "doc_id", pairs, seed = 42,
          trainPct = 80, valPct = 10)
      },
      Some {
        val comp = "coalesce(c.component, d.doc_id)"
        val b = s"${h32Sql(s"CAST($comp AS VARCHAR)", "42")} % 100"
        s"""WITH RECURSIVE $minhashBandedSql,
           |$lshComponentsSql
           |SELECT d.doc_id, $comp AS component, $b AS bucket,
           |  CASE WHEN $b < 80 THEN 'train'
           |    WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
           |FROM documents d LEFT JOIN comp c ON d.doc_id = c.node"""
          .stripMargin
      }),

    // DS: deterministic epoch-seeded shard shuffle — the dataloader
    // export: shard = uniform hash, position = rank by an independent
    // second hash within the shard. Same seed replays bit-identically on
    // any cluster layout (resumable training reads the same byte order);
    // a different seed is the next epoch's independent permutation.
    Q("ds_shard_shuffle",
      (s, dir) => Sampling.shardShuffle(
        t(s, dir, "documents"), "doc_id", nShards = 8, seed = 7),
      Some(s"""WITH h AS (SELECT doc_id,
              |  ${h32Sql("CAST(doc_id AS VARCHAR)", "7")} AS h1,
              |  ${h32Sql("CAST(doc_id AS VARCHAR)", "8")} AS h2
              |  FROM documents)
              |SELECT doc_id, CAST(h1 % 8 AS INT) AS shard,
              |  CAST(row_number() OVER (PARTITION BY h1 % 8
              |    ORDER BY h2, doc_id) AS BIGINT) AS pos
              |FROM h""".stripMargin)),

    // SK: HyperLogLog distinct-count sketch (p=12, m=4096 registers) per
    // order priority, next to the exact count it approximates. The whole
    // point at 100 TB: the exact global COUNT DISTINCT shuffles every
    // distinct value, the sketch shuffles <=4096 register rows per group
    // per task (map-side max-combine). Deterministic under the md5 parity
    // hash, leading-zero rank via binary-string length (integer-exact in
    // both engines), register fold sums exact powers of two (order-proof
    // in IEEE double) — so even the ESTIMATE is oracle-exact.
    Q("sk_hll_distinct",
      (s, dir) => {
        val est = Sketches.hllDistinct(
          t(s, dir, "orders"), Seq("o_orderpriority"), "o_custkey", p = 12)
        val exact = t(s, dir, "orders").groupBy("o_orderpriority")
          .agg(countDistinct("o_custkey").as("exact"))
        est.join(exact, Seq("o_orderpriority"))
          .select(col("o_orderpriority"),
            (round(col("hll_estimate"), 4) + 0.0).as("est"), col("exact"))
      },
      Some {
        val hv = h32Sql("CAST(o_custkey AS VARCHAR)", "0")
        s"""WITH h AS (
           |  SELECT o_orderpriority AS grp, $hv AS hv FROM orders),
           |regs AS (
           |  SELECT grp, hv >> 20 AS idx,
           |    max(CASE WHEN (hv & 1048575) = 0 THEN 21
           |        ELSE 20 - (length(bin(hv & 1048575)) - 1) END) AS mj
           |  FROM h GROUP BY grp, idx),
           |folded AS (
           |  SELECT grp, sum(pow(2e0, -mj)) AS s_present,
           |    count(*) AS present FROM regs GROUP BY grp),
           |est AS (
           |  SELECT grp,
           |    (0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
           |      / (s_present + (4096 - present)) AS raw,
           |    CAST(4096 - present AS DOUBLE) AS v
           |  FROM folded),
           |ex AS (SELECT o_orderpriority AS grp,
           |       count(DISTINCT o_custkey) AS exact FROM orders GROUP BY grp)
           |SELECT grp AS o_orderpriority,
           |  round(CASE
           |    WHEN raw <= 2.5 * 4096 AND v > 0 THEN 4096e0 * ln(4096e0 / v)
           |    WHEN raw > 4294967296e0 / 30 THEN
           |      -4294967296e0 * ln(1 - raw / 4294967296e0)
           |    ELSE raw END, 4) + 0e0 AS est,
           |  exact
           |FROM est JOIN ex USING (grp)""".stripMargin
      }),

    // SK: MERGEABLE HLL rollup — per-day register tables (the
    // persistable daily sketch a 100 TB pipeline writes at ingest)
    // max-merged across days WITHOUT re-scanning events, then estimated.
    // Register max commutes with sharding, so the merged estimate is
    // bit-identical to the direct one (SketchSpec pins the identity);
    // the oracle computes the direct form, which is the same number by
    // that identity. Merge input is <= m rows per (group, day) — KB of
    // sketch state, never data.
    Q("sk_hll_merge",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("day", date_trunc("day", col("ts")))
        val daily = Sketches.hllRegisters(
          ev, Seq("event_type", "day"), "user_id", p = 12)
        val est = Sketches.hllEstimate(
          Sketches.hllMerge(daily, Seq("event_type")), Seq("event_type"),
          p = 12)
        val exact = t(s, dir, "events").groupBy("event_type")
          .agg(countDistinct("user_id").as("exact"))
        val shards = daily.select("event_type", "day").distinct()
          .groupBy("event_type").agg(count(lit(1)).as("n_shards"))
        est.join(exact, Seq("event_type")).join(shards, Seq("event_type"))
          .select(col("event_type"),
            (round(col("hll_estimate"), 4) + 0.0).as("est"),
            col("exact"), col("n_shards"))
      },
      Some {
        val hv = h32Sql("CAST(user_id AS VARCHAR)", "0")
        s"""WITH h AS (
           |  SELECT event_type AS grp, $hv AS hv FROM events),
           |regs AS (
           |  SELECT grp, hv >> 20 AS idx,
           |    max(CASE WHEN (hv & 1048575) = 0 THEN 21
           |        ELSE 20 - (length(bin(hv & 1048575)) - 1) END) AS mj
           |  FROM h GROUP BY grp, idx),
           |folded AS (
           |  SELECT grp, sum(pow(2e0, -mj)) AS s_present,
           |    count(*) AS present FROM regs GROUP BY grp),
           |est AS (
           |  SELECT grp,
           |    (0.7213 / (1 + 1.079 / 4096.0)) * 4096.0 * 4096.0
           |      / (s_present + (4096 - present)) AS raw,
           |    CAST(4096 - present AS DOUBLE) AS v
           |  FROM folded),
           |ex AS (SELECT event_type AS grp,
           |       count(DISTINCT user_id) AS exact FROM events GROUP BY grp),
           |sh AS (SELECT event_type AS grp,
           |       count(DISTINCT date_trunc('day', ts)) AS n_shards
           |       FROM events GROUP BY grp)
           |SELECT grp AS event_type,
           |  round(CASE
           |    WHEN raw <= 2.5 * 4096 AND v > 0 THEN 4096e0 * ln(4096e0 / v)
           |    WHEN raw > 4294967296e0 / 30 THEN
           |      -4294967296e0 * ln(1 - raw / 4294967296e0)
           |    ELSE raw END, 4) + 0e0 AS est,
           |  exact, n_shards
           |FROM est JOIN ex USING (grp) JOIN sh USING (grp)""".stripMargin
      }),

    // SK: mergeable QUANTILE sketch — fixed-range equi-width histogram
    // (1024 buckets over the known price domain) + interpolated
    // quantile read-off. The histogram is the persistable/additive
    // state (histMerge identity spec'd); the cumulative walk is over
    // <= 1024 sketch rows, never data. Deterministic by construction
    // (unlike t-digest/KLL), so the oracle replays it exactly; emitted
    // values use the floor(v*1e4+0.5)/1e4 quantization because dyadic
    // bucket edges make decimal-round midpoints reachable.
    Q("sk_hist_quantile",
      (s, dir) => {
        val hist = Sketches.histogramCounts(
          t(s, dir, "lineitem"), "l_extendedprice",
          lo = 0.0, hi = 122880.0, bins = 1024)
        Sketches.histQuantiles(hist, Seq(0.5, 0.9, 0.99),
          lo = 0.0, hi = 122880.0, bins = 1024)
      },
      Some("""WITH h AS (
             |  SELECT least(1023, greatest(0, CAST(floor(
             |      (l_extendedprice - 0e0) / 122880e0 * 1024e0) AS INT)))
             |    AS bucket, count(*) AS cnt
             |  FROM lineitem GROUP BY 1),
             |c AS (
             |  SELECT bucket, CAST(cnt AS DOUBLE) AS cnt,
             |    CAST(sum(cnt) OVER (ORDER BY bucket) AS DOUBLE) AS cum
             |  FROM h),
             |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM h),
             |q AS (SELECT unnest([5e-1, 9e-1, 99e-2]) AS q),
             |pick AS (
             |  SELECT q, min(bucket) AS bucket
             |  FROM q CROSS JOIN n CROSS JOIN c
             |  WHERE cum >= q * n GROUP BY q),
             |sel AS (
             |  SELECT p.q, c.bucket, c.cnt, c.cum, n.n
             |  FROM pick p JOIN c ON p.bucket = c.bucket CROSS JOIN n)
             |SELECT q,
             |  floor((0e0 + 120e0 * (CAST(bucket AS DOUBLE) +
             |    (q * n - (cum - cnt)) / cnt)) * 1e4 + 5e-1) / 1e4 AS value
             |FROM sel""".stripMargin)),

    // SK: quantiles with NO caller-supplied domain — the two-pass
    // min/max + histogram composition (the deterministic, mergeable
    // alternative to KLL's randomized compaction). Pass 1 is a
    // partial-aggregated global (min, max); pass 2 the histogram sketch
    // under that measured domain. The oracle recomputes both passes.
    Q("sk_auto_quantile",
      (s, dir) => Sketches.autoRangeQuantiles(
        t(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.5, 0.9, 0.99), bins = 1024),
      Some("""WITH vals AS (
             |  SELECT l_extendedprice::DOUBLE AS v FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |mm AS (SELECT min(v) AS lo, max(v) AS hi FROM vals),
             |h AS (
             |  SELECT least(1023, greatest(0, CAST(floor(
             |      (v - lo) / (hi - lo) * 1024e0) AS INT))) AS bucket,
             |    count(*) AS cnt
             |  FROM vals CROSS JOIN mm GROUP BY 1),
             |c AS (
             |  SELECT bucket, CAST(cnt AS DOUBLE) AS cnt,
             |    CAST(sum(cnt) OVER (ORDER BY bucket) AS DOUBLE) AS cum
             |  FROM h),
             |n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM h),
             |q AS (SELECT unnest([5e-1, 9e-1, 99e-2]) AS q),
             |pick AS (
             |  SELECT q, min(bucket) AS bucket
             |  FROM q CROSS JOIN n CROSS JOIN c
             |  WHERE cum >= q * n GROUP BY q),
             |sel AS (
             |  SELECT p.q, c.bucket, c.cnt, c.cum, n.n, mm.lo, mm.hi
             |  FROM pick p JOIN c ON p.bucket = c.bucket
             |  CROSS JOIN n CROSS JOIN mm)
             |SELECT q,
             |  floor((lo + (hi - lo) / 1024e0 * (CAST(bucket AS DOUBLE) +
             |    (q * n - (cum - cnt)) / cnt)) * 1e4 + 5e-1) / 1e4 AS value
             |FROM sel""".stripMargin)),

    // SK: count-min frequency sketch (depth 4 x width 1024) over the
    // token multiset, point-queried for a fixed probe list, next to the
    // exact counts. Counter table shuffles at sketch size (<=4096 rows)
    // regardless of corpus size; integer counters make estimate parity
    // exact. est >= exact always (one-sided CMS error).
    Q("sk_cms_freq",
      (s, dir) => {
        val probeToks = Seq("join", "hash", "row", "batch", "scan",
          "customer", "column", "filter", "merge", "vector")
        import s.implicits._
        // the token frame feeds the sketch build AND the exact probe
        // counts — pinned, the corpus tokenize scan runs once
        val toks = graft.operators.CacheScope.pin(
          t(s, dir, "documents")
            .select(explode(Dedup.tokens(col("text"))).as("tok")))
        val counters = Sketches.cmsBuild(toks, "tok")
        val exact = toks.where(col("tok").isin(probeToks: _*))
          .groupBy("tok").agg(count(lit(1)).as("exact"))
        Sketches.cmsEstimate(counters, probeToks.toDF("tok"), "tok")
          .withColumnRenamed("item", "tok")
          .join(exact, Seq("tok"), "left")
          .select(col("tok"), col("cms_estimate").as("est"),
            coalesce(col("exact"), lit(0L)).as("exact"))
      },
      Some {
        val probeList = "'join', 'hash', 'row', 'batch', 'scan', " +
          "'customer', 'column', 'filter', 'merge', 'vector'"
        s"""WITH toks AS ($toksSql),
           |tok AS (SELECT unnest(tk) AS t_ FROM toks),
           |seeds AS (SELECT unnest([1, 2, 3, 4]) AS seed),
           |counters AS (
           |  SELECT seed, ${h32Sql("t_", "seed")} % 1024 AS bucket,
           |    count(*) AS cnt
           |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
           |probes AS (SELECT unnest([$probeList]) AS tok),
           |addr AS (SELECT tok, seed, ${h32Sql("tok", "seed")} % 1024 AS bucket
           |         FROM probes CROSS JOIN seeds),
           |est AS (SELECT tok, min(coalesce(cnt, 0)) AS est
           |        FROM addr LEFT JOIN counters USING (seed, bucket)
           |        GROUP BY tok),
           |exact AS (SELECT t_ AS tok, count(*) AS exact FROM tok
           |          WHERE t_ IN ($probeList) GROUP BY 1)
           |SELECT tok, est, coalesce(exact, 0) AS exact
           |FROM est LEFT JOIN exact USING (tok)""".stripMargin
      }),

    // SK: EXACT heavy hitters via sketch-then-verify — phase 1 CMS
    // prefilter (map-side, sketch collected model-sized), phase 2 exact
    // counts over candidate rows only. CMS never underestimates, so the
    // output EQUALS the plain HAVING count >= N query — which is
    // precisely what the oracle states; the sketch phase buys the
    // shuffle reduction, not a different answer.
    Q("sk_heavy_hitters",
      (s, dir) => Sketches.heavyHitters(
        t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("tok")),
        "tok", minCount = 500),
      Some(s"""WITH toks AS ($toksSql),
              |tok AS (SELECT unnest(tk) AS item FROM toks)
              |SELECT item, count(*) AS n
              |FROM tok GROUP BY item HAVING count(*) >= 500""".stripMargin)),

    // SK: heavy-hitters prefilter-selectivity audit — the no-silent-caps
    // rule applied to the sketch: an undersized CMS width degrades the
    // two-phase saving to a full shuffle WITHOUT changing the output
    // (recall is exact either way), so the degradation needs its own
    // oracle-checked row. The oracle replays the CMS addressing and the
    // row-weighted prefilter count.
    Q("sk_hh_selectivity",
      (s, dir) => Sketches.heavyHittersAudit(
        t(s, dir, "documents")
          .select(explode(Dedup.tokens(col("text"))).as("tok")),
        "tok", minCount = 500),
      Some(s"""WITH toks AS ($toksSql),
              |tok AS (SELECT unnest(tk) AS t_ FROM toks),
              |seeds AS (SELECT unnest([1, 2, 3, 4]) AS seed),
              |counters AS (
              |  SELECT seed, ${h32Sql("t_", "seed")} % 1024 AS bucket,
              |    count(*) AS cnt
              |  FROM tok CROSS JOIN seeds GROUP BY 1, 2),
              |cnt AS (SELECT t_ AS item, count(*) AS c FROM tok GROUP BY 1),
              |addr AS (SELECT item, c, seed,
              |    ${h32Sql("item", "seed")} % 1024 AS bucket
              |  FROM cnt CROSS JOIN seeds),
              |est AS (SELECT item, c, min(coalesce(cnt, 0)) AS est
              |        FROM addr LEFT JOIN counters USING (seed, bucket)
              |        GROUP BY item, c)
              |SELECT CAST(sum(c) AS BIGINT) AS total_rows,
              |  CAST(sum(CASE WHEN est >= 500 THEN c ELSE 0 END) AS BIGINT)
              |    AS candidate_rows,
              |  floor(sum(CASE WHEN est >= 500 THEN c ELSE 0 END)::DOUBLE /
              |    sum(c)::DOUBLE * 1e6 + 5e-1) / 1e6 AS selectivity
              |FROM est""".stripMargin)),

    // SK: KMV bottom-k distinct sketch — the fourth mergeable sketch
    // (HLL counts, CMS frequencies, histogram quantiles; KMV adds SET
    // operations). k smallest distinct parity hashes per group; the
    // bounded Aggregator keeps buffers k-sized through partial agg.
    // Deterministic function of the value SET -> the oracle replays
    // the bottom-k with a row_number scan. Groups that never fill k
    // slots report their EXACT distinct count.
    Q("sk_kmv_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val sk = Sketches.kmvSketch(ev, Seq("event_type"), "user_id", k = 64)
        val exact = ev.groupBy("event_type")
          .agg(countDistinct("user_id").as("exact"))
        sk.select(col("event_type"), size(col("kmv")).as("n_kept"),
            (floor(Sketches.kmvEstimate(col("kmv"), 64) * lit(1e4) +
              lit(0.5)) / lit(1e4)).as("est"))
          .join(exact, "event_type")
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT event_type,
              |    ${h32Sql("user_id::VARCHAR", "0")} AS h
              |  FROM events),
              |r AS (
              |  SELECT event_type, h,
              |    row_number() OVER (PARTITION BY event_type ORDER BY h)
              |      AS rn
              |  FROM h),
              |k AS (
              |  SELECT event_type, count(*) AS n_kept,
              |    max(CASE WHEN rn = 64 THEN h END) AS kth
              |  FROM r WHERE rn <= 64 GROUP BY event_type),
              |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact
              |       FROM events GROUP BY 1)
              |SELECT event_type, CAST(n_kept AS INT) AS n_kept,
              |  floor((CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
              |    ELSE 63e0 * 4294967296e0 / kth::DOUBLE END) * 1e4 + 5e-1)
              |    / 1e4 AS est,
              |  exact
              |FROM k JOIN ex USING (event_type)""".stripMargin)),

    // SK: KMV set-operation estimates — union and INTERSECTION
    // cardinality of two groups' value sets from their k-sized
    // sketches alone (the estimator HLL registers cannot provide
    // without inclusion-exclusion error blowup): bottom-k of the
    // combined hashes sketches the union; the share of it present in
    // both inputs estimates Jaccard; intersection = jaccard * union.
    Q("sk_kmv_intersect",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("event_type").isin("click", "purchase"))
        val sk = Sketches.kmvSketch(ev, Seq("event_type"), "user_id", k = 64)
        val a = sk.where(col("event_type") === "click")
          .select(col("kmv").as("ka"))
        val b = sk.where(col("event_type") === "purchase")
          .select(col("kmv").as("kb"))
        val u = ev.select("user_id").distinct()
          .agg(count(lit(1)).as("exact_union"))
        val i = t(s, dir, "events").groupBy("user_id")
          .agg(countDistinct(when(col("event_type") === "click",
              lit(1))).as("hc"),
            countDistinct(when(col("event_type") === "purchase",
              lit(1))).as("hp"))
          .where(col("hc") > 0 && col("hp") > 0)
          .agg(count(lit(1)).as("exact_inter"))
        val q = (c: Column) => floor(c * lit(1e4) + lit(0.5)) / lit(1e4)
        a.crossJoin(broadcast(b))
          .withColumn("e", Sketches.kmvSetEstimates(col("ka"), col("kb"), 64))
          .crossJoin(broadcast(u)).crossJoin(broadcast(i))
          .select(q(col("e.est_union")).as("est_union"),
            q(col("e.est_inter")).as("est_inter"),
            col("exact_union"), col("exact_inter"))
      },
      Some(s"""WITH h AS (
              |  SELECT DISTINCT event_type,
              |    ${h32Sql("user_id::VARCHAR", "0")} AS h
              |  FROM events WHERE event_type IN ('click', 'purchase')),
              |r AS (
              |  SELECT event_type, h,
              |    row_number() OVER (PARTITION BY event_type ORDER BY h)
              |      AS rn
              |  FROM h),
              |ka AS (SELECT list(h ORDER BY h) AS ks FROM r
              |       WHERE event_type = 'click' AND rn <= 64),
              |kb AS (SELECT list(h ORDER BY h) AS ks FROM r
              |       WHERE event_type = 'purchase' AND rn <= 64),
              |un AS (
              |  SELECT list_sort(list_distinct(ka.ks || kb.ks))[1:64] AS u,
              |    ka.ks AS a, kb.ks AS b
              |  FROM ka CROSS JOIN kb),
              |est AS (
              |  SELECT
              |    CASE WHEN len(u) < 64 THEN len(u)::DOUBLE
              |      ELSE 63e0 * 4294967296e0 / u[64]::DOUBLE END AS eu,
              |    len(list_intersect(list_intersect(u, a), b))::DOUBLE /
              |      len(u)::DOUBLE AS j
              |  FROM un),
              |exu AS (SELECT count(DISTINCT user_id) AS exact_union
              |        FROM events
              |        WHERE event_type IN ('click', 'purchase')),
              |exi AS (
              |  SELECT count(*) AS exact_inter FROM (
              |    SELECT user_id FROM events GROUP BY user_id
              |    HAVING count(DISTINCT CASE WHEN event_type = 'click'
              |        THEN 1 END) > 0
              |      AND count(DISTINCT CASE WHEN event_type = 'purchase'
              |        THEN 1 END) > 0))
              |SELECT floor(eu * 1e4 + 5e-1) / 1e4 AS est_union,
              |  floor((j * eu) * 1e4 + 5e-1) / 1e4 AS est_inter,
              |  exact_union, exact_inter
              |FROM est CROSS JOIN exu CROSS JOIN exi""".stripMargin)),

    // TA: byte-level BPE token statistics under the COMMITTED merges
    // fixture (graft/bpe_merges.txt, trained deterministically by
    // tools.BpeTrain — the public GPT-2 scheme applied per whitespace
    // word). Real token counts, not the word-count proxy: this is what
    // sequence packing and mixture budgeting actually meter. The
    // oracle replays the encode as a recursive CTE over the DISTINCT
    // words (same min-rank merge loop; one leftmost occurrence per
    // step, equivalent for training-consistent tables — see Bpe's
    // scaladoc and BpeSpec).
    Q("ta_bpe_tokens",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Bpe.tokenStats(col("text")).as("st"))
        .select(col("doc_id"), col("st._1").as("n_words"),
          col("st._2").as("n_tokens")),
      Some(s"""WITH RECURSIVE
              |${graft.functions.Bpe.oracleCtesSql("documents")},
              |agg AS (
              |  SELECT bw.doc_id, count(*) AS n_words, sum(b.n_tok) AS n_tokens
              |  FROM bpe_words bw JOIN bpe b USING (w)
              |  GROUP BY bw.doc_id)
              |SELECT doc.doc_id,
              |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
              |  CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
              |FROM documents doc LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    // DS: sequence packing budgeted by REAL BPE token counts (the
    // ds_pack_sequences shape — contiguous greedy fill into 512-token
    // bins per source shard — with the proxy word count replaced by
    // the tokenizer the training run would actually meter with).
    Q("ds_pack_tokens",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_tokens"))
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        d.withColumn("cum", sum("n_tokens").over(w))
          .withColumn("seq_id", expr("(cum - n_tokens) div 512"))
          .select("doc_id", "source", "n_tokens", "seq_id")
      },
      Some(s"""WITH RECURSIVE
              |${graft.functions.Bpe.oracleCtesSql("documents")},
              |agg AS (
              |  SELECT bw.doc_id, CAST(sum(b.n_tok) AS BIGINT) AS n_tokens
              |  FROM bpe_words bw JOIN bpe b USING (w)
              |  GROUP BY bw.doc_id),
              |d AS (
              |  SELECT doc.doc_id, doc.source,
              |    CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens
              |  FROM documents doc LEFT JOIN agg a USING (doc_id)),
              |c AS (SELECT doc_id, source, n_tokens,
              |        sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              |          ROWS UNBOUNDED PRECEDING) AS cum
              |      FROM d)
              |SELECT doc_id, source, n_tokens,
              |  CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id
              |FROM c""".stripMargin)),

    // TA: corpus datasheet — the per-(source, lang) curation KPI rollup
    // every dataset card starts from: doc/token/char totals, mean doc
    // length, and the exact-duplicate rate (distinct text digests over
    // docs), with ROLLUP subtotals so the whole-corpus line and the
    // per-source lines come from the same single-pass aggregation. One
    // tokenize scan, one grouping-sets aggregate; the only
    // countDistinct is digest-per-group (the dedup KPI, irreducible).
    // TA: character-level Shannon entropy — the CCNet-style gibberish /
    // boilerplate signal (keyboard mash and padding sit far below
    // natural prose's ~3.5-4.5 bits, base64 blobs far above). One
    // kernel pass per row, histogram never becomes rows; the oracle
    // unnests code points only because DuckDB has no such kernel.
    // floor-quantized (not decimal round) per the midpoint discipline.
    Q("ta_entropy",
      (s, dir) => {
        val h = TextAnalysis.charEntropy(col("text"))
        t(s, dir, "documents")
          .where(col("text").isNotNull && length(col("text")) > 0)
          .select(col("doc_id"),
            (floor(h * lit(1e6) + lit(0.5)) / lit(1e6)).as("ent"))
          .withColumn("low_entropy", col("ent") < 3.0)
      },
      Some("""WITH ch AS (
             |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
             |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
             |cnt AS (SELECT doc_id, c, count(*) AS k
             |        FROM ch GROUP BY doc_id, c),
             |ent AS (
             |  SELECT doc_id,
             |    (ln(sum(k)) - sum(k * ln(k)) / sum(k)) / ln(2) AS h
             |  FROM cnt GROUP BY doc_id)
             |SELECT doc_id, floor(h * 1e6 + 5e-1) / 1e6 AS ent,
             |  (floor(h * 1e6 + 5e-1) / 1e6) < 3.0 AS low_entropy
             |FROM ent""".stripMargin)),

    Q("ta_corpus_stats",
      (s, dir) => t(s, dir, "documents")
        .select(col("source"), col("lang"),
          size(Dedup.tokens(col("text"))).cast("long").as("ntk"),
          col("n_chars"), md5(col("text")).as("dg"))
        .rollup("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntk").as("n_tokens"),
          sum("n_chars").as("n_chars"),
          (floor(sum("ntk").cast("double") / count(lit(1)) * lit(1e4) +
            lit(0.5)) / lit(1e4)).as("mean_tokens"),
          (floor(countDistinct(col("dg")).cast("double") / count(lit(1)) *
            lit(1e4) + lit(0.5)) / lit(1e4)).as("uniq_frac")),
      Some(s"""WITH t0 AS ($toksSql),
              |b AS (SELECT d.source, d.lang, len(t0.tk) AS ntk,
              |        d.n_chars, md5(d.text) AS dg
              |      FROM documents d JOIN t0 ON d.doc_id = t0.id)
              |SELECT source, lang, count(*) AS n_docs,
              |  CAST(sum(ntk) AS BIGINT) AS n_tokens,
              |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
              |  floor(sum(ntk)::DOUBLE / count(*) * 1e4 + 5e-1) / 1e4
              |    AS mean_tokens,
              |  floor(count(DISTINCT dg)::DOUBLE / count(*) * 1e4 + 5e-1)
              |    / 1e4 AS uniq_frac
              |FROM b GROUP BY ROLLUP (source, lang)""".stripMargin))
  )

  // =================================================================
  // IR + chunk dedup: query-time retrieval over the corpus (the query
  // half of the ta_postings index story) and content-defined chunking.
  // Query/phrase fixtures derive from the documents table itself (every
  // ~41st / ~53rd doc under id 5000 contributes its leading tokens) so
  // both engines synthesize them independently; the id cap keeps the
  // query batch FIXED once the corpus passes sf0.1 — the realistic
  // retrieval shape (a growing corpus serves a user-sized query batch,
  // not one that grows with it), and what the sf1 probe measures.
  // =================================================================

  /** The BM25 fixture's query frame: every ~41st doc under id 5000
    * queries with its first 5 tokens (the cap keeps the batch fixed as
    * the corpus grows). Shared by the inline and standing-index rows. */
}
