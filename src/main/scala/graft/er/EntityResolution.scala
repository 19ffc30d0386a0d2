package graft.er

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointOps

import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, SpatialJoins}

/** Entity resolution over geo-located places — the heart of the reference
  * pipeline (`/root/reference/etl/er.py:152-248`), re-expressed as one
  * shuffle-friendly Spark dataflow:
  *
  *   candidates (grid-blocked self-join, §J4)
  *     -> similarity scoring (fuzzy kernels, §F7/F8)
  *       -> banded acceptance (§G1)
  *         -> connected components (§G2)
  *           -> canonical naming + id minting (§A4/G3)
  *
  * Input schema: place_id, source, name, lat, lon, city_slug (+ anything).
  * Scale notes: the blocking self-join and the two name joins are keyed
  * equi-joins; Spark broadcasts their smaller side when the staged places
  * fit the broadcast threshold and shuffles on the spatial cell key and
  * the place id when they do not. A checkpointed input is priced at the
  * bytes it stores, not at its plan's estimate, so that choice follows
  * the real size. Components shuffle on the component label — no
  * driver-side state except the CC fixpoint loop; city_slug rides along
  * as a blocking key so ER never pairs across cities (mirrors the
  * reference's per-city partition loop `er.py:303-305`).
  */
object EntityResolution {

  /** Candidate pairs within radiusM, same city, decided + scored by the
    * reference's full `accept_pair_and_sim` rule (one kernel call per pair:
    * ER name-sim blend, content jaccard, substring, type/areal class).
    * Output: a/b ids + sources + names, accepted, name_sim, meters,
    * city_slug. */
  def candidatePairs(places: DataFrame, radiusM: Double = 250.0,
                     cellDeg: Double = 0.01): DataFrame = {
    // a staged checkpoint carries its staging joins' product estimate;
    // its stored bytes let the blocking and name joins broadcast
    val priced = CheckpointOps.withStoredStats(places)
    val pairs = SpatialJoins.gridSelfJoin(
      priced.select("place_id", "lat", "lon", "city_slug"),
      "place_id", "lat", "lon", radiusM, cellDeg, extraKeys = Seq("city_slug"))
    val dims = priced.select(col("place_id"), col("name"), col("source"))
    pairs
      .join(dims.select(col("place_id").as("a_id"), col("name").as("a_name"),
        col("source").as("src_a")), "a_id")
      .join(dims.select(col("place_id").as("b_id"), col("name").as("b_name"),
        col("source").as("src_b")), "b_id")
      .withColumn("decision", TextFunctions.acceptPairAndSimUdf(col("a_name"),
        col("b_name"), col("meters"), col("src_a") === col("src_b")))
      .select(col("a_id").as("a"), col("b_id").as("b"), col("src_a"),
        col("src_b"), col("decision._1").as("accepted"),
        col("decision._2").as("name_sim"), col("meters"),
        col("a_city_slug").as("city_slug"), col("a_name"), col("b_name"))
  }

  /** Accepted links (the place_links export of the reference,
    * `etl/er.py:161,189-198`); the decision itself is the reference's
    * banded `accept_pair_and_sim` (`etl/er.py:102-132`), evaluated inside
    * [[candidatePairs]]. */
  def links(places: DataFrame, radiusM: Double = 250.0): DataFrame =
    candidatePairs(places, radiusM)
      .where(col("accepted"))
      .select("a", "b", "src_a", "src_b", "name_sim", "meters", "city_slug")

  /** Full ER: returns the place_canonical_map
    * (source_place_id, canonical_id, canonical_name, city_slug) —
    * singleton places canonicalize to themselves
    * (reference `etl/er.py:224-248,330-338`). */
  def canonicalMap(places: DataFrame, radiusM: Double = 250.0): DataFrame =
    canonicalMapFromLinks(places, links(places, radiusM))

  /** [[canonicalMap]] with a caller-supplied accepted-edge set (columns
    * `a`, `b`) instead of the built-in rapidfuzz acceptance — lets a
    * pipeline plug any decision rule (e.g. a SQL-expressible banded one)
    * into the same components -> mint dataflow. `places` needs place_id,
    * name, city_slug. */
  def canonicalMapFromLinks(places: DataFrame, ls: DataFrame): DataFrame = {
    // When the link set carries its city (as links() emits), components are
    // city-bounded by construction (reference `etl/er.py:303-305`), so the
    // single-shuffle per-city union-find replaces the iterative fixpoint
    // (~18 driver rounds -> one exchange; see ConnectedComponents.runScoped).
    val comps =
      if (ls.columns.contains("city_slug"))
        ConnectedComponents.runScoped(
          ls.select(col("city_slug"), col("a").as("src"), col("b").as("dst")),
          "city_slug")
          .select(col("node"), col("component"))
      else ConnectedComponents.run(
        ls.select(col("a").as("src"), col("b").as("dst")))
    val withComp = places
      .join(comps.withColumnRenamed("node", "place_id"), Seq("place_id"), "left")
      .withColumn("component", coalesce(col("component"), col("place_id")))
    // canonical name = longest member name, tie -> lexicographically first
    // (deterministic replacement for the reference's stable-sort tie
    // behavior, SURVEY §7.4.2)
    val w = Window.partitionBy("component")
      .orderBy(length(col("name")).desc, col("name").asc, col("place_id").asc)
    // IDs minted with the reference's norm_name (`etl/er.py:30-41,235-243`:
    // keeps .,:_ and drops accented chars outright), NOT the JSONL slugify —
    // "St. Stephen's" -> "st.-stephens::<city>"; null when either part is
    // empty, matching canonical_id_for
    val canon = withComp
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .withColumn("name_slug", TextFunctions.normNameUdf(col("name")))
      .select(col("component"),
        col("name").as("canonical_name"),
        when(length(col("name_slug")) > 0 && col("city_slug").isNotNull,
          concat(col("name_slug"), lit("::"), col("city_slug")))
          .as("canonical_id"))
    withComp.join(canon, "component")
      .select(col("place_id").as("source_place_id"), col("canonical_id"),
        col("canonical_name"), col("city_slug"))
  }
}
