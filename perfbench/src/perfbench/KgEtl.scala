package perfbench

import org.apache.spark.perfbench.Probe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.er.EntityResolution
import graft.operators.{CacheScope, PageRank, SpatialJoins}
import graft.sources.Sources
import graft.staging.CityAssignment

final case class LatLon(lat: Double, lon: Double)
final case class CityRow(slug: String, name: String, center_lat: Double,
                         center_lon: Double, radius_km: Option[Double],
                         min_lat: Option[Double], min_lon: Option[Double],
                         max_lat: Option[Double], max_lon: Option[Double],
                         polygon: Option[Seq[LatLon]], city_order: Long)

/** The paper's own pipeline: three place sources, a dirty listings CSV
  * and JSONL reviews -> city staging -> entity resolution -> canonical
  * places -> review lift, NEAR listings, popularity z-score and POI
  * cards (the `pipe_kg_etl` composition), plus a PageRank over the
  * place-listing NEAR graph carried on every card. */
final class KgEtl(spark: SparkSession, probe: Probe, work: String, seed: Long,
                  scale: Double) extends Workload(spark, probe, work, seed, scale) {
  val name = "kg_etl"
  val why = "Puts nearly all work in sources, staging, er and SpatialJoins; " +
    "per-city union-find means almost no iterative materialisation, so " +
    "it is the no-change workload for graph and CheckpointOps changes."

  private val clusters = math.max(40, (500 * scale).toInt)
  private var dir: String = _
  private var input: Gen.KgInput = _
  // handles the check pass reads while the operation's pins are alive
  private var lastLinks: DataFrame = _
  private var lastCmap: DataFrame = _
  private var lastCand: DataFrame = _
  private var lastRank: DataFrame = _
  private var lastMembers: DataFrame = _
  private var lastCounts: (Long, Long) = (0L, 0L)
  private var lastOut: Seq[String] = Seq.empty
  private var checked: (Seq[(String, String)], Map[String, String],
    Map[String, String], Seq[Double], Seq[String]) =
    (Nil, Map.empty, Map.empty, Nil, Nil)

  private val placeSchema = StructType(Seq(
    StructField("place_id", StringType), StructField("name", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType)))
  private val reviewSchema = StructType(Seq(
    StructField("review_id", LongType), StructField("place_id", StringType),
    StructField("stars", IntegerType), StructField("text", StringType)))
  private val listingSchema = StructType(Seq(
    StructField("listing_id", LongType), StructField("name", StringType),
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("price", DoubleType)))

  def setup(rep: Int): Unit = {
    import spark.implicits._
    dir = s"$root/kg$rep"
    input = Gen.kg(seed, clusters)
    val bySrc = input.places.groupBy(_.source)
    bySrc("yelp").map(p => (p.id, p.name, p.lat, p.lon))
      .toDF("place_id", "name", "lat", "lon")
      .write.mode("overwrite").parquet(s"$dir/yelp")
    Gen.writePlacesJsonl(s"$dir/reddit/places.jsonl", bySrc("reddit"))
    Gen.writeXml(s"$dir/wikivoyage/dump.xml", bySrc("wikivoyage"))
    Gen.writeListingsCsv(s"$dir/airbnb/listings.csv", input.listings)
    Gen.writeReviewsJsonl(s"$dir/reviews/reviews.jsonl", input.reviews)
    input.cities.zipWithIndex.map { case (c, i) =>
      val poly = Seq(LatLon(c.lat + 0.05, c.lon), LatLon(c.lat, c.lon + 0.05),
        LatLon(c.lat - 0.05, c.lon), LatLon(c.lat, c.lon - 0.05))
      val box = c.rule.contains("bbox")
      def b(d: Double) = if (box) Some(d) else None
      CityRow(c.slug, c.name, c.lat, c.lon,
        Some(if (c.rule == "radius") 5.0 else 1.0),
        b(c.lat - 0.04), b(c.lon - 0.04), b(c.lat + 0.04), b(c.lon + 0.04),
        if (c.rule.contains("polygon")) Some(poly) else None, i.toLong)
    }.toDF().write.mode("overwrite").parquet(s"$dir/cities")
  }

  def inputProps: Map[String, Any] = input.props

  /** `EntityResolution.links`, spelled out for the traced run: the
    * candidate pairs, materialised at the span boundary, then the accepted
    * ones. */
  private def linksLayered(c: Ctx, members: DataFrame): DataFrame = {
    val cand = c.feed(EntityResolution.candidatePairs(members))
    lastCand = cand
    cand.where(col("accepted"))
      .select("a", "b", "src_a", "src_b", "name_sim", "meters", "city_slug")
  }

  /** The pipeline up to its POI cards; `lastMembers`, `lastLinks` and
    * `lastCmap` keep the staging and ER outputs for the check pass. */
  private def build(c: Ctx): DataFrame = {
    val cities = spark.read.parquet(s"$dir/cities")
    val places = c.layer("sources") {
      val wv = Sources.listingsFromPages(
          Sources.readXmlPages(spark, s"$dir/wikivoyage")).toDF()
        .where(col("lat").isNotNull && col("lon").isNotNull)
        .select(concat_ws(":", lit("wikivoyage"), col("pageTitle"),
          col("name")).as("place_id"), lit("wikivoyage").as("source"),
          col("name"), col("lat"), col("lon"))
      val yelp = spark.read.parquet(s"$dir/yelp")
        .select(col("place_id"), lit("yelp").as("source"), col("name"),
          col("lat"), col("lon"))
      val reddit = Sources.jsonl(spark, s"$dir/reddit", Some(placeSchema))
        .where(col("place_id").isNotNull)
        .select(col("place_id"), lit("reddit").as("source"), col("name"),
          col("lat"), col("lon"))
      c.feed(yelp.unionByName(reddit).unionByName(wv))
    }
    val reviews = c.layer("sources")(c.feed(
      Sources.jsonl(spark, s"$dir/reviews", Some(reviewSchema))))
    val listings = c.layer("sources")(c.feed(
      Sources.repairedCsv(spark, s"$dir/airbnb", listingSchema)))
    // members feed three branches, so the composition checkpoints them
    // once (as `pipe_kg_etl` does)
    val members = c.layer("staging") {
      val assigned = CityAssignment.assign(places, cities, hintCol = None)
        .where(col("city_slug").isNotNull)
      CityAssignment.distanceGuard(assigned, cities, maxKm = 10.0)
        .select("place_id", "source", "name", "lat", "lon", "city_slug")
        .localCheckpoint()
    }
    val links = c.layer("er") {
      if (c.layered) linksLayered(c, members)
      else EntityResolution.links(members)
    }
    val cmap = c.layer("er")(c.feed(
      EntityResolution.canonicalMapFromLinks(members, links)))
    lastMembers = members
    lastLinks = links
    lastCmap = cmap
    val memberCanon = members.drop("city_slug")
      .join(cmap, col("place_id") === col("source_place_id"))
      .select(col("place_id"), col("lat"), col("lon"), col("canonical_id"),
        col("canonical_name"), col("city_slug"))
      .localCheckpoint()
    // review lift: the two best reviews quoted per canonical place
    val wq = Window.partitionBy("canonical_id")
      .orderBy(col("stars").desc, col("review_id").asc)
    val revAgg = reviews
      .join(memberCanon.select("place_id", "canonical_id"), "place_id")
      .withColumn("rn", row_number().over(wq))
      .groupBy("canonical_id")
      .agg(count(lit(1)).as("n_reviews"),
        round(avg("stars"), 4).as("stars"),
        array_join(transform(array_sort(collect_list(
          when(col("rn") <= 2, struct(col("rn"),
            substring(col("text"), 1, 120).as("txt"))))),
          x => x.getField("txt")), " | ").as("quotes"))
    val near = c.layer("SpatialJoins")(c.feed(SpatialJoins.gridWithinJoin(
      memberCanon, listings, "place_id", "listing_id", thresholdM = 300.0)))
    // popularity by PageRank over the undirected place-listing NEAR graph
    val nearEdges = near
      .join(memberCanon.select("place_id", "canonical_id"), "place_id")
      .select(col("canonical_id").as("src"),
        concat(lit("listing:"), col("listing_id")).as("dst")).distinct()
    val rank = c.layer("PageRank")(c.feed(PageRank.run(
        nearEdges.unionByName(nearEdges.select(col("dst").as("src"),
          col("src").as("dst"))), iterations = 2, redistributeDangling = true)))
    lastRank = rank
    val listAgg = near
      .join(memberCanon.select("place_id", "canonical_id"), "place_id")
      .groupBy("canonical_id")
      .agg(countDistinct("listing_id").as("listings_nearby"))
    val base = memberCanon
      .groupBy("canonical_id", "canonical_name", "city_slug")
      .agg(count(lit(1)).as("n_members"))
      .join(revAgg, Seq("canonical_id"), "left")
      .join(listAgg, Seq("canonical_id"), "left")
      .withColumn("n_reviews", coalesce(col("n_reviews"), lit(0L)))
      .withColumn("quotes", coalesce(col("quotes"), lit("")))
      .withColumn("listings_nearby",
        coalesce(col("listings_nearby"), lit(0L)))
      .join(rank.select(col("node").as("canonical_id"),
        round(col("rank"), 10).as("rank")), Seq("canonical_id"), "left")
    val wz = Window.partitionBy("city_slug")
    val mu = avg(col("listings_nearby").cast("double")).over(wz)
    val sd = stddev_samp(col("listings_nearby").cast("double")).over(wz)
    base.withColumn("z", round(when(sd === 0 || sd.isNull, 0.0)
        .otherwise((col("listings_nearby") - mu) / sd), 4) + 0.0)
      .withColumn("flag", when(col("z") >= 1.0, "high")
        .when(col("z") >= 0.0, "medium").otherwise("low"))
      .select("canonical_id", "canonical_name", "city_slug", "n_members",
        "n_reviews", "stars", "listings_nearby", "rank", "z", "flag", "quotes")
  }

  def op(): Map[String, Double] = {
    CacheScope.materialized(spark)(build(new Ctx(None)))(noop)
    Map.empty
  }

  def opTraced(t: Tracer): Map[String, Double] = {
    CacheScope.materialized(spark)(build(new Ctx(Some(t)))) { out =>
      noop(out)
      // the candidate pairs were materialised at the er boundary
      val cand = lastCand
      lastCounts = (cand.count(), cand.where(col("accepted")).count())
    }
    Map.empty
  }

  override def layerExtras(t: Tracer, ops: Int): Map[String, Double] = {
    val ratios = t.layers().get("er").toSeq.flatMap(_._2.stageTaskMs.values)
      .filter(_.size >= 2).map { ms =>
        val s = ms.sorted
        s.last.toDouble / math.max(1.0, Main.median(s.map(_.toDouble).toSeq))
      }
    Map("er.accept_ratio" -> lastCounts._2.toDouble / math.max(1L, lastCounts._1),
      "er.skew" -> (if (ratios.isEmpty) 1.0 else ratios.max))
  }

  def checks(traced: Boolean): Seq[(String, Boolean)] = {
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    val (out, links, cmap, ranks, linkRows, layeredRows) =
      CacheScope.materialized(spark)(build(new Ctx(None))) { out =>
        // cached before the cards run, so the ER and PageRank outputs are
        // computed once
        Seq(lastLinks, lastCmap, lastRank).foreach(_.persist())
        val linkRows = rows(lastLinks)
        (rows(out),
          lastLinks.select("a", "b").collect()
            .map(r => (r.getString(0), r.getString(1))).toSeq,
          lastCmap.select("source_place_id", "canonical_id").collect()
            .map(r => r.getString(0) -> r.getString(1)).toMap,
          lastRank.select("rank").collect().map(_.getDouble(0)).toSeq,
          linkRows,
          // the traced run's er form over the same staged members
          if (traced) rows(linksLayered(new Ctx(None, true), lastMembers))
          else linkRows)
      }
    val cc = KgEtl.closure(links)
    lastOut = out
    checked = (links, cmap, cc, ranks, linkRows)
    Seq("er_links_share_canonical_id" -> KgEtl.linksShareCanonical(links, cmap),
      "er_canonical_map_is_link_closure" -> KgEtl.closureMatches(cmap, cc),
      "near_pagerank_mass_sums_to_one" -> KgEtl.massSumsToOne(ranks),
      "cards_cover_every_canonical" -> KgEtl.oneCardPerCanonical(out, cmap)) ++
      (if (traced) Seq("er_layered_equals_links" -> (layeredRows == linkRows))
       else Nil)
  }

  def perturbed(): Seq[(String, Boolean)] = {
    val (links, cmap, cc, ranks, linkRows) = checked
    // one linked place is given a canonical id of its own
    val bad = cmap.updated(links.head._2, "perturbed::id")
    Seq("er_links_share_canonical_id" -> KgEtl.linksShareCanonical(links, bad),
      "er_canonical_map_is_link_closure" -> KgEtl.closureMatches(bad, cc),
      "near_pagerank_mass_sums_to_one" ->
        KgEtl.massSumsToOne(ranks.updated(0, ranks.head + 1e-6)),
      // one canonical place lost its card
      "cards_cover_every_canonical" ->
        KgEtl.oneCardPerCanonical(lastOut.tail, cmap),
      // the spelled-out er form lost one accepted link
      "er_layered_equals_links" -> (linkRows.tail == linkRows))
  }

  def digest(): (String, String) = ("cards", Workload.sha(lastOut))
}

object KgEtl {
  def massSumsToOne(ranks: Seq[Double]): Boolean =
    math.abs(ranks.sum - 1.0) <= 1e-9

  /** Exactly one card per canonical id of the map (a card's first field
    * is its canonical id). */
  def oneCardPerCanonical(cards: Seq[String],
                          cmap: Map[String, String]): Boolean = {
    val ids = cards.map(_.takeWhile(_ != '|'))
    ids.distinct.size == ids.size && ids.toSet == cmap.values.toSet
  }

  /** Connected components of the links by a local union-find, an
    * oracle independent of the engine: node -> smallest member id. */
  def closure(links: Seq[(String, String)]): Map[String, String] = {
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    links.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Both endpoints of every accepted link carry the same canonical id. */
  def linksShareCanonical(links: Seq[(String, String)],
                          cmap: Map[String, String]): Boolean =
    links.forall { case (a, b) =>
      cmap.get(a).exists(x => x != null && cmap.get(b).contains(x))
    }

  /** The canonical map induces exactly the partition of the places that
    * the connected components of the links do (singletons included). */
  def closureMatches(cmap: Map[String, String],
                     cc: Map[String, String]): Boolean = {
    val comp = cmap.keys.map(p => p -> cc.getOrElse(p, p)).toMap
    cmap.values.forall(_ != null) &&
      cmap.groupBy(_._2).values.forall(g => g.keys.map(comp).toSet.size == 1) &&
      comp.groupBy(_._2).values.forall(g => g.keys.map(cmap).toSet.size == 1)
  }
}
