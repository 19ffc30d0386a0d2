package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Golden ER fixture pinning the acceptance bands, transitive clustering,
  * and canonical-name choice (FIXTURES.md §A5 geometry). */
class EntityResolutionSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val places = EntityResolutionSpec.places(spark)

  test("acceptance bands produce the expected link set") {
    val links = EntityResolution.links(places)
      .select("a", "b").as[(String, String)].collect()
      .map(p => if (p._1 < p._2) p else p.swap).toSet
    assert(links.contains(("wv:a", "yelp:a")))
    assert(links.contains(("reddit:a", "wv:a"))) // ~33 m apart, cross-source
    assert(links.contains(("yelp:b1", "yelp:b2")))
    assert(!links.exists(p => p._1 == "yelp:c1" && p._2 == "yelp:c2"))
    assert(!links.exists(p => p._1.contains("far") || p._2.contains("far") ||
      p._1 == "yelp:e" || p._2 == "yelp:e"))
    assert(!links.exists(p => p._1 == "yelp:d" || p._2 == "yelp:d"))
  }

  test("canonical map: transitive cluster, longest-name canonical, singletons self-map") {
    val cmap = EntityResolution.canonicalMap(places)
      .as[(String, String, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // transitive cluster yelp:a - wv:a - reddit:a shares one canonical
    val c1 = cmap("yelp:a")
    assert(cmap("wv:a") == c1 && cmap("reddit:a") == c1)
    // canonical name is the longest member name
    assert(c1._2 == "Cafe Central Wien")
    assert(c1._1 == "cafe-central-wien::vienna")
    // sacher pair
    assert(cmap("yelp:b1") == cmap("yelp:b2"))
    assert(cmap("yelp:b1")._2 == "Hotel Sacher Wien")
    // singletons map to themselves
    assert(cmap("yelp:e")._2 == "Plachutta")
    assert(cmap.size == places.count())
  }

  test("links and canonicalMap over eager, lazy and uncheckpointed " +
    "staged places equal the all-shuffle plans") {
    def rows(df: DataFrame) = df.collect().map(_.mkString("|")).sorted.toSeq
    val staged = EntityResolutionSpec.staged(spark)
    val inputs = Seq("eager" -> staged.localCheckpoint(),
      "lazy" -> staged.localCheckpoint(eager = false),
      "uncheckpointed" -> staged)
    for ((kind, in) <- inputs) {
      val (ls, cm) = (rows(EntityResolution.links(in)),
        rows(EntityResolution.canonicalMap(in)))
      val (refLs, refCm) =
        withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          (rows(EntityResolution.links(in)),
            rows(EntityResolution.canonicalMap(in)))
        }
      assert(ls.nonEmpty && ls == refLs, s"$kind links")
      assert(cm.size == 10 && cm == refCm, s"$kind canonical map")
    }
  }
}

object EntityResolutionSpec {
  def places(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // ~0.0006 deg lat ~ 67 m; ~0.0008 ~ 89 m; ~0.0012 ~ 133 m at this latitude
    Seq(
      // cross-source pair at ~55 m, high sim -> accept (band 1)
      ("yelp:a", "yelp", "Cafe Central", 48.2000, 16.3700, "vienna"),
      ("wv:a", "wikivoyage", "Café Central", 48.2005, 16.3700, "vienna"),
      // cross-source pair at ~89 m, high sim -> accept (band 2)
      ("reddit:a", "reddit", "Cafe Central Wien", 48.2008, 16.3700, "vienna"),
      // high sim but > 130 m from every cluster member -> reject (too far)
      ("wv:far", "wikivoyage", "Cafe Central", 48.2021, 16.3700, "vienna"),
      // same-source pair at ~22 m, high sim -> accept
      ("yelp:b1", "yelp", "Hotel Sacher", 48.2040, 16.3690, "vienna"),
      ("yelp:b2", "yelp", "Hotel Sacher Wien", 48.2042, 16.3690, "vienna"),
      // same-source pair at ~55 m -> reject (same-source bands are tight)
      ("yelp:c1", "yelp", "Prater Riesenrad", 48.2100, 16.3950, "vienna"),
      ("yelp:c2", "yelp", "Prater Riesenrad Wien", 48.2105, 16.3950, "vienna"),
      // different city, would otherwise match yelp:a
      ("yelp:d", "yelp", "Cafe Central", 48.2000, 16.3700, "graz"),
      // dissimilar name at ~89 m from yelp:a (cross-source band 1 at <=65 m
      // is geometry-first: s>=0.34 accepts almost any token-ish overlap, so a
      // dissimilar name must sit beyond it to stay unlinked; at 89-126 m the
      // s>=0.46 / type-token bands all reject "Plachutta" vs the cafes)
      ("yelp:e", "yelp", "Plachutta", 48.2000, 16.3712, "vienna")
    ).toDF("place_id", "source", "name", "lat", "lon", "city_slug")
  }

  /** The fixture staged the way a pipeline stages places: joined to a
    * city dimension, here cut from a million-row range. A checkpoint of
    * it carries the join's PRODUCT estimate, gigabytes, although it
    * holds ten rows — what the staging cascade hands entity resolution. */
  def staged(spark: SparkSession): DataFrame = {
    val cities = spark.range(0, 1000000).select(
      when(col("id") === 0, "vienna").when(col("id") === 1, "graz").as("c"))
    places(spark).join(cities, col("city_slug") === col("c")).drop("c")
  }
}
