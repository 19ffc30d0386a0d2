package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and scale: the same seed gives byte-identical inputs. */
object Gen {

  // ---------------------------------------------------------------- words

  private val syllables = Seq("ka", "lo", "mi", "ren", "tar", "vel", "so",
    "dun", "bri", "ash", "mor", "pel", "qui", "zan", "hal", "tor", "ne",
    "fi", "gru", "wen", "cas", "del", "ori", "um", "pra", "lis", "bo", "yar")

  def word(r: Random, minSyl: Int = 2, maxSyl: Int = 3): String =
    (0 until minSyl + r.nextInt(maxSyl - minSyl + 1))
      .map(_ => syllables(r.nextInt(syllables.size))).mkString

  def writeText(path: String, lines: Iterator[String]): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try lines.foreach(w.print) finally w.close()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def xmlEsc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ---------------------------------------------------------------- kg_etl

  final case class City(slug: String, name: String, lat: Double, lon: Double,
                        rule: String)
  final case class Place(id: String, source: String, name: String,
                         lat: Double, lon: Double, cluster: Int)

  final case class KgInput(cities: Seq[City], places: Seq[Place],
                           listings: Seq[(Long, String, Double, Double, Double)],
                           reviews: Seq[(Long, String, Int, String)],
                           props: Map[String, Any])

  val CityRadiusDeg = 0.03 // places fall within ~3 km of their city centre

  /** Places from three sources in clusters of name variants within 250 m;
    * one dense city holds `denseShare` of the clusters. */
  def kg(seed: Long, clusters: Int, dupRate: Double = 0.5,
         denseShare: Double = 0.5, nCities: Int = 6): KgInput = {
    val r = new Random(seed)
    val rules = Seq("polygon", "bbox", "radius", "radius", "polygon+bbox",
      "radius")
    val cities = (0 until nCities).map { i =>
      City(s"city-$i", s"City ${word(r).capitalize}",
        40.0 + i * 0.5, -74.0 + i * 0.5, rules(i % rules.size))
    }
    val types = Seq("Cafe", "Museum", "Park", "Bar", "Hotel", "Gallery",
      "Market", "Theatre")
    val sources = Seq("yelp", "reddit", "wikivoyage")
    // bases are unique in their first two words, and the variants of one
    // base stay distinct after id minting's case folding, so canonical ids
    // and link components correspond one to one
    val used = mutable.HashSet.empty[String]
    def freshBase(): String = {
      var b = ""
      while ({ b = s"${word(r).capitalize} ${word(r).capitalize}"
        used(b.toLowerCase) }) ()
      used += b.toLowerCase
      b + " " + types(r.nextInt(types.size))
    }
    def variant(base: String, k: Int): String = k match {
      case 0 => base
      case 1 => "The " + base
      case 2 => base.split(' ').init.mkString(" ")
      case _ => base + " Annex"
    }
    var nextId = 0
    val places = mutable.ArrayBuffer.empty[Place]
    var dupClusters = 0
    var denseClusters = 0
    // counts are exact functions of the cluster index (only positions and
    // names come from the seed), so every seed gives the same amount of work
    val denseEvery = math.max(1, math.round(1 / denseShare).toInt)
    val dupEvery = math.max(1, math.round(1 / dupRate).toInt)
    for (c <- 0 until clusters) {
      val city = if (c % denseEvery == 0) 0
        else 1 + (c / denseEvery) % (nCities - 1)
      if (city == 0) denseClusters += 1
      val cc = cities(city)
      val rad = CityRadiusDeg
      val ang = r.nextDouble() * 2 * math.Pi
      val dist = rad * math.sqrt(r.nextDouble())
      val (clat, clon) = (cc.lat + dist * math.sin(ang),
        cc.lon + dist * math.cos(ang))
      val size = if (c % dupEvery == 0) 2 + (c / dupEvery) % 3 else 1
      if (size > 1) dupClusters += 1
      val base = freshBase()
      for (m <- 0 until size) {
        // members jitter at most ~110 m from the cluster centre
        val jl = (r.nextDouble() - 0.5) * 0.002
        val jo = (r.nextDouble() - 0.5) * 0.002
        val src = if (size == 1) sources(c % 3) else sources(m % 3)
        places += Place(s"$src:$nextId", src, variant(base, m), clat + jl,
          clon + jo, c)
        nextId += 1
      }
    }
    val listings = (0 until places.size / 2).map { i =>
      val p = places(r.nextInt(places.size))
      (i.toLong, s"${word(r).capitalize} flat ${i}",
        p.lat + (r.nextDouble() - 0.5) * 0.004,
        p.lon + (r.nextDouble() - 0.5) * 0.004,
        math.rint(40 + r.nextDouble() * 300))
    }
    val reviewable = places.filter(_.source != "wikivoyage")
    val reviews = (0 until places.size * 2).map { i =>
      val p = reviewable(r.nextInt(reviewable.size))
      (i.toLong, p.id, 1 + r.nextInt(5),
        (0 until 8 + r.nextInt(12)).map(_ => word(r, 1, 3)).mkString(" "))
    }
    KgInput(cities, places.toSeq, listings, reviews, Map(
      "clusters" -> clusters, "places" -> places.size,
      "places_by_source" -> places.groupBy(_.source).map { case (k, v) =>
        k -> v.size },
      "duplicate_cluster_rate" -> dupClusters.toDouble / clusters,
      "dense_city_share" -> denseClusters.toDouble / clusters,
      "cities" -> nCities, "listings" -> listings.size,
      "reviews" -> reviews.size))
  }

  /** Wikivoyage-style MediaWiki dump: one page per 40 listings, plus a
    * redirect page and a talk-namespace page the reader must skip. */
  def writeXml(path: String, wv: Seq[Place]): Unit = {
    val pages = wv.grouped(40).zipWithIndex.map { case (ps, i) =>
      val items = ps.map { p =>
        s"* {{see|name=${xmlEsc(p.name)}|lat=${p.lat}|long=${p.lon}" +
          s"|content=A place to see.}}\n"
      }.mkString
      s"<page>\n<title>Place $i</title>\n<ns>0</ns>\n<revision><text " +
        s"xml:space=\"preserve\">== See ==\n$items</text></revision>\n</page>\n"
    }
    val extra = Iterator(
      "<page>\n<title>Old name</title>\n<ns>0</ns>\n<redirect title=\"Place 0\" />" +
        "\n<revision><text>#REDIRECT [[Place 0]]</text></revision>\n</page>\n",
      "<page>\n<title>Talk:Place 0</title>\n<ns>1</ns>\n<revision><text>" +
        "{{see|name=Not a place|lat=1|long=2}}</text></revision>\n</page>\n")
    writeText(path, Iterator("<mediawiki>\n<siteinfo><sitename>Place" +
      "</sitename></siteinfo>\n") ++ pages ++ extra ++ Iterator("</mediawiki>\n"))
  }

  /** Airbnb-style listings CSV with the broken quoting the repair pass
    * fixes (`"name" ,`) and stray CR line ends. */
  def writeListingsCsv(path: String,
                       rows: Seq[(Long, String, Double, Double, Double)]): Unit =
    writeText(path, Iterator("listing_id,name,lat,lon,price\n") ++
      rows.iterator.map { case (id, name, lat, lon, price) =>
        val sep = if (id % 3 == 0) "\" ," else "\","
        val eol = if (id % 5 == 0) "\r\n" else "\n"
        s"$id,\"$name$sep$lat,$lon,$price$eol"
      })

  def writePlacesJsonl(path: String, ps: Seq[Place]): Unit =
    writeText(path, ps.iterator.zipWithIndex.map { case (p, i) =>
      val line = s"""{"place_id":${jsonStr(p.id)},"name":${jsonStr(p.name)},""" +
        s""""lat":${p.lat},"lon":${p.lon}}"""
      // every 97th line is truncated: the reader drops malformed lines
      (if (i % 97 == 96) line.take(line.length / 2) else line) + "\n"
    })

  def writeReviewsJsonl(path: String,
                        rs: Seq[(Long, String, Int, String)]): Unit =
    writeText(path, rs.iterator.map { case (id, pid, stars, text) =>
      s"""{"review_id":$id,"place_id":${jsonStr(pid)},"stars":$stars,""" +
        s""""text":${jsonStr(text)}}""" + "\n"
    })

  // ---------------------------------------------------------------- stream

  /** Stream batches: each edge joins two random nodes of a growing id
    * space, so batches both merge components and add new nodes. The
    * graph is the same for every seed up to a relabelling of its nodes by
    * the seed, so every seed merges the same components and does the same
    * work. Batch `i` is a pure function of (seed, i). */
  def streamBatch(seed: Long, i: Int, size: Int, nodes0: Int,
                  growth: Int): Array[(Long, Long)] = {
    val r = new Random(1000003L + i)
    val span = nodes0 + (i + 1) * growth
    // x -> (m x + c) mod p is a bijection of [0, p) for a prime p
    val p = 2147483647L
    val s = new Random(seed)
    val (m, c) = (1L + s.nextInt(Int.MaxValue - 1), s.nextInt(Int.MaxValue).toLong)
    def label(x: Long) = (m * x + c) % p
    Array.fill(size) {
      val a = r.nextInt(span).toLong
      var b = r.nextInt(span).toLong
      if (b == a) b = (a + 1) % span
      (math.min(a, b), math.max(a, b))
    }.distinct.map { case (a, b) =>
      (math.min(label(a), label(b)), math.max(label(a), label(b)))
    }
  }

  // ---------------------------------------------------------------- corpus

  final case class Doc(doc_id: Long, source: String, text: String)
  final case class CorpusInput(docs: Seq[Doc], probes: Seq[(Long, String)],
                               vectors: Seq[(Long, Array[Float])],
                               queries: Seq[(Long, Array[Float])],
                               centroids: Seq[(Long, Array[Float])],
                               termQueries: Seq[(Long, Seq[String])],
                               exactDupOf: Map[Long, Long],
                               props: Map[String, Any])

  private val stops = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for",
      "with", "that", "be", "have"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es" -> Seq("el", "los", "y", "es", "una", "por", "que", "en"))

  def corpus(seed: Long, nDocs: Int, dim: Int = 32, nCells: Int = 32,
             nQueries: Int = 40, exactRate: Double = 0.05,
             nearRate: Double = 0.05, piiRate: Double = 0.1,
             probeRate: Double = 0.02): CorpusInput = {
    val r = new Random(seed)
    val vocab = Array.fill(3000)(word(r, 2, 4))
    def content(): String = {
      // Zipf-ish: low indices much more frequent
      val u = r.nextDouble()
      vocab(math.min(vocab.length - 1, (math.pow(u, 2.5) * vocab.length).toInt))
    }
    def sentence(lang: String, n: Int): Seq[String] =
      (0 until n).map(_ =>
        if (r.nextDouble() < 0.3) stops(lang)(r.nextInt(stops(lang).size))
        else content())
    val probes = (0 until 20).map(i =>
      (i.toLong, (0 until 12).map(_ => content()).mkString(" ")))
    // 7 in 10 fresh documents are English, one each German, French, Spanish
    val langs = Seq.fill(7)("en") ++ Seq("de", "fr", "es")
    val sources = Seq("web", "books", "forums")
    val docs = mutable.ArrayBuffer.empty[Doc]
    val dupOf = mutable.LinkedHashMap.empty[Long, Long]
    var near = 0
    var pii = 0
    var probed = 0
    val langCount = mutable.Map.empty[String, Int].withDefaultValue(0)
    // which documents are copies, carry PII or a probe, and their language
    // follow the index, so every seed has the same rates exactly
    def every(rate: Double) = math.max(1, math.round(1 / rate).toInt)
    val (exactEvery, nearEvery) = (every(exactRate), every(nearRate))
    val (piiEvery, probeEvery) = (every(piiRate), every(probeRate))
    var fresh = 0
    for (i <- 0 until nDocs) {
      val id = i.toLong
      val src = sources(i % sources.size)
      if (i > 0 && i % exactEvery == exactEvery - 1) {
        val o = docs(r.nextInt(docs.size))
        dupOf(id) = o.doc_id
        docs += Doc(id, src, o.text)
      } else if (i > 0 && i % nearEvery == nearEvery / 2) {
        val toks = docs(r.nextInt(docs.size)).text.split(" ")
        for (_ <- 0 until 2) toks(r.nextInt(toks.length)) = content()
        near += 1
        docs += Doc(id, src, toks.mkString(" "))
      } else {
        val lang = langs(fresh % langs.size)
        langCount(lang) += 1
        val body = (0 until 6).map(_ =>
          sentence(lang, 10 + r.nextInt(6)).mkString(" ") + ".").mkString(" ")
        val withPii = if (fresh % piiEvery == 1) {
          pii += 1
          body + s" Contact ${word(r)}@example.org or +1 555 ${1000 + r.nextInt(9000)}."
        } else body
        val withProbe = if (fresh % probeEvery == 3) {
          probed += 1
          withPii + " " + probes(r.nextInt(probes.size))._2
        } else withPii
        docs += Doc(id, src, withProbe)
        fresh += 1
      }
    }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val centers = Array.fill(nCells)(Array.fill(dim)(r.nextGaussian()))
    def around(): Array[Float] = {
      val c = centers(r.nextInt(nCells))
      unit(c.map(_ + r.nextGaussian() * 0.35))
    }
    val vectors = docs.map(d => (d.doc_id, around())).toSeq
    val queries = (0 until nQueries).map(i => (i.toLong, around()))
    val centroids = centers.indices.map(i => (i.toLong, unit(centers(i))))
    val termQueries = (0 until nQueries).map(i =>
      (i.toLong, Seq.fill(3)(content())))
    CorpusInput(docs.toSeq, probes, vectors, queries, centroids, termQueries,
      dupOf.toMap, Map(
        "docs" -> nDocs, "exact_duplicate_rate" -> dupOf.size.toDouble / nDocs,
        "near_duplicate_rate" -> near.toDouble / nDocs,
        "pii_rate" -> pii.toDouble / nDocs,
        "contaminated_rate" -> probed.toDouble / nDocs,
        "language_mix" -> langCount.toMap.map { case (k, v) =>
          k -> v.toDouble / (nDocs - dupOf.size - near) },
        "embedding_dim" -> dim, "ivf_cells" -> nCells,
        "queries" -> nQueries))
  }
}
