package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Probe
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{ConnectedComponents, PageRank}
import graft.streaming.{CcStream, HbStream}

final case class EdgeRow(src: Long, dst: Long)

/** A closed loop with one client against at-rest standing state: each
  * edge micro-batch goes through a `MemoryStream` into `CcStream.run` and
  * then `HbStream.run` (both with auto-compaction on), and each commit is
  * followed by a read: resolved labels for the batch's nodes and the
  * neighbourhood function. */
final class StreamIngest(spark: SparkSession, probe: Probe, work: String,
                         seed: Long, scale: Double)
    extends Workload(spark, probe, work, seed, scale) {
  val name = "stream_ingest"
  val why = "Writes run beside reads against at-rest state that is never " +
    "cached and grows with every batch; compaction gives periodic spikes."

  private val nodes0 = math.max(200, (2000 * scale).toInt)
  private val edges0 = nodes0 * 3 / 4
  private val batchSize = 100
  private val growth = 50
  // reached by the second batch, so the timed batch compacts both
  // families (the HyperBall one through `hbCompactEvery`)
  private val aliasThreshold = nodes0 / 20L
  private val hbCompactEvery = 2
  private val maxHops = 1

  private var dir: String = _
  private var rep = 0
  private var qs: Seq[StreamingQuery] = Nil
  private var memCc: MemoryStream[EdgeRow] = _
  private var memHb: MemoryStream[EdgeRow] = _
  private val ingested = mutable.ArrayBuffer.empty[(Long, Long)]
  private var batchNo = 0
  private val reads = mutable.ArrayBuffer.empty[String]
  private val ccFold = mutable.ArrayBuffer.empty[Int]
  private val hbFold = mutable.ArrayBuffer.empty[Int]
  private var props: Map[String, Any] = Map.empty
  private var checked: (Map[Long, Long], Map[Long, Long],
    Seq[(Int, Double, Double)], Seq[(Int, Double, Double)]) =
    (Map.empty, Map.empty, Nil, Nil)

  private def baseT = s"pb_cc_base_$rep"
  private def aliasT = s"pb_cc_alias_$rep"
  private def prefix = s"pb_hb_$rep"

  private def bidir(e: Seq[(Long, Long)]): Seq[EdgeRow] =
    e.flatMap { case (a, b) => Seq(EdgeRow(a, b), EdgeRow(b, a)) }

  def setup(r: Int): Unit = {
    import spark.implicits._
    close()
    rep = r
    dir = s"$root/stream$r"
    val initial = Gen.streamBatch(seed, -1, edges0, nodes0, 0)
    ingested.clear(); ingested ++= initial
    batchNo = 0; reads.clear()
    initial.toSeq.toDF("src", "dst").write.mode("overwrite")
      .parquet(s"$dir/initial")
    val init = spark.read.parquet(s"$dir/initial")
    val base0 = ConnectedComponents.run(init)
    CcStream.writeCcBase(base0, baseT, s"$dir/cc_base")
    base0.select(col("component").as("c"), col("component").as("canon"))
      .where(lit(false))
      .write.option("path", s"$dir/cc_alias").saveAsTable(aliasT)
    HbStream.init(init.unionByName(init.select(col("dst").as("src"),
      col("src").as("dst"))), prefix, s"$dir/hb_gen0", maxHops = maxHops, p = 6)
    val enc = Encoders.product[EdgeRow]
    memCc = MemoryStream[EdgeRow](enc, spark)
    memHb = MemoryStream[EdgeRow](enc, spark)
    val d = dir
    qs = Seq(
      CcStream.run(memCc.toDF(), "src", "dst", baseT, aliasT, s"$d/ckpt_cc",
        compactAliasThreshold = aliasThreshold,
        compactPathFor = g => s"$d/cc_compact_$g"),
      HbStream.run(memHb.toDF(), prefix, s"$d/ckpt_hb",
        compactEvery = hbCompactEvery, compactPathFor = g => s"$d/hb_compact_$g"))
    props = Map("initial_nodes" -> nodes0, "initial_edges" -> initial.length,
      "batch_size" -> batchSize, "new_node_ids_per_batch" -> growth,
      "batch_count" -> "as many as fit in --seconds (plus one warm-up)",
      "cc_compact_alias_threshold" -> aliasThreshold,
      "hb_compact_every" -> hbCompactEvery, "hb_max_hops" -> maxHops,
      "loop" -> "closed, one client")
  }

  def inputProps: Map[String, Any] = props

  private def cycle(c: Ctx): Map[String, Double] = {
    val b = Gen.streamBatch(seed, batchNo, batchSize, nodes0, growth)
    batchNo += 1
    val t0 = System.nanoTime()
    c.t.foreach(t => ccFold += t.spans.size)
    c.layer("CcStream") {
      memCc.addData(b.map { case (x, y) => EdgeRow(x, y) }.toSeq)
      qs(0).processAllAvailable()
    }
    c.t.foreach(t => hbFold += t.spans.size)
    c.layer("HbStream") {
      memHb.addData(bidir(b.toSeq))
      qs(1).processAllAvailable()
    }
    val t1 = System.nanoTime()
    ingested ++= b
    val sample = b.take(10).flatMap(e => Seq(e._1, e._2)).distinct.toSeq
    val labels = c.layer("ConnectedComponents") {
      spark.catalog.refreshTable(baseT)
      spark.catalog.refreshTable(aliasT)
      ConnectedComponents.resolveLabels(spark.table(baseT), spark.table(aliasT))
        .where(col("node").isin(sample: _*)).collect()
    }
    val nf = c.layer("HbStream")(HbStream.neighborhoodFunction(spark, prefix)
      .collect())
    val t2 = System.nanoTime()
    if (reads.size < 3) reads += (labels.map(_.toString).sorted ++
      nf.map(_.toString).sorted).mkString(";")
    Map("batch_s" -> (t1 - t0) / 1e9, "read_s" -> (t2 - t1) / 1e9,
      "edges" -> b.length.toDouble)
  }

  def op(): Map[String, Double] = cycle(new Ctx(None))
  override def checksWarmUp: Boolean = false
  def opTraced(t: Tracer): Map[String, Double] = cycle(new Ctx(Some(t)))

  private def tables: Seq[String] =
    Seq(baseT, aliasT, s"${prefix}_edges") ++
      (0 to maxHops).map(h => s"${prefix}_regs_h$h")

  private def files(t: String): Seq[String] = {
    spark.catalog.refreshTable(t)
    spark.table(t).inputFiles.toSeq
  }

  private def bytes(paths: Seq[String]): Long = paths.map { p =>
    new java.io.File(new java.net.URI(p)).length()
  }.sum

  override def details(phases: Seq[Map[String, Double]],
                       loopS: Double): Map[String, Any] = {
    import spark.implicits._
    val batch = phases.flatMap(_.get("batch_s"))
    val read = phases.flatMap(_.get("read_s"))
    val edges = phases.flatMap(_.get("edges")).sum
    ingested.toSeq.toDF("src", "dst").write.mode("overwrite")
      .parquet(s"$dir/ingested")
    val ingestedBytes = new java.io.File(s"$dir/ingested").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val atRest = bytes(tables.flatMap(files))
    def tailOf(xs: Seq[Double]) = Main.tail(xs).map { case (p, v) =>
      Map("percentile" -> p, "value_s" -> v) }
    Map("batches" -> batch.size,
      "batch_p50_s" -> Main.median(batch), "batch_tail" -> tailOf(batch),
      "read_p50_s" -> Main.median(read), "read_tail" -> tailOf(read),
      "ingest_rows_per_s" -> edges / loopS,
      "space_amp" -> atRest.toDouble / ingestedBytes,
      "at_rest_bytes" -> atRest, "ingested_parquet_bytes" -> ingestedBytes,
      "alias_rows" -> spark.table(aliasT).count(),
      "hb_files" -> tables.drop(2).map(files(_).size).sum,
      "warmup_compact_ms_by_table" -> compactMs(Seq("warmup")),
      "timed_compact_ms_by_table" -> compactMs(Seq("op:", "span:")))
  }

  private def compactMs(prefixes: Seq[String]): Map[String, Long] =
    prefixes.flatMap(probe.buckets).flatMap(_._2.compactMs)
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }

  override def layerExtras(t: Tracer, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    def jobs(ids: Seq[Int]) = ids.map(i => probe.counters(t.bucket(i)).jobs).sum
    def compactS(p: String) = probe.buckets("span:").flatMap(_._2.compactMs)
      .filter(_._1.startsWith(p)).map(_._2).sum / 1e3
    Map("CcStream.jobs_per_batch" -> jobs(ccFold.toSeq) / n,
      "HbStream.jobs_per_batch" -> jobs(hbFold.toSeq) / n,
      "CcStream.compact_s" -> compactS("pb_cc_base") / n,
      "HbStream.compact_s" -> compactS("pb_hb") / n,
      "CcStream.alias_rows" -> spark.table(aliasT).count().toDouble,
      "HbStream.files" -> tables.drop(2).map(files(_).size).sum.toDouble)
  }

  def checks(traced: Boolean): Seq[(String, Boolean)] = {
    import spark.implicits._
    spark.catalog.refreshTable(baseT)
    spark.catalog.refreshTable(aliasT)
    val labels = ConnectedComponents.resolveLabels(spark.table(baseT),
      spark.table(aliasT)).as[(Long, Long)].collect().toMap
    val all = ingested.toSeq.toDF("src", "dst")
    val want = ConnectedComponents.run(all).as[(Long, Long)].collect().toMap
    val nf = HbStream.neighborhoodFunction(spark, prefix)
      .as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    val wantNf = PageRank.hyperBallNeighborhood(
        all.unionByName(all.select($"dst".as("src"), $"src".as("dst"))),
        maxHops = maxHops, p = 6)
      .as[(Int, Double, Double)].collect().sortBy(_._1).toSeq
    checked = (labels, want, nf, wantNf)
    Seq("cc_stream_labels_equal_rebuild" -> (labels == want),
      "hb_stream_nf_equals_rebuild" -> (nf == wantNf))
  }

  def perturbed(): Seq[(String, Boolean)] = {
    val (labels, want, nf, wantNf) = checked
    val (v, l) = labels.head
    val (h, x, f) = nf.last
    Seq("cc_stream_labels_equal_rebuild" -> (labels.updated(v, l + 1) == want),
      "hb_stream_nf_equals_rebuild" ->
        (nf.updated(nf.size - 1, (h, x + 0.5, f)) == wantNf))
  }

  def digest(): (String, String) =
    (s"reads${reads.size}", Workload.sha(reads))

  override def close(): Unit = {
    qs.foreach(_.stop())
    qs = Nil
  }
}
