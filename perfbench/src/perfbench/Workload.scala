package perfbench

import java.security.MessageDigest

import org.apache.spark.perfbench.{Counters, Probe}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A benchmark workload: inputs made from a seed during set-up, one
  * operation the closed loop repeats, and checks of its outputs.
  *
  * The operation is written once against [[Ctx]]: untraced, `layer` just
  * runs its body and `feed` hands its frame on lazily, as a user's code
  * would; traced, `layer` opens a span and `feed` materialises the frame
  * at the span boundary. Where a public entry composes several layers,
  * the untraced operation calls the entry and the traced one calls the
  * same layers' public functions in the same order (`Ctx.layered`); the
  * checks of a traced run require both to give the same output. */
abstract class Workload(val spark: SparkSession, val probe: Probe,
                        val work: String, val seed: Long, val scale: Double) {
  def name: String
  def why: String
  /** Writes this repetition's inputs (and standing state) from the seed. */
  def setup(rep: Int): Unit
  def warm(): Unit = op()
  /** True when [[checks]] runs one whole operation over the set-up inputs
    * (so it also serves as the untimed warm-up before the loop); false
    * when the checks need the state the loop leaves behind. */
  def checksWarmUp: Boolean = true
  /** One untraced operation; returns named phase timings in seconds. */
  def op(): Map[String, Double]
  def opTraced(t: Tracer): Map[String, Double]
  /** Named output checks, run once per run. With `traced`, they also
    * require the layer-by-layer form the traced run times to give the
    * composed entry's output. */
  def checks(traced: Boolean): Seq[(String, Boolean)]
  /** The same checks over the last checked outputs after a deliberate
    * perturbation of each; every one must come out false. */
  def perturbed(): Seq[(String, Boolean)]
  /** (key, digest) of outputs that depend only on the seed. */
  def digest(): (String, String)
  def inputProps: Map[String, Any]
  /** Workload-specific end-to-end figures for the detail record. */
  def details(phases: Seq[Map[String, Double]],
              loopS: Double): Map[String, Any] = Map.empty
  /** Layer counters beyond the generic eight, per operation. */
  def layerExtras(t: Tracer, ops: Int): Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def root: String = new java.io.File(work).getAbsolutePath

  /** Tracing context of one operation. `layered` calls the layers of a
    * composed entry one by one, as the traced run does. */
  final class Ctx(val t: Option[Tracer], val layered: Boolean) {
    def this(t: Option[Tracer]) = this(t, t.isDefined)
    def layer[T](name: String)(body: => T): T =
      t.fold(body)(_.span(name)(body))
    def feed(df: DataFrame): DataFrame = t.fold(df)(_.feed(df))
  }
}

object Workload {
  val All = Seq("kg_corpus", "stream_ingest")

  def apply(name: String, spark: SparkSession, probe: Probe, work: String,
            seed: Long, scale: Double): Workload = name match {
    case "stream_ingest" => new StreamIngest(spark, probe, work, seed, scale)
    case "kg_corpus" => new Composite("kg_corpus",
      "The paper's pipeline and the training-corpus pipeline back to back: " +
        "all work in sources, staging, er, SpatialJoins and the text layers; " +
        "no standing state, so it is the no-change workload for the stream " +
        "families.",
      Seq(new KgEtl(spark, probe, work, seed, scale),
        new CorpusCuration(spark, probe, work, seed, scale)),
      spark, probe, work, seed, scale)
  }

  def sha(lines: Iterable[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The per-layer metrics of a traced run, per operation. */
object Layers {
  val Spanned = Seq("sources", "staging", "er", "SpatialJoins",
    "ConnectedComponents", "PageRank", "HbStream", "CcStream",
    "TextAnalysis", "Dedup", "Sampling", "Similarity", "Retrieval")

  val Generic: Seq[(String, String, (Double, Counters) => Double)] = Seq(
    ("self_s", "s", (self, _) => self),
    ("jobs", "count", (_, c) => c.jobs.toDouble),
    ("tasks", "count", (_, c) => c.tasks.toDouble),
    ("shuffle_write_bytes", "bytes", (_, c) => c.shuffleWriteBytes.toDouble),
    ("spill_bytes", "bytes", (_, c) => c.spillBytes.toDouble),
    ("gc_s", "s", (_, c) => c.gcMs / 1e3),
    ("wait_s", "s", (_, c) => c.waitMs / 1e3),
    ("plan_s", "s", (_, c) => c.planMs / 1e3))

  val Extras: Seq[(String, String)] = Seq(
    "er.accept_ratio" -> "ratio", "er.skew" -> "ratio",
    "Dedup.lsh_precision" -> "ratio", "Similarity.recall_at_k" -> "ratio",
    "CcStream.jobs_per_batch" -> "count", "HbStream.jobs_per_batch" -> "count",
    "CcStream.compact_s" -> "s", "HbStream.compact_s" -> "s",
    "CcStream.alias_rows" -> "rows", "HbStream.files" -> "count",
    "CheckpointOps.materialized_bytes" -> "bytes",
    "CheckpointOps.rdds" -> "count", "CheckpointOps.leaked_rdds" -> "count",
    "plans.plan_s" -> "s")

  /** Generic counters that stayed zero on both benchmarked workloads:
    * nothing spills at these sizes, and the label read broadcasts. */
  val Dropped: Set[String] =
    Spanned.map(l => s"$l.spill_bytes").toSet +
      "ConnectedComponents.shuffle_write_bytes"

  def metrics(t: Tracer, probe: Probe, w: Workload,
              ops: Int): Seq[(String, Double, String)] = {
    val per = t.layers()
    val n = math.max(1, ops).toDouble
    val empty = (0.0, new Counters)
    val all = probe.buckets("span:").map(_._2)
    val generic = for (l <- Spanned; (c, u, f) <- Generic
                       if !Dropped(s"$l.$c")) yield {
      val (self, cs) = per.getOrElse(l, empty)
      (s"$l.$c", f(self, cs) / n, u)
    }
    val common = Map(
      "CheckpointOps.materialized_bytes" ->
        all.map(_.materializedBytes).sum / n,
      "CheckpointOps.rdds" -> all.flatMap(_.rdds).distinct.size / n,
      "CheckpointOps.leaked_rdds" -> t.leakedRdds / n,
      "plans.plan_s" -> all.map(_.planMs).sum / 1e3 / n)
    val extra = common ++ w.layerExtras(t, ops)
    generic ++ Extras.map { case (k, u) => (k, extra.getOrElse(k, 0.0), u) }
  }
}

/** Several workloads run back to back as one operation, each on its own
  * inputs; checks, digests and layer counters are the parts' together. */
final class Composite(val name: String, val why: String, parts: Seq[Workload],
                      spark: SparkSession, probe: Probe, work: String,
                      seed: Long, scale: Double)
    extends Workload(spark, probe, work, seed, scale) {
  def setup(rep: Int): Unit = parts.foreach(_.setup(rep))
  def op(): Map[String, Double] = parts.map(_.op()).reduce(_ ++ _)
  def opTraced(t: Tracer): Map[String, Double] =
    parts.map(_.opTraced(t)).reduce(_ ++ _)
  private def named(f: Workload => Seq[(String, Boolean)]) =
    parts.flatMap { p =>
      val r = f(p).map { case (n, ok) => s"${p.name}.$n" -> ok }
      Main.log(s"${p.name} checked")
      r
    }
  def checks(traced: Boolean): Seq[(String, Boolean)] =
    named(_.checks(traced))
  def perturbed(): Seq[(String, Boolean)] = named(_.perturbed())
  def digest(): (String, String) = (parts.map(_.digest()._1).mkString("+"),
    Workload.sha(parts.map(_.digest()._2)))
  def inputProps: Map[String, Any] = parts.map(p => p.name -> p.inputProps).toMap
  override def details(phases: Seq[Map[String, Double]],
                       loopS: Double): Map[String, Any] =
    parts.flatMap(_.details(phases, loopS)).toMap
  override def layerExtras(t: Tracer, ops: Int): Map[String, Double] =
    parts.flatMap(_.layerExtras(t, ops)).toMap
  override def checksWarmUp: Boolean = parts.forall(_.checksWarmUp)
  override def close(): Unit = parts.foreach(_.close())
}
