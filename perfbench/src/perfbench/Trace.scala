package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.{Counters, Probe}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** One layer call of a traced run. `outer*` brackets the span together
  * with its listener drains (tracing overhead the parent must not count
  * as its own work); `start`/`end` bracket the layer call alone. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val runId: String) {
  var outerStartNs = 0L
  var startNs = 0L
  var endNs = 0L
  var outerEndNs = 0L
  var leaked = 0
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Each [[span]] sets the
  * `perfbench.span` local property and the probe's current bucket, so
  * the listeners attribute every job, task, block and plan to the span
  * that caused it; it drains the listener bus at both boundaries and
  * snapshots persisted RDDs and CacheManager entries around the call.
  * Spans stay in memory; [[report]] writes them out at the end. */
final class Tracer(spark: SparkSession, probe: Probe, runId: String) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val own = mutable.ArrayBuffer.empty[Int]
  probe.keepTaskTimes = true

  def bucket(id: Int): String = s"span:$id"

  def span[T](name: String)(body: => T): T = {
    val s1 = new Span(spans.size, name,
      stack.headOption.map(_.id).getOrElse(-1), runId)
    s1.outerStartNs = System.nanoTime()
    probe.drain()
    spans += s1
    stack = s1 :: stack
    enter(bucket(s1.id))
    val rdds0 = sc.getPersistentRDDs.keySet
    val cache0 = Tracer.cacheEntries(spark)
    s1.startNs = System.nanoTime()
    try body
    finally {
      s1.endNs = System.nanoTime()
      probe.drain()
      val ownSet = own.toSet
      s1.leaked = (sc.getPersistentRDDs.keySet -- rdds0)
          .count(id => !ownSet(id)) +
        Tracer.cacheEntries(spark).count(e => !cache0.contains(e))
      stack = stack.tail
      enter(stack.headOption.map(p => bucket(p.id)).orNull)
      s1.outerEndNs = System.nanoTime()
    }
  }

  private def enter(b: String): Unit = {
    sc.setLocalProperty(Probe.SpanProperty, b)
    probe.current = Option(b).getOrElse("idle")
  }

  /** Materialise a span's output that later spans consume: a lazy local
    * checkpoint forced by a count, so the producer pays for its own work
    * and the consumers read blocks. Its blocks are the benchmark's, not
    * the program's, and stay out of the storage counters. */
  def feed(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = false)
    ck.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd.id }
      .foreach { id => own += id; probe.ownRdds.add(id) }
    ck.count()
    ck
  }

  /** Release every [[feed]] checkpoint of the operation just traced. */
  def releaseFeeds(): Unit = {
    own.foreach(id => sc.getPersistentRDDs.get(id).foreach(
      _.unpersist(blocking = true)))
    own.clear()
  }

  /** Counters and self time per layer, summed over every span of that
    * name. Self time is a span's duration minus the part its children's
    * brackets cover. */
  def layers(): Map[String, (Double, Counters)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0)
      childNs(s.parent) += s.outerEndNs - s.outerStartNs)
    spans.groupBy(_.name).map { case (name, ss) =>
      val sum = new Counters
      ss.foreach { s =>
        val c = probe.counters(bucket(s.id))
        sum.jobs += c.jobs; sum.tasks += c.tasks; sum.cpuNs += c.cpuNs
        sum.shuffleWriteBytes += c.shuffleWriteBytes
        sum.spillBytes += c.spillBytes; sum.gcMs += c.gcMs
        sum.waitMs += c.waitMs; sum.planMs += c.planMs
        sum.materializedBytes += c.materializedBytes; sum.rdds ++= c.rdds
        c.stageTaskMs.foreach { case (k, v) =>
          sum.stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
        c.compactMs.foreach { case (k, v) => sum.compactMs(k) += v }
      }
      val self = ss.map(s => math.max(0L, s.durNs - childNs(s.id))).sum / 1e9
      name -> (self, sum)
    }
  }

  /** Leaks of the layer calls (the root span is the benchmark's own
    * composition, and would count its children's leaks again). */
  def leakedRdds: Int = spans.filter(_.parent >= 0).map(_.leaked).sum

  def report: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "leaked" -> s.leaked))
}

object Tracer {
  /** Identity set of the session's CacheManager entries (the manager
    * exposes no listing, so the private field is read reflectively). */
  def cacheEntries(spark: SparkSession): Set[Int] = {
    val cm = spark.sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[Seq[AnyRef]]
      .map(e => System.identityHashCode(e)).toSet
  }
}
