package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Work counted for one bucket (a trace span, or the whole timed
  * operation when tracing is off). All fields are written by the
  * listener-bus threads and read by the main thread only after
  * [[Probe.drain]]. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var waitMs = 0L
  var planMs = 0L
  var materializedBytes = 0L
  val rdds = mutable.Set.empty[Int]
  /** Executor run time of every task, per stage (only kept when asked:
    * it is the raw material of the skew ratio). */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Wall time of SQL executions whose plan writes a `_compacting`
    * table, keyed by the table-name prefix before `_compacting`. */
  val compactMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** The benchmark's outside-in instrument: one `SparkListener` plus one
  * `QueryExecutionListener`, registered on the session by the benchmark.
  *
  * Attribution: a job belongs to the bucket named by the `perfbench.span`
  * local property it was submitted under; a job without one (a streaming
  * micro-batch started under another property set, an internal job) and
  * every non-job event (block updates, planning) belong to the bucket
  * that is [[current]] when the listener bus delivers the event. The
  * main thread calls [[drain]] before it moves [[current]], so every event
  * lands in the bucket that was open while it happened.
  *
  * Storage: RDD blocks (cached or checkpointed) are tracked by id, their
  * running total and its peak give the working set held by the block
  * manager. Blocks of RDDs the benchmark itself persists (span
  * boundaries) are listed in [[ownRdds]] and left out. */
final class Probe(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  @volatile var current: String = "setup"
  /** Keep every task's run time per stage (the traced run turns it on). */
  @volatile var keepTaskTimes = false
  val ownRdds: java.util.Set[Int] = ConcurrentHashMap.newKeySet[Int]()

  private val buckets = new ConcurrentHashMap[String, Counters]()
  private val stageBucket = new ConcurrentHashMap[Int, String]()
  private val blockBytes = new ConcurrentHashMap[String, Long]()
  private val sqlStart = new ConcurrentHashMap[Long, (Long, String)]()
  @volatile private var stored = 0L
  @volatile private var peak = 0L

  def counters(bucket: String): Counters =
    buckets.computeIfAbsent(bucket, _ => new Counters)

  def buckets(prefix: String): Seq[(String, Counters)] =
    buckets.asScala.toSeq.filter(_._1.startsWith(prefix))

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = sc.listenerBus.waitUntilEmpty()

  def peakBytes: Long = peak
  def resetPeak(): Unit = synchronized { peak = stored }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val b = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Probe.SpanProperty))).getOrElse(current)
    e.stageIds.foreach(stageBucket.put(_, b))
    val c = counters(b)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val b = Option(stageBucket.get(e.stageId)).getOrElse(current)
    val c = counters(b)
    val m = e.taskMetrics
    val info = e.taskInfo
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        // scheduler delay as the Spark UI derives it, plus fetch wait
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + info.gettingResultTime
        c.waitMs += math.max(0L, info.duration - busy) +
          m.shuffleReadMetrics.fetchWaitTime
        if (keepTaskTimes)
          c.stageTaskMs.getOrElseUpdate(e.stageId,
            mutable.ArrayBuffer.empty[Long]) += m.executorRunTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val u = e.blockUpdatedInfo
    u.blockId match {
      case RDDBlockId(rddId, _) if !ownRdds.contains(rddId) =>
        val key = u.blockId.name
        val now = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
        val grown = synchronized {
          val before = Option(blockBytes.get(key)).getOrElse(0L)
          if (now > 0) blockBytes.put(key, now) else blockBytes.remove(key)
          stored += now - before
          if (stored > peak) peak = stored
          now - before
        }
        if (grown > 0) {
          val c = counters(current)
          c.synchronized {
            c.materializedBytes += grown
            c.rdds += rddId
          }
        }
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = Option(s.physicalPlanDescription).getOrElse("")
      val i = plan.indexOf("_compacting")
      if (i > 0) {
        val start = plan.lastIndexWhere(
          ch => !(ch.isLetterOrDigit || ch == '_'), i - 1) + 1
        sqlStart.put(s.executionId, (s.time, plan.substring(start, i)))
      }
    case end: SparkListenerSQLExecutionEnd =>
      Option(sqlStart.remove(end.executionId)).foreach { case (t0, table) =>
        val c = counters(current)
        c.synchronized { c.compactMs(table) += end.time - t0 }
      }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    val c = counters(current)
    c.synchronized { c.planMs += ms }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Probe {
  val SpanProperty = "perfbench.span"
}
