package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spark jobs, shuffle-write records and shuffle-write bytes: the
  * deterministic work counters the specs hold operators to (with
  * [[WorkCounter.operatorRows]]). */
final case class Work(jobs: Long, records: Long, bytes: Long)

object WorkCounter {

  /** The [[Work]] of `body`. */
  def work(sc: SparkContext)(body: => Unit): Work = {
    val jobs = new AtomicLong
    val records = new AtomicLong
    val bytes = new AtomicLong
    listening(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          records.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    })(body)
    Work(jobs.get, records.get, bytes.get)
  }

  /** The rows every SQL operator of `body` output, summed over its
    * tasks: the per-row work the shuffle counters miss, such as a join's
    * output consumed in its own stage. */
  def operatorRows(sc: SparkContext)(body: => Unit): Long = {
    val rows = new AtomicLong
    listening(sc, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables
          .filter(_.name.contains("number of output rows"))
          .foreach(_.update.foreach {
            case n: Long => rows.addAndGet(n)
            case _ =>
          })
    })(body)
    rows.get
  }

  /** Runs `body` with `l` registered, the listener bus drained on both
    * sides so every event of `body` and none other reaches it. */
  private def listening(sc: SparkContext, l: SparkListener)(
      body: => Unit): Unit = {
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try { body; sc.listenerBus.waitUntilEmpty() }
    finally sc.removeSparkListener(l)
  }
}
