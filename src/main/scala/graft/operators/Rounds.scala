package graft.operators

import org.apache.spark.sql.graft.CheckpointOps.Materialized

/** The round driver of the iterative operators: the steps every loop
  * over [[org.apache.spark.sql.graft.CheckpointOps.materialize]]d state
  * repeats, in one place.
  *
  *  - [[iterate]] is the state HAND-OFF: round r materializes from round
  *    r − 1, then the superseded round's blocks are released.
  *  - [[Pinned]] owns the handles a loop KEEPS (frontier frames whose
  *    lazy union is the result, per-level frames a later pass reads):
  *    it releases one or all of them and hands the survivors back, and
  *    under [[owning]] a throw releases everything before it propagates.
  *
  * Each loop keeps its own `truncate` choice and its own plans; the
  * driver adds no job and no shuffle. */
object Rounds {

  /** Up to `maxRounds` rounds from `start`. Round r (1-based) runs
    * `step(state, r)`, which materializes and returns the next state;
    * the superseded state is released once its successor has landed. The
    * loop stops early after a round where `done(previous, next)` holds
    * (a fixpoint test on the handles' `rows` / `tracked`), or when a step
    * returns its input state unchanged (nothing left to do; no new
    * state). If a step throws, the current state is released first.
    *
    * @return the last state; its blocks belong to the caller */
  def iterate(start: Materialized, maxRounds: Int,
              done: (Materialized, Materialized) => Boolean = (_, _) => false)
             (step: (Materialized, Int) => Materialized): Materialized = {
    var cur = start
    var r = 1
    var stop = false
    while (r <= maxRounds && !stop) {
      val next =
        try step(cur, r)
        catch { case t: Throwable => cur.release(); throw t }
      if (next eq cur) stop = true
      else {
        cur.release()
        stop = done(cur, next)
        cur = next
      }
      r += 1
    }
    cur
  }

  /** Runs `body` with a fresh [[Pinned]] set; if `body` throws, every
    * handle still pinned is released before the error propagates, so a
    * caller that catches it (a long-lived session) keeps no round state.
    * On success the survivors stay pinned: they back `body`'s result. */
  def owning[T](body: Pinned => T): T = {
    val pinned = new Pinned
    try body(pinned)
    catch { case t: Throwable => pinned.releaseAll(); throw t }
  }

  /** The handles a loop keeps alive, with their total row count (the
    * state budget the pair-state centrality guards check). */
  final class Pinned {
    // keyed by the blocks, so a handle's projection (`map`) is the same pin
    private val held = scala.collection.mutable
      .LinkedHashMap.empty[org.apache.spark.rdd.RDD[_], Materialized]
    private var total = 0L

    /** Pin `m`; returns it. */
    def add(m: Materialized): Materialized = {
      if (held.put(m.rdd, m).isEmpty) total += m.rows
      m
    }

    /** Release `m` now and stop tracking it. */
    def release(m: Materialized): Unit = {
      held.remove(m.rdd).foreach(h => total -= h.rows)
      m.release()
    }

    def releaseAll(): Unit = {
      held.values.foreach(_.release())
      held.clear()
      total = 0L
    }

    /** Rows across the pinned handles. */
    def rows: Long = total

    /** The survivors, in pin order. */
    def handles: Seq[Materialized] = held.values.toSeq
  }
}
