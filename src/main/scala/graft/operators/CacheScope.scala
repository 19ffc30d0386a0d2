package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.CheckpointOps

/** Bookkeeping for operator-pinned cache blocks.
  *
  * Several operators here persist multi-consumer intermediates
  * (MEMORY_AND_DISK) and deliberately do NOT unpersist them before
  * returning — the returned DataFrame is lazy, so the blocks must survive
  * until the CALLER materializes it. The engine's own runners (Bench /
  * Verify) blanket-clear between queries; a library caller embedding these
  * operators in a long-lived session would otherwise accumulate cached
  * blocks for the life of the session (the LRU bounds memory, not
  * bookkeeping). This scope is that caller's cleanup contract.
  */
object CacheScope {

  // Frames pinned via [[pin]] while a materialized() scope is active on
  // this thread. A stack so scopes nest.
  private val active =
    new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[DataFrame]]] {
      override def initialValue(): List[scala.collection.mutable.ArrayBuffer[DataFrame]] = Nil
    }

  /** Operator-side persist: identical to
    * `df.persist(MEMORY_AND_DISK)`, but when called under an enclosing
    * [[materialized]] scope the frame is ALSO recorded so the scope can
    * release it through `Dataset.unpersist` — which clears the
    * CacheManager entry, not just the RDD blocks. (A raw RDD unpersist
    * would leave the CacheManager registration behind: bookkeeping grows
    * for the session's life and a later canonically-equal plan silently
    * re-pins the "released" blocks.) */
  def pin(df: DataFrame): DataFrame = {
    val out = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    active.get() match {
      case top :: _ => top += out
      case Nil =>
    }
    out
  }

  /** Builds a frame, hands it to `materialize` (write / collect / count),
    * and then releases EXACTLY what `build` pinned: every [[pin]]ed frame
    * unpersists through the CacheManager, and any remaining
    * operator-internal blocks (e.g. iterative operators' localCheckpoint
    * RDDs) are caught by a snapshot diff of the persistent-RDD registry.
    * Caches the caller owns from before the scope are untouched.
    * Blocking=false: frees asynchronously, like the operators' own
    * internal unpersists.
    *
    * {{{
    * val pairs = CacheScope.materialized(spark)(
    *   Dedup.prefixJaccardPairs(docs, "doc_id", "text"))(
    *   _.write.parquet(out))
    * }}}
    */
  def materialized[T](spark: SparkSession)(build: => DataFrame)(
      materialize: DataFrame => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pins = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    active.set(pins :: active.get())
    val df =
      try build
      finally active.set(active.get().tail)
    try materialize(df)
    finally {
      pins.foreach(_.unpersist(blocking = false)) // CacheManager-aware
      sc.getPersistentRDDs // checkpoint/unregistered leftovers
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(CheckpointOps.free)
    }
  }
}
