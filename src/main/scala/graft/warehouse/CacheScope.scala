package graft.warehouse

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Cache-lifecycle handle for the warehouse engine.
  *
  * The SCD merge and the star build persist intermediates that are read by
  * several plan branches ([[Scd.merge]], [[SurrogateKeys.assign]],
  * [[Ffill.forwardFill]], the per-dim caches in
  * [[graft.ibrd.IbrdWarehouse]]), and land the staged batch once
  * ([[land]]). In a one-shot query those caches die with the session; in
  * the reference's production shape — an hourly batch/streaming loop
  * (`pyspark_dag2.py:447-448`) — they would accumulate storage blocks
  * batch-over-batch forever. A `CacheScope` makes ownership explicit: the
  * engine registers every internal persist and landing against the scope
  * the caller passed, and the caller releases the scope once the batch's
  * output is materialized (e.g. after
  * [[graft.ibrd.IbrdWarehouse.persist]], which returns only once every
  * table write has finished).
  *
  * {{{
  * val scope = new CacheScope
  * val next  = IbrdWarehouse.incremental(prev, staged, asOf, scope) // lands staged
  * IbrdWarehouse.persist(next, sink)   // waits for all nine table writes
  * scope.release()                     // landing + caches: back to baseline
  * }}}
  *
  * (`IbrdWarehouse.runBatch` is exactly this sequence.) Releasing before
  * materialization is safe for persisted frames (readers recompute) but
  * not for a landing, whose lineage is truncated: release only once
  * nothing reads the batch any more. (The total-order machines —
  * [[SurrogateKeys.assign]], [[Ffill]], the fact key exchange — pin their
  * bucket bounds via [[RangeBuckets]], so none of them needs a persist as
  * a determinism guard.)
  */
final class CacheScope private (track: Boolean) {
  def this() = this(true)

  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val landings = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** Persist `df` (MEMORY_AND_DISK) and register it for [[release]]. */
  def persist(df: DataFrame): DataFrame = {
    if (track) synchronized { tracked += df }
    df.persist()
  }

  /** Land `df`: an eager `localCheckpoint` (materialized once, lineage
    * truncated), its blocks registered for [[release]]. */
  def land(df: DataFrame): DataFrame = {
    val landed = df.localCheckpoint()
    if (track) landed.queryExecution.logical match {
      case l: LogicalRDD => synchronized { landings += l.rdd }
      case _ =>
    }
    landed
  }

  /** Unpersist every tracked DataFrame and landing (non-blocking: the
    * catalog entry is dropped synchronously; block deletion proceeds in
    * the background). */
  def release(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    landings.foreach(_.unpersist(blocking = false))
    tracked.clear()
    landings.clear()
  }

  /** Number of currently tracked (un-released) cached frames and landings. */
  def trackedCount: Int = synchronized(tracked.size + landings.size)
}

object CacheScope {
  /** Persists without tracking — the one-shot/interactive convenience used
    * by default parameters. Loops (streaming warehouse, repeated merges)
    * must pass an owned `new CacheScope` and release it per batch. */
  val untracked: CacheScope = new CacheScope(false)
}
