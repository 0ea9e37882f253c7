package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Lifecycle handle for persisted intermediates (VERDICT r2 §5).
  *
  * Operators that cache a working set (shingle sets, LSH buckets) take a
  * scope and register every `persist` with it; the CALLER — who alone
  * knows when the consuming action has run — releases the blocks with
  * [[unpersistAll]]. The default [[CacheScope.unmanaged]] keeps the old
  * behavior (persist and let Spark's LRU evict), which is fine for
  * one-shot sessions but leaks MEMORY_AND_DISK blocks in a long-lived
  * driver running many queries: at corpus scale a leaked shingle set is
  * executor memory the NEXT query needed.
  */
final class CacheScope private[util] (track: Boolean) {
  private val held = mutable.Buffer.empty[DataFrame]

  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    if (track) synchronized { held += df }
    df
  }

  /** Release every block this scope persisted. `blocking = true` waits
    * for the executors to actually drop them (specs assert on it).
    * A held frame that is itself a cut (`persist(Cut(...))`) also
    * releases its checkpoint storage through [[Cut.release]] —
    * DataFrame.unpersist alone cannot reach it. Cuts deeper in a held
    * frame's plan belong to whoever made them and are left alone. */
  def unpersistAll(blocking: Boolean = false): Unit = synchronized {
    held.foreach { df => df.unpersist(blocking); Cut.release(df) }
    held.clear()
  }
}

object CacheScope {
  /** A tracking scope: the caller promises to call unpersistAll. */
  def apply(): CacheScope = new CacheScope(true)

  /** Persist-and-forget (pre-lifecycle behavior): blocks live until
    * Spark's LRU or session end reclaims them. */
  val unmanaged: CacheScope = new CacheScope(false)

  /** Driver-side hygiene between independent queries: drop EVERY cached
    * plan in the session via the catalog's CacheManager (unpersisting
    * raw RDDs would leave the InMemoryRelation entries behind and the
    * next reuse would silently re-cache). Verify/Bench call this after
    * each query so one query's working set never squats on the memory
    * the next one needs. */
  def sweep(spark: SparkSession): Unit = spark.catalog.clearCache()
}
