package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache entry the program makes: a call leaves
  * the `CacheManager` as it found it.
  *
  *  - [[scoped]] runs a body with a [[Scope]]; `s.pin(df)` caches a
  *    stage read from more than one place, and the scope unpersists
  *    every entry it owns when the body returns or throws.
  *  - [[detach]] is the one way a result that reads pinned stages
  *    leaves its scope: an eager `localCheckpoint`. Spark's
  *    `ContextCleaner` frees its blocks once the frame is unreachable,
  *    so the caller owns nothing.
  *
  * A stage that is already stored — cached by a caller or an enclosing
  * scope, or a checkpoint — is adopted, not cached again: one entry has
  * one owner, and pinning the same plan twice makes one entry. `pin`
  * runs no job; the caller's own action materializes the entry.
  */
private[graft] object Pins {

  /** The cache entries one [[scoped]] body owns, released in reverse
    * pin order (dependents before the stages they read).
    */
  final class Scope private[Pins] () {
    private val owned = mutable.ArrayBuffer.empty[DataFrame]

    /** `df`, cached `MEMORY_AND_DISK` until the scope exits — or
      * adopted unowned when it is already stored. Serialized across
      * threads, so concurrent pins of one plan make one owner.
      */
    def pin(df: DataFrame): DataFrame = {
      Pins.synchronized {
        if (!stored(df)) {
          df.persist(StorageLevel.MEMORY_AND_DISK)
          owned += df
        }
      }
      df
    }

    private[Pins] def release(): Unit =
      Pins.synchronized(owned.reverseIterator.foreach(_.unpersist()))
  }

  /** Run `body` with a fresh [[Scope]]; its entries go on any exit. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.release()
  }

  /** `df` materialized outside every cache entry (one job): the result
    * a scope hands back when it reads the scope's pins. A checkpoint
    * never recomputes, so a result that depends on one execution's
    * sampling (range boundaries) stays the same on every read.
    */
  def detach(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Cached, or a frame over a stored RDD (a `localCheckpoint`). */
  private def stored(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || (df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    })
}
