package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of every cache entry the program makes: a call leaves
  * the `CacheManager` as it found it.
  *
  *  - [[scoped]] runs a body with a [[Scope]]; `s.pin(df)` caches a
  *    stage read from more than one place, and the scope releases
  *    every entry it pinned when the body returns or throws.
  *  - [[detach]] is the one way a result that reads pinned stages
  *    leaves its scope: an eager `localCheckpoint`. Spark's
  *    `ContextCleaner` frees its blocks once the frame is unreachable,
  *    so the caller owns nothing.
  *
  * An entry a scope made is reference-counted: a scope that pins an
  * equal plan — the same scope again, a nested one, or one on another
  * thread — shares the entry, and the last scope to release it
  * unpersists it. A stage stored by someone else — cached by a caller,
  * or a checkpoint — is adopted, not cached again, and never released.
  * `pin` runs no job; the caller's own action materializes the entry.
  */
private[graft] object Pins {

  /** A cache entry made by [[Scope.pin]], and how many scope pins hold it. */
  private final class Entry(val df: DataFrame) { var refs = 1 }

  /** The live entries the scopes made. Guarded by `Pins`. */
  private val live = mutable.ArrayBuffer.empty[Entry]

  /** The entries one [[scoped]] body holds, released in reverse pin
    * order (dependents before the stages they read).
    */
  final class Scope private[Pins] () {
    private val held = mutable.ArrayBuffer.empty[Entry]

    /** `df`, cached `MEMORY_AND_DISK` until the last scope holding it
      * exits — or adopted unowned when someone else stored it.
      * Serialized across threads, so concurrent pins of one plan make
      * one entry.
      */
    def pin(df: DataFrame): DataFrame = {
      Pins.synchronized {
        live.find(_.df.sameSemantics(df)) match {
          case Some(e) =>
            e.refs += 1
            held += e
          case None if !stored(df) =>
            df.persist(StorageLevel.MEMORY_AND_DISK)
            val e = new Entry(df)
            live += e
            held += e
          case None => ()
        }
      }
      df
    }

    /** [[pin]] `df` and materialize it; returns its row count. A stage
      * read from more than one place (both sides of a self-join, both
      * branches of one plan) must be materialized BEFORE its consumers
      * run: an unmaterialized cache is recomputed by each concurrent
      * consumer rather than computed once (measured 101s -> ~10s at
      * sf0.1 on the MinHash verify stage).
      */
    def pinCount(df: DataFrame): Long = pin(df).count()

    private[Pins] def release(): Unit =
      Pins.synchronized(held.reverseIterator.foreach { e =>
        e.refs -= 1
        if (e.refs == 0) {
          e.df.unpersist()
          live -= e
        }
      })
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
