package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Parallelism

/** Custom stateful streaming (§2.7 capability class):
  * `flatMapGroupsWithState` over a keyed event stream — per-user running
  * session accumulation with gap-based closure, the state shape the
  * reference's daily-rerun pipeline can't express but a streaming engine
  * must offer.
  */
object Stateful extends Serializable {

  final case class Event(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  final case class SessionState(
      start: Timestamp, last: Timestamp, nEvents: Long, sumValue: Double)

  /** A closed (emitted) user session. */
  final case class ClosedSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, sum_value: Double)

  private def toClosed(userId: Long, s: SessionState): ClosedSession =
    ClosedSession(userId, s.start, s.last, s.nEvents, s.sumValue)

  /** Per-user gap-closed sessions over a (possibly streaming) Dataset of
    * events. Events farther than `gapMillis` from the running session close
    * it and open a new one.
    *
    * Streaming input: uses EVENT-TIME timeouts — the caller must set a
    * watermark on the stream (`withWatermark`) before calling. When the
    * watermark passes `last + gap`, the open session is emitted and the
    * per-user state REMOVED — state size is bounded by the set of users
    * active inside the watermark horizon, never the whole history.
    *
    * Batch input: `NoTimeout` (batch has no watermark clock); the still-open
    * final session is flushed by [[userSessionsBatch]]'s sentinel. Memory
    * bound: the per-invocation sort below buffers ONE KEY'S events of ONE
    * micro-batch (batch mode: the whole group — use
    * [[userSessionsBatchSorted]] for large batch keys, which never
    * materializes a group).
    */
  def userSessions(
      spark: SparkSession,
      events: Dataset[Event],
      gapMillis: Long): Dataset[ClosedSession] = {
    implicit val closedEnc = Encoders.product[ClosedSession]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong
    val streaming = events.isStreaming

    def fn(userId: Long, it: Iterator[Event], state: GroupState[SessionState]): Iterator[ClosedSession] = {
      if (state.hasTimedOut) {
        // watermark passed last+gap with no new events: close and clear
        val out = state.getOption.map(toClosed(userId, _))
        state.remove()
        return out.iterator
      }
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      it.toSeq.sortBy(_.ts.getTime).foreach { e =>
        cur match {
          case Some(s) if e.ts.getTime - s.last.getTime <= gapMillis =>
            cur = Some(s.copy(last = e.ts, nEvents = s.nEvents + 1,
              sumValue = s.sumValue + e.value))
          case Some(s) =>
            out += toClosed(userId, s)
            cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
          case None =>
            cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
        }
      }
      cur.foreach { s =>
        state.update(s)
        if (streaming) {
          // event-time alarm at session close; never behind the watermark
          // (a late batch could otherwise ask for a timeout in the past)
          val wm = state.getCurrentWatermarkMs()
          state.setTimeoutTimestamp(math.max(s.last.getTime + gapMillis, wm + 1))
        }
      }
      out.iterator
    }

    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(fn)
  }

  /** Batch-mode convenience: run sessions over a bounded Dataset and ALSO
    * flush the still-open sessions (batch has no timeouts).
    */
  def userSessionsBatch(
      spark: SparkSession,
      events: Dataset[Event],
      gapMillis: Long): Dataset[ClosedSession] = {
    import spark.implicits._
    // In batch, flatMapGroupsWithState sees each key exactly once; flush by
    // appending a sentinel far-future event per user that forces closure.
    val maxTs = Timestamp.valueOf("9999-01-01 00:00:00")
    val sentinels = events.groupByKey(_.user_id).keys
      .map(u => Event(u, maxTs, "__flush", 0.0))
    userSessions(spark, events.union(sentinels), gapMillis)
  }

  /** Batch sessionization with NO per-group materialization: shuffle by
    * user, sort each partition by (user, ts) — Spark's sort spills to disk —
    * then a single forward pass holds O(1) state (current user + open
    * session). A user with millions of events streams through; the
    * flatMapGroupsWithState variant would buffer them. Output is identical
    * to [[userSessionsBatch]].
    */
  def userSessionsBatchSorted(
      spark: SparkSession,
      events: Dataset[Event],
      gapMillis: Long): Dataset[ClosedSession] = {
    implicit val closedEnc = Encoders.product[ClosedSession]
    val sorted = Parallelism.ensure(events.toDF()).as(Encoders.product[Event])
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"))
    sorted.mapPartitions { rows =>
      var curUser = 0L
      var st: Option[SessionState] = None
      (rows.map(Option(_)) ++ Iterator(None)).flatMap {
        case Some(e) =>
          st match {
            case Some(s) if e.user_id == curUser &&
                e.ts.getTime - s.last.getTime <= gapMillis =>
              st = Some(s.copy(last = e.ts, nEvents = s.nEvents + 1,
                sumValue = s.sumValue + e.value))
              Iterator.empty
            case prev => // first event, new user, or gap exceeded
              val emit = prev.map(toClosed(curUser, _)).iterator
              curUser = e.user_id
              st = Some(SessionState(e.ts, e.ts, 1L, e.value))
              emit
          }
        case None => // end of partition: flush the open session
          val emit = st.map(toClosed(curUser, _)).iterator
          st = None
          emit
      }
    }
  }
}
