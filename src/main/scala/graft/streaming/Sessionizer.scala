package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-based sessionization with explicit state — the
  * `flatMapGroupsWithState` path for semantics windows can't express.
  *
  * The reference stamps one session id per process run
  * (reference src/topic_store/data.py:19); at scale sessions must be
  * reconstructed from event time per key, continuously. State per key is
  * O(1) (open-session bounds only) and is dropped via processing-time
  * timeout, so the query runs forever at constant memory.
  */
object Sessionizer {

  case class Event(user_id: Long, ts_sec: Long)
  case class SessionState(sessionIdx: Long, startSec: Long, lastSec: Long, nEvents: Long)
  case class SessionOut(user_id: Long, session_idx: Long, n_events: Long,
                        start_sec: Long, end_sec: Long, closed: Boolean)

  /** Fold a batch of events for one key into the open-session state,
    * emitting every session that the batch closed plus the still-open one
    * (flagged). Events are processed in ts order within the batch.
    */
  def updateKey(userId: Long, events: Iterator[Event],
                state: GroupState[SessionState], gapSec: Long): Iterator[SessionOut] = {
    // Idle-timeout fire: close the open session and drop the state —
    // crucially WITHOUT re-arming the timeout, or the query would spin on
    // timeout batches forever.
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(
        SessionOut(userId, s.sessionIdx, s.nEvents, s.startSec, s.lastSec, closed = true))
    }
    var cur = state.getOption.orNull
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    events.toSeq.sortBy(_.ts_sec).foreach { e =>
      cur match {
        case null =>
          cur = SessionState(1L, e.ts_sec, e.ts_sec, 1L)
        case s if e.ts_sec - s.lastSec > gapSec =>
          out += SessionOut(userId, s.sessionIdx, s.nEvents, s.startSec, s.lastSec, closed = true)
          cur = SessionState(s.sessionIdx + 1, e.ts_sec, e.ts_sec, 1L)
        case s =>
          cur = s.copy(lastSec = math.max(s.lastSec, e.ts_sec), nEvents = s.nEvents + 1)
      }
    }
    if (cur != null) {
      state.update(cur)
      state.setTimeoutDuration(gapSec * 1000)
      out += SessionOut(userId, cur.sessionIdx, cur.nEvents, cur.startSec, cur.lastSec, closed = false)
    }
    out.iterator
  }

  /** Wire the stateful fold over a (possibly streaming) Dataset[Event].
    * The processing-time timeout keeps scheduling data-less batches, so a
    * drain-and-stop trigger (`AvailableNow`) does not end the query.
    */
  def sessions(events: Dataset[Event], gapSec: Long)
              (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (k: Long, it: Iterator[Event], st: GroupState[SessionState]) => updateKey(k, it, st, gapSec))
  }
}
