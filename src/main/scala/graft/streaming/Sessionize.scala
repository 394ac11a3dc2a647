package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom stateful streaming operator: gap-based sessionization via
  * `flatMapGroupsWithState` — the explicit-state form of
  * [[graft.operators.RelationalQueries.q18Sessionize]].
  *
  * State per user = the open session (start, last-seen, count). An event
  * extends the session if it arrives within `gapSec` of the last one;
  * otherwise the closed session is EMITTED and a new one opened. An event-
  * time timeout (watermark-driven) closes idle sessions, so state size is
  * bounded by the number of users active inside the watermark horizon —
  * the property that keeps this viable on an unbounded 100 TB/day stream.
  *
  * Session boundaries are tracked in epoch MICROseconds (`java.sql
  * .Timestamp.getTime` alone is ms-truncating and would silently coarsen
  * event time); only the engine-facing timeout registration floors to ms,
  * as the GroupState API requires.
  */
object Sessionize {

  final case class Event(user_id: Long, ts: java.sql.Timestamp, event_id: Long)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long)

  /** Full-precision epoch micros of a Timestamp (getTime is ms-floored;
    * getNanos carries the complete fractional second).
    */
  private def micros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def sessionize(events: Dataset[Event], gapSec: Long = 1800)
      (implicit spark: SparkSession): Dataset[Session] = {
    import spark.implicits._
    val gapUs = gapSec * 1000000L
    events
      .withWatermark("ts", StreamingIngest.Grace)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.start, s.last, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = micros(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(s.copy(last = t, n = s.n + 1))
                case Some(s) =>
                  closed += Session(userId, s.start, s.last, s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close the session `gapSec` after its last event (event time;
              // the GroupState API takes ms)
              state.setTimeoutTimestamp((s.last + gapUs) / 1000L)
            }
            closed.result().iterator
          }
      }
  }
}
