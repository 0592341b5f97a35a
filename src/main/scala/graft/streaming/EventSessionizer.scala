package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Custom streaming state: gap-based sessionization of the event
  * stream via `flatMapGroupsWithState` — the stateful surface that
  * windowed aggregation can't express (a session ends when the user
  * goes quiet, not at a fixed boundary).
  *
  * State per user = the open session (start, last event time, count,
  * value sum). An event within `gap` of the last one extends the
  * session; a later event closes it (emitting the finished session)
  * and opens a new one. Event-time timeout + watermark evict state for
  * users who never return — bounded state at any scale, keyed shuffle
  * on user_id only.
  */
object EventSessionizer {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(start: Long, lastTs: Long, nEvents: Long,
                          sumValue: Double)

  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Long,
                     sum_value: Double)

  /** Session builder for one user's new events. Pure function of
    * (state, sorted events) so the same code is unit-testable without
    * a stream. Returns (completed sessions, open-session state). */
  def advance(state: Option[SessionState], events: Seq[Event],
              gapMs: Long): (Seq[SessionState], Option[SessionState]) = {
    val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
    var open = state
    val closed = Seq.newBuilder[SessionState]
    for (e <- sorted) {
      val t = e.ts.getTime
      open match {
        case Some(s) if t - s.lastTs <= gapMs =>
          open = Some(s.copy(lastTs = t, nEvents = s.nEvents + 1,
            sumValue = s.sumValue + e.value))
        case Some(s) =>
          closed += s
          open = Some(SessionState(t, t, 1, e.value))
        case None =>
          open = Some(SessionState(t, t, 1, e.value))
      }
    }
    (closed.result(), open)
  }

  /** Streaming sessionization over [[EventStream.readEventStream]]
    * input. Sessions close either when a later event arrives past the
    * gap, or when the event-time timeout fires (watermark passed the
    * open session's end + gap). */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, it, state: GroupState[SessionState]) =>
          def toSession(s: SessionState): Session =
            Session(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastTs), s.nEvents, s.sumValue)
          if (state.hasTimedOut) {
            val out = state.getOption.map(toSession).toSeq
            state.remove()
            out.iterator
          } else {
            val (closed, open) =
              advance(state.getOption, it.toSeq, gapMs)
            open match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.lastTs + gapMs)
              case None => state.remove()
            }
            closed.map(toSession).iterator
          }
      }
  }

  /** Drive sessionization over whatever is in the drop dir, appending
    * closed sessions to a parquet sink (AvailableNow — same incremental
    * contract as [[EventStream.ingestAvailableNow]]; a durable sink is
    * required because state recovery across invocations goes through
    * the checkpoint, which the memory sink does not support). */
  def sessionizeAvailableNow(spark: SparkSession, dropDir: String,
                             outDir: String, checkpointDir: String,
                             gapMs: Long): StreamingQuery = {
    import spark.implicits._
    val events = EventStream.readEventStream(spark, dropDir).as[Event]
    Drain.run(sessionize(events, gapMs)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode("append"), checkpointDir)
  }
}
