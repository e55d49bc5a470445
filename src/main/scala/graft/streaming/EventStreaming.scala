package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events schema
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference pipeline is batch-only (DirectRunner pinned,
  * bp.py:326) — these are the streaming extensions a production ingest
  * of the same data would need: watermarked tumbling-window aggregation
  * and stateful sessionization. Both run identically on a batch frame
  * (Spark's unified API) and on `readStream` sources; the catalog's
  * streaming gates (q277-q281, [[graft.ops.StreamingGate]]) replay them
  * over file sources against DuckDB oracles.
  */
object EventStreaming {

  /** Watermarked hourly tumbling-window counts/sums per event type.
    * Late rows beyond the watermark are dropped (state is bounded — the
    * property that keeps this runnable forever at scale).
    */
  def hourlyByType(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_sum"))

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(sessionStart: Long, lastTs: Long,
                                nEvents: Long, valueSum: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long,
                           value_sum: Double)

  /** Gap-based sessionization with explicit keyed state
    * (mapGroupsWithState + processing-time timeout): emits the CURRENT
    * session per user each trigger; a gap larger than `gapMs` starts a
    * new session. State per user is O(1).
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L)
  : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, Session](
        GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          // Order within the group: event-time ascending, event_id
          // tiebreak — ms-tied events otherwise fold value_sum in
          // shuffle-delivery order, and (x+a)+b != (x+b)+a bitwise for
          // fractional doubles, so a micro-batch retry could emit a
          // different record (sessionizeClosed sorts the same way).
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(
            SessionState(sorted.head.ts.getTime, sorted.head.ts.getTime, 0L, 0.0))
          sorted.foreach { e =>
            val t = e.ts.getTime
            st =
              if (t - st.lastTs > gapMs)
                SessionState(t, t, 1L, e.value) // gap exceeded: new session
              else
                // min/max clamps: a cross-batch LATE event (t below the
                // state's span — possible under out-of-order delivery)
                // must widen the session, never drag lastTs backwards;
                // an unclamped lastTs = t makes the NEXT event measure
                // its gap against the late straggler and spuriously
                // split one real session in two (r14 review). For
                // in-order delivery t >= lastTs and the clamps are
                // identities — the q280 gate's pinned replay is
                // bit-unchanged.
                st.copy(sessionStart = math.min(st.sessionStart, t),
                  lastTs = math.max(st.lastTs, t),
                  nEvents = st.nEvents + 1,
                  valueSum = st.valueSum + e.value)
          }
          state.update(st)
          Session(userId, new Timestamp(st.sessionStart),
            new Timestamp(st.lastTs), st.nEvents, st.valueSum)
      }
  }

  /** Gap-based sessionization with CLOSED-session emission — the
    * production twin of [[sessionize]] (which emits the current open
    * session each trigger and never evicts state). Each session is
    * emitted EXACTLY ONCE, when it closes, through either path:
    *  - in-batch: a later event of the same user arrives beyond `gapMs`
    *    (the closing event starts the next session);
    *  - timeout: the event-time watermark passes lastTs + gapMs with no
    *    further activity — the state store evicts the user and the
    *    final record is emitted from the timeout branch.
    * Both paths produce the identical final record, so downstream sees
    * one append-only stream of finished sessions.
    *
    * 100 TB posture: this is the variant that runs forever — state is
    * O(1) per ACTIVE user and idle users are evicted at the watermark
    * horizon, so a user-id-unbounded stream cannot grow the state
    * store; emission is Append (each record written once), the shape an
    * append-only session table needs. The timeout timestamp is clamped
    * strictly above the current watermark (Spark rejects timeouts at or
    * below it), so a tail already past the horizon closes at the next
    * batch rather than throwing.
    */
  def sessionizeClosed(events: Dataset[Event],
                       gapMs: Long = 30 * 60 * 1000L,
                       watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          def emit(st: SessionState) =
            Session(userId, new Timestamp(st.sessionStart),
              new Timestamp(st.lastTs), st.nEvents, st.valueSum)
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(emit(st))
          } else {
            // (ts, event_id) sort: see sessionize — ties must fold in a
            // retry-stable order for the exactly-once record to be
            // bitwise reproducible.
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var stOpt = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              stOpt = stOpt match {
                case Some(st) if t - st.lastTs > gapMs =>
                  closed ::= emit(st)
                  Some(SessionState(t, t, 1L, e.value))
                case Some(st) =>
                  // Same min/max clamps as sessionize: a late event
                  // above the watermark widens the live session instead
                  // of regressing lastTs (which would make the next
                  // event's gap test split the session — r14 review).
                  // A late event older than sessionStart - gap strictly
                  // belongs to an already-closed earlier session; with
                  // one state per user it merges here, the standard
                  // single-pass approximation, and the watermark bounds
                  // how old such a straggler can be.
                  Some(st.copy(sessionStart = math.min(st.sessionStart, t),
                    lastTs = math.max(st.lastTs, t),
                    nEvents = st.nEvents + 1,
                    valueSum = st.valueSum + e.value))
                case None =>
                  Some(SessionState(t, t, 1L, e.value))
              }
            }
            val st = stOpt.get
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastTs + gapMs, state.getCurrentWatermarkMs() + 1))
            closed.reverseIterator
          }
      }
  }
}
