package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization of the event feed — the canonical stateful
  * operator a CDC/event pipeline needs downstream of the connector.
  *
  * Batch path: two windows over the user key (flag session starts where the
  * gap exceeds the threshold, running-sum the flags into session ids) — one
  * shuffle on user_id, everything else map-side; SQL-expressible, so it is
  * oracle-checked (SparkEntry "events_sessionize").
  *
  * Streaming path: `flatMapGroupsWithState` with per-user session state and
  * processing-time timeout — Spark's custom-state API, the analog of
  * hand-rolled per-key state machines in native stream processors. Sessions
  * are emitted when the gap closes them; the state store is checkpointed
  * with the query, so restarts resume mid-session.
  */
object Sessionize {

  val GapSeconds = 1800L

  // ------------------------------------------------------------------ batch

  /** Per-event session assignment — the ONE gap/sequence definition shared
    * by [[sessions]] and [[sessionConversion]], so the conversion report
    * can never disagree with the registered session table about where a
    * session starts.
    */
  private def assigned(spark: SparkSession, dir: String, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    // Project lag ONCE (two `when` branches over lag plan two identical
    // window expressions — Spark does not dedupe them), and give the running
    // sum an explicit ROWS frame: the default RANGE frame pays a peer-group
    // scan per row, while ROWS streams — identical results here because
    // event_id is unique within a user.
    val runningRows = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("event_type"))
      .withColumn("epoch_s", col("ts").cast("long"))
      .withColumn("prev_s", lag(col("epoch_s"), 1).over(byUser))
      .withColumn("is_new_session",
        when(col("prev_s").isNull || col("epoch_s") - col("prev_s") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("is_new_session")).over(runningRows).cast("long"))
  }

  def sessions(spark: SparkSession, dir: String, gapSeconds: Long = GapSeconds): DataFrame = {
    assigned(spark, dir, gapSeconds)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        min(col("epoch_s")).as("start_s"),
        max(col("epoch_s")).as("end_s"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value")
      )
      .orderBy("user_id", "session_seq")
  }

  /** C30 — sessionized conversion rate: per day (of session START), how
    * many sessions happened and what fraction contained a purchase — the
    * "did Tuesday's release move conversion" product metric, which is a
    * SESSION-denominated rate (event- or user-denominated versions both
    * mislead: one inflates with chatty sessions, the other hides repeat
    * visits). Composes [[assigned]], the same gap/sequence definition the
    * registered session table uses.
    *
    * Shapes: the session collapse is the same (user, session_seq)
    * partial-aggregated groupBy as C7 (carrying only a start-epoch min and
    * a purchase-flag max), and the day report collapses to calendar
    * cardinality. Conversion divides two exact longs once, round 6.
    */
  def sessionConversion(spark: SparkSession, dir: String,
                        gapSeconds: Long = GapSeconds): DataFrame =
    assigned(spark, dir, gapSeconds)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("epoch_s")).as("start_s"),
        max((col("event_type") === "purchase").cast("int")).as("converted"))
      .groupBy(((col("start_s") - pmod(col("start_s"), lit(86400L))) / 86400L)
        .cast("long").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).cast("long").as("n_converted"))
      .withColumn("conversion",
        round(col("n_converted").cast("double") / col("n_sessions"), 6))
      .orderBy("day")

  // -------------------------------------------------------------- streaming

  /** One feed row. The feed contract guarantees only the key fields
    * ([[EventSource.isEvent]]), so `value` is optional.
    */
  case class Event(event_id: Long, ts_us: Long, user_id: Long,
                   event_type: String, value: Option[Double], props: String)
  case class SessionState(firstEvent: Long, lastEvent: Long, lastTsUs: Long,
                          nEvents: Long, sumValue: Option[Double])
  case class SessionOut(user_id: Long, first_event: Long, last_event: Long,
                        n_events: Long, sum_value: Option[Double], closed_by: String)

  /** SQL `sum`'s null rule, as the batch [[sessions]] applies it: a null
    * value adds nothing, and the sum is null only when every value is.
    */
  private def plus(a: Option[Double], b: Option[Double]): Option[Double] =
    (a ++ b).reduceOption(_ + _)

  /** Per-user state machine: extend the open session while events arrive
    * within the gap; emit the closed session when a gap or timeout ends it.
    *
    * Two contracts shared with the batch/oracle path (sessions() above):
    *  - the gap is measured in TRUNCATED WHOLE SECONDS (`ts` cast long
    *    there, `ts_us` div 1e6 here) — with microseconds on one side, a
    *    boundary event within 1 s of the threshold split sessions
    *    differently in the two paths;
    *  - first/last_event are min/max event ids and the time horizon is
    *    monotone: an out-of-order (late) event MERGES into the open
    *    session without regressing lastTsUs/lastEvent — the old code set
    *    lastTsUs to the late event's older timestamp, which made the next
    *    on-time event read as a giant gap and spuriously close the
    *    session;
    *  - `sum_value` follows SQL `sum` over nullable values ([[plus]]).
    */
  def updateSession(gapUs: Long, idleTimeout: Option[String] = None)
                   (userId: Long, events: Iterator[Event],
                    state: GroupState[SessionState]): Iterator[SessionOut] = {
    val gapS = gapUs / 1000000L
    var out = List.empty[SessionOut]
    var cur = state.getOption
    events.toSeq.sortBy(_.event_id).foreach { e =>
      cur match {
        case Some(s) if e.ts_us / 1000000L - s.lastTsUs / 1000000L <= gapS =>
          cur = Some(SessionState(math.min(s.firstEvent, e.event_id),
            math.max(s.lastEvent, e.event_id), math.max(s.lastTsUs, e.ts_us),
            s.nEvents + 1, plus(s.sumValue, e.value)))
        case Some(s) =>
          out ::= SessionOut(userId, s.firstEvent, s.lastEvent, s.nEvents, s.sumValue, "gap")
          cur = Some(SessionState(e.event_id, e.event_id, e.ts_us, 1, e.value))
        case None =>
          cur = Some(SessionState(e.event_id, e.event_id, e.ts_us, 1, e.value))
      }
    }
    if (state.hasTimedOut) {
      cur.foreach(s => out ::= SessionOut(userId, s.firstEvent, s.lastEvent, s.nEvents, s.sumValue, "timeout"))
      state.remove()
    } else {
      cur.foreach(state.update)
      // Continuous mode: an idle user's open session is closed (and its
      // state freed) when the processing-time timeout fires. Drain mode
      // passes no timeout: the open session stays checkpointed for the
      // next run.
      if (cur.nonEmpty) idleTimeout.foreach(state.setTimeoutDuration)
    }
    out.reverseIterator
  }

  /** Streaming sessionize over an event feed. Emits closed sessions to
    * `outDir` via foreachBatch.
    *
    * Two modes:
    *  - drain (default): AvailableNow + NoTimeout — batch-incremental runs;
    *    open sessions stay checkpointed for the next invocation (never
    *    spuriously closed just because the feed drained);
    *  - continuous: ProcessingTime trigger + ProcessingTimeTimeout — idle
    *    users' open sessions are closed by timeout and their state FREED,
    *    which is what bounds state growth on an unbounded feed.
    */
  def start(spark: SparkSession, source: EventSource, outDir: String, checkpointDir: String,
            gapUs: Long = GapSeconds * 1000000L, continuous: Boolean = false) = {
    val timeoutMode =
      if (continuous) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val trigger =
      if (continuous) org.apache.spark.sql.streaming.Trigger.ProcessingTime("2 seconds")
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    def sessions(s: SparkSession) = {
      import s.implicits._
      source.load(s)
        .as[Event]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(), timeoutMode)(
          updateSession(gapUs, idleTimeout = if (continuous) Some("60 seconds") else None))
        .toDF()
    }
    // one epoch-overwritten partition per epoch (a plain append would emit a
    // replayed epoch's closed sessions twice)
    Epochs.start(spark, sessions, checkpointDir, trigger)(Epochs.overwrite(_, _, outDir))
  }
}
