package graft.events

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Resume-token semantics as batch operators.
  *
  * The reference persists one resume token per stream with upsert semantics
  * (mrcon/src/mongo/resume_tokens.rs:91-108 `set_last_resume_token`),
  * reads it back on restart (resume_tokens.rs:74-90
  * `get_last_resume_token` + connector.rs:135-142 `resume_after`), stores
  * tokens in an optionally capped collection (resume_tokens.rs:32-53) and
  * wipes them when the watched collection is dropped
  * (resume_tokens.rs:59-62 `clean`, connector.rs:169-171).
  *
  * Streams are keyed by event_type here (one stream per watched collection in
  * the reference). Tokens are [[ChangeEvents.resumeToken]]s of the event
  * offset. Every operator aggregates or windows on the stream key: bounded
  * cardinality, map-side partial aggregation, no skew concern at 100 TB.
  */
object ResumeTokens {

  /** Midpoint of the feed (scalar aggregate fetch — one 8-byte value to the
    * driver, like a scalar subquery; rows never leave the executors). An
    * EMPTY events table yields a null max — treated as 0, so the operators
    * return empty results instead of NPE-ing on `getLong`.
    */
  private def midOffset(ev: DataFrame): Long = {
    val row = ev.agg(expr("max(event_id) div 2")).first()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** A3 — last persisted token per stream (`get_last_resume_token`). */
  def lastTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type").as("stream_name"))
      .agg(max(col("event_id")).as("last_offset"))
      .select(col("stream_name"), col("last_offset"),
        ChangeEvents.resumeToken(col("last_offset")).as("resume_token"))
      .orderBy("stream_name")

  /** A3b — upsert merge (`set_last_resume_token` with upsert:true): an
    * existing tokens table (from the first half of the feed) merged with
    * newly observed tokens (second half); new wins, missing streams are
    * inserted, unmatched old rows survive. Full-outer join on the stream
    * key + coalesce — the standard scalable upsert shape (at scale this is
    * the MERGE INTO pattern over a keyed table).
    */
  def upsertTokens(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mid = midOffset(ev)
    def lastPer(df: DataFrame) =
      df.groupBy(col("event_type").as("stream_name")).agg(max(col("event_id")).as("offset"))
    val existing = lastPer(ev.where(col("event_id") <= mid))
    val incoming = lastPer(ev.where(col("event_id") > mid))
    existing.as("old")
      .join(incoming.as("new"), Seq("stream_name"), "full_outer")
      .select(
        col("stream_name"),
        coalesce(col("new.offset"), col("old.offset")).as("offset"),
        ChangeEvents.resumeToken(coalesce(col("new.offset"), col("old.offset"))).as("resume_token"),
        col("new.offset").isNotNull.as("updated")
      )
      .orderBy("stream_name")
  }

  /** A2 — resume_after: replay only events strictly after each stream's
    * checkpointed token (connector.rs:135-142). The checkpoint is the last
    * token seen in the first half of the feed; output is what a restarted
    * connector would process. A stream with NO persisted token replays from
    * the beginning — the reference's resume_after falls back to a full
    * replay when get_last_resume_token finds nothing, so a left join with a
    * null-checkpoint pass-through, not an inner join that would silently
    * drop every event of a stream born after the checkpoint. Broadcast the
    * tiny token table so the fact scan is a single pass with the filter
    * applied post-join — at 100 TB the token table is KB-sized, so
    * broadcast is the only sane plan.
    */
  def resumeAfter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mid = midOffset(ev)
    val checkpoints = ev.where(col("event_id") <= mid)
      .groupBy(col("event_type").as("stream_name"))
      .agg(max(col("event_id")).as("checkpoint_offset"))
    ev.join(
        broadcast(checkpoints),
        ev("event_type") === checkpoints("stream_name"), "left_outer")
      .where(checkpoints("checkpoint_offset").isNull ||
        ev("event_id") > checkpoints("checkpoint_offset"))
      .select(
        col("event_id"),
        coalesce(col("stream_name"), col("event_type")).as("stream_name"),
        col("checkpoint_offset"),
        col("user_id"), col("value"))
      .orderBy("event_id")
  }

  /** A4b — cleanup on drop (resume_tokens.rs:59-62 `clean` +
    * connector.rs:169-171): when watched collections are dropped, their
    * persisted tokens are deleted. Batch shape: anti-join the tokens table
    * against the dropped-stream set — the standard distributed delete
    * (at warehouse scale: DELETE WHERE key IN, executed as a broadcast
    * anti-join).
    */
  def cleanTokens(spark: SparkSession, dir: String,
                  droppedStreams: Seq[String] = Seq("error")): DataFrame = {
    val dropped = spark.createDataFrame(
      droppedStreams.map(Tuple1(_))).toDF("stream_name")
    lastTokens(spark, dir)
      .join(broadcast(dropped), Seq("stream_name"), "left_anti")
      .orderBy("stream_name")
  }

  /** A4 — capped token collection (resume_tokens.rs:32-53): bounded
    * retention keeps only the newest `cap` tokens per stream; older ones are
    * evicted like a capped MongoDB collection. Ranked window per stream key.
    */
  def cappedTokens(spark: SparkSession, dir: String, cap: Int = 100): DataFrame = {
    val byStream = Window.partitionBy(col("stream_name")).orderBy(col("offset").desc)
    Tables.events(spark, dir)
      .select(col("event_type").as("stream_name"), col("event_id").as("offset"))
      .withColumn("rank_desc", row_number().over(byStream).cast("long"))
      .where(col("rank_desc") <= cap)
      .select(col("stream_name"), col("offset"),
        ChangeEvents.resumeToken(col("offset")).as("resume_token"), col("rank_desc"))
      .orderBy("stream_name", "offset")
  }
}
