package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Watermarked, windowed streaming aggregation over the event feed — the
  * canonical Structured-Streaming shape (event source → event-time window agg
  * with a watermark bounding state → append sink).
  *
  * State is bounded by the watermark: windows older than (max event time −
  * delay) are finalized, emitted, and dropped from the state store, so the
  * query runs forever in constant memory per key — the property that lets
  * this operator run against an unbounded 100 TB/day feed.
  */
object WindowedCounts {

  /** Per (window, event_type) counts + decimal-exact value sums. */
  def windowed(events: DataFrame, windowLen: String = "5 minutes",
               watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Start the windowed aggregation over an event feed, appending
    * finalized windows to `outDir`.
    */
  def start(spark: SparkSession, source: EventSource, outDir: String,
            checkpointDir: String, windowLen: String = "5 minutes",
            watermarkDelay: String = "10 minutes"): StreamingQuery =
    // one epoch-overwritten partition per epoch (a plain append would
    // double-count a replayed epoch's finalized windows)
    Epochs.start(spark, s => windowed(source.load(s), windowLen, watermarkDelay), checkpointDir)(
      Epochs.overwrite(_, _, outDir))
}
