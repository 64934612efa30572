package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Watermarked stream-stream interval join (SURVEY.md §2 D15) — the
  * enrichment pattern every change-stream consumer eventually needs: attach
  * to each click the purchase the same user makes within `maxWait` of it,
  * with BOTH sides unbounded streams.
  *
  * Why this exact shape: a stream-stream inner join keeps both sides in the
  * state store until the other side can no longer match. Two things bound
  * that state, and Structured Streaming requires both to age anything out —
  *  1. a watermark on each side's event time (late-data cutoff), and
  *  2. a time-RANGE join predicate tying the two event times together
  *     (`purchase_time ∈ [click_time, click_time + maxWait]`), which tells
  *     the engine exactly when a buffered click can never match a future
  *     purchase (its window has passed the purchase watermark) and vice
  *     versa.
  * With both present, state per key is O(events inside one watermark+wait
  * horizon) regardless of how long the query runs — the property that lets
  * this join run forever against an unbounded feed. Dropping either one
  * upgrades the join to unbounded state growth, which is the #1 production
  * failure of naive stream joins.
  *
  * The join itself is a keyed equi-join on user_id plus the range
  * predicate: shuffles hash on the user key exactly like the batch as-of
  * join, no broadcast, no nested loop.
  *
  * Operational note (it WILL bite a feed-splitting deployment like
  * [[start]]): when both sides filter one physical feed, each side's
  * watermark advances only with events of ITS OWN type, and the global
  * watermark is the MIN across watermark nodes — a feed that goes quiet on
  * one event type freezes eviction for BOTH sides (outer-join nulls stop
  * emitting, state stops shrinking). That is correct-by-design (the engine
  * cannot prove the quiet side won't produce a matching event) — feeds
  * that can go one-sided for long stretches should carry heartbeat events
  * or set `spark.sql.streaming.multipleWatermarkPolicy=max` and accept the
  * late-data trade. The outer-join spec demonstrates both the stall and
  * the advance.
  */
object StreamJoin {

  private def joined(clicks: DataFrame, purchases: DataFrame, maxWait: String,
                     watermarkDelay: String, joinType: String): DataFrame = {
    val c = clicks
      .withColumn("click_time", timestamp_micros(col("ts_us")))
      .withWatermark("click_time", watermarkDelay)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("click_time"), col("value").as("click_value"))
    val p = purchases
      .withColumn("purchase_time", timestamp_micros(col("ts_us")))
      .withWatermark("purchase_time", watermarkDelay)
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("purchase_time"), col("value").as("purchase_value"))
    c.join(p,
        col("user_id") === col("purchase_user") &&
          col("purchase_time") >= col("click_time") &&
          col("purchase_time") <= col("click_time") + expr(s"INTERVAL $maxWait"),
        joinType)
      .select(col("click_id"), col("user_id"), col("click_time"),
        col("click_value"), col("purchase_id"), col("purchase_time"),
        col("purchase_value"))
  }

  /** clicks ⋈ purchases for the same user with
    * `click_time ≤ purchase_time ≤ click_time + maxWait`; event times from
    * the shared envelope's microsecond epoch.
    */
  def clickPurchase(clicks: DataFrame, purchases: DataFrame,
                    maxWait: String = "10 minutes",
                    watermarkDelay: String = "10 minutes"): DataFrame =
    joined(clicks, purchases, maxWait, watermarkDelay, "inner")

  /** Left-outer variant — streaming abandonment detection: every click,
    * with its purchase if one arrived inside the wait window, or nulls if
    * none ever will. The null row is emitted exactly when the purchase-side
    * watermark passes `click_time + maxWait` — the engine PROVES no future
    * purchase can match before declaring the click abandoned, which is the
    * semantics batch funnels approximate with end-of-day reprocessing.
    * Same bounded-state mechanics as the inner join.
    */
  def clickPurchaseOuter(clicks: DataFrame, purchases: DataFrame,
                         maxWait: String = "10 minutes",
                         watermarkDelay: String = "10 minutes"): DataFrame =
    joined(clicks, purchases, maxWait, watermarkDelay, "left_outer")

  /** Run the enrichment over an event feed (both event types arrive on the
    * one feed, as they do from the change stream), appending matched pairs
    * to `outDir`.
    */
  def start(spark: SparkSession, source: EventSource, outDir: String,
            checkpointDir: String, maxWait: String = "10 minutes",
            watermarkDelay: String = "10 minutes",
            outer: Boolean = false): StreamingQuery = {
    def out(s: SparkSession) = {
      val feed = source.load(s)
      joined(
        feed.where(col("event_type") === "click"),
        feed.where(col("event_type") === "purchase"),
        maxWait, watermarkDelay, if (outer) "left_outer" else "inner")
    }
    // one epoch-overwritten partition per epoch (a plain append would
    // duplicate a replayed epoch's joined rows); no-data epochs write nothing
    Epochs.start(spark, out, checkpointDir)(Epochs.overwrite(_, _, outDir))
  }
}
