package graft

import graft.streaming.{JsonDirSource, StreamJoin}

import java.nio.file.{Files, Paths}

/** Watermarked stream-stream interval join (D15): bounded-state CDC
  * enrichment — clicks joined to the same user's purchase within the wait
  * window, across micro-batches, with late data past the watermark dropped.
  */
class StreamJoinSpec extends SparkSpec {

  private val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in epoch micros
  private def line(id: Long, user: Long, tsUs: Long, typ: String, v: Double) =
    s"""{"event_id":$id,"ts_us":$tsUs,"user_id":$user,"event_type":"$typ","value":$v,"props":"{}"}"""

  test("clicks join the purchase inside the wait window; outside-window and cross-user don't") {
    val (src, out, ckpt) = (tempDir("sj_src"), tempDir("sj_out") + "/j", tempDir("sj_ckpt"))
    val min = 60L * 1000000L
    Files.write(Paths.get(src, "a.json"), Seq(
      line(1, 1, t0, "click", 1.0),
      line(2, 1, t0 + 5 * min, "purchase", 10.0),  // within 10 min of click 1 → joins
      line(3, 2, t0, "click", 2.0),
      line(4, 2, t0 + 30 * min, "purchase", 20.0), // 30 min later → outside window
      line(5, 3, t0 + 2 * min, "purchase", 30.0),  // user 3 never clicked
      line(6, 4, t0 + 8 * min, "click", 4.0),
      line(7, 9, t0 + 9 * min, "purchase", 40.0)   // different user than click 6
    ).mkString("\n").getBytes)

    val q = StreamJoin.start(spark, JsonDirSource(src), out, ckpt)
    q.awaitTermination(120000)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 1, s"exactly one (click, purchase) pair must match, got ${rows.length}")
    val r = rows.head
    assert(r.getAs[Long]("click_id") === 1L)
    assert(r.getAs[Long]("purchase_id") === 2L)
    assert(r.getAs[Double]("click_value") === 1.0)
    assert(r.getAs[Double]("purchase_value") === 10.0)
  }

  test("outer join declares a click abandoned only after the watermark proves no purchase can come") {
    val (src, out, ckpt) = (tempDir("sjo_src"), tempDir("sjo_out") + "/j", tempDir("sjo_ckpt"))
    val min = 60L * 1000000L
    // click with a purchase (joins) + click without one (abandoned)
    Files.write(Paths.get(src, "a.json"), Seq(
      line(1, 1, t0, "click", 1.0),
      line(2, 1, t0 + 2 * min, "purchase", 10.0),
      line(3, 2, t0 + 1 * min, "click", 2.0)
    ).mkString("\n").getBytes)
    val q1 = StreamJoin.start(spark, JsonDirSource(src), out, ckpt, outer = true)
    q1.awaitTermination(120000)
    // click 3's window [t0+1min, t0+11min] is not past the watermark yet —
    // it must NOT be emitted as abandoned prematurely
    val afterB1 = try spark.read.parquet(out).collect() catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
    assert(!afterB1.exists(r => r.getAs[Long]("click_id") == 3L && r.isNullAt(r.fieldIndex("purchase_id"))),
      "unmatched click must stay buffered while a purchase could still arrive")
    // advance the watermark far past click 3's horizon. The GLOBAL
    // watermark is the MIN across both sides' watermark nodes (default
    // multipleWatermarkPolicy) and each side only sees its own event type,
    // so BOTH a late click and a late purchase are needed (events at
    // t0+60min: watermark = 50min > click 3's 11min horizon); restart
    // from checkpoint
    Files.write(Paths.get(src, "b.json"), Seq(
      line(8, 98, t0 + 60 * min, "click", 0.0),
      line(9, 99, t0 + 60 * min, "purchase", 0.0)
    ).mkString("\n").getBytes)
    val q2 = StreamJoin.start(spark, JsonDirSource(src), out, ckpt, outer = true)
    q2.awaitTermination(120000)
    // outer-join nulls are evicted one micro-batch AFTER the watermark
    // advances (state cleanup runs against the new watermark on the next
    // batch) — feed one more pair so that batch exists
    Files.write(Paths.get(src, "c.json"), Seq(
      line(10, 98, t0 + 61 * min, "click", 0.0),
      line(11, 99, t0 + 61 * min, "purchase", 0.0)
    ).mkString("\n").getBytes)
    val q3 = StreamJoin.start(spark, JsonDirSource(src), out, ckpt, outer = true)
    q3.awaitTermination(120000)
    val rows = spark.read.parquet(out).collect()
    val matched = rows.filter(r => r.getAs[Long]("click_id") == 1L)
    val abandoned = rows.filter(r => r.getAs[Long]("click_id") == 3L)
    assert(matched.length === 1 && matched.head.getAs[Long]("purchase_id") === 2L)
    assert(abandoned.length === 1, "the unconverted click must surface exactly once")
    assert(abandoned.head.isNullAt(abandoned.head.fieldIndex("purchase_id")),
      "abandoned click carries null purchase columns")
  }

  test("soak: join state stays bounded at the watermark horizon over 50k+ rate-source events") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // The property D15 exists for: run the join against a genuinely
    // unbounded source long enough that unbounded state would be obvious —
    // ≥ 50k events across many micro-batches — and assert the state store
    // holds only the watermark+wait horizon, not the history. Event time
    // advances 1 s per event (5000 s of event time per wall second at this
    // rate), so the 10 s watermark + 30 s wait horizon covers only a few
    // dozen events at any moment; everything older is provably
    // unmatchable and must be evicted. Without eviction, numRowsTotal
    // tracks total input (≥ 50k); with it, it tracks the horizon plus at
    // most the watermark's one-batch update lag.
    val ckpt = tempDir("sjsoak_ckpt")
    val feed = spark.readStream.format("rate").option("rowsPerSecond", 5000).load()
      .select(
        col("value").as("event_id"),
        (lit(t0) + col("value") * lit(1000000L)).as("ts_us"),
        pmod(col("value"), lit(500L)).as("user_id"),
        when(col("value") % 2 === 0, "click").otherwise("purchase").as("event_type"),
        (col("value") % 100).cast("double").as("value"),
        lit("{}").as("props"))
    val out = StreamJoin.clickPurchase(
      feed.where(col("event_type") === "click"),
      feed.where(col("event_type") === "purchase"),
      maxWait = "30 seconds", watermarkDelay = "10 seconds")
    val q = out.writeStream
      .trigger(Trigger.ProcessingTime("1 second"))
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("noop")
      .start()
    try {
      val deadline = System.currentTimeMillis() + 150000
      def progresses = q.recentProgress.filter(_.numInputRows > 0)
      // drive until BOTH the volume and the batch-count targets are met:
      // under host stalls the rate source can deliver 50k rows in a handful
      // of big batches, so waiting on volume alone made the >=5 assert racy
      while ((progresses.map(_.numInputRows).sum < 50000 || progresses.length < 5) &&
        System.currentTimeMillis() < deadline) Thread.sleep(500)
      val ps = progresses
      val totalIn = ps.map(_.numInputRows).sum
      assert(totalIn >= 50000, s"soak must process >= 50k events, saw $totalIn")
      assert(ps.length >= 5, s"soak must span many micro-batches, saw ${ps.length}")
      val states = ps.flatMap(_.stateOperators.map(_.numRowsTotal))
      val maxState = states.max
      val maxBatch = ps.map(_.numInputRows).max
      // Horizon (40 s event time = 40 rows) + both sides' rows the watermark
      // has not yet aged out: the watermark is recomputed BETWEEN batches,
      // so up to ~2 batches of rows are momentarily un-evictable. 3x the
      // largest batch bounds that lag with slack; unbounded growth would
      // blow straight past it (state would be ~totalIn >= 50000).
      val bound = math.max(3 * maxBatch, 5000L)
      assert(maxState <= bound,
        s"state must stay at the horizon (<= $bound rows given max batch $maxBatch), peaked at $maxState over $totalIn events")
      assert(states.last <= bound, s"state must not trend up: last=${states.last}")
    } finally q.stop()
  }

  test("a purchase arriving in a later micro-batch still joins buffered clicks") {
    val (src, out, ckpt) = (tempDir("sj2_src"), tempDir("sj2_out") + "/j", tempDir("sj2_ckpt"))
    val min = 60L * 1000000L
    // batch 1: only the click — nothing can match yet
    Files.write(Paths.get(src, "a.json"),
      line(1, 7, t0, "click", 1.0).getBytes)
    val q1 = StreamJoin.start(spark, JsonDirSource(src), out, ckpt)
    q1.awaitTermination(120000)
    assert(!Files.exists(Paths.get(out)) ||
      spark.read.parquet(out).count() === 0, "no pair can exist before the purchase arrives")
    // batch 2 (restart from checkpoint): the matching purchase — the click
    // must still be buffered in the join state
    Files.write(Paths.get(src, "b.json"),
      line(2, 7, t0 + 3 * min, "purchase", 50.0).getBytes)
    val q2 = StreamJoin.start(spark, JsonDirSource(src), out, ckpt)
    q2.awaitTermination(120000)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length === 1, "the cross-batch pair must be emitted exactly once")
    assert(rows.head.getAs[Long]("click_id") === 1L)
    assert(rows.head.getAs[Long]("purchase_id") === 2L)
  }
}
