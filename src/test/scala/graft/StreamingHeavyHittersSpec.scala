package graft

import graft.streaming.{GraftQueryListener, JsonDirSource, MetricsRegistry, StreamingHeavyHitters}
import graft.streaming.StreamingHeavyHitters.HHState

import java.nio.file.{Files, Paths}

/** Streaming Misra-Gries heavy hitters (D26): bounded sketch state per
  * (type, shard), MG presence guarantee, exactly-once epoch replay, and
  * state survival across restarts.
  */
class StreamingHeavyHittersSpec extends SparkSpec {

  private val t0 = 1704067200000000L
  private def line(id: Long, user: Long, typ: String) =
    s"""{"event_id":$id,"ts_us":${t0 + id * 1000L},"user_id":$user,"event_type":"$typ","value":1.0,"props":"{}"}"""

  test("MG update: offset-amortized eviction keeps <= k counters and the presence guarantee") {
    // adversarial order: the heavy item arrives interleaved with k distinct
    // one-shot items that keep forcing evictions
    val k = 4
    val heavy = 999L
    val stream = (1L to 60L).flatMap(i => Seq(heavy, i))
    val s = StreamingHeavyHitters.update(HHState(Map.empty, 0L, 0L), stream.iterator, k)
    assert(s.counters.size <= k, "counter map must stay bounded")
    assert(s.total === 120L)
    // heavy freq 60 > total/(k+1) = 24 → guaranteed present
    assert(s.counters.contains(heavy.toString), "MG presence guarantee violated")
    val est = s.counters(heavy.toString) - s.offset
    assert(est <= 60L, "estimate must lower-bound the true count")
    assert(est >= 60L - s.total / (k + 1), "undercount beyond the MG bound")
  }

  test("MG update: k=2 tight-bound adversary — post-sweep re-admission would evict the heavy item") {
    // The r13 ADVICE counter-example: k=2, heavy freq 10 interleaved with 15
    // distinct singletons (total 25). Textbook MG guarantees presence for
    // freq > total/(k+1) = 8.33; the old post-sweep re-admission fired a
    // bump every ~k-1 misses and evicted the heavy item here.
    val k = 2
    val heavy = 999L
    val stream = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to 15).foreach { i => if (i <= 10) stream += heavy; stream += i.toLong }
    val s = StreamingHeavyHitters.update(HHState(Map.empty, 0L, 0L), stream.iterator, k)
    assert(s.total === 25L)
    assert(s.counters.size <= k)
    assert(s.counters.contains(heavy.toString),
      s"heavy item (freq 10 > total/(k+1) = ${s.total / (k + 1)}) must be present: $s")
    val est = s.counters(heavy.toString) - s.offset
    assert(est <= 10L && est >= 10L - s.total / (k + 1))
  }

  test("streamed summaries find the per-type heavy users and state stays bounded") {
    val (src, out, ckpt) = (tempDir("hh_src"), tempDir("hh_out") + "/s", tempDir("hh_ckpt"))
    // user 1 dominates clicks, user 2 dominates views; 30 distinct light
    // users churn through the counters
    var id = 0L
    def next = { id += 1; id }
    val lines =
      (1 to 50).map(_ => line(next, 1, "click")) ++
        (1 to 30).map(i => line(next, 100 + i, "click")) ++
        (1 to 40).map(_ => line(next, 2, "view")) ++
        (1 to 20).map(i => line(next, 200 + i, "view"))
    Files.write(Paths.get(src, "a.json"), scala.util.Random.shuffle(lines).mkString("\n").getBytes)

    val k = 8
    val q = StreamingHeavyHitters.start(spark, JsonDirSource(src), out, ckpt, k = k, nShards = 4)
    q.awaitTermination(120000)

    val latest = StreamingHeavyHitters.latestSummaries(spark, out)
    // bounded state: each (type, shard) group carries at most k candidates
    val perGroup = latest.groupBy("event_type", "shard").count().collect()
    assert(perGroup.forall(_.getLong(2) <= k), "a shard summary exceeded k counters")
    // per-shard totals partition the feed: each event counted exactly once
    val totals = latest.select("event_type", "shard", "shard_total").distinct().collect()
      .map(_.getLong(2)).sum
    assert(totals === 140L, "shard totals must partition the event count")

    val top = StreamingHeavyHitters.mergedTopK(latest, m = 1).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(top("click")._1 === 1L, s"user 1 must top clicks: $top")
    assert(top("view")._1 === 2L, s"user 2 must top views: $top")
    // the merged estimate respects the summed per-shard MG bound
    assert(top("click")._2 <= 50L && top("click")._2 >= 50L - 80L / (k + 1))
    assert(top("view")._2 <= 40L && top("view")._2 >= 40L - 60L / (k + 1))
  }

  test("a second delivery resumes the sketch from checkpointed state") {
    val (src, out, ckpt) = (tempDir("hh2_src"), tempDir("hh2_out") + "/s", tempDir("hh2_ckpt"))
    var id = 0L
    def next = { id += 1; id }
    Files.write(Paths.get(src, "a.json"),
      (1 to 10).map(_ => line(next, 7, "click")).mkString("\n").getBytes)
    val q1 = StreamingHeavyHitters.start(spark, JsonDirSource(src), out, ckpt, k = 4, nShards = 2)
    q1.awaitTermination(120000)
    val t1 = StreamingHeavyHitters.latestSummaries(spark, out)
      .where(org.apache.spark.sql.functions.col("user_id") === 7L)
      .collect().map(_.getAs[Long]("count_min")).max
    assert(t1 === 10L)

    Files.write(Paths.get(src, "b.json"),
      (1 to 5).map(_ => line(next, 7, "click")).mkString("\n").getBytes)
    val q2 = StreamingHeavyHitters.start(spark, JsonDirSource(src), out, ckpt, k = 4, nShards = 2)
    q2.awaitTermination(120000)
    val t2 = StreamingHeavyHitters.latestSummaries(spark, out)
      .where(org.apache.spark.sql.functions.col("user_id") === 7L)
      .collect().map(_.getAs[Long]("count_min")).max
    assert(t2 === 15L, "the second run must continue from state, not restart the count")
  }

  test("a poison line and a keyless row are dropped; the sketch counts the events only") {
    val (src, out, ckpt) = (tempDir("hhp_src"), tempDir("hhp_out") + "/s", tempDir("hhp_ckpt"))
    Files.write(Paths.get(src, "a.json"),
      ((1L to 5L).map(i => line(i, 7, "click")) ++ notEventLines).mkString("\n").getBytes)
    StreamingHeavyHitters.start(spark, JsonDirSource(src), out, ckpt, k = 4, nShards = 2)
      .awaitTermination(120000)
    val latest = StreamingHeavyHitters.latestSummaries(spark, out).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("user_id"), r.getAs[Long]("shard_total")))
    assert(latest.toSeq === Seq(("click", 7L, 5L)))
  }

  test("latestSummaries of a drain that emitted no rows is empty") {
    val (src, out, ckpt) = (tempDir("hhe_src"), tempDir("hhe_out") + "/s", tempDir("hhe_ckpt"))
    StreamingHeavyHitters.start(spark, JsonDirSource(src), out, ckpt).awaitTermination(120000)
    assert(!new java.io.File(out).exists, "an empty drain creates no output dir")
    assert(StreamingHeavyHitters.latestSummaries(spark, out).count() === 0L)
  }

  test("supervised: a failed sketch query is classified, restarted from checkpoint, and metered") {
    val (src, ckpt) = (tempDir("hhsup_src"), tempDir("hhsup_ckpt"))
    val outBase = tempDir("hhsup_out")
    val out = s"$outBase/queue_hh/s" // "queue" in the sink path routes classification
    var id = 0L
    def next = { id += 1; id }
    Files.write(Paths.get(src, "a.json"),
      (1 to 10).map(_ => line(next, 7, "click")).mkString("\n").getBytes)
    // poison: a FILE where the sink's parent directory must go — the first
    // epoch's parquet publish throws and kills the query mid-feed
    Files.write(Paths.get(outBase, "queue_hh"), "poison".getBytes)

    val metrics = new MetricsRegistry
    val sup = StreamingHeavyHitters.supervised(spark, metrics, JsonDirSource(src), out, ckpt,
      k = 4, nShards = 2)
    sup.startAll()
    assert(metrics.value(MetricsRegistry.TasksStarted) === 1)
    assert(metrics.export().contains("heavy_hitters"),
      "the sketch collection must be visible in the /metrics exposition")
    sup.awaitAll(120000)

    // clear the poison; one supervision pass classifies the failure,
    // records it, and relaunches from the checkpoint
    Files.delete(Paths.get(outBase, "queue_hh"))
    assert(sup.superviseOnce() === 1, "the dead sketch query must be restarted")
    assert(metrics.value(MetricsRegistry.TaskFailures,
      "collection" -> "heavy_hitters", "database" -> "analytics",
      "error_type" -> "sink_error") === 1)
    assert(metrics.value(MetricsRegistry.TaskRestarts,
      "collection" -> "heavy_hitters", "database" -> "analytics",
      "reason" -> "sink_connection_failed") === 1)
    sup.awaitAll(120000)
    sup.superviseOnce() // reap the clean finish — no further restart

    // the failed epoch never committed, so the restart replayed it: the
    // sketch output is complete despite the mid-feed death
    val t = StreamingHeavyHitters.latestSummaries(spark, out)
      .where(org.apache.spark.sql.functions.col("user_id") === 7L)
      .collect().map(_.getAs[Long]("count_min")).max
    assert(t === 10L, "restart-from-checkpoint must not lose or double-count the feed")
    sup.stopAll()
  }

  test("supervised beside the daemon's listener: one start counts once") {
    val (src, out, ckpt) = (tempDir("hhlis_src"), tempDir("hhlis_out"), tempDir("hhlis_ckpt"))
    Files.write(Paths.get(src, "a.json"), (1L to 5L).map(i => line(i, 7, "click")).mkString("\n").getBytes)
    val metrics = new MetricsRegistry
    // the daemon's wiring: its listener on the session, the sketch's
    // supervisor plugged into the same registry
    val listener = new GraftQueryListener(metrics)
    spark.streams.addListener(listener)
    try {
      val sup = StreamingHeavyHitters.supervised(spark, metrics, JsonDirSource(src), out, ckpt, k = 4, nShards = 2)
      sup.startAll()
      sup.awaitAll(120000)
      org.apache.spark.sql.graft.GraftSqlBridge.waitUntilEmpty(spark.sparkContext)
      assert(metrics.value(MetricsRegistry.TasksStarted) === 1)
      sup.stopAll()
    } finally spark.streams.removeListener(listener)
  }
}
