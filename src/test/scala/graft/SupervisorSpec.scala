package graft

import graft.config._
import graft.streaming.{ChangeStreamJob, MetricsRegistry, Supervisor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Supervision behaviors (server.rs:174-262): fan-out, restart-on-failure
  * with metrics, no-restart on clean stop, health, retry bootstrap.
  */
class SupervisorSpec extends SparkSpec {

  private def settingsOf(colls: CollectionConfig*): Settings =
    Settings.create(Connections("src", "sink"), colls).toOption.get

  private def coll(name: String) =
    CollectionConfig(WatchedDb("test", name), ResumeTokensDb("test", s"${name}_tokens"), QueueSink(s"stream_$name"))

  /** A source+sink pair whose sink throws for the first `failTimes` batches. */
  private def flakyQuery(failCounter: AtomicInteger, failTimes: Int, base: String)
                        (spark: SparkSession, c: CollectionConfig): StreamingQuery = {
    val src = s"$base/src_${c.watched.collName}"
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(src, "events.json"),
      """{"event_id":1,"ts_us":1704067200000000,"user_id":1,"event_type":"signup","value":1.5,"props":"{}"}"""
        .getBytes)
    spark.readStream.schema(ChangeStreamJob.eventSchema).json(src)
      .writeStream
      .option("checkpointLocation", s"$base/ckpt_${c.watched.collName}")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (failCounter.getAndIncrement() < failTimes)
          throw new RuntimeException("simulated sink failure: queue unavailable")
        batch.write.mode("append").parquet(s"$base/queue_${c.watched.collName}")
        ()
      }
      .start()
  }

  test("failed stream is restarted, failure and restart metrics recorded") {
    val base = tempDir("sup")
    val metrics = new MetricsRegistry
    val counter = new AtomicInteger(0)
    val sup = new Supervisor(spark, settingsOf(coll("c1")), metrics,
      flakyQuery(counter, failTimes = 1, base))
    sup.startAll()
    assert(metrics.value(MetricsRegistry.TasksStarted) === 1)
    sup.awaitAll(60000)
    val restarted = sup.superviseOnce()
    assert(restarted === 1)
    assert(metrics.value(MetricsRegistry.TaskFailures,
      "collection" -> "c1", "database" -> "test", "error_type" -> "sink_error") === 1)
    assert(metrics.value(MetricsRegistry.TaskRestarts,
      "collection" -> "c1", "database" -> "test", "reason" -> "sink_connection_failed") === 1)
    sup.awaitAll(60000)
    sup.superviseOnce()
    // after the successful rerun the queue has the event
    assert(spark.read.parquet(s"$base/queue_c1").count() === 1)
    sup.stopAll()
  }

  test("a restart attempt that throws is retried next pass while budget remains") {
    val base = tempDir("sup-retry")
    val metrics = new MetricsRegistry
    val sinkFails = new AtomicInteger(0)
    val starts = new AtomicInteger(0)
    // start 1: normal (its sink fails the first batch, killing the query);
    // start 2 (the restart): startQuery itself THROWS, e.g. checkpoint dir
    // briefly unreachable; start 3 (the retry): works.
    def starter(spark: SparkSession, c: CollectionConfig): StreamingQuery = {
      if (starts.incrementAndGet() == 2)
        throw new RuntimeException("path does not exist: transient source outage")
      flakyQuery(sinkFails, failTimes = 1, base)(spark, c)
    }
    val sup = new Supervisor(spark, settingsOf(coll("c9")), metrics, starter)
    sup.startAll()          // query 1 starts, sink fails its first batch
    sup.awaitAll(60000)
    val r1 = sup.superviseOnce() // restart attempt -> starter THROWS
    assert(r1 === 0, "the throwing restart must not count as a restart")
    assert(sup.healthy(), "a stream awaiting an in-budget retry counts as alive")
    val r2 = sup.superviseOnce() // retried: budget remains -> starts cleanly
    assert(r2 === 1, "the stream must be retried on the next pass, not abandoned")
    def c9(labels: (String, String)*) = Seq("collection" -> "c9", "database" -> "test") ++ labels
    assert(metrics.value(MetricsRegistry.TasksStarted) === 2, "only the starts that succeeded count")
    assert(metrics.value(MetricsRegistry.TaskRestarts, c9("reason" -> "sink_connection_failed"): _*) === 1)
    assert(metrics.value(MetricsRegistry.TaskRestarts, c9("reason" -> "restart_retry"): _*) === 1)
    assert(metrics.value(MetricsRegistry.TaskFailures, c9("error_type" -> "sink_error"): _*) === 1)
    assert(metrics.value(MetricsRegistry.TaskFailures, c9("error_type" -> "source_error"): _*) === 1)
    assert(metrics.value(MetricsRegistry.CollectionServers, c9(): _*) === 1)
    sup.awaitAll(60000)
    sup.superviseOnce()
    assert(spark.read.parquet(s"$base/queue_c9").count() === 1,
      "the retried stream processed the feed")
    sup.stopAll()
  }

  /** One stream whose sink fails twice, under `maxRestarts = 1` and
    * `window` (the constructor default when None): the restarts each of
    * the two supervision passes after a failure performs.
    */
  private def twoFailures(name: String, window: Option[Long]): (Seq[Int], Supervisor, MetricsRegistry) = {
    val base = tempDir("sup-burst")
    val metrics = new MetricsRegistry
    val starter = flakyQuery(new AtomicInteger(0), failTimes = 2, base) _
    val settings = settingsOf(coll(name))
    val sup = window.fold(new Supervisor(spark, settings, metrics, starter, maxRestarts = 1))(w =>
      new Supervisor(spark, settings, metrics, starter, maxRestarts = 1, restartWindowMs = w))
    sup.startAll()
    val restarts = (1 to 2).map { _ => sup.awaitAll(60000); sup.superviseOnce() }
    (restarts, sup, metrics)
  }

  test("the restart budget is per failure burst") {
    // a zero window opens a fresh budget for each failure: both restart
    val (spread, sup0, _) = twoFailures("w0", Some(0L))
    assert(spread === Seq(1, 1))
    sup0.awaitAll(60000)
    assert(sup0.superviseOnce() === 0)
    // the default window holds both failures in one burst: the second
    // exceeds the budget and the stream is abandoned
    val (burst, sup, metrics) = twoFailures("wd", None)
    assert(burst === Seq(1, 0))
    assert(!sup.healthy(), "an abandoned stream is not live")
    val wd = Seq("collection" -> "wd", "database" -> "test")
    assert(metrics.value(MetricsRegistry.CollectionServers, wd: _*) === 0)
    assert(metrics.value(MetricsRegistry.TaskFailures, wd :+ ("error_type" -> "sink_error"): _*) === 2)
    assert(metrics.value(MetricsRegistry.TaskRestarts, wd :+ ("reason" -> "sink_connection_failed"): _*) === 1)
    assert(metrics.value(MetricsRegistry.RunningServers) === 0)
  }

  test("a second startAll relaunches a dead stream and records its failure without charging the budget") {
    val base = tempDir("sup-again")
    val metrics = new MetricsRegistry
    val sup = new Supervisor(spark, settingsOf(coll("c3")), metrics,
      flakyQuery(new AtomicInteger(0), failTimes = 2, base), maxRestarts = 1)
    val c3 = Seq("collection" -> "c3", "database" -> "test")
    sup.startAll()
    sup.awaitAll(60000) // the first sink failure
    sup.startAll()
    assert(metrics.value(MetricsRegistry.TaskFailures, c3 :+ ("error_type" -> "sink_error"): _*) === 1)
    assert(metrics.value(MetricsRegistry.TaskRestarts, c3 :+ ("reason" -> "sink_connection_failed"): _*) === 0)
    assert(metrics.value(MetricsRegistry.TasksStarted) === 2)
    assert(metrics.value(MetricsRegistry.CollectionServers, c3: _*) === 1)
    assert(metrics.value(MetricsRegistry.RunningServers) === 1)
    sup.awaitAll(60000) // the second sink failure
    assert(sup.superviseOnce() === 1, "the budget is whole: startAll charged none of it")
    sup.awaitAll(60000)
    assert(sup.superviseOnce() === 0)
    assert(spark.read.parquet(s"$base/queue_c3").count() === 1)
  }

  test("clean termination (collection drop) is not restarted") {
    val base = tempDir("sup")
    val metrics = new MetricsRegistry
    val counter = new AtomicInteger(0)
    val sup = new Supervisor(spark, settingsOf(coll("c2")), metrics,
      flakyQuery(counter, failTimes = 0, base))
    sup.startAll()
    sup.awaitAll(60000)
    assert(sup.superviseOnce() === 0, "clean stop must not restart")
    assert(metrics.value(MetricsRegistry.TasksStarted) === 1)
    assert(!sup.healthy(), "all streams done => not live")
  }

  test("fan-out: one stream per configured collection") {
    val base = tempDir("sup")
    val metrics = new MetricsRegistry
    val counter = new AtomicInteger(0)
    val sup = new Supervisor(spark, settingsOf(coll("a"), coll("b"), coll("c")), metrics,
      flakyQuery(counter, failTimes = 0, base))
    sup.startAll()
    assert(metrics.value(MetricsRegistry.RunningServers) === 3)
    assert(metrics.value(MetricsRegistry.TasksStarted) === 3)
    assert(sup.healthy())
    sup.awaitAll(60000)
    sup.superviseOnce()
    Seq("a", "b", "c").foreach { n =>
      assert(spark.read.parquet(s"$base/queue_$n").count() === 1)
    }
  }

  test("retry-with-timeout: succeeds once the operation recovers, times out otherwise") {
    val n = new AtomicInteger(0)
    val v = Supervisor.retryWithTimeout(timeoutMs = 10000, retryDelayMs = 1) { () =>
      if (n.incrementAndGet() < 3) throw new RuntimeException("not yet") else 42
    }
    assert(v === 42 && n.get() === 3)
    val t0 = System.currentTimeMillis()
    assertThrows[RuntimeException] {
      Supervisor.retryWithTimeout(timeoutMs = 50, retryDelayMs = 5) { () =>
        throw new RuntimeException("always down")
      }
    }
    assert(System.currentTimeMillis() - t0 >= 50)
  }
}
