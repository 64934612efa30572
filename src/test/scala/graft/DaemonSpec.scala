package graft

import graft.config._
import graft.streaming._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Paths}
import scala.io.Source

/** Daemon surface: supervisor-fed metrics + health/metrics HTTP endpoints
  * (mrcond/src/main.rs:53-73) driven by real streaming queries.
  */
class DaemonSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(stream).mkString
    conn.disconnect()
    (code, body)
  }

  test("supervisor-fed lifecycle gauges; /health and /metrics serve over HTTP") {
    val base = tempDir("daemon")
    val metrics = new MetricsRegistry
    val listener = new GraftQueryListener(metrics)
    spark.streams.addListener(listener)
    try {
      // config with one collection, events staged in its source subdir
      val src = s"$base/source/testcoll"
      Files.createDirectories(Paths.get(src))
      Files.write(Paths.get(src, "events.json"),
        """{"event_id":7,"ts_us":1704067200000000,"user_id":3,"event_type":"view","value":2.5,"props":"{}"}"""
          .getBytes)
      val settings = Settings.create(
        Connections(s"$base/source", s"$base/queues"),
        Seq(CollectionConfig(WatchedDb("test", "testcoll"),
          ResumeTokensDb("test", "tokens"), QueueSink("stream_testcoll")))).toOption.get

      val supervisor = new Supervisor(spark, settings, metrics,
        GraftDaemon.startQuery(settings.connections))
      // bind port 0 so a concurrent JVM on the host can't collide
      val http = GraftDaemon.serveHttp(0, metrics, supervisor)
      val port = http.getAddress.getPort
      try {
        supervisor.startAll()
        val (hc, hb) = get(s"http://localhost:$port/health")
        assert(hc === 200 && hb === "OK")
        supervisor.awaitAll(60000)
        // the supervisor counts the start; every listener event is
        // delivered before the count is read, so a second count would show
        org.apache.spark.sql.graft.GraftSqlBridge.waitUntilEmpty(spark.sparkContext)
        assert(metrics.value(MetricsRegistry.TasksStarted) === 1)
        assert(metrics.value(MetricsRegistry.CollectionServers,
          "collection" -> "testcoll", "database" -> "test") >= 0)
        val (mc, mb) = get(s"http://localhost:$port/metrics")
        assert(mc === 200)
        assert(mb.contains("mrcon_tasks_started_total"))
        assert(mb.contains("mrcon_running_servers_total"))
        // delivered to the queue
        assert(spark.read.parquet(s"$base/queues/stream_testcoll")
          .where(org.apache.spark.sql.functions.col("event_id") === 7).count() === 1)
      } finally {
        http.stop(0)
        supervisor.stopAll() // the continuous-trigger stream must not outlive the test
      }
    } finally spark.streams.removeListener(listener)
  }

  test("soak: 3 rate-fed collections survive 50k+ events, a sink-failure restart, and a clean shutdown") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // The daemon-level analog of the reference e2e bulk scenario
    // (mrcond/tests/e2e.rs:386): three supervised collections on a genuinely
    // unbounded source, enough volume that a stuck stream would be obvious,
    // one injected sink failure so the restart path runs against the LIVE
    // daemon (SupervisorSpec only exercises it on toy queries), then a
    // graceful shutdown with the control plane stopping first.
    val base = tempDir("daemon-soak")
    val metrics = new MetricsRegistry
    val listener = new GraftQueryListener(metrics)
    spark.streams.addListener(listener)
    val failOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    try {
      val colls = Seq("c0", "c1", "c2").map(n =>
        CollectionConfig(WatchedDb("soak", n), ResumeTokensDb("soak", "tokens"),
          QueueSink(s"stream_$n")))
      val settings = Settings.create(
        Connections(s"$base/source", s"$base/queues"), colls).toOption.get
      // Daemon wiring with the rate source standing in for the change
      // stream: same envelope transform, same queue/checkpoint layout.
      // c1's sink throws once mid-soak; the supervisor must classify it,
      // restart from the checkpoint, and keep the other two streams up.
      def startRateQuery(s: org.apache.spark.sql.SparkSession,
                         c: CollectionConfig): org.apache.spark.sql.streaming.StreamingQuery = {
        val coll = c.watched.collName
        val feed = s.readStream.format("rate").option("rowsPerSecond", 3000).load()
          .select(col("value").as("event_id"),
            (lit(1704067200000000L) + col("value") * lit(1000L)).as("ts_us"),
            pmod(col("value"), lit(97L)).as("user_id"),
            lit("view").as("event_type"),
            (col("value") % 10).cast("double").as("value"),
            lit("{}").as("props"))
        val env = ChangeStreamJob.toChangeEvents(feed, "soak", coll)
        val out = s"$base/queues/${c.queue.streamName}"
        env.writeStream
          .queryName(s"soak.$coll")
          .trigger(Trigger.ProcessingTime("1 second"))
          .option("checkpointLocation", s"$base/queues/_checkpoints/${c.queue.streamName}")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            if (coll == "c1" && failOnce.compareAndSet(true, false))
              throw new RuntimeException("queue sink unavailable (injected)")
            batch.write.mode("append").parquet(out)
          }
          .start()
      }
      val supervisor = new Supervisor(spark, settings, metrics, startRateQuery)
      val http = GraftDaemon.serveHttp(0, metrics, supervisor)
      val port = http.getAddress.getPort
      try {
        supervisor.startAll()
        assert(this.get(s"http://localhost:$port/health")._1 === 200)
        // supervise like the daemon main loop until >= 50k events are
        // DURABLY in the queues and the injected failure was restarted
        val deadline = System.currentTimeMillis() + 240000
        def queueCount(n: String): Long =
          try spark.read.parquet(s"$base/queues/stream_$n").count()
          catch { case _: Throwable => 0L }
        def total = Seq("c0", "c1", "c2").map(queueCount).sum
        def restarted = metrics.value(MetricsRegistry.TaskRestarts,
          "collection" -> "c1", "database" -> "soak",
          "reason" -> "sink_connection_failed")
        while ((total < 50000 || restarted < 1) &&
          System.currentTimeMillis() < deadline) {
          Thread.sleep(1000)
          supervisor.superviseOnce()
        }
        assert(total >= 50000, s"soak must land >= 50k events, saw $total")
        assert(restarted >= 1,
          "the injected sink failure must be restarted under the routed reason")
        assert(metrics.value(MetricsRegistry.TaskFailures,
          "collection" -> "c1", "database" -> "soak",
          "error_type" -> "sink_error") >= 1)
        assert(supervisor.activeQueries.size === 3,
          "all three collections must be live after the restart")
        val (mc, mb) = this.get(s"http://localhost:$port/metrics")
        assert(mc === 200 && mb.contains("mrcon_task_restarts_total"))
        // the restarted stream resumed from its checkpoint and still delivers
        val c1Before = queueCount("c1")
        val t1 = System.currentTimeMillis() + 60000
        while (queueCount("c1") == c1Before && System.currentTimeMillis() < t1)
          Thread.sleep(500)
        assert(queueCount("c1") > c1Before, "restarted stream must keep delivering")
      } finally GraftDaemon.shutdown(http, supervisor)
      assert(supervisor.activeQueries.isEmpty, "no stream survives shutdown")
      assert(!supervisor.healthy())
      intercept[java.io.IOException] { this.get(s"http://localhost:$port/health") }
      GraftDaemon.shutdown(http, supervisor) // idempotent
    } finally spark.streams.removeListener(listener)
  }

  test("graceful shutdown stops the control plane first, then quiesces every stream") {
    val base = tempDir("daemon-shutdown")
    val src = s"$base/source/shutcoll"
    Files.createDirectories(Paths.get(src))
    Files.write(Paths.get(src, "events.json"),
      """{"event_id":1,"ts_us":1704067200000000,"user_id":1,"event_type":"view","value":1.5,"props":"{}"}"""
        .getBytes)
    val metrics = new MetricsRegistry
    val settings = Settings.create(
      Connections(s"$base/source", s"$base/queues"),
      Seq(CollectionConfig(WatchedDb("test", "shutcoll"),
        ResumeTokensDb("test", "tokens"), QueueSink("stream_shutcoll")))).toOption.get
    // the daemon's own continuous trigger: the stream stays live until stopped
    val supervisor = new Supervisor(spark, settings, metrics,
      GraftDaemon.startQuery(settings.connections))
    val http = GraftDaemon.serveHttp(0, metrics, supervisor)
    val port = http.getAddress.getPort
    supervisor.startAll()
    assert(supervisor.healthy(), "stream should be live before shutdown")

    GraftDaemon.shutdown(http, supervisor)

    assert(supervisor.activeQueries.isEmpty, "streams must be stopped")
    assert(!supervisor.healthy(), "no live stream may remain after shutdown")
    intercept[java.io.IOException] { get(s"http://localhost:$port/health") }
    // idempotent: a second call (hook + finally both fire) must not throw
    GraftDaemon.shutdown(http, supervisor)
  }

  test("a local sink resolves the FileSystem-based checkpoint manager; another scheme keeps Spark's") {
    // the daemon session's confs as Spark applies them: spark.hadoop.* into
    // the Hadoop conf, SQL confs copied into every per-query Hadoop conf
    def resolved(sinkUri: String) = {
      val hc = spark.sessionState.newHadoopConf()
      GraftDaemon.localSinkConf(sinkUri).foreach { case (k, v) => hc.set(k.stripPrefix("spark.hadoop."), v) }
      val manager = CheckpointFileManager.create(new Path(tempDir("daemon-ckpt")), hc)
      (manager.getClass.getSimpleName, hc.get("fs.file.impl"))
    }
    assert(resolved(tempDir("daemon") + "/queues") ===
      ("FileSystemBasedCheckpointFileManager", classOf[LocalFiles].getName))
    assert(resolved("hdfs://nn:8020/queues") ===
      ("FileContextBasedCheckpointFileManager", spark.sparkContext.hadoopConfiguration.get("fs.file.impl")))
  }
}
