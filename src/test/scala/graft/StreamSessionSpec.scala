package graft

import graft.config._
import graft.streaming.{Connector, Epochs, JsonDirSource, ParquetQueuePublisher, QueuePublisher}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Every graft stream runs on one graft-owned stream session per caller
  * session: listeners on the caller's `spark.streams` still hear its
  * events, repeated drains reuse it, and each start takes the caller's
  * runtime conf.
  */
class StreamSessionSpec extends SparkSpec {

  private val cfg = CollectionConfig(WatchedDb("test", "sscoll"),
    ResumeTokensDb("test", "tokens"), QueueSink("stream_sscoll"))

  /** A fresh connector over 40 events staged in two files. */
  private def connector(): (Connector, String) = {
    val base = tempDir("streamsession")
    for ((name, ids) <- Seq("a.json" -> (0 until 20), "b.json" -> (20 until 40))) {
      val rows = ids.map { i =>
        s"""{"event_id":$i,"ts_us":${1704067200000000L + i * 1000000L},"user_id":${i % 7},""" +
          s""""event_type":"view","value":1.5,"props":"{}"}"""
      }
      Files.createDirectories(Paths.get(s"$base/source/sscoll"))
      Files.write(Paths.get(s"$base/source/sscoll", name), rows.mkString("\n").getBytes)
    }
    (Connector.fromCollection(spark, Connections(s"$base/source", s"$base/queues"), cfg), base)
  }

  private def drained(q: StreamingQuery): StreamingQuery = {
    assert(q.awaitTermination(60000))
    assert(q.exception.isEmpty, q.exception)
    q
  }

  test("a listener on the caller's spark.streams hears a Connector.connect drain start, progress and end") {
    val events = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = events.add(s"started ${e.runId}")
      override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(s"progress ${e.progress.runId}")
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = events.add(s"terminated ${e.runId}")
    }
    spark.streams.addListener(listener)
    val q = try {
      val q = drained(connector()._1.connect())
      GraftSqlBridge.waitUntilEmpty(spark.sparkContext)
      q
    } finally spark.streams.removeListener(listener)
    val seen = events.asScala.toSeq
    assert(q.recentProgress.nonEmpty)
    assert(seen.count(_ == s"started ${q.runId}") === 1, seen)
    assert(seen.count(_ == s"progress ${q.runId}") === q.recentProgress.length, seen)
    assert(seen.count(_ == s"terminated ${q.runId}") === 1, seen)
    assert(!spark.streams.active.exists(_.runId == q.runId))
  }

  test("six drains add no listener to the context's bus and reuse one stream session") {
    val sc = spark.sparkContext
    drained(connector()._1.connect()) // the first drain may make the session
    GraftSqlBridge.waitUntilEmpty(sc)
    val (listeners, session) = (GraftSqlBridge.listenerCount(sc), Epochs.streamSession(spark))
    (1 to 6).foreach(_ => drained(connector()._1.connect()))
    GraftSqlBridge.waitUntilEmpty(sc)
    assert(GraftSqlBridge.listenerCount(sc) === listeners)
    assert(Epochs.streamSession(spark) eq session)
    assert(session ne spark)
  }

  test("a runtime conf the caller sets between two drains is in effect in the second drain's batches") {
    val key = "spark.graft.spec.marker"
    val seen = new ConcurrentLinkedQueue[(String, Option[String], String)]()
    def drain(tag: String): Unit = {
      val (c, base) = connector()
      val queue = ParquetQueuePublisher(s"$base/queues/stream_sscoll")
      val probe = new QueuePublisher {
        override def publish(batch: DataFrame, epochId: Long): Unit = {
          val conf = batch.sparkSession.conf
          seen.add((tag, conf.getOption(key), conf.get(LocalFiles.CheckpointManagerKey)))
          queue.publish(batch, epochId)
        }
      }
      drained(c.connectWith(JsonDirSource(s"$base/source/sscoll"), probe, "stream_sscoll"))
    }
    drain("before")
    spark.conf.set(key, "set")
    try drain("set") finally spark.conf.unset(key)
    drain("unset")
    val byTag = seen.asScala.toSeq.groupBy(_._1)
    assert(byTag.keySet === Set("before", "set", "unset"))
    assert(byTag("before").map(_._2).toSet === Set(None))
    assert(byTag("set").map(_._2).toSet === Set(Some("set")))
    assert(byTag("unset").map(_._2).toSet === Set(None))
    assert(seen.asScala.map(_._3).toSet === Set(classOf[LocalFiles.CheckpointManager].getName))
    assert(!spark.conf.getAll.contains(LocalFiles.CheckpointManagerKey))
  }
}
