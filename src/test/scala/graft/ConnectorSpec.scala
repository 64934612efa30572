package graft

import graft.config._
import graft.streaming.Connector
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** The D5 library facade end-to-end, mirroring the reference's e2e flow
  * (mrcond/tests/e2e.rs): from_collection → connect → events in the queue,
  * resuming from the facade-named token location on reconnect.
  */
class ConnectorSpec extends SparkSpec {

  private def writeEvents(dir: String, name: String, ids: Range): Unit = {
    val rows = ids.map { i =>
      s"""{"event_id":$i,"ts_us":${1704067200000000L + i * 1000000L},"user_id":${i % 7},""" +
        s""""event_type":"view","value":1.5,"props":"{}"}"""
    }
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes)
  }

  test("fromCollection → connect delivers the collection's events to its queue") {
    val base = tempDir("connector")
    val connections = Connections(s"$base/source", s"$base/queues")
    val cfg = CollectionConfig(WatchedDb("test", "conncoll"),
      ResumeTokensDb("test", "tokens"), QueueSink("stream_conncoll"))
    writeEvents(s"$base/source/conncoll", "first.json", 0 until 25)

    val connector = Connector.fromCollection(spark, connections, cfg)
    val q = connector.connect("stream_conncoll")
    q.awaitTermination(60000)

    val out = spark.read.parquet(s"$base/queues/stream_conncoll")
    assert(out.count() === 25)
    assert(out.where(col("ns_db") === "test" && col("ns_coll") === "conncoll").count() === 25)
    // the facade's token location IS the live checkpoint (A3 semantics)
    val tokens = connector.resumeTokensLocation("stream_conncoll")
    assert(Files.exists(Paths.get(tokens, "offsets")), s"no checkpoint at $tokens")
  }

  test("reconnect resumes after the last committed event — no redelivery") {
    val base = tempDir("connector")
    val connections = Connections(s"$base/source", s"$base/queues")
    val cfg = CollectionConfig(WatchedDb("test", "conncoll"),
      ResumeTokensDb("test", "tokens"), QueueSink("stream_conncoll"))
    val connector = Connector.fromCollection(spark, connections, cfg)

    writeEvents(s"$base/source/conncoll", "first.json", 0 until 10)
    connector.connect("s1").awaitTermination(60000)
    writeEvents(s"$base/source/conncoll", "second.json", 10 until 15)
    connector.connect("s1").awaitTermination(60000)

    val ids = spark.read.parquet(s"$base/queues/stream_conncoll")
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids === (0L until 15L).toArray, s"redelivery or loss: ${ids.mkString(",")}")
  }

  test("materialize maintains the collection as a Versioned table beside the queue stream") {
    import graft.ops.Versioned
    val base = tempDir("connmat")
    val connections = Connections(s"$base/source", s"$base/queues")
    val cfg = CollectionConfig(WatchedDb("test", "matcoll"),
      ResumeTokensDb("test", "tokens"), QueueSink("stream_matcoll"))
    // event_type view -> update ops; all user_ids distinct mod 7
    writeEvents(s"$base/source/matcoll", "first.json", 0 until 21)
    val connector = Connector.fromCollection(spark, connections, cfg)

    // queue stream and materialization run over the SAME source with
    // independent checkpoints
    connector.connect("stream_matcoll").awaitTermination(60000)
    connector.materialize().awaitTermination(60000)
    val table = s"$base/queues/stream_matcoll_table"
    val state = Versioned.read(spark, table)
      .select("document_key", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // last event per user (i % 7) wins; ids 0..20 -> last for user u is the
    // max i = 14 + u
    assert(state === (0L until 7L).map(u => u -> (14L + u)).toMap)
    assert(spark.read.parquet(s"$base/queues/stream_matcoll").count() === 21,
      "the queue stream is unaffected by the materialization")

    // a second delivery advances the table incrementally from ITS checkpoint
    writeEvents(s"$base/source/matcoll", "second.json", 21 until 28)
    connector.materialize().awaitTermination(60000)
    val v2 = Versioned.read(spark, table)
      .select("document_key", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v2 === (0L until 7L).map(u => u -> (21L + u)).toMap)
    assert(Versioned.versions(spark, table) === Seq(1L, 2L))
  }
}
