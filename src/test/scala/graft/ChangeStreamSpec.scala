package graft

import graft.streaming.{ChangeStreamJob, InMemoryQueuePublisher, JsonDirSource,
  ParquetQueuePublisher, VersionedMergePublisher}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Streaming e2e behaviors mirroring the reference suite
  * (mrcond/tests/e2e.rs:386 bulk, :416 one-by-one, :445 drop) plus the
  * resume-after-restart guarantee (connector.rs:135-142).
  */
class ChangeStreamSpec extends SparkSpec {

  private def writeEvents(dir: String, name: String, ids: Range): Unit = {
    val rows = ids.map { i =>
      s"""{"event_id":$i,"ts_us":${1704067200000000L + i * 1000000L},"user_id":${i % 7},""" +
        s""""event_type":"${Seq("signup", "click", "purchase", "view", "error")(i % 5)}",""" +
        s""""value":${i % 100}.5,"props":"{\\"k\\": $i}"}"""
    }
    Files.write(Paths.get(dir, name), rows.mkString("\n").getBytes)
  }

  private def queueIds(queueDir: String): Seq[Long] =
    spark.read.parquet(queueDir).select("event_id").collect().map(_.getLong(0)).toSeq

  test("bulk delivery: all events reach the queue exactly once with the full envelope") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "batch0.json", 0 until 100)
    val q = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt)
    q.awaitTermination(60000)
    val out = spark.read.parquet(queue)
    assert(out.count() === 100)
    assert(queueIds(queue).sorted === (0L until 100L))
    val row = out.where(col("event_id") === 0).collect().head
    assert(row.getAs[String]("operation_type") === "insert")
    assert(row.getAs[String]("resume_token") === "0000000000000000")
    assert(row.getAs[String]("ns_db") === "test")
    assert(row.getAs[String]("full_document").contains("\"event_id\":0"))
  }

  test("dead-letter routing: corrupt and id-less rows quarantine with reasons, good rows flow") {
    val (src, queue, ckpt, dlq) =
      (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"), tempDir("dlq") + "/d")
    writeEvents(src, "good.json", 0 until 10)
    // one syntactically corrupt line + one valid-JSON row that is not an event
    Files.write(Paths.get(src, "bad.json"),
      ("{\"event_id\": 999, \"ts_us\": THIS-IS-NOT-JSON\n" +
        """{"ts_us":1704067200000000,"user_id":1,"event_type":"click","value":1.5,"props":"{}"}""")
        .getBytes)
    val q = graft.streaming.DeadLetter.startWithDlq(spark, src,
      graft.streaming.ParquetQueuePublisher(queue), dlq, ckpt)
    q.awaitTermination(60000)
    assert(queueIds(queue).sorted === (0L until 10L), "good rows take the normal path")
    val dead = spark.read.parquet(dlq).collect()
    assert(dead.length === 2)
    val byReason = dead.map(r => r.getAs[String]("reason") -> r.getAs[String]("raw")).toMap
    assert(byReason.keySet === Set("corrupt_json", "missing_event_id"))
    assert(byReason("corrupt_json").contains("THIS-IS-NOT-JSON"),
      "the DLQ must preserve the original corrupt bytes for replay")
    assert(byReason("missing_event_id").contains("\"event_type\":\"click\""))
    // replay idempotence: a fresh checkpoint re-processes the same dir and
    // the epoch-overwritten DLQ partition REPLACES, never duplicates
    val q2 = graft.streaming.DeadLetter.startWithDlq(spark, src,
      graft.streaming.ParquetQueuePublisher(queue), dlq, tempDir("ckpt2"))
    q2.awaitTermination(60000)
    assert(spark.read.parquet(dlq).count() === 2, "replayed epoch must not duplicate the DLQ")
  }

  test("dead-letter routing: a row with an event_id but no user_id quarantines as missing_user_id") {
    val s = spark
    import s.implicits._
    val (src, queue, ckpt, dlq) =
      (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"), tempDir("dlq") + "/d")
    writeEvents(src, "good.json", 0 until 10)
    Files.write(Paths.get(src, "bad.json"), notEventLines.mkString("\n").getBytes)
    graft.streaming.DeadLetter.startWithDlq(spark, src,
      ParquetQueuePublisher(queue), dlq, ckpt).awaitTermination(60000)
    assert(queueIds(queue).sorted === (0L until 10L))
    assert(spark.read.parquet(dlq).select("reason").as[String].collect().sorted.toSeq ===
      Seq("corrupt_json", "missing_user_id"))
  }

  test("DLQ replay publishes rows the fixed parser now accepts and keeps the rest quarantined") {
    val s = spark
    import s.implicits._
    val (queue, dlq) = (tempDir("queue") + "/q", tempDir("dlq") + "/d")
    // a quarantine as A14 would leave it: one now-valid raw line (producer
    // fixed upstream and re-sent into the DLQ path), one forever-corrupt
    val nowValid =
      """{"event_id":7,"ts_us":1704067200000000,"user_id":3,"event_type":"click","value":1.0,"props":"{}"}"""
    Seq(("corrupt_json", nowValid, 0L), ("corrupt_json", "still {not json", 0L))
      .toDF("reason", "raw", "epoch")
      .write.partitionBy("epoch").parquet(dlq)
    val pub = graft.streaming.ParquetQueuePublisher(queue)
    val (published, still) = graft.streaming.DeadLetter.replay(spark, dlq, pub, replayEpoch = 999L)
    assert((published, still) === ((1L, 1L)))
    assert(queueIds(queue) === Seq(7L), "the recovered event reaches the queue")
    val left = spark.read.parquet(dlq).collect()
    assert(left.length === 1 && left.head.getAs[String]("raw").contains("still {not json"))
    // idempotence: nothing else fixed -> a second replay is a no-op
    assert(graft.streaming.DeadLetter.replay(spark, dlq, pub, replayEpoch = 1000L) === ((0L, 1L)))
  }

  test("a fully-successful DLQ replay leaves the DLQ readable and further replays are no-ops") {
    val s = spark
    import s.implicits._
    val (queue, dlq) = (tempDir("queue2") + "/q", tempDir("dlq2") + "/d")
    val nowValid =
      """{"event_id":11,"ts_us":1704067200000000,"user_id":4,"event_type":"view","value":2.0,"props":"{}"}"""
    Seq(("corrupt_json", nowValid, 0L)).toDF("reason", "raw", "epoch")
      .write.partitionBy("epoch").parquet(dlq)
    val pub = graft.streaming.ParquetQueuePublisher(queue)
    assert(graft.streaming.DeadLetter.replay(spark, dlq, pub, replayEpoch = 1L) === ((1L, 0L)))
    // ADVICE r11: the emptied DLQ must stay readable (monitoring reads,
    // schema intact) and a second replay must be a clean no-op, not a
    // schema-inference failure
    val emptied = spark.read.parquet(dlq)
    assert(emptied.count() === 0)
    assert(emptied.columns.sorted === Array("epoch", "raw", "reason"))
    assert(graft.streaming.DeadLetter.replay(spark, dlq, pub, replayEpoch = 2L) === ((0L, 0L)))
    // and a replay against a DLQ dir that never existed is also a no-op
    assert(graft.streaming.DeadLetter.replay(spark, tempDir("dlq3") + "/never", pub, 3L) === ((0L, 0L)))
  }

  test("the DLQ keeps one partition layout: an emptying replay, then a root marker cleared at stream start") {
    val s = spark
    import s.implicits._
    val (queue, dlq) = (tempDir("queue4") + "/q", tempDir("dlq4") + "/d")
    val nowValid =
      """{"event_id":12,"ts_us":1704067200000000,"user_id":5,"event_type":"view","value":2.0,"props":"{}"}"""
    Seq(("corrupt_json", nowValid, 0L)).toDF("reason", "raw", "epoch")
      .write.partitionBy("epoch").parquet(dlq)
    val pub = graft.streaming.ParquetQueuePublisher(queue)
    assert(graft.streaming.DeadLetter.replay(spark, dlq, pub, replayEpoch = 5L) === ((1L, 0L)))
    def visible(dir: String) =
      new java.io.File(dir).listFiles().map(_.getName).toSeq.filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(visible(dlq) === Seq("epoch=5"), "the emptied DLQ holds no root-level file")
    // a root-level marker as earlier replays wrote it: the DLQ stream clears
    // it once, when it starts, and quarantines into partitions beside nothing
    val (src, old) = (tempDir("src"), tempDir("dlq5") + "/d")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.streaming.DeadLetter.Schema).write.parquet(old)
    writeEvents(src, "good.json", 0 until 3)
    Files.write(Paths.get(src, "bad.json"), "{\"event_id\": 1, NOT-JSON".getBytes)
    val q = graft.streaming.DeadLetter.startWithDlq(spark, src, pub, old, tempDir("ckpt"))
    q.awaitTermination(60000)
    assert(visible(old).forall(_.startsWith("epoch=")))
    assert(spark.read.parquet(old).select("reason").as[String].collect().toSeq === Seq("corrupt_json"))
  }

  test("dimension enrichment re-resolves the versioned dimension at epoch boundaries") {
    import graft.ops.Versioned
    val s = spark
    import s.implicits._
    val (src, dim, out) =
      (tempDir("src"), tempDir("dim") + "/d", tempDir("enriched") + "/e")
    val ckpt = tempDir("ckpt")
    def dimRows(seg: String) = (0 until 7).map(u => (u.toLong, seg)).toDF("user_id", "segment")
    Versioned.commit(spark, dimRows("bronze"), dim)
    writeEvents(src, "batch1.json", 0 until 6)
    val q1 = graft.streaming.DimensionEnrich.start(spark, JsonDirSource(src), dim, out, ckpt)
    q1.awaitTermination(60000)
    // the dimension moves BETWEEN epochs; new events must see the new version
    Versioned.commit(spark, dimRows("gold"), dim)
    writeEvents(src, "batch2.json", 100 until 106)
    val q2 = graft.streaming.DimensionEnrich.start(spark, JsonDirSource(src), dim, out, ckpt)
    q2.awaitTermination(60000)
    val rows = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("segment"), r.getAs[Long]("dim_version"))).toMap
    assert(rows.keySet === ((0L until 6L) ++ (100L until 106L)).toSet)
    (0L until 6L).foreach(i => assert(rows(i) === (("bronze", 1L)), s"epoch 1 event $i"))
    (100L until 106L).foreach(i => assert(rows(i) === (("gold", 2L)), s"epoch 2 event $i"))
    // within-epoch consistency: one dim_version per epoch, by construction
    // partition-column epochs read back as Integer — key on the string form
    val perEpoch = spark.read.parquet(out).select("epoch", "dim_version").distinct().collect()
      .groupBy(_.get(0).toString).view.mapValues(_.length)
    assert(perEpoch.values.forall(_ === 1), "an epoch must never mix dimension versions")
    // starting enrichment BEFORE the dimension's first commit fails fast
    // with an actionable message, not a mid-batch NoSuchElementException
    // (ADVICE r11)
    val e = intercept[IllegalArgumentException] {
      graft.streaming.DimensionEnrich.start(spark, JsonDirSource(src),
        tempDir("dim-none") + "/never", out, tempDir("ckpt-none"))
    }
    assert(e.getMessage.contains("no committed dimension version"))
  }

  test("one-by-one delivery: events arriving file-at-a-time are all delivered in order") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    (0 until 5).foreach { i =>
      writeEvents(src, s"one$i.json", i to i)
      val q = ChangeStreamJob.startStream(spark, JsonDirSource(src),
        ParquetQueuePublisher(queue), ckpt)
      q.awaitTermination(60000)
    }
    assert(queueIds(queue).sorted === (0L until 5L))
  }

  test("resume after restart: a restarted stream continues after the last committed event, no duplicates") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "first.json", 0 until 50)
    val q1 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt)
    q1.awaitTermination(60000)
    assert(queueIds(queue).size === 50)
    // "crash", then more events arrive, then restart from the same checkpoint
    writeEvents(src, "second.json", 50 until 80)
    val q2 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt)
    q2.awaitTermination(60000)
    val ids = queueIds(queue)
    assert(ids.size === 80, "restart must not re-deliver the first batch")
    assert(ids.sorted === (0L until 80L))
  }

  test("in-stream dedup: redelivered events are published exactly once") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "first.json", 0 until 20)
    writeEvents(src, "redelivery.json", 10 until 20) // same ids again
    val q = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt, dedupe = true)
    q.awaitTermination(60000)
    val ids = queueIds(queue)
    assert(ids.sorted === (0L until 20L), s"duplicates survived: ${ids.sorted}")
  }

  test("pre/post images: flag on carries each key's before-image ACROSS batch boundaries") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "first.json", 0 until 10)
    val q1 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt, preAndPostImages = true)
    q1.awaitTermination(60000)
    // second batch, separate run: state must survive the restart too
    writeEvents(src, "second.json", 10 until 20)
    val q2 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt, preAndPostImages = true)
    q2.awaitTermination(60000)
    val out = spark.read.parquet(queue)
    assert(out.columns.contains("full_document_before_change"))
    // event 10 (user 3) was preceded by event 3 (user 3) in the FIRST batch
    val e10 = out.where(col("event_id") === 10).collect().head
    val before = e10.getAs[String]("full_document_before_change")
    assert(before != null && before.contains("\"event_id\":3"), s"before=$before")
    // a key's first-ever event has no before-image
    val e0 = out.where(col("event_id") === 0).collect().head
    assert(e0.getAs[String]("full_document_before_change") == null)
    // flag off: the column does not exist (reference behavior when unset)
    val (src2, queue2, ckpt2) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src2, "only.json", 0 until 5)
    val q3 = ChangeStreamJob.startStream(spark, JsonDirSource(src2),
      ParquetQueuePublisher(queue2), ckpt2)
    q3.awaitTermination(60000)
    assert(!spark.read.parquet(queue2).columns.contains("full_document_before_change"))
  }

  test("pre/post images: a poison line and a keyless row are dropped, the valid rows flow") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "good.json", 0 until 10)
    Files.write(Paths.get(src, "bad.json"), notEventLines.mkString("\n").getBytes)
    ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt, preAndPostImages = true).awaitTermination(60000)
    assert(queueIds(queue).sorted === (0L until 10L))
  }

  test("before-images: a DELETE clears the key's image instead of killing the stream") {
    // A delete envelope carries no fullDocument (so no extractable
    // event_id either): the state machine must emit the delete WITH its
    // before-image, then drop the key's state — the next insert sees a
    // null before-image, not the resurrected pre-delete doc. The old code
    // crashed on state.update(null) at the first delete ending a batch.
    val s = spark
    import s.implicits._
    // resume tokens carry the feed's total order (deletes included): the
    // delete sits BETWEEN the two inserts, and the state machine must
    // process it there — not shuffled to the end of the batch (ADVICE r8:
    // sorting id'd events first made a delete+same-key-reinsert batch
    // report the reinserted doc as the delete's before-image)
    def env(tok: String, id: java.lang.Long, op: String, key: Long, doc: String) =
      (id, tok, op, "db", "c", key, doc, new java.sql.Timestamp(1704067200000L))
    val batch = Seq(
      env("tok01", 1L, "insert", 7L, """{"v":1}"""),
      env("tok02", null, "delete", 7L, null),
      env("tok03", 3L, "insert", 7L, """{"v":3}""")
    ).toDF("event_id", "resume_token", "operation_type", "ns_db", "ns_coll",
      "document_key", "full_document", "cluster_time")
    val out = ChangeStreamJob.withBeforeImages(batch).collect()
      .sortBy(_.getAs[String]("resume_token"))
    assert(out.length === 3)
    // insert 1: first event, no before-image
    assert(out(0).getAs[String]("full_document_before_change") == null)
    // the delete processes in feed position: before-image is insert 1's doc
    val delete = out(1)
    assert(delete.isNullAt(delete.fieldIndex("event_id")))
    assert(delete.getAs[String]("full_document_before_change") === """{"v":1}""")
    assert(delete.getAs[String]("full_document") == null)
    // the reinsert AFTER the delete sees a null before-image — the delete
    // cleared the key's state mid-batch, the doc it replaced is gone
    assert(out(2).getAs[Long]("event_id") === 3L)
    assert(out(2).getAs[String]("full_document_before_change") == null)
  }

  test("before-images resume as null after a batch ending in a delete") {
    val s = spark
    import s.implicits._
    def frame(rows: Seq[(java.lang.Long, String, String, String, String, Long, String, java.sql.Timestamp)]) =
      rows.toDF("event_id", "resume_token", "operation_type", "ns_db", "ns_coll",
        "document_key", "full_document", "cluster_time")
    val ts = new java.sql.Timestamp(1704067200000L)
    // batch 1 ends with the delete — the old code threw on state.update(null)
    val b1 = frame(Seq(
      (5L: java.lang.Long, "t1", "insert", "db", "c", 9L, """{"v":5}""", ts),
      (null.asInstanceOf[java.lang.Long], "t2", "delete", "db", "c", 9L, null, ts)))
    assert(ChangeStreamJob.withBeforeImages(b1).collect().length === 2)
  }

  test("dedupe + preAndPostImages is refused up front (unsupported stateful chain)") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "only.json", 0 until 3)
    val e = intercept[IllegalArgumentException] {
      ChangeStreamJob.startStream(spark, JsonDirSource(src),
        ParquetQueuePublisher(queue), ckpt, dedupe = true, preAndPostImages = true)
    }
    assert(e.getMessage.contains("two chained streams"))
  }

  test("source/publisher seam: the same pipeline runs against a toy in-memory publisher") {
    val (src, ckpt) = (tempDir("src"), tempDir("ckpt"))
    writeEvents(src, "batch.json", 0 until 30)
    val sink = new InMemoryQueuePublisher
    val q = ChangeStreamJob.startStream(spark, JsonDirSource(src), sink, ckpt)
    q.awaitTermination(60000)
    val ids = sink.rows.map(_.getAs[Long]("event_id")).sorted
    assert(ids === (0L until 30L), s"seam lost rows: $ids")
    assert(sink.epochs.nonEmpty)
    assert(sink.rows.head.schema.fieldNames.contains("full_document"))
  }

  test("publisher confirm failure mid-epoch: the replayed epoch REPLACES the partial delivery") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "batch.json", 0 until 40)
    // a publisher whose broker "nacks": it lands half the epoch in the queue,
    // then fails before confirming — the crash window between sink write and
    // checkpoint commit (amqp.rs:95-110's confirm-await, where an error means
    // the epoch was NOT acknowledged and will be redelivered)
    val flaky = new graft.streaming.QueuePublisher {
      override def publish(batch: org.apache.spark.sql.DataFrame, epochId: Long): Unit = {
        batch.limit((batch.count() / 2).toInt).withColumn("epoch", lit(epochId))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("epoch").parquet(queue)
        throw new RuntimeException("broker nack: publisher confirm failed mid-epoch")
      }
    }
    val q1 = ChangeStreamJob.startStream(spark, JsonDirSource(src), flaky, ckpt)
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(60000)
    }
    assert(failed.getMessage.contains("confirm failed"))
    val partial = queueIds(queue)
    assert(partial.nonEmpty && partial.size < 40,
      s"test needs a half-delivered epoch, got ${partial.size} rows")
    // restart from the same checkpoint with a healthy publisher: the
    // unconfirmed epoch replays under the SAME epoch id and must replace the
    // partial delivery — exactly-once end-to-end, not at-least-once debris
    val q2 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      graft.streaming.ParquetQueuePublisher(queue), ckpt)
    q2.awaitTermination(60000)
    val ids = queueIds(queue)
    assert(ids.size === ids.distinct.size, "replay must replace, never duplicate")
    assert(ids.sorted === (0L until 40L), s"every event delivered exactly once: ${ids.sorted}")
  }

  test("two-hop chain: dedupe stream feeds a before-image stream, as the refusal prescribes") {
    val (src, q1dir, ckpt1) = (tempDir("src"), tempDir("queue") + "/q1", tempDir("ckpt"))
    val (q2dir, ckpt2) = (tempDir("queue") + "/q2", tempDir("ckpt"))
    // hop 1: at-least-once feed (ids 5-9 redelivered) -> dedup -> queue 1
    writeEvents(src, "first.json", 0 until 10)
    writeEvents(src, "redelivery.json", 5 until 10)
    val h1 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(q1dir), ckpt1, dedupe = true)
    h1.awaitTermination(60000)
    assert(queueIds(q1dir).sorted === (0L until 10L))
    // hop 2: queue 1 IS the source (file stream over the envelope parquet),
    // before-image state applies on the deduped feed
    val envSchema = spark.read.parquet(q1dir).drop("epoch").schema
    val env = spark.readStream.schema(envSchema).parquet(q1dir)
    val shaped = ChangeStreamJob.withBeforeImages(env)
    val sink = new InMemoryQueuePublisher
    val h2 = shaped.writeStream
      .option("checkpointLocation", ckpt2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sink.publish(b, id); () }
      .start()
    h2.awaitTermination(60000)
    val rows = sink.rows.map(r => r.getAs[Long]("event_id") -> r).toMap
    assert(rows.keySet === (0L until 10L).toSet, "hop 2 must carry every deduped event exactly once")
    // user 7's second event (id 7 follows id 0, both user 0? -> compute): user_id = i % 7,
    // so event 7 (user 0) is preceded by event 0 (user 0)
    val before7 = rows(7L).getAs[String]("full_document_before_change")
    assert(before7 != null && before7.contains("\"event_id\":0"), s"before=$before7")
    val before0 = rows(0L).getAs[String]("full_document_before_change")
    assert(before0 == null, "a key's first event has no before-image")
  }

  test("rate-source binding: the connector runs against an unbounded streaming source") {
    val ckpt = tempDir("ckpt")
    val sink = new InMemoryQueuePublisher
    val q = ChangeStreamJob.startStream(spark, graft.streaming.RateEventSource(500), sink, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (sink.rows.size < 50 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally q.stop()
    val ids = sink.rows.map(_.getAs[Long]("event_id"))
    assert(ids.size >= 50, s"unbounded source must deliver continuously, got ${ids.size}")
    assert(ids.distinct.size === ids.size, "no duplicate deliveries")
    assert(sink.epochs.size >= 2, "delivery must span multiple micro-batches")
    val e = sink.rows.find(_.getAs[Long]("event_id") == 1L)
    assert(e.forall(_.getAs[String]("full_document").contains("\"event_id\":1")))
  }

  test("socket-source binding: events delivered over a TCP boundary reach the queue") {
    val server = new java.net.ServerSocket(0)
    val lines = (0 until 25).map { i =>
      s"""{"event_id":$i,"ts_us":${1704067200000000L + i},"user_id":${i % 7},""" +
        s""""event_type":"click","value":$i.5,"props":"{}"}"""
    }
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        lines.foreach(out.println)
        out.flush()
        // keep the connection open until the query is done reading
        Thread.sleep(30000)
        sock.close()
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val sink = new InMemoryQueuePublisher
    val q = ChangeStreamJob.startStream(spark,
      graft.streaming.SocketEventSource("localhost", server.getLocalPort), sink,
      tempDir("ckpt"),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(250))
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (sink.rows.size < 25 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally { q.stop(); server.close() }
    val ids = sink.rows.map(_.getAs[Long]("event_id")).sorted
    assert(ids === (0L until 25L), s"socket delivery incomplete: $ids")
    assert(sink.rows.head.schema.fieldNames.contains("full_document"))
  }

  test("source drop: stream over an exhausted source terminates cleanly (no exception)") {
    val (src, queue, ckpt) = (tempDir("src"), tempDir("queue") + "/q", tempDir("ckpt"))
    writeEvents(src, "only.json", 0 until 10)
    val q1 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt)
    q1.awaitTermination(60000)
    // nothing new: AvailableNow over the same checkpoint commits nothing and stops
    val q2 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      ParquetQueuePublisher(queue), ckpt)
    q2.awaitTermination(60000)
    assert(q2.exception.isEmpty)
    assert(queueIds(queue).size === 10)
  }

  test("materializing runner: the stream maintains a Versioned table, O(delta) per epoch") {
    import graft.ops.Versioned
    val (src, table, ckpt) = (tempDir("src"), tempDir("mat") + "/t", tempDir("ckpt"))
    writeEvents(src, "batch0.json", 0 until 50)
    val q = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      VersionedMergePublisher(table), ckpt)
    q.awaitTermination(60000)

    // expected fold: per user (document_key = i % 7), last event by id wins;
    // a trailing delete ("error" type) drops the key
    def fold(ids: Range): Map[Long, Long] =
      ids.groupBy(_ % 7).flatMap { case (u, is) =>
        val last = is.max
        val op = Seq("signup", "click", "purchase", "view", "error")(last % 5)
        if (op == "error") None else Some(u.toLong -> last.toLong)
      }
    def state(): Map[Long, Long] = Versioned.read(spark, table)
      .select("document_key", "event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state() === fold(0 until 50))
    assert(Versioned.versions(spark, table) === Seq(1L), "one bootstrap commit")

    // a second delivery merges incrementally from the SAME checkpoint
    writeEvents(src, "batch1.json", 50 until 60)
    val q2 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      VersionedMergePublisher(table), ckpt)
    q2.awaitTermination(60000)
    assert(state() === fold(0 until 60))
    assert(Versioned.versions(spark, table) === Seq(1L, 2L), "one merge commit per new epoch")

    // replaying the whole feed against a FRESH checkpoint is a no-op: the
    // epoch guard sees epoch 0 <= max_epoch and the table does not move
    val q3 = ChangeStreamJob.startStream(spark, JsonDirSource(src),
      VersionedMergePublisher(table), tempDir("ckpt3"))
    q3.awaitTermination(60000)
    assert(state() === fold(0 until 60))
  }
}
