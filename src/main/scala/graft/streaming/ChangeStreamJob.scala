package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Where change batches come from. The sandbox binding watches a JSON file
  * directory; the production binding for the reference's change stream
  * (mrcon/src/mongo/connector.rs:142 `collection.watch()`) is any
  * `readStream` source producing the same row schema — a Kafka topic fed by
  * a CDC tool, a Kinesis stream — configured in, not coded in.
  */
trait EventSource {
  /** A STREAMING DataFrame of raw feed rows (ChangeStreamJob.eventSchema). */
  def load(spark: SparkSession): DataFrame
}

/** Sandbox source: a directory of JSON files; each new file is a change
  * batch. Bounded files-per-trigger keeps micro-batches sized like the
  * reference's cursor batches.
  */
final case class JsonDirSource(sourceDir: String, maxFilesPerTrigger: Int = 4) extends EventSource {
  override def load(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(ChangeStreamJob.eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(sourceDir)
      // same malformed-row policy as every other source binding: a feed row
      // with no event_id (missing field, corrupt line parsed permissively)
      // is dropped rather than poisoning the stream — the before-image
      // stage's envelope decode would otherwise die on the null
      .where(col("event_id").isNotNull)
}

/** Continuously-streaming sandbox source: Spark's built-in rate source
  * mapped onto the event schema — proves the [[EventSource]] seam against a
  * genuinely unbounded multi-batch source (the closest in-container analog
  * of a live change stream; a Kafka/CDC binding is the same config swap,
  * reference mrcon/src/mongo/connector.rs:142). Deterministic derivation
  * from the rate counter, so delivered events are checkable.
  */
final case class RateEventSource(rowsPerSecond: Int = 200) extends EventSource {
  override def load(spark: SparkSession): DataFrame = {
    val types = array(Seq("signup", "click", "purchase", "view", "error").map(lit): _*)
    spark.readStream.format("rate").option("rowsPerSecond", rowsPerSecond).load()
      .select(
        col("value").as("event_id"),
        (lit(1704067200000000L) + col("value") * lit(1000000L)).as("ts_us"),
        pmod(col("value"), lit(7L)).as("user_id"),
        element_at(types, (pmod(col("value"), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(col("value"), lit(100L)).cast("double") + lit(0.5)).as("value"),
        format_string("{\"k\": %d}", col("value")).as("props"))
  }
}

/** Network sandbox source: newline-delimited event JSON over a TCP socket,
  * parsed against the event schema — proves the [[EventSource]] seam across
  * a real network boundary (a broker-backed CDC binding differs only in the
  * `format`/options, reference mrcon/src/mongo/connector.rs:142). Spark's
  * socket source is a dev transport (no replay after restart) — the
  * checkpointed exactly-once story needs a replayable source (files, Kafka);
  * this binding exists to exercise the seam, not to ship.
  */
final case class SocketEventSource(host: String, port: Int) extends EventSource {
  override def load(spark: SparkSession): DataFrame =
    // one copy of the value-JSON decode + malformed-row policy — the Kafka
    // binding's decode is the same wire shape (a string value holding the
    // event JSON), so a policy change can't drift between transports
    KafkaEventSource.decode(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())
}

/** Production source binding: a Kafka topic fed by a CDC tool (the broker
  * deployment of the reference's `collection.watch()` stream,
  * mrcon/src/mongo/connector.rs:142). `load` only wires
  * `readStream.format("kafka")` — a replayable source, so the checkpointed
  * exactly-once contract of the seam holds — and hands the wire rows to
  * [[KafkaEventSource.decode]], a PURE static-frame mapping from Kafka's
  * fixed wire schema (key/value binary, topic, partition, offset, timestamp)
  * to [[ChangeStreamJob.eventSchema]]. The split exists so the mapping is
  * contract-testable without a broker: `decode` runs identically on a static
  * DataFrame with Kafka's columns (KafkaSourceSpec), while `load` itself
  * needs the spark-sql-kafka package on the cluster classpath (not shipped
  * in this sandbox — `failFast` gives a clear error instead of Spark's
  * "Failed to find data source" deep in query start).
  */
final case class KafkaEventSource(bootstrapServers: String, topic: String,
                                  startingOffsets: String = "earliest",
                                  maxOffsetsPerTrigger: Option[Long] = None) extends EventSource {
  override def load(spark: SparkSession): DataFrame = {
    KafkaEventSource.failFast(spark)
    val reader = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
    KafkaEventSource.decode(
      maxOffsetsPerTrigger.fold(reader)(n =>
        reader.option("maxOffsetsPerTrigger", n.toString)).load())
  }
}

object KafkaEventSource {

  /** Kafka's wire envelope → the event schema: the record value is the event
    * JSON (what a Debezium-style CDC tool or the queue publisher writes);
    * rows whose value fails to parse to an event_id are dropped rather than
    * poisoning the stream (same malformed-row policy as SocketEventSource).
    * Pure column mapping — no streaming dependency — so it is testable on
    * static frames and reusable for a BATCH backfill read of the same topic.
    */
  def decode(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), ChangeStreamJob.eventSchema).as("e"))
      .select(col("e.*"))
      .where(col("event_id").isNotNull)

  private[streaming] def failFast(spark: SparkSession): Unit =
    require(
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider",
        false, Thread.currentThread.getContextClassLoader); true }
      catch { case _: ClassNotFoundException => false },
      "KafkaEventSource needs the spark-sql-kafka-0-10 package on the classpath " +
        "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>)")
}

/** Native MongoDB change-stream binding — the source the reference actually
  * ships (mrcon/src/mongo/connector.rs:127-142 `collection.watch()
  * .resume_after(token)`). `load` wires `readStream.format("mongodb")` (the
  * public MongoDB Spark connector) against the watched db/collection with
  * `publish.full.document.only=false`, so rows arrive as raw change-stream
  * documents; the Spark checkpoint then persists the connector's stream
  * offsets — the resume token — giving `resume_after` restart semantics
  * (connector.rs:135-142) through the same checkpoint contract every other
  * source here uses, no hand-rolled token store. The wire-schema mappings
  * are PURE static-frame functions (MongoSourceSpec drives them without a
  * mongod): [[MongoEventSource.decode]] for the event feed,
  * [[MongoEventSource.decodeEnvelope]] for the 1:1 change-event envelope.
  * The connector jar is not in this sandbox — `failFast` names the missing
  * package instead of Spark's "Failed to find data source" at query start.
  */
final case class MongoEventSource(connectionUri: String, database: String,
                                  collection: String) extends EventSource {
  override def load(spark: SparkSession): DataFrame = {
    MongoEventSource.failFast(spark)
    MongoEventSource.decode(
      spark.readStream.format("mongodb")
        .option("spark.mongodb.connection.uri", connectionUri)
        .option("spark.mongodb.database", database)
        .option("spark.mongodb.collection", collection)
        .option("spark.mongodb.change.stream.publish.full.document.only", "false")
        .schema(MongoEventSource.wireSchema)
        .load())
  }
}

object MongoEventSource {

  /** The change-stream document shape the connector delivers when
    * `publish.full.document.only=false` and this schema is supplied:
    * `_id._data` is the resume token (connector.rs:155-160 persists exactly
    * this), `documentKey`/`fullDocument` arrive as extended-JSON strings,
    * `clusterTime` as an extended-JSON BSON timestamp.
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("_id", StructType(Seq(StructField("_data", StringType)))),
    StructField("operationType", StringType),
    StructField("clusterTime", StringType),
    StructField("ns", StructType(Seq(
      StructField("db", StringType), StructField("coll", StringType)))),
    StructField("documentKey", StringType),
    StructField("fullDocument", StringType)
  ))

  /** Wire rows → the event feed ([[ChangeStreamJob.eventSchema]]): the
    * watched collection's documents ARE the events, so `fullDocument`
    * parses directly. Deletes and malformed documents carry no parseable
    * event and are dropped — same policy as [[KafkaEventSource.decode]];
    * feeds that must see deletes use [[decodeEnvelope]]. Pure column
    * mapping, static-testable, reusable for batch backfill reads.
    */
  def decode(raw: DataFrame): DataFrame =
    raw.select(from_json(col("fullDocument"), ChangeStreamJob.eventSchema).as("e"))
      .select(col("e.*"))
      .where(col("event_id").isNotNull)

  /** Wire rows → the engine's change-event envelope, 1:1 — the projection
    * the reference serializes to the queue (connector.rs:145-153): the
    * NATIVE operationType (deletes included, unlike the event-feed path
    * where toChangeEvents re-derives it), the native resume token, ns, and
    * cluster time. Produces exactly [[ChangeStreamJob.toChangeEvents]]'s
    * schema, so every downstream consumer (publishers, cdc_apply,
    * before-images) is source-agnostic.
    */
  def decodeEnvelope(raw: DataFrame): DataFrame = {
    // BSON timestamp extended JSON: {"$timestamp": {"t": seconds, "i": ord}}
    val ts = from_json(col("clusterTime"), StructType(Seq(
      StructField("$timestamp", StructType(Seq(
        StructField("t", LongType), StructField("i", LongType)))))))
    raw.select(
      get_json_object(col("fullDocument"), "$.event_id").cast("long").as("event_id"),
      col("_id._data").as("resume_token"),
      col("operationType").as("operation_type"),
      col("ns.db").as("ns_db"), col("ns.coll").as("ns_coll"),
      get_json_object(col("documentKey"), "$._id").cast("long").as("document_key"),
      col("fullDocument").as("full_document"),
      timestamp_seconds(ts.getField("$timestamp").getField("t")).as("cluster_time"))
  }

  private[streaming] def failFast(spark: SparkSession): Unit =
    require(
      try { Class.forName("com.mongodb.spark.sql.connector.MongoTableProvider",
        false, Thread.currentThread.getContextClassLoader); true }
      catch { case _: ClassNotFoundException => false },
      "MongoEventSource needs the mongo-spark-connector package on the classpath " +
        "(--packages org.mongodb.spark:mongo-spark-connector_2.13:<version>)")
}

/** Where change-event payloads go. Called once per epoch from foreachBatch;
  * implementations MUST be idempotent per epochId — after a crash between
  * sink commit and checkpoint commit the epoch is replayed, and replay must
  * replace, not duplicate (the publisher-confirm semantics of
  * mrcon/src/rabbitmq/amqp.rs:95-110, re-expressed as epoch idempotence).
  * [[Epochs]] is that contract's one implementation for parquet sinks:
  * [[ParquetQueuePublisher]], the DLQ and every operator stream write
  * through `Epochs.overwrite`.
  */
trait QueuePublisher extends Serializable {
  def publish(batch: DataFrame, epochId: Long): Unit
}

/** Sandbox queue: one parquet partition per epoch, OVERWRITTEN on replay —
  * exactly-once delivery for this idempotent sink. The production binding
  * publishes the same batch to a broker inside the same epoch contract.
  */
final case class ParquetQueuePublisher(queueDir: String) extends QueuePublisher {
  override def publish(batch: DataFrame, epochId: Long): Unit =
    Epochs.overwrite(batch, epochId, queueDir)
}

/** A5d×D22g — the MATERIALIZING sink: instead of publishing the change feed
  * to a queue, maintain a [[graft.ops.Versioned]] table of the current
  * per-document state — what every CDC consumer ultimately builds, run
  * INSIDE the connector as one stream. Each micro-batch applies as ONE
  * keyed merge commit via [[graft.ops.Versioned.epochMergeWriter]]
  * (O(delta) file rewrites; epoch-guarded so checkpoint replays after a
  * crash are no-ops), keyed by `document_key`, ordered by `resume_token`
  * (the feed's total order), deletes dropping the key. Readers time-travel
  * the materialization like any Versioned table; downstream incremental
  * consumers (D24/D27) ride its change feed.
  */
final case class VersionedMergePublisher(tableDir: String) extends QueuePublisher {
  private val write = graft.ops.Versioned.epochMergeWriter(
    tableDir, keyCol = "document_key", orderCol = "resume_token")
  override def publish(batch: DataFrame, epochId: Long): Unit = write(batch, epochId)
}

/** Production sink binding: publish each change event to a Kafka topic (the
  * broker deployment of the reference's AMQP publisher,
  * mrcon/src/rabbitmq/amqp.rs:95-110). `publish` only wires the batch
  * `write.format("kafka")`; the record shaping lives in
  * [[KafkaQueuePublisher.encode]], a pure mapping from the change-event
  * envelope to Kafka (key, value) — key = documentKey so a partitioner
  * preserves per-document order and log compaction keeps the latest image,
  * value = the envelope as JSON (the payload consumers already parse,
  * A5c). Pure and static-testable, same split as [[KafkaEventSource]].
  *
  * Delivery: at-least-once — a crash between broker ack and checkpoint
  * commit replays the epoch and re-publishes it (exactly the reference's
  * publisher-confirm redelivery window). Consumers dedupe by event_id;
  * the engine's consumer-side ops do (publish_dedup / A5c).
  */
final case class KafkaQueuePublisher(bootstrapServers: String, topic: String)
    extends QueuePublisher {
  override def publish(batch: DataFrame, epochId: Long): Unit = {
    KafkaEventSource.failFast(batch.sparkSession)
    KafkaQueuePublisher.encode(batch)
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .save()
  }
}

object KafkaQueuePublisher {
  /** Change-event envelope → Kafka record columns. Pure, batch-testable. */
  def encode(batch: DataFrame): DataFrame =
    batch.select(
      col("document_key").cast("string").as("key"),
      to_json(struct(batch.columns.map(col): _*)).as("value"))
}

/** AMQP (RabbitMQ) sink binding — the transport the reference actually
  * ships (mrcon/src/rabbitmq/amqp.rs:95-110): each change event publishes
  * to the DEFAULT exchange with routing key = the configured stream name
  * (amqp.rs:100-102, the queue `new` declared at amqp.rs:40-46), payload =
  * the serde_json serialization of the driver's `ChangeStreamEvent`
  * (amqp.rs:96). [[AmqpQueuePublisher.encode]] is the pure payload/queue
  * shaping, byte-pinned by AmqpPublisherSpec; `publish` delivers a batch
  * per epoch over the java AMQP client with publisher confirms
  * (`confirmSelect` + `waitForConfirms`, the lapin `Confirmation` await) —
  * at-least-once into the same epoch-replay contract as every publisher
  * here; the reference's consumers dedupe by event key (A5b) exactly as
  * ours do. The client jar is not in this sandbox, so the transport is
  * reached via reflection behind a failFast naming the missing package.
  */
final case class AmqpQueuePublisher(amqpUri: String, streamName: String)
    extends QueuePublisher {
  override def publish(batch: DataFrame, epochId: Long): Unit = {
    AmqpQueuePublisher.failFast()
    val uri = amqpUri
    val queue = streamName
    // Coalesce before publishing: an epoch fanned over 32 shuffle
    // partitions would open 32 broker channels per trigger; a handful of
    // fatter publisher tasks is kinder to the broker and loses no
    // parallelism that matters (publish is network-bound, not CPU-bound).
    AmqpQueuePublisher.encode(batch, queue).select("payload")
      .coalesce(AmqpQueuePublisher.MaxPublishTasks)
      .foreachPartition { (rows: Iterator[Row]) =>
        // Empty partitions (a sub-MaxPublishTasks epoch) still must not
        // touch the connection cache.
        if (rows.hasNext)
          AmqpQueuePublisher.deliver(uri, queue, rows.map(_.getString(0)))
      }
  }
}

object AmqpQueuePublisher {

  /** Change-event envelope → (queue, payload): the queue is the stream name
    * (one queue per watched collection, config.rs RabbitMq.stream_name) and
    * the payload is byte-for-byte the reference's `serde_json::to_vec
    * (ChangeStreamEvent)` (amqp.rs:96) for the fields the envelope carries:
    * fields in the driver struct's declaration order (mongodb 3.2.3
    * src/change_stream/event.rs — `_id`, `operationType`, `ns`,
    * `clusterTime`, `documentKey`, `fullDocument`), camelCase names,
    * `None` optionals OMITTED (serde `skip_serializing_if`) rather than
    * null — a deleted document's event simply has no `fullDocument` key.
    * The resume token document is `{"_data": token}`, the cluster time a
    * BSON timestamp `{"$timestamp":{"t":seconds,"i":1}}` (the ordinal is
    * not representable in the envelope's µs timestamp; 1 matches the wire
    * fixture MongoEventSource decodes). Pure, batch-testable.
    */
  def encode(batch: DataFrame, streamName: String): DataFrame = {
    def field(name: String, value: Column, guard: Column): Column =
      when(guard.isNotNull, concat(lit("\"" + name + "\":"), value))
    // serde_json escapes backslash, double-quote, AND all control chars
    // inside strings; the spliced-between-quotes fields must do the same or
    // a db/coll name (or token) containing one publishes invalid JSON.
    // Delegating to to_json gives Jackson's RFC 8259 escaper (the same
    // two-char \n-style escapes + \u00XX serde_json emits) instead of a
    // hand-rolled regexp chain with a control-char gap: serialize the one
    // string as a single-field object and strip the fixed {"v":" ... "}
    // framing. Null-guarded so an absent value still nulls the enclosing
    // concat (field omission) rather than splicing an empty string.
    // (full_document is already a JSON value, not a bare string — it is
    // spliced verbatim.)
    def esc(c: Column): Column = {
      val j = to_json(struct(c.as("v")))
      when(c.isNotNull, j.substr(lit(7), length(j) - 8))
    }
    // The braces live OUTSIDE the null-skipping concat_ws: every field —
    // including _id — is individually guarded, so a malformed wire row
    // with a null resume token drops the _id field (like serde would skip
    // a None) instead of nulling its concat and losing the opening brace,
    // which would publish non-JSON the consumer can't parse.
    batch.select(
      lit(streamName).as("queue"),
      concat(
        lit("{"),
        concat_ws(",",
          field("_id",
            concat(lit("{\"_data\":\""), esc(col("resume_token")), lit("\"}")),
            col("resume_token")),
          field("operationType",
            concat(lit("\""), esc(col("operation_type")), lit("\"")), col("operation_type")),
          field("ns",
            concat(lit("{\"db\":\""), esc(col("ns_db")), lit("\",\"coll\":\""),
              esc(col("ns_coll")), lit("\"}")), col("ns_db")),
          field("clusterTime",
            concat(lit("{\"$timestamp\":{\"t\":"),
              unix_timestamp(col("cluster_time")).cast("string"), lit(",\"i\":1}}")),
            col("cluster_time")),
          field("documentKey",
            concat(lit("{\"_id\":"), col("document_key").cast("string"), lit("}")),
            col("document_key")),
          field("fullDocument", col("full_document"), col("full_document"))),
        lit("}")
      ).as("payload"))
  }

  /** Publisher tasks per epoch — bounds channels opened per trigger. */
  private[streaming] val MaxPublishTasks = 8

  // --- per-executor-JVM broker cache (ADVICE r7) ---------------------------
  // The reference daemon dials the broker ONCE at startup and holds the
  // connection/channel for its lifetime (amqp.rs:30-46); opening a fresh
  // connection per partition per epoch is a handshake storm at a 1 s
  // trigger. One long-lived connection per broker uri, one channel per
  // (uri, queue) with the queue declared and confirms enabled, both
  // revalidated with isOpen and rebuilt on demand (waitForConfirmsOrDie
  // closes a nacked channel — the retried task gets a fresh one). A JVM
  // shutdown hook closes the connections so executor decommission doesn't
  // leak broker sockets.
  private val connections = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private val channels =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AnyRef]()
  @volatile private var hookInstalled = false

  // Classloader note (mirrors failFast): --packages jars can be visible
  // only through the thread context loader (REPL/notebook child loaders); a
  // bare Class.forName would use graft's DEFINING loader — passing the
  // guard and then dying with ClassNotFoundException inside the task.
  private def cls(name: String) =
    Class.forName(name, true, Thread.currentThread.getContextClassLoader)

  private def isOpen(o: AnyRef): Boolean =
    o.getClass.getMethod("isOpen").invoke(o).asInstanceOf[Boolean]

  private def closeQuietly(o: AnyRef): Unit =
    try { o.getClass.getMethod("close").invoke(o); () }
    catch { case scala.util.control.NonFatal(_) => () }

  /** Close every cached channel/connection (shutdown hook + tests). */
  private[streaming] def closeAll(): Unit = synchronized {
    channels.clear()
    connections.values.forEach(closeQuietly(_))
    connections.clear()
  }

  private def connection(uri: String): AnyRef = {
    val cur = connections.get(uri)
    if (cur != null && isOpen(cur)) cur
    else synchronized {
      val again = connections.get(uri)
      if (again != null && isOpen(again)) again
      else {
        if (again != null) closeQuietly(again)
        val cfClass = cls("com.rabbitmq.client.ConnectionFactory")
        val cf = cfClass.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]
        cfClass.getMethod("setUri", classOf[String]).invoke(cf, uri)
        val conn = cfClass.getMethod("newConnection").invoke(cf)
        connections.put(uri, conn)
        if (!hookInstalled) {
          Runtime.getRuntime.addShutdownHook(
            new Thread(() => closeAll(), "amqp-publisher-close"))
          hookInstalled = true
        }
        conn
      }
    }
  }

  /** Cached channel with the queue declared (idempotent, amqp.rs:40-46)
    * and `confirmSelect` already issued. Unsynchronized fast path like
    * connection(): the monitor is held only to (re)build, never for a
    * healthy lookup — a broker dialing out to one uri (newConnection can
    * block for a TCP timeout) must not stall tasks publishing to other,
    * healthy queues whose channel is already cached.
    */
  private def channel(uri: String, queue: String): AnyRef = {
    val key = (uri, queue)
    val cur = channels.get(key)
    if (cur != null && isOpen(cur)) cur
    else synchronized {
      val again = channels.get(key)
      if (again != null && isOpen(again)) again
      else {
        val conn = connection(uri)
        val ch = conn.getClass.getMethod("createChannel").invoke(conn)
        val chClass = cls("com.rabbitmq.client.Channel")
        chClass.getMethod("queueDeclare", classOf[String], classOf[Boolean],
          classOf[Boolean], classOf[Boolean], classOf[java.util.Map[String, AnyRef]])
          .invoke(ch, queue, java.lang.Boolean.FALSE, java.lang.Boolean.FALSE,
            java.lang.Boolean.FALSE, null)
        chClass.getMethod("confirmSelect").invoke(ch)
        channels.put(key, ch)
        ch
      }
    }
  }

  /** Publish a partition's payloads on the cached channel, confirms on:
    * every payload goes to the default exchange under the queue's routing
    * key, then the task blocks on `waitForConfirms` before it may succeed —
    * a failed confirm fails the task, Spark retries the partition, and the
    * epoch contract absorbs the redelivery. Reflective because the sandbox
    * has no AMQP client jar; on a cluster this resolves against
    * com.rabbitmq:amqp-client.
    */
  private[streaming] def deliver(uri: String, queue: String,
                                 payloads: Iterator[String]): Unit = {
    val ch = channel(uri, queue)
    val chClass = cls("com.rabbitmq.client.Channel")
    val propsClass = cls("com.rabbitmq.client.AMQP$BasicProperties")
    val basicPublish = chClass.getMethod("basicPublish", classOf[String],
      classOf[String], propsClass, classOf[Array[Byte]])
    // RabbitMQ channels are not safe for concurrent publishers: parallel
    // partition tasks sharing this executor serialize on the channel
    // monitor (publish is network-bound; the broker is the bottleneck
    // either way).
    ch.synchronized {
      payloads.foreach { p =>
        basicPublish.invoke(ch, "", queue, null, p.getBytes("UTF-8"))
      }
      chClass.getMethod("waitForConfirmsOrDie").invoke(ch)
    }
  }

  private[streaming] def failFast(): Unit =
    require(
      try { Class.forName("com.rabbitmq.client.ConnectionFactory",
        false, Thread.currentThread.getContextClassLoader); true }
      catch { case _: ClassNotFoundException => false },
      "AmqpQueuePublisher needs the RabbitMQ java client on the classpath " +
        "(--packages com.rabbitmq:amqp-client:<version>)")
}

/** Toy in-driver publisher proving the QueuePublisher seam in tests. */
final class InMemoryQueuePublisher extends QueuePublisher {
  import scala.jdk.CollectionConverters._
  private val store = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Row]]()
  override def publish(batch: DataFrame, epochId: Long): Unit =
    store.put(epochId, batch.collect().toSeq)
  def rows: Seq[Row] = store.values.asScala.flatten.toSeq
  def epochs: Set[Long] = store.keySet().asScala.toSet
}

/** Structured-Streaming analog of the reference's connector pipeline
  * (mrcon/src/mongo/connector.rs:127-173): watch a feed, publish each change
  * event as JSON to a queue, persist progress so a restart resumes after the
  * last processed event.
  *
  * Spark-first mapping:
  *  - change stream  → an [[EventSource]] `readStream` (file source in the
  *    sandbox), same envelope as the batch path;
  *  - resume tokens  → the streaming checkpoint (offsets + commits): Spark's
  *    checkpoint IS the resume-token store, giving exactly the
  *    `resume_after(token)` restart semantics (connector.rs:135-142) without
  *    a hand-rolled token table;
  *  - publisher with confirms → a [[QueuePublisher]] called per epoch from
  *    `foreachBatch`; the batch is atomically committed with the checkpoint,
  *    so delivery is at-least-once end-to-end and exactly-once for an
  *    idempotent publisher;
  *  - pre/post images (config.rs:7 `change_stream_pre_and_post_images`) →
  *    per-key state over the checkpoint (flatMapGroupsWithState) carrying
  *    each document's last image across micro-batches.
  */
object ChangeStreamJob {

  /** Schema of the JSON/parquet event feed the stream watches. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** The change-event envelope + JSON payload — same operationType mapping
    * and full_document shape as the batch path (graft.events.ChangeEvents),
    * so consumers see ONE document format regardless of pipeline.
    */
  def toChangeEvents(events: DataFrame, db: String, coll: String): DataFrame =
    events.select(
      col("event_id"),
      format_string("%016x", col("event_id")).as("resume_token"),
      graft.events.ChangeEvents.operationType(col("event_type")).as("operation_type"),
      lit(db).as("ns_db"), lit(coll).as("ns_coll"),
      col("user_id").as("document_key"),
      graft.events.ChangeEvents.fullDocumentJson.as("full_document"),
      timestamp_micros(col("ts_us")).as("cluster_time")
    )

  /** Typed envelope rows for the stateful pre/post-image stage. */
  // event_id is Option: a DELETE envelope has no fullDocument to extract an
  // id from (decodeEnvelope yields null there) — a non-nullable Long made
  // the first delete kill the stream with "Null value appeared in
  // non-nullable field" before the state machine even ran.
  case class ChangeEnvelope(event_id: Option[Long], resume_token: String, operation_type: String,
                            ns_db: String, ns_coll: String, document_key: Long,
                            full_document: String, cluster_time: java.sql.Timestamp)
  case class ChangeEnvelopePrePost(event_id: Option[Long], resume_token: String, operation_type: String,
                                   ns_db: String, ns_coll: String, document_key: Long,
                                   full_document: String,
                                   full_document_before_change: Option[String],
                                   cluster_time: java.sql.Timestamp)

  /** A6 (streaming) — `full_document_before_change`: per-document-key state
    * holds the last published image; each event emits it as the before-image
    * then replaces it. State lives in the checkpoint, so the before-image
    * survives micro-batch boundaries AND restarts — the semantics a
    * reference user gets from `change_stream_pre_and_post_images = true`.
    * Within a batch, events apply in resume-token order — the feed's total
    * order, defined on every envelope including id-less deletes.
    *
    * State bounding: `stateTtl` (refreshed on every event for the key)
    * evicts images of keys that have gone silent, so unbounded key spaces
    * cannot grow the state store forever; a key updated after eviction gets
    * a null before-image — the same answer the reference gives when the
    * pre-image window has expired server-side. The TTL uses
    * ProcessingTimeTimeout, which Spark supports only under continuous
    * triggers — the daemon (ProcessingTime) sets it; draining
    * AvailableNow runs (tests, catch-up replays) must leave it None
    * (flatMapGroupsWithState + ProcessingTimeTimeout hangs the
    * MultiBatchExecutor).
    */
  def withBeforeImages(envelope: DataFrame,
                       stateTtlMs: Option[Long] = None): DataFrame = {
    val spark = envelope.sparkSession
    import spark.implicits._
    val timeoutMode =
      if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    envelope.as[ChangeEnvelope]
      .groupByKey(_.document_key)
      .flatMapGroupsWithState(OutputMode.Append, timeoutMode) {
        (_: Long, events: Iterator[ChangeEnvelope],
         state: org.apache.spark.sql.streaming.GroupState[String]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // The feed's total order is the resume token (mrcond's change
            // stream orders by `_id._data`, present on EVERY envelope —
            // deletes included). Sorting id'd events first and deletes last
            // (the pre-r9 code) reordered the real feed: a delete followed
            // by a same-key reinsert in one batch processed the delete LAST,
            // reporting the reinserted doc as its before-image and wrongly
            // clearing the key's state (ADVICE r8). Null-less hex tokens
            // (%016x) compare in event order; a null token (corrupt
            // envelope) sorts first rather than throwing.
            val ordered = events.toSeq
              .sortBy(e => Option(e.resume_token).getOrElse(""))
            var last = state.getOption
            val out = ordered.map { e =>
              val r = ChangeEnvelopePrePost(e.event_id, e.resume_token, e.operation_type,
                e.ns_db, e.ns_coll, e.document_key, e.full_document, last, e.cluster_time)
              // a DELETE has no post-image (null full_document): the doc no
              // longer exists, so the NEXT event for this key sees a null
              // before-image — Option() folds that to None here
              last = Option(e.full_document)
              r
            }
            last match {
              case Some(doc) => state.update(doc)
              // final event was a delete: drop the state entry entirely
              // (state.update(null) throws; keeping the stale image would
              // resurrect a deleted doc as a before-image)
              case None => if (state.exists) state.remove()
            }
            stateTtlMs.foreach(ttl => if (state.exists) state.setTimeoutDuration(ttl))
            out.iterator
          }
      }
      .toDF()
  }

  /** Start one connector stream over explicit source/publisher bindings.
    * Restarting with the same checkpointDir resumes after the last committed
    * batch — the A2 semantics.
    */
  def startStream(spark: SparkSession, source: EventSource, publisher: QueuePublisher,
                  checkpointDir: String, db: String = "test", coll: String = "testcoll",
                  queryName: String = "connector",
                  trigger: Trigger = Trigger.AvailableNow(),
                  dedupe: Boolean = false,
                  preAndPostImages: Boolean = false,
                  beforeImageTtlMs: Option[Long] = None): StreamingQuery = {
    // Spark cannot chain dropDuplicatesWithinWatermark into
    // flatMapGroupsWithState (two stateful operators in one append query) —
    // refuse clearly at start rather than failing in analysis. Feeds that
    // need both run the dedup in a first hop (queue→queue) and the
    // before-image stage in a second.
    require(!(dedupe && preAndPostImages),
      "dedupe and preAndPostImages cannot be combined in one stream: " +
        "Structured Streaming forbids chaining dropDuplicatesWithinWatermark " +
        "into flatMapGroupsWithState; run them as two chained streams")
    // Enforce withBeforeImages' documented trigger constraint instead of
    // hanging: ProcessingTimeTimeout under an AvailableNow drain wedges the
    // MultiBatchExecutor, so a TTL needs a continuous trigger.
    require(beforeImageTtlMs.isEmpty || trigger != Trigger.AvailableNow(),
      "beforeImageTtlMs requires a continuous trigger (e.g. ProcessingTime): " +
        "ProcessingTimeTimeout under an AvailableNow drain hangs the " +
        "MultiBatchExecutor — drop the TTL for draining runs")
    def shaped(s: SparkSession): DataFrame = {
      val events = source.load(s)
      // Optional source-side exactly-once: an at-least-once feed
      // (redeliveries under the same event_id) is deduped in-stream with
      // watermark-bounded state — the streaming analog of the batch
      // publish_dedup operator.
      val deduped =
        if (!dedupe) events
        else events
          .withColumn("event_time", timestamp_micros(col("ts_us")))
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .drop("event_time")
      val envelope = toChangeEvents(deduped, db, coll)
      if (preAndPostImages) withBeforeImages(envelope, beforeImageTtlMs) else envelope
    }
    Epochs.start(spark, shaped, checkpointDir, trigger, Some(queryName))(publisher.publish)
  }
}
