package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A14 — dead-letter (quarantine) routing for malformed change events: the
  * connector's sources DROP rows that are not events (a corrupt JSON line,
  * a document missing its id, key or time — the feed contract every
  * [[EventSource]] keeps), which protects the stream but silently loses
  * the evidence. A production CDC pipeline quarantines instead: the poison
  * row lands in a dead-letter store with its RAW bytes and a reason, the
  * stream keeps moving, and an operator replays the DLQ after fixing the
  * producer — the reference's failure story is job-restart-on-error
  * (server.rs:200-252); this is the complementary per-ROW error path that
  * keeps one bad record from ever costing a restart.
  *
  * Mechanics: the JSON dir source reads PERMISSIVE with
  * `columnNameOfCorruptRecord`, so a syntactically corrupt line surfaces as
  * one row whose `_raw` column holds the original bytes (all schema fields
  * null) instead of poisoning the batch; a parseable row that is still not
  * an event (a key field missing, [[EventSource.isEvent]]) is the other
  * reason. Routing happens inside `foreachBatch`: good rows take EXACTLY
  * the normal path (ChangeStreamJob.toChangeEvents → the idempotent
  * QueuePublisher), bad rows append to the DLQ as an epoch-overwritten
  * `epoch=<n>` parquet partition ([[Epochs.overwrite]]) — the same
  * replay-replaces idempotence contract as the queue itself, so a
  * crash-replayed epoch cannot double-quarantine. Every DLQ writer keeps that partition layout, and
  * every reader here reads it with the fixed [[Schema]].
  *
  * Scale: quarantining is a per-row filter on the already-decoded batch —
  * no second parse, no extra shuffle; the DLQ write is one partition per
  * epoch, bounded by the epoch's own bad-row count.
  */
object DeadLetter {

  val RawCol = "_raw"

  /** A DLQ row: `reason` and `raw` in the files, `epoch` the partition. */
  val Schema: StructType = StructType(Seq(StructField("reason", StringType),
    StructField("raw", StringType), StructField("epoch", LongType)))

  /** The quarantine split of a decoded batch: (reason, raw) for bad rows.
    * Reasons: `corrupt_json` (unparseable line — `_raw` holds the bytes),
    * else `missing_<field>` for the first key field the row lacks
    * ([[EventSource.missingField]]: `missing_event_id`, `missing_user_id`,
    * `missing_ts_us`) — valid JSON, not an event; raw is reconstructed from
    * the parsed fields, since Spark only retains the original line for
    * corrupt rows.
    */
  def reasonCol: org.apache.spark.sql.Column =
    coalesce(when(col(RawCol).isNotNull, lit("corrupt_json")), EventSource.missingField)

  /** A15 — DLQ replay: re-attempt the quarantined rows after the producer
    * or parser was fixed — the second half of the dead-letter contract
    * (quarantine without replay is just a slower delete). Each stored
    * `raw` line re-parses under the CURRENT schema; rows that now decode
    * to an event ([[EventSource.isEvent]]) publish through the normal
    * envelope path under a replay epoch, rows that still fail stay
    * quarantined (the DLQ is REWRITTEN to exactly the still-bad set, so
    * replay is idempotent: a second replay with nothing fixed publishes
    * nothing and writes nothing). Returns (published, still_quarantined).
    *
    * The DLQ is read with its fixed [[Schema]] ([[Epochs.read]]), so an
    * absent or emptied DLQ reads empty. A replay that empties the DLQ
    * leaves one schema-only file in `epoch=<replayEpoch>/`: a zero-row
    * partitioned write leaves no data file, and a plain
    * `spark.read.parquet` of the DLQ would then fail schema inference
    * (ADVICE r11).
    *
    * Batch job, not a stream: replay is an operator action after a fix,
    * and the DLQ is bounded by the failure window — one keyed-nothing
    * scan over it, the publish is the queue's own idempotent epoch write.
    */
  def replay(spark: SparkSession, dlqDir: String, publisher: QueuePublisher,
             replayEpoch: Long, db: String = "test",
             coll: String = "testcoll"): (Long, Long) = {
    val parsed = Epochs.read(spark, dlqDir, Schema)
      .withColumn("ev", from_json(col("raw"), ChangeStreamJob.eventSchema))
      .select("reason", "raw", "epoch", "ev.*")
    val good = parsed.where(EventSource.isEvent)
      .select(ChangeStreamJob.eventSchema.fieldNames.map(col): _*)
    val still = parsed.where(!EventSource.isEvent)
      .select("reason", "raw", "epoch")
      // materialize before the overwrite clobbers the files being read
      .localCheckpoint(true)
    val (published, stillCount) = (good.count(), still.count())
    if (published > 0) {
      publisher.publish(ChangeStreamJob.toChangeEvents(good, db, coll), replayEpoch)
      still.write.mode("overwrite").partitionBy("epoch").parquet(dlqDir)
      if (stillCount == 0) still.drop("epoch").write.parquet(s"$dlqDir/epoch=$replayEpoch")
    }
    (published, stillCount)
  }

  /** Delete root-level parquet files under `dir`: the empty readability
    * marker that replays once wrote at the DLQ's root, which Spark rejects
    * beside the `epoch=<n>` partitions.
    */
  private def clearFlatMarker(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** Stream a JSON event dir with quarantine routing: good rows → the
    * change-event envelope → `publisher` (the normal pipeline), bad rows →
    * `dlqDir` as (reason, raw, epoch), epoch-overwritten. One streaming
    * query, one checkpoint — the DLQ commits atomically with the queue. A
    * root-level marker an older [[replay]] left is cleared once, here.
    */
  def startWithDlq(spark: SparkSession, sourceDir: String,
                   publisher: QueuePublisher, dlqDir: String,
                   checkpointDir: String, db: String = "test",
                   coll: String = "testcoll", queryName: String = "connector-dlq",
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    def raw(s: SparkSession) = s.readStream
      .schema(ChangeStreamJob.eventSchema.add(RawCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", RawCol)
      .option("maxFilesPerTrigger", JsonDirSource.MaxFilesPerTrigger)
      .json(sourceDir)
      .withColumn("__dlq_reason", reasonCol)
    clearFlatMarker(spark, dlqDir)
    Epochs.start(spark, raw, checkpointDir, trigger, Some(queryName)) { (batch, epochId) =>
      val bad = batch.where(col("__dlq_reason").isNotNull)
        .select(col("__dlq_reason").as("reason"),
          coalesce(col(RawCol),
            to_json(struct(ChangeStreamJob.eventSchema.fieldNames.map(col): _*)))
            .as("raw"))
      Epochs.overwrite(bad, epochId, dlqDir)
      val good = batch.where(col("__dlq_reason").isNull)
        .drop("__dlq_reason", RawCol)
      publisher.publish(ChangeStreamJob.toChangeEvents(good, db, coll), epochId)
    }
  }
}
