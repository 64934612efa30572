package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StringType

/** A14 — dead-letter (quarantine) routing for malformed change events: the
  * connector's sources currently DROP rows that cannot become envelopes (a
  * corrupt JSON line, a document with no id — the policy every binding
  * shares), which protects the stream but silently loses the evidence. A
  * production CDC pipeline quarantines instead: the poison row lands in a
  * dead-letter store with its RAW bytes and a reason, the stream keeps
  * moving, and an operator replays the DLQ after fixing the producer — the
  * reference's failure story is job-restart-on-error (server.rs:200-252);
  * this is the complementary per-ROW error path that keeps one bad record
  * from ever costing a restart.
  *
  * Mechanics: the JSON dir source reads PERMISSIVE with
  * `columnNameOfCorruptRecord`, so a syntactically corrupt line surfaces as
  * one row whose `_raw` column holds the original bytes (all schema fields
  * null) instead of poisoning the batch; a parseable row that is still not
  * an event (missing event_id) is the other reason. Routing happens inside
  * `foreachBatch`: good rows take EXACTLY the normal path
  * (ChangeStreamJob.toChangeEvents → the idempotent QueuePublisher), bad
  * rows append to the DLQ as an epoch-overwritten parquet partition — the
  * same replay-replaces idempotence contract as the queue itself, so a
  * crash-replayed epoch cannot double-quarantine.
  *
  * Scale: quarantining is a per-row filter on the already-decoded batch —
  * no second parse, no extra shuffle; the DLQ write is one partition per
  * epoch, bounded by the epoch's own bad-row count.
  */
object DeadLetter {

  val RawCol = "_raw"

  /** The quarantine split of a decoded batch: (reason, raw) for bad rows.
    * Reasons: `corrupt_json` (unparseable line — `_raw` holds the bytes),
    * `missing_event_id` (valid JSON, not an event — raw is reconstructed
    * from the parsed fields, since Spark only retains the original line
    * for corrupt rows).
    */
  def reasonCol: org.apache.spark.sql.Column =
    when(col(RawCol).isNotNull, "corrupt_json")
      .when(col("event_id").isNull, "missing_event_id")

  /** A15 — DLQ replay: re-attempt the quarantined rows after the producer
    * or parser was fixed — the second half of the dead-letter contract
    * (quarantine without replay is just a slower delete). Each stored
    * `raw` line re-parses under the CURRENT schema; rows that now decode
    * to a real event publish through the normal envelope path under a
    * replay epoch, rows that still fail stay quarantined (the DLQ is
    * REWRITTEN to exactly the still-bad set, so replay is idempotent:
    * a second replay with nothing fixed is a no-op). Returns
    * (published, still_quarantined).
    *
    * Batch job, not a stream: replay is an operator action after a fix,
    * and the DLQ is bounded by the failure window — one keyed-nothing
    * scan over it, the publish is the queue's own idempotent epoch write.
    */
  def replay(spark: SparkSession, dlqDir: String, publisher: QueuePublisher,
             replayEpoch: Long, db: String = "test",
             coll: String = "testcoll"): (Long, Long) = {
    // An emptied-by-replay (or never-populated) DLQ has no data files —
    // schema inference would fail, and there is nothing to do (ADVICE r11).
    if (!hasDataFiles(spark, dlqDir)) return (0L, 0L)
    val dlq = spark.read.parquet(dlqDir)
    val parsed = dlq.withColumn("ev",
      from_json(col("raw"), ChangeStreamJob.eventSchema))
    val good = parsed.where(col("ev").isNotNull && col("ev.event_id").isNotNull)
      .select(col("ev.*"))
    val still = parsed.where(col("ev").isNull || col("ev.event_id").isNull)
      .select("reason", "raw", "epoch")
      // materialize before the overwrite clobbers the files being read
      .localCheckpoint(true)
    val published = good.count()
    if (published > 0)
      publisher.publish(ChangeStreamJob.toChangeEvents(good, db, coll), replayEpoch)
    val stillCount = still.count()
    if (stillCount > 0)
      still.write.mode("overwrite").partitionBy("epoch").parquet(dlqDir)
    else
      // A fully-successful replay must leave the DLQ READABLE, but a
      // zero-row partitionBy write emits no data files at all (only
      // _SUCCESS) and plain spark.read.parquet then fails inference
      // (ADVICE r11). Write one explicit empty UNPARTITIONED file carrying
      // the (reason, raw, epoch) schema instead; [[startWithDlq]] clears it
      // before its next partitioned quarantine write so the two layouts
      // never coexist.
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          still.schema)
        .write.mode("overwrite").parquet(dlqDir)
    (published, stillCount)
  }

  /** Delete root-level parquet files under `dir` (the empty readability
    * marker [[replay]] writes when everything replayed successfully).
    */
  private def clearFlatMarker(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .foreach(s => fs.delete(s.getPath, false))
  }

  /** Whether `dir` holds at least one parquet data file (top level or one
    * partition level down — the two layouts the DLQ writers produce).
    */
  private def hasDataFiles(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    def parquetIn(d: org.apache.hadoop.fs.Path): Boolean =
      fs.listStatus(d).exists(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    parquetIn(p) || fs.listStatus(p).exists(s =>
      s.isDirectory && !s.getPath.getName.startsWith("_") && parquetIn(s.getPath))
  }

  /** Stream a JSON event dir with quarantine routing: good rows → the
    * change-event envelope → `publisher` (the normal pipeline), bad rows →
    * `dlqDir` as (reason, raw, epoch), epoch-overwritten. One streaming
    * query, one checkpoint — the DLQ commits atomically with the queue.
    */
  def startWithDlq(spark: SparkSession, sourceDir: String,
                   publisher: QueuePublisher, dlqDir: String,
                   checkpointDir: String, db: String = "test",
                   coll: String = "testcoll", queryName: String = "connector-dlq",
                   trigger: Trigger = Trigger.AvailableNow(),
                   maxFilesPerTrigger: Int = 4): StreamingQuery = {
    def raw(s: SparkSession) = s.readStream
      .schema(ChangeStreamJob.eventSchema.add(RawCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", RawCol)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(sourceDir)
      .withColumn("__dlq_reason", reasonCol)
    Epochs.start(spark, raw, checkpointDir, trigger, Some(queryName)) { (batch, epochId) =>
      val bad = batch.where(col("__dlq_reason").isNotNull)
        .select(col("__dlq_reason").as("reason"),
          coalesce(col(RawCol),
            to_json(struct(ChangeStreamJob.eventSchema.fieldNames.map(col): _*)))
            .as("raw"))
      // Clear the zero-row flat marker a fully-successful [[replay]] may
      // have left: root-level data files and epoch=N partition dirs must
      // never coexist (Spark rejects the mixed layout at read). The
      // marker is empty by construction, so this deletes no data.
      clearFlatMarker(batch.sparkSession, dlqDir)
      Epochs.overwrite(bad, epochId, dlqDir)
      val good = batch.where(col("__dlq_reason").isNull)
        .drop("__dlq_reason", RawCol)
      publisher.publish(ChangeStreamJob.toChangeEvents(good, db, coll), epochId)
    }
  }
}
