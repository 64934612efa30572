package graft.streaming

import graft.LocalFiles
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one epoch contract every graft stream runs on: a replayable source
  * plus an idempotent sink (Structured Streaming, SIGMOD 2018; the
  * publisher-confirm semantics of mrcon/src/rabbitmq/amqp.rs:95-110). Each
  * micro-batch is written as ONE `partCol=<epoch>` parquet partition and
  * OVERWRITTEN when a crash between sink write and checkpoint commit
  * replays the epoch — so a replay replaces, never duplicates.
  *
  * `partCol` is `epoch` for the queue, the DLQ and the operator outputs,
  * and `batch_id` for the two ingests and the heavy-hitter summaries; both
  * on-disk layouts predate this module and stay as they are.
  */
object Epochs {

  /** Write `batch` as the `partCol=epochId` partition of `dir`, replacing
    * only that partition. A zero-row batch still writes (and, on a fresh
    * `dir`, leaves a schema-less directory): callers whose epochs can be
    * empty use [[overwriteNonEmpty]].
    *
    * A local `dir` is written through [[graft.LocalFiles]], so the epoch's
    * directories, part files and `.crc` sidecars get their modes without a
    * `chmod` child process each (22 for a 4-task epoch before). No
    * `_SUCCESS` marker is written: dynamic overwrite would put it in its
    * staging dir and delete it with that dir.
    */
  def overwrite(batch: DataFrame, epochId: Long, dir: String,
                partCol: String = "epoch"): Unit =
    batch.withColumn(partCol, lit(epochId))
      .write.mode("overwrite")
      .options(LocalFiles.writeOptions(dir))
      .option("partitionOverwriteMode", "dynamic")
      .option(SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, "false")
      .partitionBy(partCol).parquet(dir)

  /** Run `body` over `df` persisted, unpersisting in `finally` so a failed
    * write cannot leave the batch cached in the (supervisor-restarted)
    * session's block manager.
    */
  def persisted[T](df: DataFrame)(body: DataFrame => T): T = {
    df.persist()
    try body(df) finally df.unpersist()
  }

  /** [[overwrite]] for the stateful jobs, whose no-data epochs (watermark
    * advances, timeouts that close nothing) emit zero rows: an empty epoch
    * writes nothing, which is trivially idempotent and keeps `dir` absent
    * until the first row — an empty partitioned write would leave a
    * directory `spark.read.parquet` cannot infer a schema from. The batch
    * is persisted so the probe and the write run its plan once.
    */
  def overwriteNonEmpty(batch: DataFrame, epochId: Long, dir: String,
                        partCol: String = "epoch"): Unit =
    persisted(batch) { b =>
      if (b.head(1).nonEmpty) overwrite(b, epochId, dir, partCol)
    }

  /** The rows written under `dir` by every epoch except `epochId` (empty
    * when `dir` does not exist yet): the history an ingest index probes,
    * excluding the current epoch so a replay never sees its own earlier
    * half-write. The read carries an explicit `schema` (including
    * `partCol`): a crash mid-write of the very first epoch can leave `dir`
    * holding only a `_temporary` subtree, where schema inference finds no
    * footers and every replay would fail — with the schema it reads empty.
    */
  def history(spark: SparkSession, dir: String, schema: StructType, epochId: Long,
              partCol: String = "epoch"): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", dir).parquet(dir)
      .where(col(partCol) =!= epochId)
  }

  /** Start `df` as a checkpointed stream whose every micro-batch goes to
    * `body(batch, epochId)`. Restarting with the same `checkpointDir`
    * resumes after the last committed epoch; `body` must be idempotent
    * per epoch (the writers above are).
    */
  def start(df: DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            queryName: Option[String] = None,
            outputMode: OutputMode = OutputMode.Append())
           (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(outputMode)
    queryName.foreach(w.queryName)
    w.foreachBatch(body).start()
  }
}
