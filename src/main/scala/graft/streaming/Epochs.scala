package graft.streaming

import graft.LocalFiles
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import java.io.IOException
import java.util.UUID

/** The one epoch contract every graft stream runs on: a replayable source
  * plus an idempotent sink (Structured Streaming, SIGMOD 2018; the
  * publisher-confirm semantics of mrcon/src/rabbitmq/amqp.rs:95-110). Each
  * micro-batch is written as ONE `partCol=<epoch>` parquet partition,
  * staged in a hidden dir and published with one rename ([[overwrite]]),
  * and OVERWRITTEN when a crash between sink write and checkpoint commit
  * replays the epoch — so a replay replaces, never duplicates.
  *
  * `partCol` is `epoch` for the queue, the DLQ and the operator outputs,
  * and `batch_id` for the two ingests and the heavy-hitter summaries; both
  * on-disk layouts predate this module and stay as they are.
  *
  * Every stream starts through [[start]], on the caller's graft-owned
  * stream session ([[streamSession]]), so Spark's own checkpoint files are
  * written as fork-free as the epochs.
  */
object Epochs {

  /** Write `batch` as the `partCol=epochId` partition of `dir`, replacing
    * only that partition. A zero-row batch writes no partition and leaves
    * an earlier one in place, but still creates `dir`, where schema
    * inference then finds no files: callers whose epochs can be empty use
    * [[overwriteNonEmpty]].
    *
    * The layout is a partitioned Spark parquet write's:
    * `dir/partCol=<epoch>/` holding one
    * `part-%05d-<jobUUID>.c000.snappy.parquet` file per non-empty task,
    * `partCol` dropped from the files (a `batch` column of that name
    * included), and the same schema checks and errors as
    * `df.write.parquet`. The commit is graft's own:
    *  1. each task of the batch's plan writes its rows through one Spark
    *     parquet `OutputWriter` (`spark.sql.files.maxRecordsPerFile` is not
    *     applied) into the job's staging dir
    *     `dir/.staging-<partCol>-<epoch>/<jobUUID>/`, creating no file when
    *     it has no rows;
    *  1. the driver deletes every staged file the job did not return (a
    *     failed attempt's) and the old `partCol=<epoch>`, renames the job's
    *     staging dir into its place, then deletes `.staging-<partCol>-<epoch>`
    *     with whatever an earlier crashed write of this epoch left in it.
    *
    * A failed job deletes the staging dir and leaves the committed partition
    * as it was. A crash before the rename leaves one, which readers skip
    * (its name starts with a dot) and the replay of the epoch deletes. One
    * staging dir per epoch, not per job, keeps that cleanup from listing
    * `dir`, whose one entry per epoch grows for as long as a stream runs
    * (Hadoop's local `listStatus` takes 150-300 ms over 10,000 entries).
    *
    * The job conf and writer factory are built once, on the driver, through
    * `ParquetFileFormat.prepareWrite`, and the conf reaches the tasks as one
    * broadcast `JobConf`. Spark's `FileFormatWriter` instead ships the whole
    * Hadoop conf inside every task, where it is deserialized and copied into
    * a `JobConf`, and its dynamic-overwrite commit moves each file three
    * times (task commit, job commit, partition move). On a `--trace 1`
    * `connector` pair (4 vCPU) the queue's `publish_ms_p50` went 124 → 61
    * ms.
    *
    * A local `dir` is written through [[graft.LocalFiles]], tasks and
    * driver alike, so no directory, part file or `.crc` sidecar spawns a
    * `chmod` child process. A cached frame that reads `dir` is not
    * refreshed, unlike after a `df.write`.
    */
  def overwrite(batch: DataFrame, epochId: Long, dir: String,
                partCol: String = "epoch"): Unit = {
    val spark = batch.sparkSession
    val data = GraftSqlBridge.ofRows(spark, batch.drop(partCol).queryExecution.analyzed)
    GraftSqlBridge.checkColumnNameDuplication(data.columns.toSeq :+ partCol,
      spark.sessionState.conf.caseSensitiveAnalysis)
    val format = new ParquetFileFormat
    val schema = data.queryExecution.optimizedPlan.schema
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val options = LocalFiles.writeOptions(dir)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = format.prepareWrite(spark, job, options, schema)
    val fs = LocalFiles.fileSystem(new Path(dir), job.getConfiguration)
    val out = fs.makeQualified(new Path(dir))
    val jobId = UUID.randomUUID.toString
    val staging = new Path(out, s".staging-$partCol-$epochId")
    val staged = new Path(staging, jobId)
    fs.mkdirs(out)
    val conf = GraftSqlBridge.broadcastJobConf(spark.sparkContext, job.getConfiguration)
    val written = try {
      val task = writeTask(conf, factory, schema, staged.toString, jobId) _
      SQLExecution.withNewExecutionId(data.queryExecution, Some("save")) {
        spark.sparkContext.runJob(data.queryExecution.toRdd, task)
      }.flatten.toSet
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    } finally conf.destroy()
    if (written.nonEmpty) publish(fs, staged, written, new Path(out, s"$partCol=$epochId"))
    fs.delete(staging, true)
  }

  /** One task of [[overwrite]]: its rows as one parquet file in `staged`,
    * none when it has no rows. Returns the name of the file it wrote. A
    * retried attempt gets its own name, because parquet will not create
    * over a file an earlier attempt left.
    */
  private def writeTask(conf: Broadcast[AnyRef], factory: OutputWriterFactory, schema: StructType,
                        staged: String, jobId: String)
                       (task: TaskContext, rows: Iterator[InternalRow]): Option[String] =
    Option.when(rows.hasNext) {
      val ctx = new TaskAttemptContextImpl(GraftSqlBridge.jobConf(conf), new TaskAttemptID)
      val attempt = if (task.attemptNumber() == 0) "" else s"-${task.attemptNumber()}"
      val name = f"part-${task.partitionId()}%05d-$jobId$attempt.c000${factory.getFileExtension(ctx)}"
      val writer = factory.newInstance(s"$staged/$name", schema, ctx)
      try rows.foreach(writer.write) finally writer.close()
      name
    }

  /** Make the job's staging dir `staged` the partition `target`: drop the
    * files in it that are not in `written`, delete `target`, rename.
    */
  private def publish(fs: FileSystem, staged: Path, written: Set[String], target: Path): Unit = {
    fs.listStatus(staged).map(_.getPath).filterNot(p => written(p.getName)).foreach(fs.delete(_, false))
    fs.delete(target, true)
    if (!fs.rename(staged, target)) throw new IOException(s"could not rename $staged to $target")
  }

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
    * holding only its hidden `.staging-<partCol>-<epoch>` dir (or nothing,
    * after a zero-row epoch), where schema inference finds no footers and
    * every replay would fail — with the schema it reads empty.
    */
  def history(spark: SparkSession, dir: String, schema: StructType, epochId: Long,
              partCol: String = "epoch"): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", dir).parquet(dir)
      .where(col(partCol) =!= epochId)
  }

  /** Start the frame `source` builds as a checkpointed stream whose every
    * micro-batch goes to `body(batch, epochId)`. Restarting with the same
    * `checkpointDir` resumes after the last committed epoch; `body` must be
    * idempotent per epoch (the writers above are).
    *
    * The one `.writeStream` of graft and the one place that picks the
    * session a stream runs on: `source` is applied to the stream session of
    * `spark` ([[streamSession]]), never to `spark` itself.
    */
  def start(spark: SparkSession, source: SparkSession => DataFrame, checkpointDir: String,
            trigger: Trigger = Trigger.AvailableNow(),
            queryName: Option[String] = None,
            outputMode: OutputMode = OutputMode.Append())
           (body: (DataFrame, Long) => Unit): StreamingQuery = {
    val s = streamSession(spark)
    val w = source(s).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode(outputMode)
    queryName.foreach(w.queryName)
    w.foreachBatch(body).start()
  }

  private val streamSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session every graft stream of `caller` runs on: one
    * `caller.newSession()`, made on first use and kept while `caller` lives.
    * It differs from `caller` in one key. Its checkpoint file manager is
    * [[graft.LocalFiles.CheckpointManager]], so Spark's offsets, commits,
    * source log and state store are written without a child process on a
    * `file:` checkpoint (a `connector` benchmark run spawned 3,040
    * `readlink` and 899 `chmod` through Spark's default manager). A caller
    * that names its own manager keeps it.
    *
    * Each call takes `caller`'s runtime SQL conf, so a conf set between two
    * starts is in effect in the second stream. Setting only the keys that
    * differ leaves a running stream's session alone: each stream runs on
    * its own clone, taken at start. The caller's conf, its
    * `hadoopConfiguration` and its cached `file:` filesystem do not change.
    *
    * One listener on the stream session hands each started, progress, idle
    * and terminated event to the listeners on `caller.streams`, on the
    * thread Spark delivers it on, so they see graft's streams as before.
    * What they no longer see is the streams themselves in
    * `caller.streams.active`: graft's streams are listed in the stream
    * session's manager, and are reached through the `StreamingQuery` that
    * starting them returns.
    */
  private[graft] def streamSession(caller: SparkSession): SparkSession = {
    val s = streamSessions.synchronized {
      Option(streamSessions.get(caller)).getOrElse {
        val fresh = caller.newSession()
        fresh.streams.addListener(new Forward(new java.lang.ref.WeakReference(caller)))
        streamSessions.put(caller, fresh)
        fresh
      }
    }
    val key = LocalFiles.CheckpointManagerKey
    val callerConf = caller.sessionState.conf.getAllConfs
    val want = callerConf + (key -> callerConf.getOrElse(key, classOf[LocalFiles.CheckpointManager].getName))
    val conf = s.sessionState.conf
    val have = conf.getAllConfs
    (have.keySet -- want.keySet).foreach(conf.unsetConf)
    want.foreach { case (k, v) => if (!have.get(k).contains(v)) conf.setConfString(k, v) }
    s
  }

  /** Hands each event of the stream session to the listeners on the
    * caller's `streams`, read at delivery, so a listener added or removed
    * mid-stream is honoured. A listener that throws does not starve the
    * others; the first failure is rethrown for Spark's bus to log.
    */
  private final class Forward(caller: java.lang.ref.WeakReference[SparkSession])
      extends StreamingQueryListener {
    private def each(f: StreamingQueryListener => Unit): Unit =
      Option(caller.get).foreach { c =>
        val failures = c.streams.listListeners().flatMap(l => scala.util.Try(f(l)).failed.toOption)
        failures.headOption.foreach(throw _)
      }
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = each(_.onQueryStarted(e))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = each(_.onQueryProgress(e))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = each(_.onQueryIdle(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      each(_.onQueryTerminated(e))
  }
}
