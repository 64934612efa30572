package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.types.StructType

import java.util.UUID

/** The one parquet part-file writer of graft's two commit protocols: the
  * epoch partition of [[graft.streaming.Epochs.overwrite]] and the manifest
  * commit of [[graft.ops.Versioned]]. It writes a frame's rows into one
  * staging dir and returns the names of the files the job wrote; each
  * caller then publishes them its own way (one rename of the dir, or one
  * rename per file into `data/`).
  */
private[graft] object PartFiles {

  /** Write `df` as parquet files directly under `staged`, one
    * `part-%05d-<jobUUID>.c000.snappy.parquet` per writing task, and return
    * their names. A retried attempt adds `-<attempt>` to its name, because
    * parquet will not create over a file an earlier attempt left, so the
    * dir can hold files the job did not return. A failed job deletes
    * `staged` and rethrows.
    *
    * `partCol` is Spark's rule for empty tasks, by the kind of write:
    *  - `None`, an unpartitioned write: task 0 writes a file even with no
    *    rows, also when the plan has no partitions (one empty partition
    *    stands in), so an empty frame still stages its schema;
    *  - `Some(c)`, one partition of a write partitioned by `c`: `c` is
    *    dropped from the files (a `df` column of that name included) and an
    *    empty task writes nothing.
    *
    * The driver runs the schema checks and errors of `df.write.parquet`
    * and builds the job conf and writer factory once through
    * `ParquetFileFormat.prepareWrite`; the conf reaches the tasks as one
    * broadcast `JobConf`. Spark's `FileFormatWriter` instead ships the whole
    * Hadoop conf inside every task and moves each file through its output
    * committer. A local `staged` is written through [[LocalFiles]], so no
    * dir, part file or `.crc` sidecar spawns a `chmod` child process.
    * `spark.sql.files.maxRecordsPerFile` is not applied.
    */
  def write(df: DataFrame, staged: Path, partCol: Option[String]): Seq[String] = {
    val spark = df.sparkSession
    val data = GraftSqlBridge.ofRows(spark, partCol.fold(df)(df.drop).queryExecution.analyzed)
    GraftSqlBridge.checkColumnNameDuplication(data.columns.toSeq ++ partCol,
      spark.sessionState.conf.caseSensitiveAnalysis)
    val format = new ParquetFileFormat
    val schema = data.queryExecution.optimizedPlan.schema
    DataSourceUtils.verifySchema(format, schema)
    DataSourceUtils.checkFieldNames(format, schema)
    val options = LocalFiles.writeOptions(staged.toString)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = format.prepareWrite(spark, job, options, schema)
    val fs = LocalFiles.fileSystem(staged, job.getConfiguration)
    val out = fs.makeQualified(staged).toString
    val jobId = UUID.randomUUID.toString
    val planned = data.queryExecution.toRdd
    val rdd =
      if (partCol.isEmpty && planned.partitions.isEmpty) spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      else planned
    val conf = GraftSqlBridge.broadcastJobConf(spark.sparkContext, job.getConfiguration)
    try {
      val task = writeTask(conf, factory, schema, out, jobId, partCol.isEmpty) _
      SQLExecution.withNewExecutionId(data.queryExecution, Some("save")) {
        spark.sparkContext.runJob(rdd, task)
      }.flatten.toSeq
    } catch {
      case e: Throwable =>
        fs.delete(staged, true)
        throw e
    } finally conf.destroy()
  }

  /** One task of [[write]]: its rows as one parquet file in `staged`, none
    * when it has no rows, unless `keepFirst` and it is task 0. Returns the
    * name of the file it wrote.
    */
  private def writeTask(conf: Broadcast[AnyRef], factory: OutputWriterFactory, schema: StructType,
                        staged: String, jobId: String, keepFirst: Boolean)
                       (task: TaskContext, rows: Iterator[InternalRow]): Option[String] =
    Option.when(rows.hasNext || (keepFirst && task.partitionId() == 0)) {
      val ctx = new TaskAttemptContextImpl(GraftSqlBridge.jobConf(conf), new TaskAttemptID)
      val attempt = if (task.attemptNumber() == 0) "" else s"-${task.attemptNumber()}"
      val name = f"part-${task.partitionId()}%05d-$jobId$attempt.c000${factory.getFileExtension(ctx)}"
      val writer = factory.newInstance(s"$staged/$name", schema, ctx)
      try rows.foreach(writer.write) finally writer.close()
      name
    }
}
