package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.streaming.QueuePublisher
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** Minimal JSON rendering for the raw results `perfbench/run.py` reads. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => graft.Jsons.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${graft.Jsons.quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => graft.Jsons.quote(other.toString)
  }
}

/** Spans and counters recorded around the calls into each layer. Everything
  * here is benchmark-side: the program is only wrapped, never patched.
  */
object Trace {

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr: seconds since the process started. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s $what")

  /** Wall seconds of `f`. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One progress record as plain data: the phase durations, rows and state
    * of an epoch, plus its commit time (trigger start + triggerExecution).
    */
  def progress(p: StreamingQueryProgress): Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
    val state = p.stateOperators.headOption
    Map(
      "query" -> p.name, "batch" -> p.batchId, "rows" -> p.numInputRows,
      "start_ms" -> startMs, "commit_ms" -> (startMs + d.getOrElse("triggerExecution", 0L)),
      "durations" -> d,
      "state_rows" -> state.map(_.numRowsTotal), "state_bytes" -> state.map(_.memoryUsedBytes),
      "state_commit_ms" -> state.map(_.commitTimeMs))
  }

  /** Progress of the epochs that read input (no-data triggers excluded). */
  def epochs(q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).map(progress)

  /** Progress events delivered to a listener, for the traced runs. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) events.add(progress(e.progress))
    def drain(): Seq[Map[String, Any]] = {
      val out = events.asScala.toSeq
      events.clear()
      out
    }
  }

  /** Per-epoch wall of a publisher's `publish`, keyed by `tag`. */
  val publishMs = new ConcurrentLinkedQueue[(String, Long, Double)]()

  final case class TimedPublisher(tag: String, inner: QueuePublisher) extends QueuePublisher {
    override def publish(batch: DataFrame, epochId: Long): Unit = {
      val t0 = System.nanoTime()
      inner.publish(batch, epochId)
      publishMs.add((tag, epochId, (System.nanoTime() - t0) / 1e6))
    }
  }

  /** The Versioned epoch merge writer behind the publisher seam, so the
    * materializing pipeline can be driven (and timed) through `connectWith`.
    */
  final case class MergePublisher(tableDir: String) extends QueuePublisher {
    private val write = graft.ops.Versioned.epochMergeWriter(
      tableDir, keyCol = "document_key", orderCol = "resume_token")
    override def publish(batch: DataFrame, epochId: Long): Unit = write(batch, epochId)
  }

  /** The (epoch, ms) records of `tag` so far, in epoch order, then reset. */
  def takePublish(tag: String): Seq[Map[String, Any]] = {
    val out = publishMs.asScala.filter(_._1 == tag).toSeq.sortBy(_._2)
      .map { case (_, epoch, ms) => Map("batch" -> epoch, "ms" -> ms) }
    publishMs.removeIf(_._1 == tag)
    out
  }

  /** Task, stage and job totals of everything run while it is registered. */
  final class StageTotals extends SparkListener {
    private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private def add(k: String, v: Long): Unit = c.merge(k, v, (a, b) => a + b)
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("cpu_ns", m.executorCpuTime)
        add("run_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("result_bytes", m.resultSize)
      }
    }
    /** Totals since the last call, then reset. */
    def take(): Map[String, Long] = {
      val out = c.asScala.map { case (k, v) => k -> v.longValue }.toMap
      c.clear()
      out
    }
  }

  /** (files, bytes) of the regular files under `dir`, hidden ones included. */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
