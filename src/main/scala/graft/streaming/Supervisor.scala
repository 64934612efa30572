package graft.streaming

import graft.config.{CollectionConfig, Settings}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Supervision of one streaming connector per configured collection —
  * the Spark analog of the reference's Server (mrcon/src/server.rs:174-262):
  * fan out one job per collection, restart failed jobs with error-type
  * routing, keep the metrics registry in sync, expose liveness.
  *
  * In Spark the "task" is a StreamingQuery; failure shows up as
  * `query.exception` being defined after termination. Restart = start a new
  * query from the same checkpoint, which resumes after the last committed
  * batch (the resume-token semantics come for free). So each stream needs
  * one record (`Supervisor.StreamState`): its unreaped query, why to start
  * it next, and its failure burst. The records live in one concurrent map,
  * which `/health` and the shutdown hook read without waiting for a pass;
  * every start goes through one function (`start`), and the two gauges
  * are derived from the records at the end of [[startAll]] and of each
  * [[superviseOnce]].
  */
final class Supervisor(spark: SparkSession, settings: Settings,
                       metrics: MetricsRegistry,
                       startQuery: (SparkSession, CollectionConfig) => StreamingQuery,
                       maxRestarts: Int = 3,
                       restartWindowMs: Long = 600000L) {
  // The supervisor is the one writer of the lifecycle series (starts, the
  // running-server and per-collection gauges) as well as of the failures
  // and restarts it alone can classify; GraftQueryListener adds only
  // per-batch progress, so attaching both never counts a start twice.

  import Supervisor.StreamState
  // A stream that never started has no record, and so no gauge series.
  private val streams = new ConcurrentHashMap[CollectionConfig, StreamState]()

  /** Classify a failure like server.rs:216-235 routes error types.
    * Exception-TYPE indicators (FileNotFound / path-does-not-exist) are
    * checked before the "queue"/"sink" substrings: the daemon's sink root
    * is ".../queues", so a missing source/checkpoint path whose message
    * embeds that path would otherwise misroute as sink_error. The sink
    * substrings still precede any bare "source" match: Spark wraps every
    * foreachBatch failure in a StreamingQueryException whose text mentions
    * generic "sources" classes.
    */
  def classify(e: Throwable): (String, String) = {
    val msg = (Option(e.getMessage).getOrElse("") +
      Option(e.getCause).map(_.toString).getOrElse("")).toLowerCase
    if (msg.contains("filenotfoundexception") || msg.contains("path does not exist"))
      ("source_error", "source_connection_failed")
    else if (msg.contains("queue") || msg.contains("sink"))
      ("sink_error", "sink_connection_failed")
    else ("unknown_error", "unhandled_error")
  }

  private def stream(c: CollectionConfig): StreamState = streams.getOrDefault(c, StreamState())

  /** Start every configured collection's stream (server.rs:181-199).
    * Idempotent: a retry-with-timeout wrapper calls it again after a
    * partial failure, and a live stream is not restarted. A start that
    * throws escapes to that wrapper.
    */
  def startAll(): Unit =
    try settings.collections.foreach { c =>
      val s = stream(c)
      if (!s.query.exists(_.isActive)) start(c, s, None)
    } finally publishGauges()

  /** One supervision pass (the `join_next` loop body, server.rs:200-252):
    * reap terminated queries; restart failed ones (bounded) and retry the
    * restarts that threw; a clean stop (collection dropped) is not
    * restarted (server.rs:205-207). Returns the number of restarts
    * performed.
    */
  def superviseOnce(): Int =
    try settings.collections.count { c =>
      val s = stream(c)
      s.query match {
        case Some(q) if q.isActive => false
        case Some(q) => q.exception match {
          case Some(e) => start(c, s, Some(classify(e)._2))
          case None => streams.put(c, s.copy(query = None)); false
        }
        case None => s.next.exists(r => start(c, s, Some(r)))
      }
    } finally publishGauges()

  /** The one start path: bootstrap (`reason` None) or a restart for
    * `reason`. It reaps `s`'s dead query, recording its failure; a restart
    * charges the burst budget and, past it, abandons the stream. A
    * bootstrap start that throws escapes; a restart that throws is
    * recorded as a failure and retried on the next pass. Returns whether
    * a query was started.
    */
  private def start(c: CollectionConfig, s: StreamState, reason: Option[String]): Boolean = {
    val (coll, db) = (c.watched.collName, c.watched.dbName)
    s.query.flatMap(_.exception).foreach(e => metrics.recordTaskFailure(coll, db, classify(e)._1))
    val now = System.currentTimeMillis()
    val reaped = if (reason.isEmpty) s.copy(query = None)
      else s.copy(query = None, lastFailureAt = now,
        burst = (if (now - s.lastFailureAt > restartWindowMs) 0 else s.burst) + 1)
    if (reason.isDefined && reaped.burst > maxRestarts) {
      streams.put(c, reaped.copy(next = None))
      false
    } else try {
      reason.foreach(metrics.recordTaskRestart(coll, db, _))
      streams.put(c, reaped.copy(query = Some(startQuery(spark, c)), next = None))
      metrics.recordTaskStart()
      true
    } catch { case NonFatal(e) =>
      // replace, not put: a stream that never started keeps no record
      if (reason.isEmpty) { streams.replace(c, reaped); throw e }
      metrics.recordTaskFailure(coll, db, classify(e)._1)
      streams.put(c, reaped.copy(next = Some("restart_retry")))
      false
    }
  }

  /** The gauges, derived from the records: a stream counts as a server
    * while it holds an unreaped query.
    */
  private def publishGauges(): Unit = {
    val held = streams.asScala.toSeq.map { case (c, s) => c -> s.query.size.toLong }
    held.foreach { case (c, n) => metrics.setCollectionServer(c.watched.collName, c.watched.dbName, n) }
    metrics.setServerCount(held.map(_._2).sum)
  }

  /** Health endpoint semantics (mrcond/src/main.rs:53-60): healthy while at
    * least one configured stream is live (or nothing was configured).
    * A stream awaiting an in-budget restart retry counts as alive — a
    * transient failure must not read as "no live streams" in the gap
    * between the failure and the supervision pass that restarts it.
    */
  def healthy(): Boolean =
    settings.collections.isEmpty ||
      streams.values.asScala.exists(s => s.query.exists(_.isActive) || s.next.isDefined)

  private def queries: Seq[StreamingQuery] = streams.values.asScala.toSeq.flatMap(_.query)

  def activeQueries: Seq[StreamingQuery] = queries.filter(_.isActive)

  def awaitAll(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    queries.foreach { q =>
      val left = (deadline - System.currentTimeMillis()).max(1)
      try q.awaitTermination(left) catch { case NonFatal(_) => () }
    }
  }

  def stopAll(): Unit = queries.foreach { q =>
    try q.stop() catch { case NonFatal(_) => () }
  }
}

object Supervisor {
  /** One supervised stream's state. `query` is held, live or not, until a
    * pass or `startAll` reaps it; `next` is the restart reason of a pending
    * retry (a restart attempt that threw). The restart budget applies per
    * failure BURST, not per daemon lifetime: `burst` counts the restart
    * attempts since a failure that came more than `restartWindowMs` after
    * the one before it (`lastFailureAt`), so transient failures spread over
    * months of uptime never abandon a collection.
    */
  private final case class StreamState(query: Option[StreamingQuery] = None, next: Option[String] = None,
                                       burst: Int = 0, lastFailureAt: Long = 0L)

  /** Retry-with-timeout bootstrap (server.rs:38-69): retry `op` every
    * `retryDelayMs` until `timeoutMs` elapses; first success wins.
    */
  def retryWithTimeout[T](timeoutMs: Long, retryDelayMs: Long)(op: () => T): T = {
    val start = System.currentTimeMillis()
    var last: Throwable = null
    while (true) {
      try return op()
      catch { case NonFatal(e) =>
        last = e
        if (System.currentTimeMillis() - start >= timeoutMs) throw e
        Thread.sleep(retryDelayMs)
      }
    }
    throw last // unreachable
  }
}
