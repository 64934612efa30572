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
  * batch (the resume-token semantics come for free).
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

  private val running = new ConcurrentHashMap[String, StreamingQuery]()
  private val restarts = new ConcurrentHashMap[String, Integer]()
  // The restart budget applies per failure BURST, not per daemon lifetime:
  // a counter that only ever increments would permanently abandon a
  // collection after maxRestarts TRANSIENT failures spread over months of
  // uptime. A failure arriving more than restartWindowMs after the
  // previous one opens a fresh budget.
  private val lastFailureAt = new ConcurrentHashMap[String, java.lang.Long]()

  /** Consume one unit of restart budget for `k`, resetting the counter
    * first when the previous failure is outside the burst window.
    */
  private def chargeRestart(k: String): Int = {
    val now = System.currentTimeMillis()
    val prev = lastFailureAt.put(k, now)
    if (prev != null && now - prev > restartWindowMs) restarts.put(k, 0)
    restarts.merge(k, 1, (a, b) => a + b)
  }
  // Streams whose restart ATTEMPT itself threw (e.g. checkpoint dir briefly
  // unreachable): retried on the next pass while restart budget remains.
  // Kept out of `running` so the dead query's gauges/failure are not
  // re-counted every pass.
  private val pendingRestart = ConcurrentHashMap.newKeySet[String]()

  private def keyOf(c: CollectionConfig) = s"${c.watched.dbName}.${c.watched.collName}"

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

  /** Start every configured collection's stream (server.rs:181-199). */
  def startAll(): Unit = {
    settings.collections.foreach { c =>
      val k = keyOf(c)
      // Idempotent: a retry-with-timeout wrapper may call startAll again
      // after a partial failure; already-live streams must not be restarted.
      val existing = Option(running.get(k))
      if (!existing.exists(_.isActive)) {
        // Reap a dead query before overwriting it: silently replacing it
        // would lose its failure classification and double-increment the
        // collection gauge with no matching decrement.
        existing.foreach { dead =>
          dead.exception.foreach { e =>
            metrics.recordTaskFailure(c.watched.collName, c.watched.dbName, classify(e)._1)
          }
          metrics.decrementCollectionServer(c.watched.collName, c.watched.dbName)
          running.remove(k)
        }
        launch(c)
      }
    }
    metrics.setServerCount(running.size().toLong)
  }

  /** Start `c`'s query and record it as running. */
  private def launch(c: CollectionConfig): Unit = {
    running.put(keyOf(c), startQuery(spark, c))
    metrics.incrementCollectionServer(c.watched.collName, c.watched.dbName)
    metrics.recordTaskStart()
  }

  /** [[launch]] for a restart: a start that throws is recorded as a task
    * failure and reported as `false` instead of escaping the pass.
    */
  private def relaunch(c: CollectionConfig): Boolean =
    try { launch(c); true }
    catch { case NonFatal(e) =>
      metrics.recordTaskFailure(c.watched.collName, c.watched.dbName, classify(e)._1)
      false
    }

  /** One supervision pass (the `join_next` loop body, server.rs:200-252):
    * reap terminated queries; restart failed ones (bounded), record metrics;
    * a clean stop (collection dropped) is not restarted.
    * Returns the number of restarts performed.
    */
  def superviseOnce(): Int = {
    var restarted = 0
    settings.collections.foreach { c =>
      val k = keyOf(c)
      // Retry a stream whose previous restart attempt threw — each attempt
      // consumes restart budget; past the budget the stream is abandoned
      // like any other over-budget failure.
      if (pendingRestart.contains(k) && !running.containsKey(k)) {
        val n = chargeRestart(k)
        if (n <= maxRestarts) {
          metrics.recordTaskRestart(c.watched.collName, c.watched.dbName, "restart_retry")
          if (relaunch(c)) {
            pendingRestart.remove(k)
            restarted += 1
          }
        } else pendingRestart.remove(k)
      }
      Option(running.get(k)).foreach { q =>
        if (!q.isActive) {
          metrics.decrementCollectionServer(c.watched.collName, c.watched.dbName)
          q.exception match {
            case Some(e) =>
              val (errorType, reason) = classify(e)
              metrics.recordTaskFailure(c.watched.collName, c.watched.dbName, errorType)
              val n = chargeRestart(k)
              if (n <= maxRestarts) {
                metrics.recordTaskRestart(c.watched.collName, c.watched.dbName, reason)
                if (relaunch(c)) restarted += 1
                else {
                  // drop the dead query so the next pass doesn't re-count
                  // this failure / re-decrement gauges — but queue the key
                  // for retry: budget remains, and abandoning the stream on
                  // one transient start failure would silently stop the
                  // collection while /health stays green
                  running.remove(k)
                  pendingRestart.add(k)
                }
              } else running.remove(k)
            case None =>
              // Clean termination == watched collection dropped: do not
              // restart (server.rs:205-207), tokens cleaned by checkpoint.
              running.remove(k)
          }
        }
      }
    }
    metrics.setServerCount(running.values.asScala.count(_.isActive).toLong)
    restarted
  }

  /** Health endpoint semantics (mrcond/src/main.rs:53-60): healthy while at
    * least one configured stream is live (or nothing was configured).
    * A stream awaiting an in-budget restart retry counts as alive — a
    * transient failure must not read as "no live streams" in the gap
    * between the failure and the supervision pass that restarts it.
    */
  def healthy(): Boolean =
    settings.collections.isEmpty ||
      running.values.asScala.exists(_.isActive) ||
      !pendingRestart.isEmpty

  def activeQueries: Seq[StreamingQuery] = running.values.asScala.toSeq.filter(_.isActive)

  def awaitAll(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    running.values.asScala.foreach { q =>
      val left = (deadline - System.currentTimeMillis()).max(1)
      try q.awaitTermination(left) catch { case NonFatal(_) => () }
    }
  }

  def stopAll(): Unit = running.values.asScala.foreach { q =>
    try q.stop() catch { case NonFatal(_) => () }
  }
}

object Supervisor {
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
