package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** Connector metrics — the five series the reference exports
  * (mrcon/src/metrics.rs:87-100, METRICS.md):
  *   mrcon_running_servers_total        gauge
  *   mrcon_collection_servers           gauge   (collection, database)
  *   mrcon_tasks_started_total          counter
  *   mrcon_task_restarts_total          counter (collection, database, reason)
  *   mrcon_task_failures_total          counter (collection, database, error_type)
  *
  * Same exposition names so reference dashboards keep working; fed by the
  * [[Supervisor]] and by a StreamingQueryListener. Driver-side only (metrics
  * are control-plane, never per-row), so a ConcurrentHashMap of LongAdders is
  * the right scale design — executor work never touches this.
  */
final class MetricsRegistry {
  // Gauges are AtomicLong, not LongAdder: setGauge must be one atomic
  // store — a reset()-then-add() pair let a concurrent /metrics scrape
  // observe a transient 0 (false no-servers alert) or interleaved setters
  // leave old+new summed. Counters only ever increment, where LongAdder's
  // striping is the right choice.
  private val gauges = new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  private def key(name: String, labels: Seq[(String, String)]): String =
    if (labels.isEmpty) name
    else name + labels.map { case (k, v) => s"""$k="$v"""" }.mkString("{", ",", "}")

  private def gauge(k: String): java.util.concurrent.atomic.AtomicLong =
    gauges.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong)

  def setGauge(name: String, value: Long, labels: (String, String)*): Unit =
    gauge(key(name, labels)).set(value)
  def incGauge(name: String, labels: (String, String)*): Unit =
    gauge(key(name, labels)).incrementAndGet()
  def decGauge(name: String, labels: (String, String)*): Unit =
    gauge(key(name, labels)).decrementAndGet()
  def inc(name: String, labels: (String, String)*): Unit =
    counters.computeIfAbsent(key(name, labels), _ => new LongAdder).increment()

  def value(name: String, labels: (String, String)*): Long = {
    val k = key(name, labels)
    Option(gauges.get(k)).map(_.get())
      .orElse(Option(counters.get(k)).map(_.sum())).getOrElse(0L)
  }

  // Typed helpers mirroring metrics.rs update methods.
  def setServerCount(n: Long): Unit = setGauge(MetricsRegistry.RunningServers, n)
  def incrementCollectionServer(coll: String, db: String): Unit =
    incGauge(MetricsRegistry.CollectionServers, "collection" -> coll, "database" -> db)
  def decrementCollectionServer(coll: String, db: String): Unit =
    decGauge(MetricsRegistry.CollectionServers, "collection" -> coll, "database" -> db)
  def recordTaskStart(): Unit = inc(MetricsRegistry.TasksStarted)
  def recordTaskRestart(coll: String, db: String, reason: String): Unit =
    inc(MetricsRegistry.TaskRestarts, "collection" -> coll, "database" -> db, "reason" -> reason)
  def recordTaskFailure(coll: String, db: String, errorType: String): Unit =
    inc(MetricsRegistry.TaskFailures, "collection" -> coll, "database" -> db, "error_type" -> errorType)

  /** Prometheus text exposition (metrics.rs `export`): exactly one `# TYPE`
    * line per metric NAME (the format forbids repeats), then every label-set
    * sample of that metric.
    */
  def export(): String = {
    def block(entries: Seq[(String, Long)], kind: String) =
      entries.sortBy(_._1).groupBy(_._1.takeWhile(_ != '{')).toSeq.sortBy(_._1)
        .map { case (bare, series) =>
          (s"# TYPE $bare $kind" +: series.sortBy(_._1).map { case (k, v) => s"$k $v" })
            .mkString("\n")
        }
    (block(gauges.asScala.toSeq.map { case (k, v) => k -> v.get() }, "gauge") ++
      block(counters.asScala.toSeq.map { case (k, v) => k -> v.sum() }, "counter"))
      .mkString("", "\n", "\n")
  }
}

object MetricsRegistry {
  val RunningServers = "mrcon_running_servers_total"
  val CollectionServers = "mrcon_collection_servers"
  val TasksStarted = "mrcon_tasks_started_total"
  val TaskRestarts = "mrcon_task_restarts_total"
  val TaskFailures = "mrcon_task_failures_total"
}
