package graft

import graft.streaming.MetricsRegistry
import org.scalatest.funsuite.AnyFunSuite

/** The five reference metrics (metrics.rs:87-100, METRICS.md). */
class MetricsSpec extends AnyFunSuite {

  test("server gauge tracks increments, decrements, and set") {
    val m = new MetricsRegistry
    m.setServerCount(2)
    assert(m.value(MetricsRegistry.RunningServers) === 2)
    m.setServerCount(1)
    assert(m.value(MetricsRegistry.RunningServers) === 1)
    m.setServerCount(5)
    assert(m.value(MetricsRegistry.RunningServers) === 5)
  }

  test("labelled counters accumulate per label set") {
    val m = new MetricsRegistry
    m.recordTaskFailure("c1", "db", "mongo_error")
    m.recordTaskFailure("c1", "db", "mongo_error")
    m.recordTaskFailure("c2", "db", "sink_error")
    assert(m.value(MetricsRegistry.TaskFailures,
      "collection" -> "c1", "database" -> "db", "error_type" -> "mongo_error") === 2)
    assert(m.value(MetricsRegistry.TaskFailures,
      "collection" -> "c2", "database" -> "db", "error_type" -> "sink_error") === 1)
  }

  test("export emits exactly one TYPE line per metric name across label sets") {
    val m = new MetricsRegistry
    m.incrementCollectionServer("c1", "db")
    m.incrementCollectionServer("c2", "db")
    m.recordTaskFailure("c1", "db", "sink_error")
    m.recordTaskFailure("c2", "db", "source_error")
    val out = m.export()
    def typeLines(name: String) = out.linesIterator.count(_ == s"# TYPE $name gauge") +
      out.linesIterator.count(_ == s"# TYPE $name counter")
    assert(typeLines(MetricsRegistry.CollectionServers) === 1)
    assert(typeLines(MetricsRegistry.TaskFailures) === 1)
    assert(out.linesIterator.count(_.startsWith(MetricsRegistry.CollectionServers + "{")) === 2)
  }

  test("export emits the reference metric names in prometheus text format") {
    val m = new MetricsRegistry
    m.setServerCount(3)
    m.recordTaskStart()
    m.incrementCollectionServer("testcoll", "test")
    m.recordTaskRestart("testcoll", "test", "source_connection_failed")
    val out = m.export()
    assert(out.contains("mrcon_running_servers_total 3"))
    assert(out.contains("mrcon_tasks_started_total 1"))
    assert(out.contains("""mrcon_collection_servers{collection="testcoll",database="test"} 1"""))
    assert(out.contains("""reason="source_connection_failed"""))
    assert(out.contains("# TYPE mrcon_running_servers_total gauge"))
  }
}
