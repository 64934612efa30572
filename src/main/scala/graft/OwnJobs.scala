package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlBridge

import java.util.concurrent.ConcurrentHashMap

/** A listener's view of one block's own Spark jobs.
  *
  * Spark listeners are session-global: a job another thread runs at the
  * same time (a streaming trigger, a parallel suite, a second client) would
  * land in any count or metric read off them. [[observe]] runs the block
  * under a job group of its own and forwards to the given listener only the
  * job start and job end events of that group's jobs and the task end
  * events of their stages.
  */
object OwnJobs {

  /** Run `body` on this thread under a fresh job group, with `listener`
    * seeing only that group's jobs (`onJobStart`, `onJobEnd`, `onTaskEnd`;
    * no other callback is forwarded). The listener bus is drained before
    * the block and after it, so when this returns the listener has seen
    * every event of the block's jobs and none from before it. Jobs Spark
    * runs for the block on its own threads (broadcasts, subqueries) carry
    * the group and count; threads the block starts itself count only if
    * they inherit the group.
    */
  def observe[T](spark: SparkSession, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val group = s"graft-own-jobs-${java.util.UUID.randomUUID()}"
    val jobs = ConcurrentHashMap.newKeySet[Int]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val scoped = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && group == e.properties.getProperty("spark.jobGroup.id")) {
          jobs.add(e.jobId)
          e.stageIds.foreach(stages.add)
          listener.onJobStart(e)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (jobs.contains(e.jobId)) listener.onJobEnd(e)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) listener.onTaskEnd(e)
    }
    GraftSqlBridge.waitUntilEmpty(sc)
    sc.addSparkListener(scoped)
    try {
      sc.setJobGroup(group, "graft.OwnJobs measurement", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      GraftSqlBridge.waitUntilEmpty(sc)
      out
    } finally sc.removeSparkListener(scoped)
  }
}
