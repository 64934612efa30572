package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableJobConf

/** The `private[spark]` doorways graft uses. Spark exposes plan-level
  * extension seams (strategies, rules) publicly but keeps
  * `Dataset.ofRows`, the listener bus, `StructType.asNullable`, a write's
  * duplicate-column check and the serializable `JobConf` package-private,
  * so a library that contributes its own logical node, reads its own
  * listener's totals or writes its own files needs these one-line bridges
  * in an `org.apache.spark.sql` subpackage — the established pattern among
  * Spark ecosystem libraries.
  * Nothing else in the repo lives outside `graft.*`.
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until the listener bus has delivered every event posted so far.
    * Events reach listeners asynchronously, so a listener's totals are
    * complete for an action only after this returns.
    */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Listeners registered on the context's bus, over all its queues. */
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  /** `schema` with every field, at every depth, nullable — what a file
    * source relation declares whatever the files say.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Spark's duplicate-column check of a write, with its error. */
  def checkColumnNameDuplication(names: Seq[String], caseSensitive: Boolean): Unit =
    SchemaUtils.checkColumnNameDuplication(names, caseSensitive)

  /** `conf`, which must be a `JobConf`, broadcast for tasks to read with
    * [[jobConf]]: one serialized copy per executor, not one per task.
    */
  def broadcastJobConf(sc: SparkContext, conf: Configuration): Broadcast[AnyRef] =
    sc.broadcast[AnyRef](new SerializableJobConf(conf.asInstanceOf[JobConf]))

  def jobConf(conf: Broadcast[AnyRef]): JobConf = conf.value.asInstanceOf[SerializableJobConf].value
}
