package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** The `private[spark]` doorways graft uses. Spark exposes plan-level
  * extension seams (strategies, rules) publicly but keeps
  * `Dataset.ofRows`, the listener bus and `StructType.asNullable`
  * package-private, so a library
  * that contributes its own logical node, or reads its own listener's
  * totals, needs these one-line bridges in an `org.apache.spark.sql`
  * subpackage — the established pattern among Spark ecosystem libraries.
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

  /** `schema` with every field, at every depth, nullable — what a file
    * source relation declares whatever the files say.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
