package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** Bridge into the `private[sql]` plan-construction API: wrapping a
  * hand-built LogicalPlan back into a DataFrame. Lives under
  * `org.apache.spark.sql` for access; the one place the library
  * steps outside the public surface, needed to ship a custom logical
  * operator without a full parser/catalog integration (the same
  * doorway Delta and Iceberg use).
  */
object GraftDataset {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)
}

/** Bridge to the `private[spark]` listener bus: listener events (job
  * ends, query-execution callbacks) arrive asynchronously, so a tool
  * reading what its listeners recorded after an action first waits
  * until every event posted so far has been handled. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
