package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's private-API doorway, kept to two methods so the surface
  * stays auditable.
  *
  * `ofRows` wraps a custom [[LogicalPlan]] node into a user-facing
  * [[DataFrame]] (`private[sql]` `Dataset.ofRows`). Spark exposes every
  * other extension point publicly (`SparkSessionExtensions` injects
  * functions, rules, and planner strategies), but constructing a Dataset
  * over a custom logical node has no public constructor — the established
  * idiom for Spark-native libraries (Delta, Sedona, Iceberg all ship
  * `org.apache.spark.sql.*` shims) is a package-scoped accessor like this.
  *
  * `drainListenerBus` blocks until every event posted so far has reached
  * every [[org.apache.spark.scheduler.SparkListener]]
  * (`private[spark]` `listenerBus.waitUntilEmpty()`). Listener delivery is
  * asynchronous, so a job counter read right after an action can miss the
  * last jobs; draining makes the count exact without sleeping. */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
