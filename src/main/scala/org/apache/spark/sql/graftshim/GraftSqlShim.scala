package org.apache.spark.sql.graftshim

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, Dataset, ExpressionUtils,
  SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The engine's private-API doorway: every `private[sql]`/`private[spark]`
  * member the engine touches goes through this one object, so the surface
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
  * `column` and `expression` convert between a Catalyst [[Expression]] and
  * a [[Column]] (`private[sql]` `classic.ExpressionUtils.column` and
  * `classic.ColumnNodeToExpressionConverter`). Operators build the
  * engine's expression classes directly through them, so a plan never
  * asks the session's function registry for them. `expression` converts
  * eagerly — `ExpressionUtils.expression` defers conversion to analysis,
  * and an unconverted literal cannot be evaluated — so an expression
  * builder can read its literal arguments (`lsh_band_keys`' band count).
  *
  * `drainListenerBus` blocks until every event posted so far has reached
  * every [[org.apache.spark.scheduler.SparkListener]]
  * (`private[spark]` `listenerBus.waitUntilEmpty()`). Listener delivery is
  * asynchronous, so a job counter read right after an action can miss the
  * last jobs; draining makes the count exact without sleeping.
  *
  * `parquetReaderFactory` builds Spark's vectorized Parquet reader
  * factory over a broadcast Hadoop conf, as `ParquetScan` does
  * (`private[spark]` `SerializableConfiguration.broadcast`). */
object GraftSqlShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def parquetReaderFactory(sc: SparkContext, sqlConf: SQLConf, conf: Configuration,
      readSchema: StructType): ParquetPartitionReaderFactory =
    ParquetPartitionReaderFactory(sqlConf, SerializableConfiguration.broadcast(sc, conf),
      readSchema, readSchema, new StructType(), Array.empty, None,
      new ParquetOptions(Map.empty[String, String], sqlConf))
}
