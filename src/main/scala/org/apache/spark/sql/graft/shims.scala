package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Minimal bridge to the `private[sql]` Column <-> Expression
  * conversion, function registration and the DSv2 table-to-frame
  * constructor (the standard technique used by open-source Spark
  * extension libraries to expose custom Catalyst expressions as
  * `Column` functions). The other files in this package are
  * [[FooterSchema]], [[ScanWidth]] and [[SidecarIO]].
  */
object GraftShims {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataSource V2 table object (not string options) as a DataFrame. */
  def tableFrame(spark: SparkSession, table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** Register a custom expression builder for SQL use
    * (`SELECT my_fn(col) FROM ...`). Session-scoped temp function.
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** Build an [[org.apache.spark.scheduler.AccumulableInfo]] — its
    * constructor is `private[spark]`, and the live-progress listener's
    * tests need to synthesize the heartbeat events executors send
    * (`SparkListenerExecutorMetricsUpdate`) without running a real
    * multi-second heartbeat cycle.
    */
  def accumulableInfo(id: Long, name: String, update: Any): org.apache.spark.scheduler.AccumulableInfo =
    org.apache.spark.scheduler.AccumulableInfo(
      id, Some(name), Some(update), None, internal = false, countFailedValues = false)
}
