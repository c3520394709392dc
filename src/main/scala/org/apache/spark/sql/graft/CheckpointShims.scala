package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, Expression}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** `localCheckpoint(eager = true)` that KEEPS the materialized frame's
  * output partitioning.
  *
  * `Dataset.localCheckpoint` reads `executedPlan.outputPartitioning`
  * for the `LogicalRDD` it plants, but under AQE the executed plan is
  * the `AdaptiveSparkPlanExec` wrapper, whose `outputPartitioning` is
  * the LeafExecNode default `UnknownPartitioning(0)` — so every
  * checkpoint of a deliberately hash-partitioned frame forgets its
  * layout and each downstream aggregate/join on the same key pays a
  * fresh Exchange over rows that are already exactly where they need
  * to be. This shim runs the same materialize-and-wrap sequence but
  * reads the partitioning from the FINAL adaptive plan (post
  * coalescing, so the claim matches the physical RDD), rewritten onto
  * the logical output attributes. Any shape it cannot prove maps
  * cleanly falls back to `UnknownPartitioning` — i.e. to the stock
  * behavior, never to a wrong claim.
  */
object CheckpointShims {

  /** A DataSource V2 table object (not string options) as a DataFrame. */
  def tableFrame(spark: org.apache.spark.sql.SparkSession, table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], DataSourceV2Relation.create(table, None, None))

  def localCheckpointPartitioned(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[DataFrame]
    val session = ds.sparkSession
    val physical = ds.queryExecution.executedPlan
    val internalRdd = physical.execute().map(_.copy())
    internalRdd.localCheckpoint()
    internalRdd.count()
    val finalPlan = physical match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val output = ds.queryExecution.analyzed.output
    val partitioning =
      rewrite(finalPlan.outputPartitioning, finalPlan.output, output)
        .getOrElse(UnknownPartitioning(0))
    // size/rowcount stats carry over (attribute-keyed column stats are
    // dropped rather than rewritten — sizeInBytes is what join-strategy
    // selection reads; without it the LogicalRDD defaults to "huge" and
    // a broadcast-worthy side silently turns into a sort-merge join)
    val optStats = ds.queryExecution.optimizedPlan.stats
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = optStats.sizeInBytes, rowCount = optStats.rowCount)
    Dataset.ofRows(session,
      LogicalRDD(output, internalRdd, partitioning, Nil,
        isStreaming = false)(session, originStats = Some(stats)))
  }

  /** Map the partitioning's attribute references from the physical
    * plan's output onto the checkpointed frame's logical output. None
    * when anything does not line up — the caller then claims nothing.
    */
  private def rewrite(partitioning: Partitioning, from: Seq[Attribute],
      to: Seq[Attribute]): Option[Partitioning] = {
    if (from.size != to.size) return None
    val assoc = AttributeMap(from.zip(to))
    partitioning match {
      case e: Expression =>
        val mapped = e.transform { case a: Attribute => assoc.getOrElse(a, a) }
        val ok = mapped.references.forall(r => to.exists(_.exprId == r.exprId))
        if (ok) Some(mapped.asInstanceOf[Partitioning]) else None
      case _: UnknownPartitioning => None
      case p => Some(p) // attribute-free: SinglePartition and kin
    }
  }
}
