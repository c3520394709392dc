package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** Partition-width probe for [[graft.ops.Layouts.fanOutByKey]] that
  * does NOT physically plan the frame.
  *
  * The r21 form probed `df.rdd.getNumPartitions`, which runs the whole
  * physical-planning pipeline on the subtree once per call site at
  * query-build time — the final query then plans the same subtree
  * again (r21 verdict #5). For the shape every fan-out call site
  * actually has — a narrow Project/Filter chain over one parquet
  * relation — the scan width is a pure function of the file listing
  * (already cached on the relation's FileIndex) and the session's
  * split configuration, so it can be computed by replaying Spark's own
  * split math: [[FilePartition.maxSplitBytes]] plus the
  * Next-Fit-Decreasing packing of `FilePartition.getFilePartitions`
  * over split lengths. Any other plan shape returns None and the
  * caller falls back to the planning probe — including a partitioned
  * or bucketed relation, whose scan the planner prunes by partition
  * filter or splits by bucket, which the full listing here cannot
  * model. So does a session whose split configuration makes
  * `maxSplitBytes` non-positive (neither `maxPartitionBytes` nor
  * `openCostInBytes` is value-checked), where the split math has no
  * step. A cached frame whose buffers are built (the chain ends at an
  * `InMemoryRelation`) is answered with the buffers' partition count,
  * no planning and no job; an unbuilt one is answered as if uncached,
  * since its first scan plans the same relation. Parity with the
  * planner is pinned in OpsSpec ("fanOutByKey width estimate", "… of
  * a cached frame").
  */
object ScanWidth {

  def estimate(df: DataFrame): Option[Int] = {
    @annotation.tailrec
    def leaf(p: LogicalPlan): LogicalPlan = p match {
      case _: Project | _: Filter | _: SubqueryAlias => leaf(p.children.head)
      case _ => p
    }
    // a built cache answers with its buffers' width; an unbuilt one
    // scans what the analyzed plan scans (`withCachedData` refuses a
    // stream, whose analyzed plan declines anyway)
    val qe = df.queryExecution
    val built =
      if (df.isStreaming) None
      else leaf(qe.withCachedData) match {
        case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
          Some(m.cacheBuilder.cachedColumnBuffers.getNumPartitions)
        case _ => None
      }
    built.orElse(leaf(qe.analyzed) match {
      case l: LogicalRelation =>
        l.relation match {
          case h: HadoopFsRelation
              if h.partitionSchema.isEmpty && h.bucketSpec.isEmpty => splitWidth(df, h)
          case _ => None
        }
      case _ => None
    })
  }

  private def splitWidth(df: DataFrame, r: HadoopFsRelation): Option[Int] = {
    val spark = df.sparkSession
    val lens = r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.getLen)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val totalBytes: Long = lens.map(_ + openCost).sum
    val maxSplit: Long = FilePartition.maxSplitBytes(spark, totalBytes)
    // a zero split size has no step to split by: decline
    Option.when(maxSplit > 0) {
      // parquet is splitable: every file splits at maxSplit boundaries,
      // splits sort by length descending, then Next-Fit-Decreasing
      // packing charges openCost per split on top of its length
      val splits = lens.iterator.flatMap { len =>
        (0L until len by maxSplit).map(o => math.min(maxSplit, len - o))
      }.toArray
      java.util.Arrays.sort(splits)
      var nParts = 0
      var cur = 0L
      var i = splits.length - 1
      while (i >= 0) {
        val len = splits(i)
        if (nParts == 0 || cur + len > maxSplit) { nParts += 1; cur = 0L }
        cur += len + openCost
        i -= 1
      }
      math.max(nParts, 1)
    }
  }
}
