package graft.queries

import graft.convert.ArchiveConverter
import graft.core.{ConvertOptions, IncludeType}
import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{Dedup, MultiModal, Packing, Quality, Sampling, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.DecimalType

import scala.collection.immutable.ListMap

/** Shared table/decimal/staging helpers every query family builds on.
  *
  * One trait of the [[Inventory]] registry split (r12 verdict #7):
  * the single `queries` ListMap + `oracleSql` map in [[Inventory]]
  * remain the registry face; the linear trait chain preserves the
  * original member initialization order.
  */
private[queries] trait InventoryShared {


  private[queries] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // the generator has shipped events.ts as both TIMESTAMP(NANOS)
      // and timestamp[us] across rounds — sniff the footer and adapt
      // (see graft.sources.EventsTable)
      graft.sources.EventsTable.read(spark, s"$dir/$name.parquet")
    } else {
      FooterSchema.read(spark, s"$dir/$name.parquet")
    }


  /** Exact engine-agnostic money representation (see scaladoc). */
  private[queries] def dec(c: Column): Column = c.cast(DecimalType(18, 2))


  /** Run a bounded streaming query with a small state-partition count.
    * The number of state partitions is fixed at stream start from
    * `spark.sql.shuffle.partitions`, and every state store pays a
    * per-store fixed commit cost per micro-batch (~1 s measured on the
    * HDFS-backed provider; a stream-stream join keeps FOUR stores per
    * partition, so 32 partitions = 128 store commits per batch for KBs
    * of state). Bounded parity queries size to their state — a real
    * deployment sizes partitions to state volume, not core count.
    */
  private[queries] def withStreamPartitions[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }


  /** Stage one table file into a fresh ingest directory (the file
    * stream source requires a directory) and clean it up afterwards —
    * repeated bench runs must not accumulate table copies in /tmp. The
    * body must finish streaming before returning; memory-sink reads
    * after that no longer touch the source files.
    */
  private[queries] def withStagedTable[T](d: String, table: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_src_$table")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$d/$table.parquet"),
      dir.resolve(s"$table.parquet"))
    try f(dir.toString)
    finally {
      java.nio.file.Files.deleteIfExists(dir.resolve(s"$table.parquet"))
      java.nio.file.Files.deleteIfExists(dir)
    }
  }


  private[queries] val oneDec: Column = lit(1).cast(DecimalType(18, 2))
}
