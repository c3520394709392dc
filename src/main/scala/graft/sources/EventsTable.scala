package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types._

/** Schema-adaptive ingestion for the driver's `events` table.
  *
  * The test-data generator has shipped `ts` in two physical parquet
  * layouts across rounds: TIMESTAMP(NANOS) — which Spark's reader only
  * surfaces as raw int64 via `spark.sql.legacy.parquet.nanosAsLong` —
  * and plain timestamp[us]. Hard-coding either layout breaks the other
  * (the nanos shim on a micros file fails analysis batch-side and
  * compresses the timeline 1000x stream-side), so both the batch
  * reader and the streaming source sniff the parquet footer and shim
  * only when `ts` really arrives as int64. The sniff is one footer
  * read on the driver — free at any scale, and the resulting logical
  * plan is identical either way: `ts` is always TimestampType micros
  * downstream (exactly what DuckDB produces for both layouts).
  */
object EventsTable {

  private val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** Footer schema, read driver-side ([[FooterSchema]], no Spark job)
    * with nanosAsLong enabled so a TIMESTAMP(NANOS) footer converts
    * `ts` to LongType instead of throwing. The previous conf value is
    * restored unless the footer really is int64-nanos: in that one
    * case the conf must stay enabled because the physical reader
    * consults it again at execution time (the DataFrame is lazy) and
    * Spark 4.1 exposes no per-read ParquetOptions equivalent. Micros
    * files — the common case — therefore no longer leak the
    * session-global shim into unrelated parquet reads.
    */
  def sniffSchema(s: SparkSession, path: String): StructType = {
    val prev = s.conf.getOption(NanosConf)
    def restore(): Unit = prev match {
      case Some(v) => s.conf.set(NanosConf, v)
      case None    => s.conf.unset(NanosConf)
    }
    s.conf.set(NanosConf, "true")
    val schema =
      try FooterSchema.schema(s, path)
      catch { case t: Throwable => restore(); throw t }
    if (!schema.fields.exists(f => f.name == "ts" && f.dataType == LongType)) restore()
    schema
  }

  /** Normalize whatever layout the scan produced to TimestampType
    * micros. Session timezone is pinned to UTC by every entry point,
    * so the NTZ cast is the identity on the stored micros.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      // raw int64 nanos: truncate to micros, exactly DuckDB's read path
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df // already TimestampType
  }

  /** Batch read with `ts` normalized to TimestampType micros, under the
    * sniffed schema (the sniff also enables the nanos conf the read
    * needs).
    */
  def read(s: SparkSession, path: String): DataFrame =
    normalizeTs(s.read.schema(sniffSchema(s, path)).parquet(path))

  /** Streaming file source over a directory of events parquet, schema
    * derived from the first file's footer (file stream sources don't
    * infer), `ts` normalized identically to the batch path. NOTE:
    * changing the on-disk layout changes the source schema, which
    * invalidates existing checkpoints — covered by StreamingSpec's
    * recovery test.
    */
  def readStream(s: SparkSession, srcDir: String): DataFrame = {
    val schema = sniffSchema(s, srcDir)
    normalizeTs(s.readStream.schema(schema).parquet(srcDir))
  }
}
