package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side parquet schema: the schema `spark.read.parquet(path)`
  * would infer, from one footer read, with no Spark job.
  *
  * Without a schema, the parquet source infers one through
  * `ParquetFileFormat.mergeSchemasInParallel`, which runs a
  * `parallelize(...).collect()` job even for one file — a scheduler
  * round-trip per table open, per micro-batch in a stream, to learn a
  * schema the driver can read itself. Inference (no schema merging)
  * reads ONE data file's footer; this reads the same kind of file with
  * the same conversion (`readSchemaFromFooter` under a converter built
  * from the session's conf), and `spark.read.schema(s).parquet(path)`
  * then plans exactly what inference planned: partition columns are
  * still discovered from the paths and appended after the data columns.
  *
  * Nothing is cached: a footer read is a few milliseconds, and a cached
  * schema would go stale under an overwrite.
  */
object FooterSchema {

  /** The data file inference would read under `path`: `path` itself
    * when it is a file, else the first file below it outside Spark's
    * hidden names (`_SUCCESS`, `_temporary` staging, `.crc` files, the
    * `_meta`/`_increments` sidecars of an index layout). None when
    * there is none (a missing path, an empty or zero-row
    * `partitionBy` directory, a glob).
    */
  def dataFile(spark: SparkSession, path: String): Option[Path] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Spark's listing rule, less its exemption for the `_metadata`
    // summary files, which hold no rows
    def visible(s: FileStatus) = {
      val n = s.getPath.getName
      !HadoopFSUtils.shouldFilterOutPathName(n) && !(n.startsWith("_") && !n.contains("="))
    }
    def first(s: FileStatus): Option[Path] =
      if (s.isFile) Some(s.getPath)
      else {
        val (files, dirs) = fs.listStatus(s.getPath).filter(visible).partition(_.isFile)
        files.headOption.map(_.getPath)
          .orElse(dirs.iterator.map(first).collectFirst { case Some(f) => f })
      }
    try first(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** The Spark schema of the parquet file `file`, converted by the
    * rule inference uses: the Spark metadata footer entry when present,
    * else the parquet schema under the session's conf (so
    * `spark.sql.legacy.parquet.nanosAsLong` and friends apply).
    */
  def ofFile(spark: SparkSession, file: Path): StructType = {
    val in = HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The data schema of the parquet at `path` (partition columns
    * excluded), None when it holds no data file ([[dataFile]]).
    */
  def of(spark: SparkSession, path: String): Option[StructType] =
    dataFile(spark, path).map(ofFile(spark, _))

  /** The schema to open `path` under: its data file's ([[of]]), or,
    * with no data file, what inference gives, so a missing or empty
    * path fails with Spark's own error.
    */
  def schema(spark: SparkSession, path: String): StructType =
    of(spark, path).getOrElse(spark.read.parquet(path).schema)

  /** `spark.read.parquet(path)` under [[schema]]. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)
}
