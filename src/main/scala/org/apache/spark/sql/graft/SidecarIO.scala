package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-side writer for KB-sized parquet SIDECARS (`_meta`,
  * `_codebooks`, drift reports, rebuild fences, Bloom bitmap rows).
  *
  * Every sidecar in the engine is a handful of rows the DRIVER already
  * holds; writing them through `Seq(...).toDF.coalesce(1).write` costs
  * a full Spark job per sidecar — scheduling, a task, codegen and the
  * two-phase output committer — for one small file. A composed fixture
  * (layout + codebooks + per-batch drift reports + fence) pays that job
  * tax four-plus times per run, and at cluster scale each of those jobs
  * is a pointless scheduler round-trip for data that never left the
  * driver (guide §1.2: remove passes that compute nothing).
  *
  * This writes the same bytes Spark's own parquet sink produces — it
  * IS Spark's [[ParquetWriteSupport]] under a plain parquet-mr
  * [[ParquetWriter]] — so every existing reader (`spark.read.parquet`
  * over the directory or explicit part paths, partition discovery over
  * `ingest_batch=` parents, DuckDB) is untouched.
  *
  * Crash discipline: the row group is staged as a hidden dot-file
  * (`.part-...parquet.tmp`) INSIDE the directory, and the old `part-`
  * files are replaced only after it is closed. A write that fails
  * (a killed writer, a row that does not convert) leaves the previous
  * sidecar readable — an overwrite of a live sidecar (the drift
  * series' `_rebuilt` fence) never has a window with no sidecar while
  * the new rows are being encoded. Only a crash between deleting the
  * old parts and the final rename leaves a directory with no part
  * files, which `Layouts.collectSidecar` curates as the
  * interrupted-write case.
  */
object SidecarIO {

  /** Overwrite `dir` with a single-part parquet file holding `rows`
    * under `schema` (staged first; the old contents go only once the
    * new part is closed). Driver-side: no Spark job. `rows` are external
    * [[Row]]s (the `Seq(...).toDF` input shape).
    */
  def writeParquetDir(spark: SparkSession, dir: String,
      schema: StructType, rows: Seq[Row]): Unit = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    ParquetWriteSupport.setSchema(schema, conf)
    // the conf entries ParquetWriteSupport.init asserts on (the file
    // sink sets these in prepareWrite); sidecar schemas carry no
    // datetime columns, so the rebase modes are formal
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")

    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(conf)
    fs.mkdirs(dirPath)
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dirPath, s".part-00000-$uuid.snappy.parquet.tmp")
    val dst = new Path(dirPath, s"part-00000-$uuid.c000.snappy.parquet")

    val support = new ParquetWriteSupport
    class B(p: Path) extends ParquetWriter.Builder[InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] =
        support
    }
    val writer = new B(tmp)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      try {
        val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
        rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
      } finally writer.close()
    } catch {
      case e: Throwable =>
        fs.delete(tmp, false)
        throw e
    }
    // the new part is complete: replace everything else in the
    // directory (old parts, a committer's _SUCCESS) with it
    fs.listStatus(dirPath).map(_.getPath).filter(_.getName != tmp.getName)
      .foreach(fs.delete(_, true))
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"sidecar rename failed: $tmp -> $dst")
  }

  /** Read the given parquet part files DRIVER-SIDE into external
    * [[Row]]s (the `spark.read.parquet(parts).collect()` result shape,
    * including each Row's schema) — no Spark job. The sidecar read is
    * one KB-sized file; a job per read was scheduler tax exactly like
    * the write side. Each file's schema is its footer's
    * ([[FooterSchema.ofFile]]).
    */
  def readParquetParts(spark: SparkSession, parts: Seq[String]): Array[Row] = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    // the conf entries ParquetReadSupport's schema converter
    // `.toBoolean`s (the scan builder sets these; defaults per SQLConf)
    conf.set(SQLConf.CASE_SENSITIVE.key, "false")
    conf.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    conf.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    conf.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    conf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    conf.set(SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION.key, "false")
    conf.set(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key, "false")
    conf.set(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, "true")
    val out = Array.newBuilder[Row]
    parts.foreach { part =>
      val p = new Path(part)
      val schema = FooterSchema.ofFile(spark, p)
      val fileConf = new Configuration(conf)
      fileConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
      val toScala = CatalystTypeConverters.createToScalaConverter(schema)
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder[InternalRow](new ParquetReadSupport(), p)
        .withConf(fileConf)
        .build()
      try {
        var row = reader.read()
        while (row != null) {
          out += toScala(row).asInstanceOf[Row]
          row = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }
}
