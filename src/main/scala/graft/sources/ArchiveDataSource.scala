package graft.sources

import graft.convert.ArchiveConverter.WalkMetrics
import graft.core.{ArchiveChunk, ArchiveChunkSchema, ArchiveEntry, ArchiveSchema, ConvertOptions}
import graft.walk.ArchiveWalker
import java.io.InputStream
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one batch walk path, as a DataSource V2 source:
  * `spark.read.format("archive").load(paths*)` and the converter
  * (`ArchiveConverter.entries` and all built on it) scan it, and the
  * streaming converter calls its per-input walk. Catalyst owns the scan:
  *
  *   - **one InputPartition per input archive** — the morsel unit
  *     (task-per-input, no AQE-coalescible exchange); the converter
  *     narrows it with a `coalesce`, which is no exchange either;
  *   - **column pruning reaches the walker**: a query that projects
  *     neither `content` nor `hash` still streams every entry (sizes
  *     require reading, and tar/zip iteration advances by reading)
  *     but allocates NO content buffers and computes NO digests —
  *     `SELECT path, size FROM archive` over 100 TB of archives never
  *     materializes an entry (`ConvertOptions.materializeContent` /
  *     `computeHash`, asserted in SourcesSpec);
  *   - early-stop safe: the walker closes its input on task
  *     completion (round-6 walker fix), so `LIMIT` above this scan
  *     leaks nothing.
  *
  * String options (all optional): `maxDepth`, `maxEntryBytes`,
  * `extractStrings`, `skipErrors`, `truncateOversize`,
  * `sevenZMemSpoolMax` — the walker knobs with the same defaults as
  * [[graft.core.ConvertOptions]].
  * Paths may be local files, directories (expanded one level), globs,
  * or http(s)/file URLs (walked via the S2 streaming source).
  */
class ArchiveDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "archive"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ArchiveSchema.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // fixed-schema source: a caller-supplied `.schema(...)` must match
    // exactly — silently proceeding with the archive schema would hand
    // the user columns they did not declare (standard TableProvider
    // behavior for fixed-schema sources)
    require(schema == ArchiveSchema.schema,
      s"archive source has a fixed schema ${ArchiveSchema.schema.simpleString}; " +
        s"got ${schema.simpleString}. Drop .schema(...) and project instead.")
    new ArchiveTable(properties)
  }
}

/** The walk as a table. `spark.read.format("archive")` and catalog
  * tables build it from string options (table properties, scan options
  * over them, paths expanded driver-side); the converter builds it from
  * its inputs verbatim, its [[ConvertOptions]] and its counters.
  */
final class ArchiveTable private (
    properties: java.util.Map[String, String],
    direct: Option[(Seq[String], ConvertOptions)],
    metrics: Option[WalkMetrics])
    extends Table with SupportsRead {

  def this(properties: java.util.Map[String, String]) = this(properties, None, None)

  def this(inputs: Seq[String], opts: ConvertOptions, metrics: Option[WalkMetrics]) =
    this(java.util.Collections.emptyMap[String, String](), Some((inputs, opts)), metrics)

  override def name(): String = "archive"
  override def schema(): StructType =
    direct.fold(ArchiveSchema.schema)(d => ArchiveTable.rowSchema(d._2))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = direct match {
    case Some((inputs, opts)) => new ArchiveScanBuilder(inputs, opts, metrics)
    case None =>
      // a catalog table carries its OPTIONS as table properties, a
      // DataFrameReader scan as scan options; scan-time options win
      val merged = new java.util.HashMap[String, String](properties)
      merged.putAll(options)
      val m = new CaseInsensitiveStringMap(merged)
      new ArchiveScanBuilder(ArchiveScan.expandPaths(m), ConvertOptions(
        maxDepth = Option(m.get("maxDepth")).map(_.toInt).getOrElse(32),
        maxEntryBytes = Option(m.get("maxEntryBytes")).map(_.toLong).getOrElse(1L << 30),
        extractStrings = m.getBoolean("extractStrings", false),
        skipErrors = m.getBoolean("skipErrors", false),
        truncateOversize = m.getBoolean("truncateOversize", false),
        sevenZMemSpoolMax = Option(m.get("sevenZMemSpoolMax")).map(_.toLong).getOrElse(64L << 20)),
        None)
  }
}

object ArchiveTable {
  /** Chunk rows when `opts.chunked`, entry rows otherwise. */
  private[sources] def rowSchema(opts: ConvertOptions): StructType =
    if (opts.chunked) ArchiveChunkSchema.schema else ArchiveSchema.schema
}

/** Column pruning and filter pushdown over `inputs`. A counting scan
  * (`metrics` set: the converter's) pushes no filter, so its counters
  * see every entry of every input at its full size — the
  * [[graft.convert.ArchiveConverter.ConversionStats]] contract that
  * `entriesRead`/`bytesRead` count entries before the filters.
  */
final class ArchiveScanBuilder(
    inputs: Seq[String], opts: ConvertOptions, metrics: Option[WalkMetrics])
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = ArchiveTable.rowSchema(opts)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Catalyst hands us the projected subset; an empty struct (e.g.
    // COUNT(*)) is legal and prunes everything
    required = requiredSchema

  /** Three pushdown families, all conservative — every filter is also
    * returned as residual so Spark re-applies it row-side; pushing can
    * never change results, only skip work:
    *
    *   - `source` conjuncts drop whole archives at PLANNING time —
    *     the archive analogue of Hive partition pruning
    *     (`WHERE source = '/x/a.tar.gz'` over 10k archives plans ONE
    *     partition);
    *   - `size` bound conjuncts fold into a half-open
    *     [pruneSizeMin, pruneSizeMax) the WALKER enforces: an entry
    *     reaching the upper bound stops buffering and hashing
    *     mid-stream (it cannot survive the residual filter);
    *   - `path` StringStartsWith conjuncts prune in-walk: a
    *     non-matching leaf is never buffered or digested, and a
    *     nested archive whose lineage cannot produce a matching path
    *     is skipped without expansion.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = if (metrics.nonEmpty) Array.empty else filters.filter {
      case EqualTo("source", _: String)            => true
      case In("source", _)                         => true
      case StringStartsWith("source", _)           => true
      case StringStartsWith("path", _)             => true
      case GreaterThan("size", _: Number)          => true
      case GreaterThanOrEqual("size", _: Number)   => true
      case LessThan("size", _: Number)             => true
      case LessThanOrEqual("size", _: Number)      => true
      case EqualTo("size", _: Number)              => true
      case _                                       => false
    }
    filters // all residual: pushed columns still evaluate row-side
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def keep(path: String): Boolean = pushed.forall {
    case EqualTo("source", v: String)      => path == v
    case In("source", vs)                  => vs.exists(_ == path)
    case StringStartsWith("source", p)     => path.startsWith(p)
    case _                                 => true
  }

  /** Fold the pushed `size` conjuncts and the caller's own
    * `pruneSizeMin`/`pruneSizeMax` into one half-open walker range.
    * Bounds compose by intersection (max of lower, min of upper).
    */
  private def sizeBounds: (Option[Long], Option[Long]) = {
    var lo = opts.pruneSizeMin
    var hi = opts.pruneSizeMax
    def raiseLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def lowerHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    pushed.foreach {
      // the +1 half-open conversions skip Long.MaxValue: overflowing
      // to a negative bound would make the walker drop EVERY row, and
      // dropped rows are beyond the residual filter's reach (pushdown
      // must only ever drop rows the predicate provably excludes)
      case GreaterThanOrEqual("size", v: Number) => raiseLo(v.longValue)
      case GreaterThan("size", v: Number) if v.longValue < Long.MaxValue =>
        raiseLo(v.longValue + 1)
      case LessThan("size", v: Number)           => lowerHi(v.longValue)
      case LessThanOrEqual("size", v: Number) if v.longValue < Long.MaxValue =>
        lowerHi(v.longValue + 1)
      case EqualTo("size", v: Number) if v.longValue < Long.MaxValue =>
        raiseLo(v.longValue); lowerHi(v.longValue + 1)
      case _                                     => ()
    }
    (lo, hi)
  }

  override def build(): Scan = {
    val names = required.fieldNames
    val (lo, hi) = sizeBounds
    val scanOpts = opts.copy(
      materializeContent = opts.materializeContent && names.contains("content"),
      computeHash = opts.computeHash && names.contains("hash"),
      pruneSizeMin = lo.filter(_ > 0),
      pruneSizeMax = hi,
      prunePathPrefixes =
        opts.prunePathPrefixes ++ pushed.collect { case StringStartsWith("path", p) => p })
    new ArchiveScan(inputs.filter(keep), required, scanOpts, pushed, metrics)
  }
}

object ArchiveScan {
  /** Local paths stay bare (the walker opens them with File IO and the
    * `source` column matches the user's input string); any other
    * filesystem keeps its full scheme+authority — stripping them (the
    * old `.toUri.getPath`) silently turned `hdfs://nn/x` into `/x`,
    * which the walker then opened as a (wrong or missing) LOCAL file.
    * The walker only speaks local files and http(s); other schemes are
    * rejected here with a clear error instead of a misleading
    * FileNotFound downstream.
    */
  private def walkablePath(p: org.apache.hadoop.fs.Path): String = {
    val scheme = p.toUri.getScheme
    if (scheme == null || scheme == "file") p.toUri.getPath
    else throw new IllegalArgumentException(
      s"archive source cannot walk $p: scheme '$scheme' is not supported " +
        "(local paths and http(s) URLs only)")
  }

  /** Driver-side path expansion: `.load(p1, p2)` arrives as a JSON
    * array under "paths", a single `.load(p)` under "path". URLs pass
    * through; local entries glob-expand, directories one level.
    */
  private[sources] def expandPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw: Seq[String] = Option(options.get("paths")) match {
      case Some(json) =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(json, classOf[Array[String]]).toSeq
      case None => Option(options.get("path")).toSeq
    }
    require(raw.nonEmpty, "archive source: no path given (use .load(path, ...))")
    val conf = new org.apache.hadoop.conf.Configuration()
    raw.flatMap { p =>
      if (p.startsWith("http://") || p.startsWith("https://") || p.startsWith("file:")) Seq(p)
      else {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
        if (matched.isEmpty) Seq(p) // defer to the walker's open error
        else matched.flatMap { st =>
          if (st.isDirectory)
            fs.listStatus(st.getPath).filter(_.isFile).map(p => walkablePath(p.getPath)).sorted.toSeq
          else Seq(walkablePath(st.getPath))
        }
      }
    }
  }
}

final class ArchiveScan(paths: Seq[String], required: StructType, opts: ConvertOptions,
    pushed: Array[Filter] = Array.empty, metrics: Option[WalkMetrics] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"archive walk of ${paths.size} inputs, columns [${required.fieldNames.mkString(", ")}]" +
      (if (pushed.isEmpty) "" else s", PushedFilters: [${pushed.mkString(", ")}]")
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(p => ArchiveInputPartition(p): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ArchiveReaderFactory(required.fieldNames, opts, metrics)
}

final case class ArchiveInputPartition(path: String) extends InputPartition

final class ArchiveReaderFactory(
    fieldNames: Array[String], opts: ConvertOptions, metrics: Option[WalkMetrics])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ArchivePartitionReader(
      partition.asInstanceOf[ArchiveInputPartition].path, fieldNames, opts, metrics)
}

/** One input's rows: plain entries, or chunks when `opts.chunked`,
  * projected onto the pruned columns.
  */
final class ArchivePartitionReader(path: String, fieldNames: Array[String],
    opts: ConvertOptions, metrics: Option[WalkMetrics] = None)
    extends PartitionReader[InternalRow] {
  import ArchivePartitionReader._
  // ArchiveEntry and ArchiveChunk list their fields in schema order
  private val getters: Array[Product => Any] = {
    val schema = ArchiveTable.rowSchema(opts)
    fieldNames.map { n =>
      val i = schema.fieldIndex(n)
      if (schema(i).dataType == StringType)
        (e: Product) => UTF8String.fromString(e.productElement(i).asInstanceOf[String])
      else (e: Product) => e.productElement(i)
    }
  }
  private val it: Iterator[Product] =
    if (opts.chunked) chunks(path, opts, metrics) else entries(path, opts, metrics)
  private var cur: Product = _

  override def next(): Boolean = it.hasNext && { cur = it.next(); true }
  override def get(): InternalRow = new GenericInternalRow(getters.map(_(cur)))
  // the walker closes its stream on exhaustion AND on task completion
  // (early stop), so there is nothing to release here
  override def close(): Unit = ()
}

/** The one per-input walk, shared by the source's reader and the
  * streaming converter: open the input through the raw-read tap, walk
  * it, contain its failure under `skipErrors`, and keep the
  * [[WalkMetrics]] counters.
  */
object ArchivePartitionReader {

  def entries(input: String, opts: ConvertOptions,
      metrics: Option[WalkMetrics]): Iterator[ArchiveEntry] =
    walkOne(input, opts, metrics)(ArchiveWalker.walkInput(input, opts, _))(_.size)

  def chunks(input: String, opts: ConvertOptions,
      metrics: Option[WalkMetrics]): Iterator[ArchiveChunk] =
    walkOne(input, opts, metrics)(ArchiveWalker.walkInputChunked(input, opts, _))(_.size)

  /** W7 containment: under `skipErrors` a throw while opening or
    * walking the input ends THAT input's rows (rows already emitted
    * stay), counts an error and logs one line; otherwise it propagates
    * (task failure => Spark retry => job abort, the reference's
    * poisoned-channel semantics). The input counts as done when its
    * rows end; an early-stopped consumer never gets there, so started
    * vs done then reads as in-flight, which is accurate.
    */
  private def walkOne[T](input: String, opts: ConvertOptions, metrics: Option[WalkMetrics])(
      open: (InputStream => InputStream) => Iterator[T])(sizeOf: T => Long): Iterator[T] = {
    val m = metrics.orNull
    if (m != null) m.inputs.add(1L)
    // per-input raw-read tap (reference wraps each input reader,
    // src/converter/progress.rs:91-106); identity when untracked
    val tap: InputStream => InputStream =
      if (m == null) identity else in => new TapStream(in, d => m.perInputBytes.add(input -> d))
    new Iterator[T] {
      private var it: Iterator[T] = _
      private var pending: T = _
      private var has = false
      private var done = false
      private def finish(): Unit = {
        done = true
        if (m != null) { m.inputsDone.add(1L); m.perInputDone.add(input -> 1L) }
      }
      private def advance(): Unit =
        if (!has && !done) {
          try {
            if (it == null) it = open(tap)
            if (it.hasNext) { pending = it.next(); has = true } else finish()
          } catch {
            case t: Throwable if opts.skipErrors =>
              if (m != null) m.errors.add(1L)
              System.err.println(s"[graft] skipping failed input $input: " +
                s"${t.getClass.getSimpleName}: ${t.getMessage}")
              finish()
          }
        }
      override def hasNext: Boolean = { advance(); has }
      override def next(): T = {
        advance()
        if (!has) throw new NoSuchElementException("input ended")
        has = false
        if (m != null) { m.entries.add(1L); m.bytes.add(sizeOf(pending)) }
        pending
      }
    }
  }

  /** Raw-read tap for per-input progress (the reference wraps each
    * input reader in an indicatif ProgressBarIter the same way,
    * src/converter/progress.rs:91-106). Ticks in >=1 MiB batches so
    * the hot read path pays one long-add per buffer, not per call;
    * flushes the remainder at EOF and close.
    */
  private final class TapStream(in: InputStream, tick: Long => Unit)
      extends java.io.FilterInputStream(in) {
    private var pending = 0L
    private def bump(n: Long): Unit = if (n > 0) {
      pending += n
      if (pending >= (1L << 20)) { tick(pending); pending = 0L }
    }
    private def flush(): Unit = if (pending > 0) { tick(pending); pending = 0L }
    override def read(): Int = {
      val b = super.read(); if (b >= 0) bump(1L) else flush(); b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n >= 0) bump(n.toLong) else flush(); n
    }
    // tar inter-entry padding and trailing blocks are often skip()ed,
    // not read — count them too or bars under-run the file size
    override def skip(n: Long): Long = { val s = super.skip(n); bump(s); s }
    override def close(): Unit = { flush(); super.close() }
  }
}
