package graft.convert

import graft.core.{ArchiveChunk, ArchiveEntry, ArchiveSchema, ConvertOptions, IncludeType}
import graft.functions.{DigestCacheMiss, GraftFunctions, RunStart}
import graft.ops.Quality
import graft.sources.ArchiveTable
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.graft.GraftShims.{column, expression}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The reference's entire fixed pipeline, re-expressed as one
  * declarative Spark plan (reference trace: SURVEY.md §3.1):
  *
  * {{{
  * archive source scan (recursive walk)                   // one partition per input
  *       -> coalesce(width)                               // narrow
  *       -> filter(text/binary, size range)               // narrow
  *       -> [filter(digest_cache_miss(hash))              // narrow, 2 MiB per task
  *       -> repartition(hash)                             // 1 shuffle
  *       -> sortWithinPartitions(hash)
  *       -> filter(run_start(hash))]                      // narrow
  *       -> write.parquet                                 // task-per-partition
  * }}}
  *
  * The walk is the `archive` source ([[graft.sources.ArchiveTable]])
  * built from the inputs and options directly: one walk path, shared
  * with `spark.read.format("archive")`, column pruning included.
  *
  * Scale notes (designed for a 1000-executor cluster, tested local):
  *   - one input archive is the unit of work (morsel parallelism — the
  *     unit the reference uses too, converter/base.rs:45-65), and
  *     `parallelism` inputs walk at once; inputs stream through
  *     decompressors, an archive is never materialized;
  *   - zero shuffles without `unique`; exactly one hash-partitioned
  *     exchange and one sort with it ([[uniqueByHash]]), and no
  *     aggregate. Spark's `dropDuplicates("hash")` plans a two-phase
  *     SortAggregate (SortAggregate <- Sort <- Exchange <-
  *     SortAggregate <- Sort; a `first` buffer over the binary and
  *     string columns is not fixed-width, so HashAggregate is out),
  *     which copies every row's content into a sorter and into
  *     `first` buffers on both sides of the exchange. Instead a
  *     bounded task-local digest cache drops repeats before the
  *     exchange, and a run-start filter over the reduce side's sort
  *     keeps one row per hash exactly. The external sort spills
  *     instead of holding the reference's unbounded in-memory HashSet
  *     (src/sink.rs:59-73), and leaves each output file ordered by
  *     hash, so a hash lookup skips pages by their statistics. The
  *     streaming converter keeps `dropDuplicates("hash")`: a stream
  *     needs its dedup state across micro-batches.
  *     (A zero-content-shuffle design — elect winner row-ids by hash,
  *     route the id set back to each partition — was considered and
  *     rejected: it either recomputes the walk (2× read+decompress)
  *     or caches the full corpus; moving each surviving row once is
  *     the floor for a single-pass global dedup.)
  *   - filters are evaluated before the shuffle/write, so filtered
  *     content never crosses the wire. Unlike the reference (which
  *     builds full batches, then filters columnar — src/batch.rs:133-155)
  *     Catalyst pipelines the predicate into the same stage as the walk;
  *   - conversion stats come from accumulators + `Dataset.observe`
  *     metrics collected during the write — no post-write re-scan
  *     (reference D2: src/progress.rs:11-133);
  *   - writer properties mirror the reference's tuned Parquet sink
  *     (src/sink.rs:23-55).
  */
object ArchiveConverter {

  final case class ConversionStats(
      rows: Long,           // rows written (post-filter/dedup)
      bytes: Long,          // content bytes written
      inputs: Long,         // top-level inputs walked
      entriesRead: Long,    // entries extracted before filters
      bytesRead: Long,      // content bytes extracted before filters
      errors: Long = 0)     // inputs skipped (skipErrors mode only)

  /** Key-summing accumulator for per-input counters. Bounded by the
    * input LIST (user-supplied, thousands at most), never the data:
    * safe to merge driver-side. Like any AccumulatorV2, `value` merges
    * at task COMPLETION; mid-task reads go through [[LiveWalkCounters]],
    * which folds in the running-task partials heartbeats deliver.
    */
  final class MapAccumulator
      extends org.apache.spark.util.AccumulatorV2[(String, Long), Map[String, Long]] {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    // explicit Serializable: the accumulator (fields included) ships
    // inside task closures; a bare SAM lambda would not survive that
    private val sum = new java.util.function.BiFunction[java.lang.Long, java.lang.Long, java.lang.Long]
        with Serializable {
      override def apply(a: java.lang.Long, b: java.lang.Long): java.lang.Long = a + b
    }
    override def isZero: Boolean = m.isEmpty
    override def copy(): MapAccumulator = {
      val c = new MapAccumulator
      m.forEach((k, v) => c.m.put(k, v))
      c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (String, Long)): Unit = m.merge(v._1, v._2, sum)
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[(String, Long), Map[String, Long]]): Unit =
      other match {
        case o: MapAccumulator => o.m.forEach((k, v) => m.merge(k, v, sum))
        case o => throw new UnsupportedOperationException(s"cannot merge ${o.getClass}")
      }
    override def value: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      m.forEach((k, v) => b += k -> v.longValue)
      b.result()
    }
  }

  /** Read-side counters incremented inside the archive source's
    * per-input walk ([[graft.sources.ArchivePartitionReader.entries]];
    * reference: src/progress.rs:11-133, src/channel.rs:28-49).
    */
  final class WalkMetrics(spark: SparkSession) extends Serializable {
    val inputs: LongAccumulator = spark.sparkContext.longAccumulator("graft.inputs")
    // inputs whose walk ran to exhaustion (reference progress.rs
    // renders per-input bars; started vs finished is the aggregate)
    val inputsDone: LongAccumulator = spark.sparkContext.longAccumulator("graft.inputsDone")
    val entries: LongAccumulator = spark.sparkContext.longAccumulator("graft.entries")
    val bytes: LongAccumulator = spark.sparkContext.longAccumulator("graft.bytesRead")
    val errors: LongAccumulator = spark.sparkContext.longAccumulator("graft.inputErrors")
    // per-input RAW bytes read off the input stream (compressed size —
    // what a bar against the on-disk size must count) and per-input
    // completion, for the multi-bar renderer
    val perInputBytes: MapAccumulator = new MapAccumulator
    val perInputDone: MapAccumulator = new MapAccumulator
    spark.sparkContext.register(perInputBytes, "graft.perInputBytes")
    spark.sparkContext.register(perInputDone, "graft.perInputDone")
  }

  /** Live view over [[WalkMetrics]]: registered `AccumulatorV2.value`
    * only advances when a TASK COMPLETES (executor heartbeats feed the
    * listener bus, not the accumulator), and the walk pins one task
    * per input slice — so raw accumulator reads would freeze until
    * inputs finish. This listener captures the running-task partials
    * heartbeats carry (`SparkListenerExecutorMetricsUpdate`, matched
    * by accumulator id) and merges them with the completed-task values
    * on read. Partials are cumulative per task, and the walk's input
    * slices are disjoint, so completed + running never double-counts;
    * a finished task's partial is dropped on `onTaskEnd` the moment
    * its final value lands in the accumulator itself. Heartbeat
    * cadence (spark.executor.heartbeatInterval, default 10 s) bounds
    * the staleness.
    */
  final class LiveWalkCounters(metrics: WalkMetrics)
      extends org.apache.spark.scheduler.SparkListener {
    private val trackedIds: Set[Long] = Set(
      metrics.inputs.id, metrics.inputsDone.id, metrics.entries.id,
      metrics.bytes.id, metrics.errors.id,
      metrics.perInputBytes.id, metrics.perInputDone.id)
    // (taskId, accId) -> that task's cumulative partial value
    private val partials =
      new java.util.concurrent.ConcurrentHashMap[(Long, Long), Any]()

    private[graft] def recordPartial(taskId: Long, accId: Long, v: Any): Unit =
      if (trackedIds.contains(accId)) partials.put((taskId, accId), v)

    private[graft] def dropTask(taskId: Long): Unit =
      partials.keySet.removeIf(k => k._1 == taskId)

    override def onExecutorMetricsUpdate(
        e: org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate): Unit =
      for {
        (taskId, _, _, infos) <- e.accumUpdates
        info <- infos
        u <- info.update
      } recordPartial(taskId, info.id, u)

    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      dropTask(e.taskInfo.taskId)

    private def partialsFor(accId: Long): Iterator[Any] = {
      import scala.jdk.CollectionConverters._
      partials.entrySet().iterator().asScala
        .filter(_.getKey._2 == accId).map(_.getValue)
    }

    def longValue(acc: LongAccumulator): Long =
      acc.value + partialsFor(acc.id).map {
        case l: java.lang.Long => l.longValue
        case other => other.toString.toLong
      }.sum

    def mapValue(acc: MapAccumulator): Map[String, Long] =
      partialsFor(acc.id).foldLeft(acc.value) {
        case (m, p: Map[_, _]) =>
          p.asInstanceOf[Map[String, Long]].foldLeft(m) {
            case (mm, (k, v)) => mm.updated(k, mm.getOrElse(k, 0L) + v)
          }
        case (m, _) => m
      }
  }

  /** The `archive` source over `inputs`, verbatim (they become the
    * `source` column), coalesced from one partition per input to
    * min(inputs, parallelism) tasks. `coalesce` is no exchange, so AQE
    * has nothing to shrink and `parallelism` is the task count.
    */
  private def walked(
      spark: SparkSession,
      inputs: Seq[String],
      opts: ConvertOptions,
      metrics: Option[WalkMetrics]): DataFrame = {
    require(inputs.nonEmpty, "no inputs")
    val par = opts.parallelism.getOrElse(spark.sparkContext.defaultParallelism)
    GraftShims.tableFrame(spark, new ArchiveTable(inputs, opts, metrics))
      .coalesce(math.max(1, math.min(inputs.size, par)))
  }

  /** The walked, unfiltered entry Dataset — the engine's logical source.
    * Inputs may be local paths or http(s)/file URLs (reference S1/S2:
    * src/converter/mod.rs:20-35, src/main.rs:200-220).
    */
  def entries(
      spark: SparkSession,
      inputs: Seq[String],
      opts: ConvertOptions,
      metrics: Option[WalkMetrics] = None): Dataset[ArchiveEntry] = {
    import spark.implicits._
    walked(spark, inputs, opts.copy(chunked = false), metrics).as[ArchiveEntry]
  }

  /** Chunked walk Dataset (see [[graft.walk.ArchiveWalker.walkChunked]]):
    * entries longer than `opts.maxEntryBytes` become multiple rows
    * indexed by `content_part` instead of failing or truncating — the
    * ingest shape for corpora with entries beyond the 2 GiB JVM array
    * cap. Same scan as [[entries]] with [[graft.core.ArchiveChunkSchema]]
    * rows; note the entries/bytes counters count CHUNK rows here, so a
    * split entry counts once per part.
    */
  def chunkedEntries(
      spark: SparkSession,
      inputs: Seq[String],
      opts: ConvertOptions,
      metrics: Option[WalkMetrics] = None): Dataset[ArchiveChunk] = {
    import spark.implicits._
    walked(spark, inputs, opts.copy(chunked = true), metrics).as[ArchiveChunk]
  }

  /** Reassemble a chunked frame ([[chunkedEntries]]' schema) back into
    * canonical 5-column entries: parts concatenate in `content_part`
    * order, `size`/`hash` describe the WHOLE entry (the digest the
    * plain walk would have produced). One (source, path)-keyed
    * exchange carrying content.
    *
    * This is a verification/repair tool for entries that fit a JVM
    * array (it materializes each whole entry to digest it — the exact
    * thing chunking avoids); entries whose total size exceeds 2 GiB
    * must stay chunked.
    */
  def reassembleChunks(chunks: DataFrame): DataFrame =
    chunks.groupBy("source", "path")
      // array_sort on array<struct> orders by the first field = part
      .agg(array_sort(collect_list(struct(
        col("content_part").as("p"), col("content").as("c")))).as("__parts"))
      .select(col("source"), col("path"),
        aggregate(col("__parts"), lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x.getField("c"))).as("content"))
      .select(col("source"), col("path"),
        length(col("content")).cast("long").as("size"),
        unhex(sha2(col("content"), 256)).as("hash"),
        col("content"))

  /** Entries with the reference's F1/F2 predicates applied
    * (half-open size range `min <= size < max`, src/batch.rs:182-197;
    * UTF-8 text/binary content filter, src/batch.rs:162-180), then
    * with `unique` one row per `hash` ([[uniqueByHash]]).
    */
  def filteredEntries(
      spark: SparkSession,
      inputs: Seq[String],
      opts: ConvertOptions,
      metrics: Option[WalkMetrics] = None): DataFrame = {
    var df = entries(spark, inputs, opts, metrics).toDF()
    if (opts.httpPayload) {
      // WARC/HTTP mode: content becomes the decoded response payload
      // (size/hash recomputed over it), status + Content-Type ride
      // along as nullable extension columns, non-HTTP entries pass
      // through with null status (see ConvertOptions.httpPayload).
      // One codegen'd scalar per row; subexpression elimination shares
      // the decode across the three field reads. The include/size/
      // unique gates below then operate on the PAYLOAD.
      val h = GraftFunctions.http_payload(col("content"))
      df = df.select(col("source"), col("path"),
        length(h.getField("payload")).cast("long").as("size"),
        unhex(sha2(h.getField("payload"), 256)).as("hash"),
        h.getField("payload").as("content"),
        h.getField("status").as("http_status"),
        h.getField("content_type").as("http_content_type"))
    }
    if (opts.wet) {
      // WET mode: the q122 chain as a converter stage — http_payload
      // decode, charset resolution, main-content classification, NFC —
      // all narrow codegen'd scalar work per row, no exchange added to
      // the walk. content becomes the UTF-8 bytes of the clean text;
      // non-response entries drop (a WET file is responses-only). The
      // gates below then operate on the TEXT.
      val h = GraftFunctions.http_payload(col("content"))
      df = df
        .select(col("source"), col("path"),
          h.getField("status").as("http_status"),
          h.getField("content_type").as("http_content_type"),
          Quality.mainContent(
            GraftFunctions.charset_decode(
              h.getField("payload"), h.getField("content_type")),
            opts.wetMinLen, opts.wetMaxLinkDensity).as("__mc"))
        .where(col("http_status").isNotNull)
        .select(col("source"), col("path"),
          col("http_status"), col("http_content_type"),
          col("__mc.n_blocks").as("n_blocks"),
          col("__mc.n_content").as("n_content"),
          encode(GraftFunctions.nfc_normalize(col("__mc.content_text")),
            "UTF-8").as("content"))
        .select(col("source"), col("path"),
          length(col("content")).cast("long").as("size"),
          unhex(sha2(col("content"), 256)).as("hash"),
          col("content"),
          col("http_status"), col("http_content_type"),
          col("n_blocks"), col("n_content"))
    }
    val gated = gates(df, opts)
    if (opts.unique) uniqueByHash(gated) else gated
  }

  /** The include/size gates, shared by [[filteredEntries]] and the
    * streaming converter (each adds its own `unique` dedup).
    */
  private[graft] def gates(entries: DataFrame, opts: ConvertOptions): DataFrame = {
    var df = entries
    opts.include match {
      case IncludeType.All    =>
      case IncludeType.Text   => df = df.filter(GraftFunctions.is_utf8(col("content")))
      case IncludeType.Binary => df = df.filter(!GraftFunctions.is_utf8(col("content")))
    }
    (opts.minSize, opts.maxSize) match {
      case (None, None) =>
      case (mn, mx)     =>
        val lo = mn.getOrElse(0L)
        val hi = mx.getOrElse(Long.MaxValue)
        df = df.filter(col("size") >= lo && col("size") < hi)
    }
    df
  }

  /** One row per `hash`, with one sort and no aggregate:
    * [[graft.functions.DigestCacheMiss]] drops the repeats a task has
    * already seen before they reach the exchange,
    * `repartition(col("hash"))` sends every copy of a digest to one
    * partition (AQE only coalesces such partitions, never splits
    * them), and over the partition sorted by `hash`
    * [[graft.functions.RunStart]] keeps the first row of each run. The
    * cache can only fail to drop a repeat, so the run filter makes the
    * result exact; null `hash` counts as one value, as in
    * `dropDuplicates`. Each output partition stays ordered by `hash`.
    */
  private[graft] def uniqueByHash(df: DataFrame): DataFrame =
    df.where(column(DigestCacheMiss(expression(col("hash")))))
      .repartition(col("hash"))
      .sortWithinPartitions("hash")
      .where(column(RunStart(expression(col("hash")))))

  /** Full conversion: walk, filter, dedup, write Parquet. Stats are
    * collected during the single write pass (no output re-scan). Fails
    * on an empty result like the reference (src/main.rs:129-132).
    */
  def convert(spark: SparkSession, inputs: Seq[String], out: String, opts: ConvertOptions): ConversionStats = {
    val metrics = new WalkMetrics(spark)
    val obs = new Observation()
    // --log-file: tee the progress/stats lines to a file (reference
    // src/main.rs:75-77). Works with or without live stderr progress.
    val logStream = opts.logFile.map(f =>
      new java.io.PrintStream(new java.io.FileOutputStream(f), true, "UTF-8"))
    val live = opts.progress || opts.progressBars
    val reporter =
      if (live || logStream.nonEmpty) {
        val primary = if (live) System.err else logStream.get
        val tee = if (live) logStream else None
        // per-input bars need each input's on-disk size for the bar
        // denominator; URLs (Content-Length only known executor-side)
        // and unstat-able paths render indeterminate
        val sizes =
          if (!opts.progressBars) Nil
          else inputs.map { p =>
            if (p.startsWith("http://") || p.startsWith("https://") || p.startsWith("file:")) p -> -1L
            else {
              val f = new java.io.File(p)
              p -> (if (f.isFile) f.length() else -1L)
            }
          }
        // repaint in place only when STDERR itself is a terminal; a
        // redirected stderr (tests, `2>log`, batch) gets plain lines
        val ansi = opts.progressBars && ProgressReporter.stderrIsTty
        // heartbeat-fed live view: without it every counter freezes
        // until a task (= one whole input slice) completes
        val lv = new LiveWalkCounters(metrics)
        spark.sparkContext.addSparkListener(lv)
        Some((new ProgressReporter(metrics, inputs.size.toLong, primary,
          opts.progressIntervalMs, tee, sizes, ansi, Some(lv)).start(), lv))
      } else None
    try convertWith(spark, inputs, out, opts, metrics, obs)
    finally {
      reporter.foreach { case (rep, lv) =>
        rep.stop()
        spark.sparkContext.removeSparkListener(lv)
      }
      logStream.foreach(_.close())
    }
  }

  private def convertWith(
      spark: SparkSession, inputs: Seq[String], out: String, opts: ConvertOptions,
      metrics: WalkMetrics, obs: Observation): ConversionStats = {
    val filtered =
      if (opts.chunked) {
        require(opts.include == IncludeType.All && opts.minSize.isEmpty &&
            opts.maxSize.isEmpty && !opts.unique,
          "chunked conversion emits content_part rows describing CHUNKS; " +
            "include/size filters and unique dedup describe whole entries — " +
            "filter or dedup after reassembleChunks instead")
        // fail at the driver with the same clarity as the gates above —
        // walkChunked's own require would otherwise surface as a task
        // failure (or, under skipErrors, as every input silently
        // "skipped" then an empty-output error)
        require(!opts.extractStrings,
          "extractStrings is not supported in chunked mode")
        require(!opts.httpPayload && !opts.wet,
          "httpPayload/wet decode WHOLE HTTP messages; chunked rows are " +
            "content slices — reassembleChunks first, then project " +
            "http_payload over the reassembled entries")
        chunkedEntries(spark, inputs, opts, Some(metrics)).toDF()
      } else filteredEntries(spark, inputs, opts, Some(metrics))
    val shaped =
      if (opts.singleFile) filtered.repartition(1) // see ConvertOptions scaladoc
      else filtered
    // `size` is the content length in every mode (the walker's count,
    // or recomputed where a mode rewrites content); summing it spares
    // the observation a copy of every content value
    val df = shaped
      .observe(obs,
        count(lit(1)).as("rows"),
        coalesce(sum(col("size")), lit(0L)).as("bytes"))
    df.write
      .mode("overwrite")
      .option("compression", opts.compression)
      // reference sink tuning (src/sink.rs:23-55): bloom filters on
      // source/path/hash; dictionary only on the low-cardinality string
      // columns (content dictionary would bloat on large binaries);
      // data pages <= 1 MB and <= 2000 rows. (The reference's
      // row-group cap is row-based — 1,048,576 rows; parquet-mr's
      // block limit is byte-based, left at Spark's default 128 MB.)
      .option("parquet.bloom.filter.enabled", "false")
      .option("parquet.bloom.filter.enabled#source", "true")
      .option("parquet.bloom.filter.enabled#path", "true")
      .option("parquet.bloom.filter.enabled#hash", "true")
      .option("parquet.enable.dictionary", "false")
      .option("parquet.enable.dictionary#source", "true")
      .option("parquet.enable.dictionary#path", "true")
      .option("parquet.page.size", (1024 * 1024).toString)
      .option("parquet.page.row.count.limit", "2000")
      // statistics only on the metadata columns (src/sink.rs:33,41,47-49):
      // min/max over multi-MB `content` byte arrays burns CPU and bloats
      // the footer, and content is never a pruning target
      .option("parquet.column.statistics.enabled", "false")
      .option("parquet.column.statistics.enabled#source", "true")
      .option("parquet.column.statistics.enabled#path", "true")
      .option("parquet.column.statistics.enabled#size", "true")
      .option("parquet.column.statistics.enabled#hash", "true")
      // chunked writes only (column absent otherwise — the per-column
      // property is then simply never consulted): part-range pruning
      .option("parquet.column.statistics.enabled#content_part", "true")
      // zstd level 1: archive content is often incompressible (media,
      // already-compressed blobs) where higher levels only burn CPU —
      // measured 1.6x faster than the level-3 default on a random-bytes
      // corpus at identical output size; no-op for other codecs
      .option("parquet.compression.codec.zstd.level", "1")
      .parquet(out)

    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    require(rows > 0, s"No rows written to $out") // F4 empty-output guard
    ConversionStats(
      rows = rows,
      bytes = m("bytes").asInstanceOf[Long],
      inputs = metrics.inputs.value,
      entriesRead = metrics.entries.value,
      bytesRead = metrics.bytes.value,
      errors = metrics.errors.value)
  }

  /** Read a previous conversion output with the canonical schema. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ArchiveSchema.schema).parquet(path)
}
