package graft.streaming

import graft.convert.ArchiveConverter
import graft.core.ConvertOptions
import graft.sources.ArchivePartitionReader
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Structured Streaming variant of the converter (SURVEY.md §7 step 8,
  * §1.4): continuous ingest of archive paths, the same recursive walk,
  * streaming hash-dedup, Parquet append.
  *
  * The bounded reference job is the degenerate case (one trigger); the
  * streaming form adds what the reference lacks: unbounded ingest with
  * exactly-once file sink semantics and stateful dedup across
  * micro-batches (the reference's sink-side `seen_hashes` HashSet —
  * src/sink.rs:59-73 — becomes Spark's keyed state store, which is
  * checkpointed and fault-tolerant instead of process-local).
  *
  * Scale notes:
  *   - the path listing is the streaming source (tiny rows); content
  *     is only materialized inside the walk flatMap on executors, which
  *     runs the batch source's per-input walk — the same narrow
  *     pipeline as the batch path;
  *   - `dropDuplicates("hash")` keeps 32-byte keys in the state store;
  *     state grows with distinct-content count — callers should use
  *     `withWatermark` + `dropDuplicatesWithinWatermark` when
  *     duplicate arrivals are known to be time-bounded.
  */
object StreamingConverter {

  /** Streaming Dataset of newline-separated archive paths dropped into
    * `pathDir` (one file per batch of paths — the idiomatic file-source
    * handoff).
    */
  def pathStream(spark: SparkSession, pathDir: String): Dataset[String] = {
    import spark.implicits._
    spark.readStream.format("text").load(pathDir).as[String]
      .map(_.trim).filter(_.nonEmpty)
  }

  /** The CHUNKED walked entry stream — continuous ingest of corpora
    * whose entries can exceed the JVM's 2 GiB array cap: same
    * recursive walk, entries longer than `opts.maxEntryBytes` emitted
    * as `content_part`-indexed rows (see
    * [[graft.walk.ArchiveWalker.walkChunked]]). No filters: chunk rows
    * describe chunks, so F1/F2 predicates over whole entries do not
    * apply; dedup on the chunk `hash` would split entries — dedup the
    * reassembled frame instead.
    */
  def chunkedEntryStream(spark: SparkSession, pathDir: String,
      opts: ConvertOptions): DataFrame = {
    import spark.implicits._
    pathStream(spark, pathDir)
      .flatMap(p => ArchivePartitionReader.chunks(p, opts, None))
      .toDF()
  }

  /** The walked entry stream: the batch source's per-input walk
    * (`skipErrors` containment included) and the batch converter's
    * include/size gates. `unique` is the stateful
    * `dropDuplicates("hash")`, which dedups across micro-batches.
    */
  def entryStream(spark: SparkSession, pathDir: String, opts: ConvertOptions): DataFrame = {
    import spark.implicits._
    val gated = ArchiveConverter.gates(
      pathStream(spark, pathDir)
        .flatMap(p => ArchivePartitionReader.entries(p, opts, None))
        .toDF(),
      opts)
    if (opts.unique) gated.dropDuplicates("hash") else gated
  }

  /** WARC → HTTP-payload ingestion as a STREAM — the crawl stack's
    * entry rung wired through Structured Streaming: `.warc`/`.warc.gz`
    * paths arrive on the file source, the same recursive walker emits
    * response records, [[graft.functions.GraftFunctions.http_payload]]
    * reverses framing and content codings inside the micro-batch (a
    * pure codegen'd scalar — the stream stays narrow), and
    * `dropDuplicates(payload_sha256)` is the stateful cross-batch
    * payload dedup (32-byte digests in the checkpointed state store,
    * the q38 rule at the payload level — a re-crawled page arriving in
    * a later batch, or after a restart, is dropped).
    *
    * Batch parity contract (asserted by StreamingSpec): on bounded
    * input the result equals the batch equivalent —
    * `ArchiveConverter.entries` → same projection →
    * `dropDuplicates` — up to the arbitrary winner among identical
    * payloads.
    */
  def httpPayloadStream(spark: SparkSession, pathDir: String,
      opts: ConvertOptions = ConvertOptions()): DataFrame = {
    val h = graft.functions.GraftFunctions.http_payload(col("content"))
    entryStream(spark, pathDir, opts)
      .select(col("source"), col("path"), h.as("h"))
      .select(col("source"), col("path"),
        col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        length(col("h.payload")).cast("long").as("payload_size"),
        sha2(col("h.payload"), 256).as("payload_sha256"))
      // only non-empty RESPONSE payloads enter the dedup state: a WARC
      // interleaves warcinfo/request/metadata records (and empty
      // 204/304 responses), all of which hash to sha2("") — without
      // this gate dropDuplicates would keep ONE arbitrary empty row
      // and silently swallow every later such record
      .where(col("status").isNotNull && col("payload_size") > 0)
      .dropDuplicates("payload_sha256")
  }

  /** Streaming WARC → WET: the `--wet` converter stage
    * ([[graft.convert.ArchiveConverter.filteredEntries]] with
    * `ConvertOptions.wet`) over the entry stream — clean text lands in
    * the sink as each crawl file arrives, with restart-surviving
    * dedup by TEXT digest (the re-crawled page whose extracted
    * content is byte-identical never re-enters the corpus, even when
    * its HTTP framing changed). Every stage is per-row scalar work,
    * so the only streaming state is the dedup store.
    *
    * Batch parity contract (StreamingSpec): on bounded input the
    * (path, text digest) set equals the batch `--wet` conversion's,
    * up to the arbitrary winner among identical texts.
    */
  def wetStream(spark: SparkSession, pathDir: String,
      opts: ConvertOptions = ConvertOptions(),
      minLen: Int = 60, maxLinkDensity: Double = 0.2): DataFrame = {
    val h = graft.functions.GraftFunctions.http_payload(col("content"))
    entryStream(spark, pathDir, opts)
      .select(col("source"), col("path"), h.as("h"))
      .select(col("source"), col("path"),
        col("h.status").as("status"),
        col("h.content_type").as("content_type"),
        graft.ops.Quality.mainContent(
          graft.functions.GraftFunctions.charset_decode(
            col("h.payload"), col("h.content_type")),
          minLen, maxLinkDensity).as("mc"))
      .select(col("source"), col("path"), col("status"), col("content_type"),
        col("mc.n_blocks").as("n_blocks"),
        col("mc.n_content").as("n_content"),
        graft.functions.GraftFunctions.nfc_normalize(col("mc.content_text"))
          .as("wet"))
      .withColumn("wet_sha256", sha2(encode(col("wet"), "UTF-8"), 256))
      // responses with extractable content only: a WET corpus is
      // responses-only, and empty texts must not occupy a dedup seat
      .where(col("status").isNotNull && length(col("wet")) > 0)
      .dropDuplicates("wet_sha256")
  }

  /** Writer: Parquet append with checkpointing; caller starts it.
    * `availableNow` processes the current backlog then stops — the
    * streaming equivalent of the reference's bounded run.
    */
  def writer(
      entries: DataFrame,
      out: String,
      checkpoint: String,
      availableNow: Boolean = false): DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = entries.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
    if (availableNow) w.trigger(Trigger.AvailableNow()) else w
  }

  /** Tumbling-window event counts (Q15's shape) in streaming mode with
    * a watermark for state cleanup — same results as the batch query
    * on bounded input.
    */
  def windowedEventCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
}
