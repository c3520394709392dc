package graft.core

import org.apache.spark.sql.types._

/** One extracted file entry — the engine's canonical row.
  *
  * Mirrors the reference's fixed 5-column Arrow schema
  * (reference: src/batch.rs:21-38). `size` is the number of bytes
  * actually written (decompressed, or extracted-strings length for
  * executables — reference: src/batch.rs:113-127), `hash` is the
  * 32-byte SHA-256 of `content` as written (reference:
  * src/hasher.rs:26-32).
  */
final case class ArchiveEntry(
    source: String,
    path: String,
    size: Long,
    hash: Array[Byte],
    content: Array[Byte])

object ArchiveSchema {
  /** Spark equivalent of the reference's Arrow schema
    * (reference: src/batch.rs:21-38). All columns non-nullable;
    * UInt64 `size` maps to LongType with a documented >=0 invariant.
    */
  val schema: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("hash", BinaryType, nullable = false),
    StructField("content", BinaryType, nullable = false)
  ))

  val HashSize = 32
}

/** Schema addendum: one CHUNK of an extracted entry, emitted by the
  * chunked walk ([[graft.walk.ArchiveWalker.walkChunked]]) so entries
  * beyond the 2 GiB JVM array cap (the reference's unbounded
  * LargeBinary, SURVEY §7 risk) survive without truncation or failure.
  * Identical to [[ArchiveEntry]] plus a 0-based `content_part` index;
  * `size`/`hash`/`content` describe the chunk, and an entry
  * reassembles by concatenating its parts in `content_part` order
  * (grouping key: source, path). The whole-entry digest is the digest
  * of that concatenation — carrying it on every part would require
  * buffering the whole entry, which chunking exists to avoid.
  */
final case class ArchiveChunk(
    source: String,
    path: String,
    size: Long,
    hash: Array[Byte],
    content: Array[Byte],
    content_part: Long)

object ArchiveChunkSchema {
  val schema: StructType =
    ArchiveSchema.schema.add(StructField("content_part", LongType, nullable = false))
}

/** Detected input format (reference: src/anyreader/format.rs:87-107). */
sealed abstract class FormatKind(val name: String) {
  def supportsRecursion: Boolean =
    this == FormatKind.Tar || this == FormatKind.Zip || this == FormatKind.Warc ||
      this == FormatKind.Ar || this == FormatKind.Cpio || this == FormatKind.Rpm ||
      this == FormatKind.SevenZ
  override def toString: String = name
}

object FormatKind {
  case object Gzip extends FormatKind("gzip")
  case object Zstd extends FormatKind("zstd")
  case object Bzip2 extends FormatKind("bzip2")
  case object Xz extends FormatKind("xz")
  /** LZ4 frame format (lz4.org spec, magic `04 22 4D 18`) — a
    * stage-1 codec extension beyond the reference's four; `.tar.lz4`
    * is a common fast-compression archive shape.
    */
  case object Lz4 extends FormatKind("lz4")
  /** Snappy framing format (google/snappy framing_format.txt, stream
    * identifier `FF 06 00 00 sNaPpY`) — stage-1 codec extension; the
    * `.sz` shape Hadoop-adjacent tooling emits.
    */
  case object SnappyFramed extends FormatKind("snappy")
  case object Zip extends FormatKind("zip")
  case object Tar extends FormatKind("tar")
  /** WARC web-archive container (ISO 28500; the CommonCrawl format) —
    * an extension beyond the reference's tar/zip, because a
    * training-data pipeline's largest archive source is WARC.
    */
  case object Warc extends FormatKind("warc")
  /** Unix `ar` archive (the `.a` / `.deb` container; format is the
    * public System V / GNU / BSD spec) — S-family extension beyond the
    * reference's tar/zip, same walk semantics.
    */
  case object Ar extends FormatKind("ar")
  /** cpio archive (POSIX pax ASCII dialects: newc `070701`, crc
    * `070702`, odc `070707`) — the initramfs / RPM-payload container;
    * S-family extension beyond the reference's tar/zip, same walk
    * semantics.
    */
  case object Cpio extends FormatKind("cpio")
  /** RPM package (the rpm.org file-format spec: 96-byte lead, two
    * `0x8EADE801` index headers, compressed cpio payload) — S-family
    * extension; the walker consumes the framing and recurses into the
    * payload. (`.deb` needs no own kind: ar + tar already walk.)
    */
  case object Rpm extends FormatKind("rpm")
  /** 7z archive (the 7-zip.org file-format spec, magic
    * `37 7A BC AF 27 1C`) — the sixth container family. The ONE
    * family whose metadata lives at the END of the file, so the
    * walker spools the stream to a seekable spill first (memory
    * below [[ConvertOptions.sevenZMemSpoolMax]], else a task-local
    * temp file) — a documented deviation from the otherwise
    * pure-streaming walk, like zip64's.
    */
  case object SevenZ extends FormatKind("7z")
  case object Executable extends FormatKind("executable")
  case object Unknown extends FormatKind("unknown")

  val all: Seq[FormatKind] = Seq(Gzip, Zstd, Bzip2, Xz, Lz4, SnappyFramed, Zip, Tar, Warc, Ar, Cpio, Rpm, SevenZ, Executable, Unknown)
  def fromName(s: String): FormatKind =
    all.find(_.name == s.toLowerCase).getOrElse(Unknown)
}

/** Which content rows to keep (reference: src/sink.rs:13-21). */
sealed trait IncludeType
object IncludeType {
  case object All extends IncludeType
  case object Text extends IncludeType
  case object Binary extends IncludeType
  def fromString(s: String): IncludeType = s.toLowerCase match {
    case "all"    => All
    case "text"   => Text
    case "binary" => Binary
    case other    => throw new IllegalArgumentException(s"unknown include type: $other")
  }
}

/** An archive entry's content exceeded [[ConvertOptions.maxEntryBytes]]
  * and truncation was not opted into. A hash-centric pipeline must
  * never silently emit a truncated row — its hash matches nothing —
  * so the over-cap entry fails its input loudly (default: task
  * failure -> job abort, the reference's poisoned-channel semantics;
  * under `skipErrors`: a counted per-input skip).
  */
final class OversizeEntryException(source: String, path: String, cap: Long)
  extends java.io.IOException(
    s"entry '$path' in '$source' exceeds maxEntryBytes=$cap; " +
      "raise maxEntryBytes or set truncateOversize=true to opt into truncation")

/** Conversion options (reference: src/lib.rs:24-63 defaults at :38-52).
  *
  * Spark-specific additions: `parallelism` (input repartition width),
  * `maxDepth` (defensive recursion cap, the reference has none),
  * `maxEntryBytes` (JVM arrays cap content at 2 GiB; the reference's
  * LargeBinary is unbounded, so ANY cap is a declared divergence —
  * over-cap entries therefore fail LOUDLY via
  * [[OversizeEntryException]] unless `truncateOversize` opts into
  * emitting the truncated prefix).
  */
final case class ConvertOptions(
    include: IncludeType = IncludeType.All,
    unique: Boolean = false,
    // The reference defaults to SNAPPY (src/lib.rs:44); we default to
    // zstd: parquet-java's snappy (and uncompressed) write paths
    // allocate+zero a direct ByteBuffer per page for large binary
    // values (NonBlockedCompressor.setInput -> ByteBuffer.allocateDirect),
    // serializing concurrent writers on Bits.reserveMemory — measured
    // 15x slower than zstd's pooled heap buffers on 512 KB entries.
    compression: String = "zstd",
    minSize: Option[Long] = None,
    maxSize: Option[Long] = None,
    extractStrings: Boolean = false,
    parallelism: Option[Int] = None,
    maxDepth: Int = 32,
    maxEntryBytes: Long = 1L << 30,
    // 7z spool threshold: 7z metadata sits at the END of the archive
    // (7-zip.org spec), so a 7z member found mid-stream must be
    // spooled to something seekable before it can be walked. At or
    // below this many bytes the spool is an in-memory channel; above
    // it, a task-local temp file on local disk (the shuffle-spill
    // discipline), deleted at archive end and at task completion.
    sevenZMemSpoolMax: Long = 64L << 20,
    // Over-cap entries: false (default) = throw OversizeEntryException
    // (contained to a counted input skip under skipErrors); true =
    // emit the truncated prefix with size/hash describing the PREFIX —
    // only for callers that knowingly want bounded previews.
    truncateOversize: Boolean = false,
    // Column-pruning hooks for the `archive` source (graft.sources),
    // which the converter scans too: when a query projects neither
    // `content` nor `hash`, the walker still streams every entry
    // (sizes require it, and tar/zip iteration advances by reading)
    // but skips buffering the bytes and/or the SHA-256 — `SELECT path,
    // size FROM archive` over 100 TB allocates no content arrays. The
    // row then carries an EMPTY content/hash; the scan sets these.
    materializeContent: Boolean = true,
    computeHash: Boolean = true,
    // Filter-pushdown hooks for the `archive` source: size/path
    // conjuncts Catalyst pushes into the scan land here and the WALKER
    // enforces them — a pruned entry is never buffered or digested,
    // and a nested archive whose lineage can't produce a matching
    // `path` is skipped wholesale (the stream advances without
    // expanding it). Semantics-preserving by construction: the scan
    // reports every pushed filter as residual, so Spark re-applies
    // them row-side; these hints only drop rows the residual would
    // drop anyway. The converter's F1 gate (minSize/maxSize) becomes
    // these hints except in `convert`, whose scan pushes nothing so
    // its stats keep counting every pre-filter entry.
    //   pruneSizeMin/Max: half-open [min, max) on the WRITTEN size —
    //     an entry reaching max stops buffering/hashing immediately
    //     (it cannot survive the residual filter);
    //   prunePathPrefixes: every prefix must match (conjunction of
    //     StringStartsWith filters).
    pruneSizeMin: Option[Long] = None,
    pruneSizeMax: Option[Long] = None,
    prunePathPrefixes: Seq[String] = Nil,
    // Reference parity: the reference always writes ONE parquet file
    // (src/sink.rs single ArrowWriter). Default false = one file per
    // task, the cluster-native shape. true inserts a repartition(1)
    // before the sink — NOT coalesce(1), which would collapse the walk
    // itself into a single task; repartition keeps the walk parallel
    // and pays one shuffle of the surviving rows.
    singleFile: Boolean = false,
    // Error containment (W7). Default false = reference parity: a
    // content-read failure fails the input's task and (after Spark's
    // retries) the job, like the reference's poisoned channel
    // (visitor.rs:59-65, channel.rs:88-91). true = per-input
    // containment: the failed input stops contributing rows, the walk
    // continues, failures are counted — the mode a 100 TB batch over
    // crawled archives actually wants (one bad file of millions must
    // not kill a day-long job).
    skipErrors: Boolean = false,
    // Live in-flight progress on stderr while the conversion job runs
    // (reference src/progress.rs:11-133 renders the same counters via
    // indicatif). Driver-side only: a daemon thread polls the walk
    // accumulators — task completions and executor heartbeats keep
    // them current — so the hot path pays nothing.
    progress: Boolean = false,
    progressIntervalMs: Long = 1000L,
    // Per-input progress bars (reference src/converter/progress.rs:5-30:
    // one indicatif bar per input over raw bytes read, under a
    // MultiProgress). Implies `progress`; renders one bar line per
    // started input — raw COMPRESSED bytes read off each input stream
    // against its on-disk size — plus the aggregate line. ANSI redraw
    // only when stderr is an interactive console; otherwise each tick
    // appends a plain frame (log-friendly, like indicatif's hidden
    // mode).
    progressBars: Boolean = false,
    // Chunked conversion (SURVEY §7 "2 GB JVM array cap"): entries
    // longer than `maxEntryBytes` are written as multiple
    // `content_part`-indexed rows (ArchiveChunkSchema) instead of
    // failing or truncating. Incompatible with the whole-entry
    // gates (include/size filters, --unique): chunk rows describe
    // chunks — filter or dedup after reassembly instead.
    chunked: Boolean = false,
    // Tee the progress/stats lines to a file (reference `--log-file`,
    // src/main.rs:75-77 tees tracing output). Independent of
    // `progress`: a log file without live stderr output is the batch
    // mode a scheduled job wants.
    logFile: Option[String] = None,
    // WARC/HTTP mode: project every entry's content through
    // `http_payload` BEFORE the include/size filters and `--unique` —
    // content becomes the decoded HTTP payload (chunked framing and
    // gzip/deflate/zstd content codings reversed), size/hash are
    // recomputed over it, and two extension columns (`http_status`,
    // `http_content_type`, both nullable) ride along. Non-HTTP
    // entries (requests, warcinfo, plain files) pass through with
    // null status, so the option is safe over mixed inputs. The
    // filters then see the PAYLOAD: `--include text --http-payload`
    // keeps decoded text bodies, and `--unique` dedups by payload
    // digest — the CommonCrawl → clean-text ingestion shape.
    httpPayload: Boolean = false,
    // WET mode (`--wet`): the full WARC → clean-text pipeline in one
    // converter pass — `http_payload` decode (as `httpPayload`), then
    // charset resolution (BOM > header > meta-prescan), main-content
    // block classification and NFC normalization. `content` becomes
    // the UTF-8 bytes of the extracted text, size/hash are recomputed
    // over it, and four nullable extension columns ride along:
    // `http_status`, `http_content_type`, `n_blocks`, `n_content`.
    // Entries that are not HTTP response messages are DROPPED (a WET
    // file is responses-only by definition; use `httpPayload` for
    // passthrough shapes). The include/size/`--unique` gates then see
    // the TEXT: `--min-size 1 --wet` drops pages with no extractable
    // content, `--unique` dedups by text digest. Subsumes
    // `httpPayload` — the two are mutually exclusive.
    wet: Boolean = false,
    // --wet's main-content gates (q122's pinned classification knobs):
    // a block classifies as content when it has >= wetMinLen chars
    // and link density <= wetMaxLinkDensity.
    wetMinLen: Int = 60,
    wetMaxLinkDensity: Double = 0.2) {
  require(minSize.forall(_ >= 0) && maxSize.forall(_ >= 0), "size bounds must be >= 0")
  require(!(wet && httpPayload),
    "--wet already decodes HTTP messages; drop --http-payload")
}

object ConvertOptions {
  /** Exact reference-default behavior for users migrating from the
    * reference CLI. The ONLY documented behavioral deviation of the
    * defaults is the output codec (zstd here vs the reference's
    * SNAPPY, src/lib.rs:44 — see the `compression` field note for the
    * measured 15x parquet-java reason); this preset restores SNAPPY
    * so output files match the reference's size/speed/compatibility
    * profile byte-for-byte in codec terms.
    */
  def referenceParity: ConvertOptions = ConvertOptions(compression = "snappy")
}
