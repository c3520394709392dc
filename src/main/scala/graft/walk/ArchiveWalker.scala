package graft.walk

import graft.core.{ArchiveEntry, ConvertOptions, FormatKind}
import graft.io.Sniff
import org.apache.commons.compress.archivers.{ArchiveEntry => CcEntry}
import org.apache.commons.compress.archivers.cpio.{CpioArchiveEntry, CpioArchiveInputStream}
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream}
import org.apache.commons.compress.archivers.zip.ZipArchiveInputStream

import java.io.{ByteArrayOutputStream, EOFException, FilterInputStream, IOException, InputStream,
  UncheckedIOException}
import java.security.MessageDigest

/** Recursive archive walker — the engine's core correlated-flatten
  * operator. One input file/stream explodes into N extracted-file
  * rows; entries that are themselves archives (tar/zip, possibly
  * compressed) are expanded in place instead of emitted
  * (reference: src/anyreader_walker/stack.rs:26-39).
  *
  * Readers: tar, zip, cpio and 7z are read with commons-compress and
  * share one entry loop ([[walkEntries]]); ar, WARC and the rpm framing
  * are parsed here.
  *
  * Semantics mirrored from the reference:
  *   - two-stage sniff per entry (compression then container) —
  *     entry.rs:70-80, so `.tar.gz` nested anywhere expands, and a
  *     merely-compressed non-archive entry is emitted *decompressed*;
  *   - `source` = top-level input path; `path` = `/`-joined lineage of
  *     archive names below the root plus the entry name
  *     (utils.rs:49-55, batch.rs:108-111);
  *   - tar: only regular entries with size > 0 (tarfile.rs:24);
  *     zip: only file entries with size != 0 (zipfile.rs:23) —
  *     streaming zips with data descriptors report unknown (-1) sizes,
  *     those pass and empty results are dropped post-read;
  *   - zip-quine guard: a zip entry whose (path, size) equals its
  *     immediate parent archive's is NOT recursed into — it is emitted
  *     as a plain file (visitor.rs:94-100 returns false from
  *     begin_visit_archive, so walk() falls through to
  *     visit_file_entry — stack.rs:26-39);
  *   - executables with extractStrings: content is the newline-joined
  *     ASCII strings (min run 10), size/hash follow the rewritten
  *     content (batch.rs:113-127).
  *
  * One walk rule for every container (W7): a header that is corrupt
  * or cut short ends that archive's iteration silently
  * (tarfile.rs:22 `while let Some(Ok(entry))`); an error while reading
  * a body propagates and fails the input, and a body that ends before
  * its header's declared size is such an error — no format emits a
  * row shorter than its header says.
  *
  * Laziness discipline: an inner entry's stream is only valid until
  * the enclosing archive advances, so the returned iterator expands
  * strictly in order and materializes each leaf's content at emit
  * time (the reference's visit-immediately discipline).
  */
object ArchiveWalker {

  /** Archive-header metadata for an entry (reference: entry.rs:13-25).
    * `size` is the CLAIMED size from the header, -1 when unknown.
    */
  final case class Details(path: String, size: Long)

  /** Open a local path as a (buffered, tapped) stream + claimed size.
    * `tap` wraps the RAW stream before buffering — the per-input
    * progress hook (reference src/converter/progress.rs:91-106 wraps
    * each input reader the same way).
    */
  private def openPath(path: String,
      tap: InputStream => InputStream): (InputStream, Long) = {
    val f = new java.io.File(path)
    (new java.io.BufferedInputStream(tap(new java.io.FileInputStream(f)), 256 * 1024), f.length())
  }

  /** Open an http(s)/file URL — the response body streams straight
    * into the sniff/decompress/walk chain, never fully materialized
    * (reference S2: src/main.rs:200-220).
    */
  private def openUrl(url: String,
      tap: InputStream => InputStream): (InputStream, Long) = {
    val conn = new java.net.URI(url).toURL.openConnection()
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(300000)
    (new java.io.BufferedInputStream(tap(conn.getInputStream), 256 * 1024),
      conn.getContentLengthLong)
  }

  private def isUrl(input: String): Boolean =
    input.startsWith("http://") || input.startsWith("https://") || input.startsWith("file:")

  private def openInput(input: String,
      tap: InputStream => InputStream): (InputStream, Long) =
    if (isUrl(input)) openUrl(input, tap) else openPath(input, tap)

  /** Walk one local file (see [[openPath]] for `tap`). */
  def walkPath(path: String, opts: ConvertOptions,
      tap: InputStream => InputStream = identity): Iterator[ArchiveEntry] = {
    val (in, size) = openPath(path, tap)
    walk(path, in, size, opts)
  }

  /** Dispatch on input spelling: URLs open via [[openUrl]], everything
    * else is a local path.
    */
  def walkInput(input: String, opts: ConvertOptions,
      tap: InputStream => InputStream = identity): Iterator[ArchiveEntry] = {
    val (in, size) = openInput(input, tap)
    walk(input, in, size, opts)
  }

  /** Walk one already-open stream named `source`. Consumes and closes it. */
  def walk(source: String, in: InputStream, claimedSize: Long, opts: ConvertOptions): Iterator[ArchiveEntry] = {
    val it = walkEntryG(source, Nil, Details(source, claimedSize),
      parent = None, raw = in, depth = 0, opts, new EntryLeaf)
    closing(it, in)
  }

  /** Chunked walk (SURVEY §7 "2 GB JVM array cap" risk): identical
    * recursion/lineage/skip semantics to [[walk]], but a leaf longer
    * than `opts.maxEntryBytes` is emitted as MULTIPLE rows of at most
    * that many content bytes each, indexed by `content_part` — no
    * truncation, no failure, any entry size survives. Per-row `size`
    * and `hash` describe THAT CHUNK (the full-entry digest is the
    * digest of the parts concatenated in `content_part` order — a
    * whole-entry hash on every part would force buffering the whole
    * entry, the exact thing chunking exists to avoid). At most two
    * chunks are in memory per task (current + read-ahead).
    * `extractStrings` is not supported in chunked mode.
    */
  def walkChunked(source: String, in: InputStream, claimedSize: Long,
      opts: ConvertOptions): Iterator[graft.core.ArchiveChunk] = {
    require(!opts.extractStrings, "extractStrings is not supported in chunked mode")
    val it = walkEntryG(source, Nil, Details(source, claimedSize),
      parent = None, raw = in, depth = 0, opts, new ChunkLeaf)
    closing(it, in)
  }

  /** [[walkInput]]'s chunked sibling: same URL-vs-path dispatch. */
  def walkInputChunked(input: String, opts: ConvertOptions,
      tap: InputStream => InputStream = identity): Iterator[graft.core.ArchiveChunk] = {
    val (in, size) = openInput(input, tap)
    walkChunked(input, in, size, opts)
  }

  private def closing[T](it: Iterator[T], in: InputStream): Iterator[T] = {
    val closed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def closeOnce(): Unit =
      if (closed.compareAndSet(false, true))
        try in.close() catch { case _: java.io.IOException => () }
    // Early-stop safety net: a consumer that abandons the iterator
    // before exhaustion (a `limit`/`take` above the walk — common for
    // the SQL face) never reaches the eager close below; hook task
    // completion so the fd is released at stage end, not at GC.
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => closeOnce())
    new Iterator[T] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) closeOnce() // eager: tasks walk many inputs in turn
        h
      }
      override def next(): T = it.next()
    }
  }

  /** Shields an archive stream from decompressor/stream close() calls
    * made while processing one of its entries. Also REFUSES mark/reset
    * even when the underlying stream supports it: the sniff peeks via
    * mark/reset, and resetting a shared archive stream is only safe
    * through the sniff's OWN BufferedInputStream — an underlying
    * stream with side-effect observers (7z wraps COPY-method entries
    * in a CRC-counting stream whose checksum does not rewind on
    * reset) would double-count the peeked bytes and fail entry
    * verification.
    */
  private final class NonClosing(in: InputStream) extends FilterInputStream(in) {
    override def close(): Unit = ()
    override def markSupported: Boolean = false
    override def mark(readlimit: Int): Unit = ()
    override def reset(): Unit =
      throw new java.io.IOException("mark/reset not supported on archive entry streams")
  }

  /** A tar reader whose [[nextEntry]] moves past the current entry
    * without commons-io's skip helper. The stock `getNextEntry` drains
    * the entry's unread bytes and then its record padding through
    * `IOUtils.skip`, which allocates a new 8 KiB buffer on every call,
    * even with nothing left to drain: 16 KiB of garbage per entry. This
    * reader drains both through one buffer of its own, then clears the
    * current entry so the stock call starts at the next header. A
    * sparse entry keeps the stock path: its reads follow the sparse map.
    */
  private[graft] final class LeanTarInputStream(raw: InputStream) extends TarArchiveInputStream(raw) {
    private val scratch = new Array[Byte](8192)

    def nextEntry(): TarArchiveEntry = {
      val cur = getCurrentEntry
      if (cur != null && !cur.isSparse && !isAtEOF) {
        while (read(scratch, 0, scratch.length) >= 0) ()
        val size = cur.getSize
        if (!cur.isDirectory && size > 0 && size % getRecordSize != 0) {
          var pad = getRecordSize - size % getRecordSize
          while (pad > 0) {
            val n = in.read(scratch, 0, pad.toInt)
            if (n < 0) throw new java.io.IOException("Truncated TAR archive")
            count(n.toLong)
            pad -= n
          }
        }
        setCurrentEntry(null)
      }
      getNextEntry
    }
  }

  /** Can a leaf at `path` survive the pushed path-prefix conjunction? */
  private def pathKept(opts: ConvertOptions, path: String): Boolean =
    opts.prunePathPrefixes.forall(path.startsWith)

  /** Can ANY descendant of an archive whose lineage is `childNested`
    * survive the pushed prefixes? Descendant paths all extend
    * `base = childNested.mkString("/") + "/"`, so a prefix `p` is
    * satisfiable below iff `p` extends `base` or `base` extends `p`.
    * An empty lineage (depth 0) prunes nothing.
    */
  private def subtreeKept(opts: ConvertOptions, childNested: List[String]): Boolean =
    opts.prunePathPrefixes.isEmpty || childNested.isEmpty || {
      val base = childNested.mkString("/") + "/"
      opts.prunePathPrefixes.forall(p => p.startsWith(base) || base.startsWith(p))
    }

  private def sizeKept(opts: ConvertOptions, size: Long): Boolean =
    opts.pruneSizeMin.forall(size >= _) && opts.pruneSizeMax.forall(size < _)

  /** Leaf-emission strategy: the recursion below is generic over the
    * produced row type so the plain walk (one [[ArchiveEntry]] per
    * leaf) and the chunked walk (N [[graft.core.ArchiveChunk]] rows
    * per leaf) share the sniff/dispatch/lineage/prune machinery.
    * `nonEmpty` backs the zip unknown-size drop rule.
    *
    * One instance per walk. It owns the walk's 64 KiB copy buffer and
    * SHA-256 digest, which every leaf reuses: a walk is drained by one
    * thread, and a leaf is read to its end before the enclosing
    * archive advances, so no two leaves use them at once. The
    * container walkers borrow `buf` for skipping and spooling, which
    * happens only between leaves.
    */
  private abstract class Leaf[T] {
    final val buf = new Array[Byte](64 * 1024)
    final val md = MessageDigest.getInstance("SHA-256")
    def emit(source: String, nested: List[String], name: String,
        kind: FormatKind, stream: InputStream, opts: ConvertOptions,
        claimedSize: Long): Iterator[T]
    def nonEmpty(t: T): Boolean
  }

  /** Reads into `b` until it is full or `in` ends; returns the count. */
  private def readFully(in: InputStream, b: Array[Byte]): Int = {
    var off = 0
    var n = 0
    while (off < b.length && { n = in.read(b, off, b.length - off); n >= 0 }) off += n
    off
  }

  /** Exactly `n` header bytes of `in`, or null when it ends first. */
  private def readExact(in: InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    // k == 0 from read(b,off,len>0) is non-conforming but seen in the
    // wild; treat it as EOF (-> null -> malformed) instead of spinning.
    var k = 1
    while (off < n && k > 0) { k = in.read(b, off, n - off); if (k > 0) off += k }
    if (off == n) b else null
  }

  private final class EntryLeaf extends Leaf[ArchiveEntry] {
    override def emit(source: String, nested: List[String], name: String,
        kind: FormatKind, stream: InputStream, opts: ConvertOptions,
        claimedSize: Long): Iterator[ArchiveEntry] = {
      val e = entry(source, (nested :+ name).mkString("/"), kind, stream, opts, claimedSize)
      if (sizeKept(opts, e.size)) Iterator.single(e) else Iterator.empty
    }
    override def nonEmpty(e: ArchiveEntry): Boolean = e.size > 0

    /** Materialize one leaf row: copy its content and digest it with
      * SHA-256 (reference: src/hasher.rs:5-37, src/batch.rs:101-131).
      */
    private def entry(source: String, path: String, kind: FormatKind,
        stream: InputStream, opts: ConvertOptions, claimedSize: Long): ArchiveEntry = {
      md.reset()
      val strings = opts.extractStrings && kind == FormatKind.Executable
      // Pushed-filter early stop: once `written` reaches the pushed
      // size upper bound the row cannot survive the residual filter, so
      // stop reading/buffering/hashing right here — the caller drops the
      // row (its reported size >= the bound guarantees that) and the
      // enclosing archive skips the unread remainder itself.
      val doomAt: Long = opts.pruneSizeMax.getOrElse(Long.MaxValue)

      // Content buffering strategy: when the archive header claims a
      // plausible size, read DIRECTLY into an exact-sized array and
      // digest that array once — no copy buffer, no growth copies, no
      // ByteArrayOutputStream.toByteArray copy. The claim is only a
      // hint: a long claim (the entry ends early) trims with copyOf, a
      // short one (compressed inner entries decompress larger) falls
      // back to a growing buffer fed through `buf`.
      // cap the hint at the pushed size bound: an entry that will stop
      // at doomAt never needs a buffer past it
      val hintCap = math.min(math.min(opts.maxEntryBytes, doomAt), Int.MaxValue - 8L)
      val hint =
        if (opts.materializeContent && !strings && claimedSize > 0 && claimedSize <= hintCap)
          claimedSize.toInt
        else -1
      var direct: Array[Byte] = null
      var overflow: ByteArrayOutputStream = null
      var written = 0L
      var ended = false
      if (hint > 0) {
        direct = new Array[Byte](hint)
        written = readFully(stream, direct)
        ended = written < hint
        if (opts.computeHash) md.update(direct, 0, written.toInt)
      } else if (opts.materializeContent) overflow = new ByteArrayOutputStream(8192)

      def write(b: Array[Byte], off: Int, len: Int): Unit = {
        if (opts.computeHash) md.update(b, off, len)
        if (direct != null) {
          // claim was short: switch to the growing buffer
          overflow = new ByteArrayOutputStream(math.max(direct.length * 2, 8192))
          overflow.write(direct, 0, direct.length)
          direct = null
        }
        if (overflow != null) overflow.write(b, off, len)
        written += len
      }

      // Over-cap policy: an entry that would exceed maxEntryBytes fails
      // its input loudly (see OversizeEntryException scaladoc) unless
      // truncateOversize opted into emitting the clamped prefix. The
      // check fires only when excess bytes actually EXIST — an entry of
      // exactly maxEntryBytes is fine. The direct read never gets there:
      // the hint is at most maxEntryBytes.
      var overrun = false
      def clamp(len: Long): Int = {
        // clamp in Long space: maxEntryBytes - written can exceed Int.MaxValue
        val take = math.min(len, opts.maxEntryBytes - written)
        if (take < len) {
          overrun = true
          if (!opts.truncateOversize)
            throw new graft.core.OversizeEntryException(source, path, opts.maxEntryBytes)
        }
        take.toInt
      }

      if (ended) () // the claim was long: the whole entry is in `direct`
      else if (strings) {
        // content := newline-terminated extracted strings (batch.rs:113-121)
        val it = AsciiStrings.iterate(stream, minLength = 10)
        while (it.hasNext && !overrun && written < doomAt) {
          val b = (it.next() + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val take = clamp(b.length.toLong)
          if (take > 0) write(b, 0, take)
        }
      } else {
        var n = 0
        while (!overrun && written < doomAt && { n = stream.read(buf); n >= 0 }) {
          if (n > 0) {
            val take = clamp(n.toLong)
            if (take > 0) write(buf, 0, take)
          }
        }
      }
      val content =
        if (direct != null) {
          if (written == direct.length) direct
          else java.util.Arrays.copyOf(direct, written.toInt)
        } else if (overflow != null) overflow.toByteArray
        else Array.emptyByteArray
      val digest = if (opts.computeHash) md.digest() else Array.emptyByteArray
      ArchiveEntry(source, path, written, digest, content)
    }
  }

  /** Lazy chunk emission for one leaf: read at most `maxEntryBytes`
    * bytes, yield a row, repeat until EOF. The stream stays valid for
    * the whole iteration because [[archiveIterator]] drains a leaf's
    * iterator fully before the enclosing archive advances.
    */
  private final class ChunkLeaf extends Leaf[graft.core.ArchiveChunk] {
    override def emit(source: String, nested: List[String], name: String,
        kind: FormatKind, stream: InputStream, opts: ConvertOptions,
        claimedSize: Long): Iterator[graft.core.ArchiveChunk] = {
      val path = (nested :+ name).mkString("/")
      val cap = math.min(opts.maxEntryBytes, Int.MaxValue.toLong - 8).toInt
      require(cap > 0, "maxEntryBytes must be positive")
      new Iterator[graft.core.ArchiveChunk] {
        private var part = 0L
        private var eof = false
        // header-claimed bytes not read yet: they size the chunk arrays
        private var claimLeft = claimedSize
        // an EMPTY entry still emits exactly one part-0 row (size 0,
        // digest of the empty string) — parity with the plain walk,
        // which emits every leaf; readChunk's null means "no further
        // chunk", which for the FIRST read must instead be "one empty
        // chunk"
        private var pending: Array[Byte] = {
          val first = readChunk()
          if (first == null) Array.emptyByteArray else first
        }
        // The claimed part of a chunk is read straight into its array;
        // past the claim (short or unknown) the rest goes through `buf`
        // into a growing buffer, as in the plain walk.
        private def readChunk(): Array[Byte] = {
          if (eof) return null
          val direct =
            if (claimLeft > 0) new Array[Byte](math.min(cap.toLong, claimLeft).toInt)
            else Array.emptyByteArray
          var total = readFully(stream, direct)
          claimLeft -= total
          if (total < direct.length) {
            eof = true
            return if (total == 0) null else java.util.Arrays.copyOf(direct, total)
          }
          var out: ByteArrayOutputStream = null
          var n = 0
          while (total < cap && { n = stream.read(buf, 0, math.min(buf.length, cap - total)); n >= 0 })
            if (n > 0) {
              if (out == null) {
                out = new ByteArrayOutputStream(math.min(cap, math.max(total * 2, 8192)))
                out.write(direct, 0, total)
              }
              out.write(buf, 0, n)
              total += n
            }
          if (n < 0) eof = true
          if (out != null) out.toByteArray else if (total == 0) null else direct
        }
        override def hasNext: Boolean = pending != null
        override def next(): graft.core.ArchiveChunk = {
          if (pending == null) throw new NoSuchElementException("no more chunks")
          val c = pending
          pending = readChunk() // read-ahead: bounded to one extra chunk
          val digest = if (opts.computeHash) md.digest(c) else Array.emptyByteArray
          val row = graft.core.ArchiveChunk(source, path, c.length.toLong,
            digest, if (opts.materializeContent) c else Array.emptyByteArray, part)
          part += 1
          row
        }
      }
    }
    // the only zero-size chunk is an empty entry's part-0 (trailing
    // empty chunks are never produced), so this implements the same
    // zip unknown-size drop rule as the plain walk's `e.size > 0`
    override def nonEmpty(c: graft.core.ArchiveChunk): Boolean = c.size > 0
  }

  private def walkEntryG[T](
      source: String,
      nested: List[String],
      details: Details,
      parent: Option[Details],
      raw: InputStream,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T]): Iterator[T] = {
    val (kind, stream) = Sniff.open(raw)
    val quine = kind == FormatKind.Zip && parent.contains(details)
    if (kind.supportsRecursion && !quine && depth < opts.maxDepth) {
      // entering an archive: its name joins the lineage below the root
      // (the root itself is excluded — utils.rs:49-55 skip(1))
      val childNested = if (depth == 0) nested else nested :+ details.path
      if (!subtreeKept(opts, childNested)) Iterator.empty // pushed-prefix prune: skip the whole subtree
      else kind match {
        case FormatKind.Tar  => walkTar(source, childNested, details, stream, depth, opts, leaf)
        case FormatKind.Warc => walkWarc(source, childNested, details, stream, depth, opts, leaf)
        case FormatKind.Ar   => walkAr(source, childNested, details, stream, depth, opts, leaf)
        case FormatKind.Cpio => walkCpio(source, childNested, details, stream, depth, opts, leaf)
        case FormatKind.Rpm  => walkRpm(source, childNested, details, stream, depth, opts, leaf)
        case FormatKind.SevenZ => walkSevenZ(source, childNested, details, stream, depth, opts, leaf)
        case _               => walkZip(source, childNested, details, stream, depth, opts, leaf)
      }
    } else if (!pathKept(opts, (nested :+ details.path).mkString("/"))) {
      // pushed-prefix prune: never buffered, never digested; the
      // enclosing archive advances past the unread bytes on its own
      Iterator.empty
    } else {
      leaf.emit(source, nested, details.path, kind, stream, opts, details.size)
    }
  }

  /** The one entry loop of the library-read containers (tar, zip, cpio,
    * 7z); it owns the walk rules. `next` yields the next entry, or null
    * at the end; a header that fails to parse (an `IOException` from
    * `next`) ends the archive silently, as the reference's
    * `while let Some(Ok(entry))` does (tarfile.rs:22). `walked` picks the
    * entries to walk, and `body` opens one's content. An entry of
    * unknown size (-1: a streaming zip's data descriptor) is read, and
    * dropped when it turns out empty; a sized entry gets no filter.
    * Errors while reading a body are not caught: they fail the input.
    */
  private def walkEntries[T, E <: CcEntry](
      source: String,
      nested: List[String],
      self: Details,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T])(next: () => E)(body: E => InputStream, walked: E => Boolean): Iterator[T] =
    archiveIterator { () =>
      val e = try next() catch { case _: IOException => null.asInstanceOf[E] }
      if (e == null) None
      else if (!walked(e)) Some(Iterator.empty)
      else {
        val size = e.getSize
        val rows = walkEntryG(source, nested, Details(e.getName, size), Some(self),
          new NonClosing(body(e)), depth + 1, opts, leaf)
        Some(if (size < 0) rows.filter(leaf.nonEmpty) else rows)
      }
    }

  /** Only regular entries with content (tarfile.rs:24-26). */
  private def walkTar[T](source: String, nested: List[String], self: Details,
      stream: InputStream, depth: Int, opts: ConvertOptions, leaf: Leaf[T]): Iterator[T] = {
    val tar = new LeanTarInputStream(stream)
    walkEntries(source, nested, self, depth, opts, leaf)(() => tar.nextEntry())(_ => tar,
      e => e.isFile && e.getSize != 0)
  }

  /** Streaming read of local headers, no central directory — parity
    * with the reference's read_zipfile_from_stream (zipfile.rs:22);
    * only file entries with nonzero size (zipfile.rs:23-25).
    */
  private def walkZip[T](source: String, nested: List[String], self: Details,
      stream: InputStream, depth: Int, opts: ConvertOptions, leaf: Leaf[T]): Iterator[T] = {
    val zip = new ZipArchiveInputStream(stream, "UTF8", false, true)
    walkEntries(source, nested, self, depth, opts, leaf)(() => zip.getNextEntry)(_ => zip,
      e => !e.isDirectory && e.getSize != 0)
  }

  /** One ar member's or WARC record's body: reads at most `limit` bytes
    * of `in` and never closes it. A source that ends while bytes are
    * still owed throws `EOFException`: a body cut short fails its input,
    * as a truncated tar entry does. [[skipRest]] discards what the
    * consumer left unread (a pruned or structural body) so the enclosing
    * stream lands at the next header; it stays silent at the source's
    * end, which the next header read then reports as the archive's end.
    */
  private final class BoundedStream(in: InputStream, limit: Long) extends InputStream {
    private var remaining = limit
    private def owed(n: Int): Int =
      if (n < 0) throw new EOFException(s"body ended $remaining bytes short")
      else { remaining -= n; n }
    override def read(): Int =
      if (remaining <= 0) -1
      else { val c = in.read(); owed(if (c < 0) c else 1); c }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (remaining <= 0) -1
      else owed(in.read(b, off, math.min(len.toLong, remaining).toInt))
    def skipRest(): Unit =
      while (remaining > 0) {
        val n = in.skip(remaining)
        if (n > 0) remaining -= n
        else if (in.read() >= 0) remaining -= 1
        else remaining = 0 // truncated record: underlying EOF
      }
    override def close(): Unit = ()
  }

  /** WARC walker (ISO 28500 / WARC 1.1; the CommonCrawl container) —
    * an extension beyond the reference's tar/zip family, S-parity in
    * spirit: records are walked sequentially off the stream exactly
    * like tar entries, and record BODIES go through the same
    * two-stage sniff recursion, so a gzip-compressed body is emitted
    * decompressed and a nested archive body expands in place.
    *
    *   - record name: `WARC-Target-URI`, else the bare
    *     `WARC-Record-ID` (urn:uuid), else `record-<ordinal>`;
    *   - every record type is walked (warcinfo/request/response/...):
    *     downstream filters select — the walker's job is expansion;
    *   - `Content-Length: 0` records are skipped (tar `size == 0`
    *     rule); a missing/corrupt header ends the iteration silently
    *     and a body cut short fails the input (the walk rule); bodies
    *     left unread (pruned leaves) are skipped, never buffered;
    *   - HTTP response bodies are emitted RAW (headers + payload):
    *     header-stripping is a downstream projection, not a walk
    *     concern.
    *
    * `.warc.gz` (the CommonCrawl layout: per-record gzip members,
    * concatenated) decompresses transparently in sniff stage 1 —
    * `GZIPInputStream` reads concatenated members natively.
    */
  private def walkWarc[T](
      source: String,
      nested: List[String],
      self: Details,
      stream: InputStream,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T]): Iterator[T] = {
    var idx = -1L
    var current: BoundedStream = null
    // CRLF-terminated header line; null at EOF before any byte
    def readLine(): String = {
      val sb = new java.lang.StringBuilder
      var c = stream.read()
      if (c < 0) return null
      while (c >= 0 && c != '\n') { sb.append(c.toChar); c = stream.read() }
      if (sb.length > 0 && sb.charAt(sb.length - 1) == '\r') sb.setLength(sb.length - 1)
      sb.toString
    }
    archiveIterator { () =>
      // land on the record boundary: drain the previous body, then
      // tolerate the inter-record blank lines (spec: two CRLFs)
      if (current != null) { current.skipRest(); current = null }
      var line = readLine()
      while (line != null && line.isEmpty) line = readLine()
      if (line == null || !line.startsWith("WARC/")) None // EOF or corrupt: silent stop
      else {
        idx += 1
        val headers = scala.collection.mutable.Map.empty[String, String]
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          if (i > 0) headers(h.substring(0, i).trim.toLowerCase) = h.substring(i + 1).trim
          h = readLine()
        }
        val len = headers.get("content-length").flatMap(_.toLongOption)
        if (h == null || len.isEmpty) None // EOF inside the header block, or no length
        else if (len.get == 0) Some(Iterator.empty)
        else {
          val name = headers.get("warc-target-uri")
            .orElse(headers.get("warc-record-id").map(_.stripPrefix("<").stripSuffix(">")))
            .getOrElse(s"record-$idx")
          current = new BoundedStream(stream, len.get)
          val d = Details(name, len.get)
          Some(walkEntryG(source, nested, d, Some(self), new NonClosing(current),
            depth + 1, opts, leaf))
        }
      }
    }
  }

  /** Unix `ar` walker (System V / GNU / BSD `.a` / `.deb` container;
    * the format is the public ar(5) spec) — S-family extension in the
    * WARC walker's mold: members stream sequentially off the raw
    * stream, bodies recurse through the same two-stage sniff, and the
    * walk rule applies.
    *
    *   - 60-byte fixed ASCII headers; a missing/short header, a bad
    *     `` `\n `` end magic or a BSD name longer than its member ends
    *     the iteration silently; a body cut short fails the input;
    *     member data is 2-byte aligned (the pad byte is consumed, never
    *     emitted);
    *   - naming covers all three dialects: GNU trailing-`/` names are
    *     stripped; `/N` references resolve through the GNU long-name
    *     table (`//` member), and one with no table or past its end
    *     keeps its raw name; BSD `#1/len` names read `len` bytes off
    *     the data area (body = declared size − len), NUL padding
    *     stripped; names decode as UTF-8 (commons-compress's
    *     `ArArchiveInputStream` has no charset and differs on both
    *     long-name dialects, so ar stays parsed here);
    *   - the GNU symbol table (`/`), its 64-bit form (`/SYM64/`), and
    *     the `//` name table are structural members — consumed, never
    *     emitted; zero-length members are skipped (tar `size == 0`
    *     rule).
    */
  private def walkAr[T](
      source: String,
      nested: List[String],
      self: Details,
      stream: InputStream,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T]): Iterator[T] = {
    var nameTable: Array[Byte] = null
    var current: BoundedStream = null
    var pad = 0
    def ascii(b: Array[Byte], from: Int, until: Int): String =
      new String(b, from, until - from, "US-ASCII").trim
    // the sniff leaves the stream at position 0: consume the global magic
    if (readExact(stream, 8) == null) Iterator.empty
    else archiveIterator { () =>
      if (current != null) { current.skipRest(); current = null }
      while (pad > 0) { if (stream.read() < 0) pad = 0 else pad -= 1 }
      val hdr = readExact(stream, 60)
      if (hdr == null || (hdr(58) & 0xff) != 0x60 || (hdr(59) & 0xff) != 0x0a) None
      else {
        val rawName = ascii(hdr, 0, 16)
        val size = ascii(hdr, 48, 58).toLongOption.filter(_ >= 0)
        if (size.isEmpty) None // corrupt size field: silent stop
        else {
          pad = (size.get % 2).toInt
          if (rawName == "//") {
            // GNU long-name table: buffer it (bounded: it holds member
            // NAMES, not data), never emit
            val t = readExact(stream, size.get.toInt)
            if (t == null) None else { nameTable = t; Some(Iterator.empty) }
          } else if (rawName == "/" || rawName == "/SYM64/" || rawName.isEmpty) {
            // symbol table / empty name: structural, skip the body
            current = new BoundedStream(stream, size.get)
            Some(Iterator.empty)
          } else {
            // resolve the member name and the actual body size; None
            // marks a corrupt naming header (silent stop, tar parity)
            var bodySize = size.get
            val name: Option[String] =
              if (rawName.startsWith("#1/")) { // BSD: name prepends the data
                val nameLen = rawName.drop(3).toIntOption.getOrElse(-1)
                if (nameLen < 0 || nameLen > bodySize) None
                else Option(readExact(stream, nameLen)).map { nb =>
                  bodySize -= nameLen
                  // BSD NUL-pads the stored name to the declared len
                  new String(nb, "UTF-8").takeWhile(_ != '\u0000')
                }
              } else if (rawName.length > 1 && rawName.head == '/' &&
                  rawName.tail.forall(_.isDigit) && nameTable != null) {
                // GNU: /offset into the // table, entry ends "/\n" or "\n"
                val off = rawName.tail.toInt
                if (off >= nameTable.length) Some(rawName)
                else {
                  var end = off
                  while (end < nameTable.length && nameTable(end) != '\n') end += 1
                  if (end > off && nameTable(end - 1) == '/') end -= 1
                  Some(new String(nameTable, off, end - off, "UTF-8"))
                }
              } else {
                Some(if (rawName.endsWith("/")) rawName.dropRight(1) else rawName)
              }
            name.map { n =>
              current = new BoundedStream(stream, bodySize)
              if (bodySize == 0 || n.isEmpty) Iterator.empty // zero-length member: tar skip rule
              else walkEntryG(source, nested, Details(n, bodySize), Some(self),
                new NonClosing(current), depth + 1, opts, leaf)
            }
          }
        }
      }
    }
  }

  /** cpio walker (the initramfs / RPM-payload container), read with
    * commons-compress `CpioArchiveInputStream`: newc `070701`, crc
    * `070702` (its checksum is verified, so a mismatch fails the
    * input) and odc `070707`; names decode as UTF-8. Only regular
    * files with nonzero size and a name are walked (directories,
    * symlinks, devices and size-0 hardlink placeholders are skipped);
    * the trailer ends the archive. Bodies re-enter the two-stage
    * sniff, so nested archives expand in place with cpio-member
    * lineage.
    *
    * Two steps keep the reader to the walk rule. The rest of a body
    * left unread (pruned) is read out before the next header, so its
    * checksum mismatch fails the input instead of reading as a corrupt
    * header that silently drops the members after it; a source that
    * ends there still stops silently. And a header reads at most
    * [[CpioHeaderMax]] bytes: the reader takes a name of any declared
    * size into memory, so a corrupt size would read the rest of the
    * stream.
    */
  private def walkCpio[T](source: String, nested: List[String], self: Details,
      stream: InputStream, depth: Int, opts: ConvertOptions, leaf: Leaf[T]): Iterator[T] = {
    val src = new CappedStream(stream)
    val cpio = new CpioArchiveInputStream(src, "UTF-8")
    def next(): CpioArchiveEntry = {
      try while (cpio.skip(Long.MaxValue) > 0) {}
      catch { case x: IOException if !x.isInstanceOf[EOFException] => throw new UncheckedIOException(x) }
      src.capped(CpioHeaderMax)(cpio.getNextEntry)
    }
    walkEntries(source, nested, self, depth, opts, leaf)(() => next())(_ => cpio,
      e => e.isRegularFile && e.getSize > 0 && e.getName.nonEmpty)
  }

  /** Room for a cpio header, a name of up to 64 KiB and the trailer's
    * block padding.
    */
  private val CpioHeaderMax = 1 << 17

  /** Passes reads through to `in`; inside [[capped]] a read past its
    * `max` bytes throws, which the entry loop takes for a corrupt header.
    */
  private final class CappedStream(in: InputStream) extends FilterInputStream(in) {
    private var left = Long.MaxValue
    def capped[A](max: Long)(f: => A): A = { left = max; try f finally left = Long.MaxValue }
    private def room(len: Int): Int =
      if (left <= 0) throw new IOException("header longer than its cap")
      else math.min(len.toLong, left).toInt
    override def read(): Int = { room(1); val c = in.read(); if (c >= 0) left -= 1; c }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, room(len)); if (n > 0) left -= n; n
    }
  }

  /** RPM package walker (rpm.org file-format spec — the fifth
    * container family; `.deb` needs no walker of its own because
    * ar + tar already walk). RPM is pure framing in front of an
    * archive we already handle:
    *
    *   - 96-byte lead (magic 0xEDABEEDB — re-validated here, the
    *     sniff only peeked);
    *   - signature header: magic `8E AD E8 01`, reserved(4),
    *     nindex(BE32), hsize(BE32), nindex x 16-byte index entries,
    *     hsize-byte store, store padded to 8 (the lead is 96 = 8k,
    *     and 16 + 16·nindex is 8-aligned, so the pad depends on
    *     hsize alone);
    *   - main header: same structure, no padding;
    *   - payload: conventionally gzip/xz/zstd-compressed cpio newc.
    *
    * Both headers are consumed (structural, like ar's `//` table),
    * then the payload re-enters the shared two-stage sniff and walks
    * as cpio/tar AT THIS NESTING LEVEL — members surface with
    * rpm-name lineage and no artificial "payload" segment. A corrupt
    * or truncated lead/header stops silently (W7 parity); an
    * unrecognizable payload emits nothing.
    */
  private def walkRpm[T](
      source: String,
      nested: List[String],
      self: Details,
      stream: InputStream,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T]): Iterator[T] = {
    def be32(b: Array[Byte], i: Int): Long =
      (((b(i) & 0xff).toLong << 24) | ((b(i + 1) & 0xff) << 16) |
        ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)) & 0xffffffffL
    def skipHeader(alignStore: Boolean): Boolean = {
      val h = readExact(stream, 16)
      if (h == null || (h(0) & 0xff) != 0x8e || (h(1) & 0xff) != 0xad ||
        (h(2) & 0xff) != 0xe8 || h(3) != 1) return false
      val nindex = be32(h, 8)
      val hsize = be32(h, 12)
      // sanity bounds: a header indexes package METADATA, not data
      if (nindex > (1L << 20) || hsize > (1L << 30)) return false
      val body = nindex * 16 + hsize
      // a store cut short leaves no payload for the sniff: the walk ends
      new BoundedStream(stream, body + (if (alignStore) (8 - body % 8) % 8 else 0L)).skipRest()
      true
    }
    val lead = readExact(stream, 96)
    if (lead == null || (lead(0) & 0xff) != 0xed || (lead(1) & 0xff) != 0xab ||
      (lead(2) & 0xff) != 0xee || (lead(3) & 0xff) != 0xdb) Iterator.empty
    else if (!skipHeader(alignStore = true) || !skipHeader(alignStore = false))
      Iterator.empty
    else {
      val (kind, payload) = Sniff.open(stream)
      kind match {
        case FormatKind.Cpio => walkCpio(source, nested, self, payload, depth, opts, leaf)
        case FormatKind.Tar  => walkTar(source, nested, self, payload, depth, opts, leaf)
        case _               => Iterator.empty // no recognizable payload
      }
    }
  }

  /** 7z walker (7-zip.org file-format spec — the sixth container
    * family). 7z is the one family that CANNOT stream: the entry
    * metadata (names, sizes, codec chains) lives in an end header at
    * the tail of the file, so the walker first spools the
    * already-decompressed stream to a seekable spill —
    * an in-memory channel at or below
    * [[graft.core.ConvertOptions.sevenZMemSpoolMax]] bytes, else a
    * task-local temp file on local disk (the shuffle-spill
    * discipline; deleted at archive end AND at task completion, so an
    * abandoned iterator never leaks disk). This is a documented
    * deviation from the otherwise pure-streaming walk, in zip64's
    * mold.
    *
    * Walk rules are tar's: only non-directory entries with real
    * content streams and size > 0 are walked; entry bodies re-enter
    * the two-stage sniff recursion, so nested archives expand in
    * place with 7z-member lineage. A corrupt end header (open
    * failure) or corrupt entry metadata ends the archive silently
    * (W7 parity); errors while reading entry CONTENT propagate and
    * fail the input. Decoding uses commons-compress `SevenZFile`
    * (LZMA/LZMA2 via the public XZ-for-Java library); encrypted
    * archives fail at content-read like any other read error.
    */
  private def walkSevenZ[T](
      source: String,
      nested: List[String],
      self: Details,
      stream: InputStream,
      depth: Int,
      opts: ConvertOptions,
      leaf: Leaf[T]): Iterator[T] = {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZFile}
    import org.apache.commons.compress.utils.SeekableInMemoryByteChannel

    // Spool phase: buffer to memory up to the threshold; past it,
    // switch to a temp file and stream-copy the remainder (at most
    // the walk's copy buffer in flight — the spool never holds more
    // than `sevenZMemSpoolMax` heap regardless of archive size).
    val memCap = math.min(opts.sevenZMemSpoolMax, Int.MaxValue.toLong - 8).toInt
    val memBuf = new ByteArrayOutputStream(math.min(memCap, 256 * 1024))
    val copyBuf = leaf.buf
    var n = 0
    while (memBuf.size <= memCap && { n = stream.read(copyBuf); n >= 0 })
      if (n > 0) memBuf.write(copyBuf, 0, n)
    var tmp: java.io.File = null
    val channel: java.nio.channels.SeekableByteChannel =
      if (n < 0) new SeekableInMemoryByteChannel(memBuf.toByteArray)
      else {
        tmp = java.io.File.createTempFile("graft-7z-spool-", ".7z")
        tmp.deleteOnExit() // driver/test backstop; tasks clean up below
        val fos = new java.io.FileOutputStream(tmp)
        try {
          memBuf.writeTo(fos)
          var k = stream.read(copyBuf)
          while (k >= 0) { if (k > 0) fos.write(copyBuf, 0, k); k = stream.read(copyBuf) }
        } finally fos.close()
        java.nio.channels.FileChannel.open(tmp.toPath,
          java.nio.file.StandardOpenOption.READ)
      }

    val cleaned = new java.util.concurrent.atomic.AtomicBoolean(false)
    var sz: SevenZFile = null
    def cleanup(): Unit =
      if (cleaned.compareAndSet(false, true)) {
        try { if (sz != null) sz.close() else channel.close() }
        catch { case _: java.io.IOException => () }
        if (tmp != null) tmp.delete()
      }
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit](_ => cleanup())

    // corrupt end header => silent stop (tar corrupt-header parity)
    try sz = SevenZFile.builder().setSeekableByteChannel(channel).get()
    catch { case _: java.io.IOException => cleanup(); return Iterator.empty }

    // the last entry, or corrupt entry metadata (a silent stop), ends
    // the spool
    def nextEntry(): SevenZArchiveEntry =
      try { val e = sz.getNextEntry; if (e == null) cleanup(); e }
      catch { case x: IOException => cleanup(); throw x }
    walkEntries(source, nested, self, depth, opts, leaf)(() => nextEntry())(sz.getInputStream,
      e => !e.isDirectory && e.hasStream && e.getSize != 0)
  }

  /** Sequential expansion over an archive's entries. `nextEntry`
    * returns None at end-of-archive (or on a corrupt header — the
    * walkers catch that themselves), or the expansion of the next
    * entry. Content-read errors inside an expansion are NOT caught
    * here: they propagate out and fail the input (reference W7 —
    * visitor.rs:59-65 poisons the channel, the sink aborts).
    * Sub-iterators are drained fully before the underlying archive
    * stream advances.
    */
  private def archiveIterator[T](nextEntry: () => Option[Iterator[T]]): Iterator[T] =
    new Iterator[T] {
      private var cur: Iterator[T] = Iterator.empty
      private var done = false

      private def advance(): Unit =
        while (!cur.hasNext && !done) {
          nextEntry() match {
            case None     => done = true
            case Some(it) => cur = it
          }
        }

      override def hasNext: Boolean = { advance(); cur.hasNext }
      override def next(): T = { advance(); cur.next() }
    }
}
