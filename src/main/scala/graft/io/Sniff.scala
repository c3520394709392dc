package graft.io

import graft.core.FormatKind
import java.io.{BufferedInputStream, InputStream}
import java.util.zip.GZIPInputStream

/** Two-stage magic-byte format sniffing + transparent decompression.
  *
  * Stage 1 peeks <=6 bytes and classifies the compression codec
  * (reference: src/anyreader/compression.rs:34-75, zstd incl.
  * skippable frames :77-92). Stage 2 peeks <=262 bytes of the
  * *decompressed* stream and classifies container/executable formats
  * (reference: src/anyreader/format.rs:14-52). Magic tables are
  * public knowledge (file-format specs / the `infer` crate's docs).
  */
object Sniff {

  final val MaxCompressionPeek = 6
  final val MaxContainerPeek = 262

  /** Peek up to `n` bytes without consuming (stream must support mark). */
  def peek(in: InputStream, n: Int): Array[Byte] = {
    require(in.markSupported, "peek requires mark/reset support")
    in.mark(n + 1)
    val buf = new Array[Byte](n)
    var off = 0
    var read = 0
    while (off < n && read >= 0) {
      read = in.read(buf, off, n - off)
      if (read > 0) off += read
    }
    in.reset()
    if (off == n) buf else java.util.Arrays.copyOf(buf, off)
  }

  private def at(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** Gzip member header (RFC 1952 §2.3.1): magic `1F 8B`, CM = 8
    * (deflate, the only method defined) and no reserved FLG bits (5-7)
    * set. The two extra checks keep ordinary data that merely starts
    * with the magic — about 1 in 65,536 random files — from being
    * handed to the inflater and failing the whole input.
    */
  def isGzip(b: Array[Byte]): Boolean =
    b.length >= 4 && at(b, 0) == 0x1f && at(b, 1) == 0x8b && at(b, 2) == 8 &&
      (at(b, 3) & 0xe0) == 0

  /** Zstd frame or skippable frame (reference: compression.rs:77-92). */
  def isZstd(b: Array[Byte]): Boolean = {
    if (b.length < 4) return false
    val magic = (at(b, 0)) | (at(b, 1) << 8) | (at(b, 2) << 16) | (at(b, 3) << 24)
    magic == 0xfd2fb528 || (magic & 0xfffffff0) == 0x184d2a50
  }

  def isBzip2(b: Array[Byte]): Boolean =
    b.length >= 3 && at(b, 0) == 'B' && at(b, 1) == 'Z' && at(b, 2) == 'h'

  def isXz(b: Array[Byte]): Boolean =
    b.length >= 6 && at(b, 0) == 0xfd && at(b, 1) == '7' && at(b, 2) == 'z' &&
      at(b, 3) == 'X' && at(b, 4) == 'Z' && at(b, 5) == 0x00

  /** LZ4 frame magic `04 22 4D 18` (lz4.org frame-format spec) —
    * stage-1 extension beyond the reference's four codecs.
    */
  def isLz4(b: Array[Byte]): Boolean =
    b.length >= 4 && at(b, 0) == 0x04 && at(b, 1) == 0x22 &&
      at(b, 2) == 0x4d && at(b, 3) == 0x18

  /** Snappy framing stream identifier `FF 06 00 00` + "sNaPpY"
    * (google/snappy framing_format.txt) — the 6-byte compression peek
    * sees `FF 06 00 00 73 4E`, unambiguous already.
    */
  def isSnappyFramed(b: Array[Byte]): Boolean =
    b.length >= 6 && at(b, 0) == 0xff && at(b, 1) == 0x06 &&
      at(b, 2) == 0x00 && at(b, 3) == 0x00 && at(b, 4) == 's' && at(b, 5) == 'N'

  /** "ustar" at offset 257 (POSIX/GNU tar). */
  def isTar(b: Array[Byte]): Boolean =
    b.length >= 262 && at(b, 257) == 'u' && at(b, 258) == 's' && at(b, 259) == 't' &&
      at(b, 260) == 'a' && at(b, 261) == 'r'

  def isZip(b: Array[Byte]): Boolean =
    b.length >= 4 && at(b, 0) == 'P' && at(b, 1) == 'K' &&
      ((at(b, 2) == 3 && at(b, 3) == 4) || (at(b, 2) == 5 && at(b, 3) == 6) ||
        (at(b, 2) == 7 && at(b, 3) == 8))

  /** Executable formats the reference recognizes
    * (reference: src/anyreader/format.rs:33-44): COFF, ELF, Mach-O,
    * DEX, LLVM bitcode, Java class, DLL/EXE (MZ), WASM.
    */
  def isExecutable(b: Array[Byte]): Boolean = {
    if (b.length < 4) return false
    val m0 = at(b, 0); val m1 = at(b, 1); val m2 = at(b, 2); val m3 = at(b, 3)
    val elf = m0 == 0x7f && m1 == 'E' && m2 == 'L' && m3 == 'F'
    val mz = m0 == 'M' && m1 == 'Z' // EXE and DLL share the MZ magic
    val wasm = m0 == 0x00 && m1 == 'a' && m2 == 's' && m3 == 'm'
    val dex = m0 == 'd' && m1 == 'e' && m2 == 'x' && m3 == 0x0a
    val llvm = m0 == 'B' && m1 == 'C' && m2 == 0xc0 && m3 == 0xde
    // CAFEBABE covers both Java class files and Mach-O fat binaries —
    // both classify as Executable, so no need to distinguish.
    val javaOrFat = m0 == 0xca && m1 == 0xfe && m2 == 0xba && m3 == 0xbe
    val mach = (m0 == 0xfe && m1 == 0xed && m2 == 0xfa && (m3 == 0xce || m3 == 0xcf)) ||
      ((m0 == 0xce || m0 == 0xcf) && m1 == 0xfa && m2 == 0xed && m3 == 0xfe)
    val coff = m0 == 0x4c && m1 == 0x01
    elf || mz || wasm || dex || llvm || javaOrFat || mach || coff
  }

  def detectCompression(b: Array[Byte]): Option[FormatKind] =
    if (isGzip(b)) Some(FormatKind.Gzip)
    else if (isZstd(b)) Some(FormatKind.Zstd)
    else if (isBzip2(b)) Some(FormatKind.Bzip2)
    else if (isXz(b)) Some(FormatKind.Xz)
    else if (isLz4(b)) Some(FormatKind.Lz4)
    else if (isSnappyFramed(b)) Some(FormatKind.SnappyFramed)
    else None

  /** WARC version line prefix (ISO 28500: records start `WARC/1.x`). */
  def isWarc(b: Array[Byte]): Boolean =
    b.length >= 5 && at(b, 0) == 'W' && at(b, 1) == 'A' && at(b, 2) == 'R' &&
      at(b, 3) == 'C' && at(b, 4) == '/'

  /** Unix ar global magic `!<arch>\n` (System V / GNU / BSD spec). */
  def isAr(b: Array[Byte]): Boolean =
    b.length >= 8 && at(b, 0) == '!' && at(b, 1) == '<' && at(b, 2) == 'a' &&
      at(b, 3) == 'r' && at(b, 4) == 'c' && at(b, 5) == 'h' && at(b, 6) == '>' &&
      at(b, 7) == 0x0a

  /** cpio ASCII magics: `070701` (newc), `070702` (newc+crc),
    * `070707` (odc/portable). Binary cpio (0x71C7) is deliberately
    * not sniffed — its 2-byte magic collides with ordinary data.
    */
  def isCpio(b: Array[Byte]): Boolean =
    b.length >= 6 && at(b, 0) == '0' && at(b, 1) == '7' && at(b, 2) == '0' &&
      at(b, 3) == '7' && at(b, 4) == '0' &&
      (at(b, 5) == '1' || at(b, 5) == '2' || at(b, 5) == '7')

  /** RPM lead magic 0xEDABEEDB (rpm.org file-format spec). */
  def isRpm(b: Array[Byte]): Boolean =
    b.length >= 4 && at(b, 0) == 0xed && at(b, 1) == 0xab &&
      at(b, 2) == 0xee && at(b, 3) == 0xdb

  /** 7z signature `37 7A BC AF 27 1C` (7-zip.org file-format spec). */
  def isSevenZ(b: Array[Byte]): Boolean =
    b.length >= 6 && at(b, 0) == '7' && at(b, 1) == 'z' && at(b, 2) == 0xbc &&
      at(b, 3) == 0xaf && at(b, 4) == 0x27 && at(b, 5) == 0x1c

  def detectContainer(b: Array[Byte]): Option[FormatKind] =
    if (isTar(b)) Some(FormatKind.Tar)
    else if (isZip(b)) Some(FormatKind.Zip)
    else if (isWarc(b)) Some(FormatKind.Warc)
    else if (isAr(b)) Some(FormatKind.Ar)
    else if (isCpio(b)) Some(FormatKind.Cpio)
    else if (isRpm(b)) Some(FormatKind.Rpm)
    else if (isSevenZ(b)) Some(FormatKind.SevenZ)
    else if (isExecutable(b)) Some(FormatKind.Executable)
    else None

  /** Mark buffer for a raw stream without mark support — in a walk,
    * every archive member, since the walker's entry streams refuse
    * mark. It only has to hold the 263 bytes the container peek marks;
    * reads larger than the buffer bypass it once the peek's mark has
    * lapsed, so a bigger one would only be zeroed for nothing.
    */
  private final val PeekBuffer = 1024

  /** Buffer over a decompressor's output, sized for throughput: it
    * turns the walkers' small reads into few decoder calls.
    */
  private final val DecodedBuffer = 64 * 1024

  private def buffered(in: InputStream, size: Int): InputStream =
    if (in.markSupported) in else new BufferedInputStream(in, size)

  /** Wrap `raw` in the detected streaming decompressor; pass-through
    * when no codec magic matches (reference: compression.rs:36-63).
    * Returns the codec kind (None = not compressed) and the stream
    * of decompressed bytes.
    */
  def decompress(raw: InputStream): (Option[FormatKind], InputStream) = {
    val in = buffered(raw, PeekBuffer)
    val head = peek(in, MaxCompressionPeek)
    detectCompression(head) match {
      case k @ Some(FormatKind.Gzip) => (k, new GZIPInputStream(in, 64 * 1024))
      case k @ Some(FormatKind.Zstd) =>
        (k, new com.github.luben.zstd.ZstdInputStream(in))
      case k @ Some(FormatKind.Bzip2) =>
        (k, new org.apache.commons.compress.compressors.bzip2.BZip2CompressorInputStream(in))
      case k @ Some(FormatKind.Xz) =>
        // multi-stream decode, matching liblzma's new_multi_decoder
        // (reference: compression.rs:58)
        (k, org.apache.commons.compress.compressors.xz.XZCompressorInputStream.builder()
          .setInputStream(in).setDecompressConcatenated(true).get())
      case k @ Some(FormatKind.Lz4) =>
        // concatenated frames decode fully (the gzip/xz multi-member rule)
        (k, new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorInputStream(in, true))
      case k @ Some(FormatKind.SnappyFramed) =>
        (k, new org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorInputStream(in))
      case _ => (None, in)
    }
  }

  /** Full two-stage sniff: decompress, then classify the decompressed
    * stream as tar/zip/executable, else report the compression kind,
    * else Unknown (reference: format.rs:14-52). The returned stream
    * yields the *decompressed* bytes from position 0.
    */
  def open(raw: InputStream): (FormatKind, InputStream) = {
    val (codec, stream0) = decompress(raw)
    val stream = buffered(stream0, DecodedBuffer)
    val head = peek(stream, MaxContainerPeek)
    val kind = detectContainer(head).orElse(codec).getOrElse(FormatKind.Unknown)
    (kind, stream)
  }

  /** Sniff a fully-materialized value (the SQL `format_kind` function). */
  def formatKindOfBytes(bytes: Array[Byte]): FormatKind = {
    val (kind, _) = open(new java.io.ByteArrayInputStream(bytes))
    kind
  }
}
