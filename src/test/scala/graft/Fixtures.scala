package graft

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.commons.compress.archivers.zip.{ZipArchiveEntry, ZipArchiveOutputStream}
import org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream
import org.apache.commons.compress.compressors.xz.XZCompressorOutputStream
import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

/** In-memory archive/codec fixture builders — the Scala port of the
  * reference's test helpers (reference: src/anyreader/test.rs:15-62).
  * No binaries are checked in; everything is generated from
  * (path, bytes) pairs.
  */
object Fixtures {
  val TestData: Array[Byte] = "hello world".getBytes("UTF-8")

  def gzipData(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(data); gz.close()
    bos.toByteArray
  }

  def zstdData(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    z.write(data); z.close()
    bos.toByteArray
  }

  def bz2Data(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val b = new BZip2CompressorOutputStream(bos)
    b.write(data); b.close()
    bos.toByteArray
  }

  def xzData(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val x = new XZCompressorOutputStream(bos)
    x.write(data); x.close()
    bos.toByteArray
  }

  def lz4Data(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val l = new org.apache.commons.compress.compressors.lz4.FramedLZ4CompressorOutputStream(bos)
    l.write(data); l.close()
    bos.toByteArray
  }

  def snappyData(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val s = new org.apache.commons.compress.compressors.snappy.FramedSnappyCompressorOutputStream(bos)
    s.write(data); s.close()
    bos.toByteArray
  }

  def tarArchive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(bos)
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_GNU)
    entries.foreach { case (path, data) =>
      val e = new TarArchiveEntry(path)
      e.setSize(data.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(data)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  def zipArchive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zip = new ZipArchiveOutputStream(bos)
    entries.foreach { case (path, data) =>
      val e = new ZipArchiveEntry(path)
      e.setSize(data.length.toLong)
      zip.putArchiveEntry(e)
      zip.write(data)
      zip.closeArchiveEntry()
    }
    zip.close()
    bos.toByteArray
  }

  /** Zip with zip64 forced on every entry: local headers carry
    * 0xFFFFFFFF in the 4-byte size fields and the real sizes in the
    * 0x0001 extended-information extra field — the layout any member
    * >4 GiB uses. Lets the walker prove it reads zip64 headers
    * without a multi-GiB fixture.
    */
  def zip64Archive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    import org.apache.commons.compress.archivers.zip.Zip64Mode
    val bos = new ByteArrayOutputStream()
    val zip = new ZipArchiveOutputStream(bos)
    zip.setUseZip64(Zip64Mode.Always)
    entries.foreach { case (path, data) =>
      val e = new ZipArchiveEntry(path)
      e.setSize(data.length.toLong)
      zip.putArchiveEntry(e)
      zip.write(data)
      zip.closeArchiveEntry()
    }
    zip.close()
    bos.toByteArray
  }

  /** cpio newc (`070701`) archive: 110-byte hex headers, name and
    * body NUL-padded to 4-byte alignment, `TRAILER!!!` terminator.
    * `mode` defaults to a regular file; pass e.g. 0x41ED for a
    * directory record. `crc` writes the crc dialect (`070702`), whose
    * check field is the sum of the body's bytes.
    */
  def cpioArchive(entries: Seq[(String, Array[Byte])],
      modeOf: String => Int = _ => 0x81A4, crc: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var ino = 1
    def record(name: String, data: Array[Byte], mode: Int): Unit = {
      val nameBytes = name.getBytes("UTF-8")
      val nameSize = nameBytes.length + 1
      val sb = new StringBuilder(if (crc) "070702" else "070701")
      def hex(v: Long): Unit = sb.append(f"$v%08x")
      hex(ino.toLong); ino += 1       // c_ino
      hex(mode.toLong)                // c_mode
      hex(0); hex(0); hex(1)          // uid, gid, nlink
      hex(0)                          // mtime
      hex(data.length.toLong)         // filesize
      hex(0); hex(0); hex(0); hex(0)  // devmajor/minor, rdevmajor/minor
      hex(nameSize.toLong)            // namesize (incl NUL)
      hex(if (crc) data.map(_ & 0xffL).sum & 0xffffffffL else 0L) // check
      out.write(sb.toString.getBytes("US-ASCII"))
      out.write(nameBytes); out.write(0)
      var n = (110 + nameSize) % 4
      while (n % 4 != 0) { out.write(0); n += 1 }
      out.write(data)
      var m = data.length % 4
      while (m % 4 != 0) { out.write(0); m += 1 }
    }
    entries.foreach { case (p, d) => record(p, d, modeOf(p)) }
    record("TRAILER!!!", Array.emptyByteArray, 0)
    out.toByteArray
  }

  /** RPM package (rpm.org file-format spec): 96-byte lead, signature
    * header (store 8-aligned), main header, then `payload` verbatim
    * (conventionally a gzipped cpio built with [[cpioArchive]]).
    * Headers carry one trivial INT32 index entry each — enough to
    * exercise the index arithmetic without real metadata.
    */
  def rpmPackage(payload: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    // lead: magic, version 3.0, type 0 (binary), arch 1, name[66],
    // os 1, signature type 5, reserved[16]
    out.write(Array[Byte](0xed.toByte, 0xab.toByte, 0xee.toByte, 0xdb.toByte, 3, 0, 0, 0, 0, 1))
    val name = "graft-fixture-1.0-1".getBytes("US-ASCII")
    out.write(name); out.write(new Array[Byte](66 - name.length))
    out.write(Array[Byte](0, 1, 0, 5))
    out.write(new Array[Byte](16))
    def header(storeBytes: Array[Byte], align8: Boolean): Unit = {
      def be32(v: Int): Unit =
        out.write(Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte))
      out.write(Array[Byte](0x8e.toByte, 0xad.toByte, 0xe8.toByte, 1, 0, 0, 0, 0))
      be32(1)                 // nindex
      be32(storeBytes.length) // hsize
      be32(1000); be32(4); be32(0); be32(1) // one INT32 tag at offset 0
      out.write(storeBytes)
      if (align8) out.write(new Array[Byte]((8 - storeBytes.length % 8) % 8))
    }
    header(Array[Byte](0, 0, 0, 42), align8 = true)
    header(Array[Byte](0, 0, 1, 7), align8 = false)
    out.write(payload)
    out.toByteArray
  }

  /** cpio odc (`070707`, portable ASCII) archive: 76-byte octal
    * headers, no padding.
    */
  def cpioOdcArchive(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var ino = 1
    def record(name: String, data: Array[Byte], mode: Int): Unit = {
      val nameBytes = name.getBytes("UTF-8")
      val sb = new StringBuilder("070707")
      def oct(v: Long, w: Int): Unit = sb.append(("%0" + w + "o").format(v))
      oct(0, 6); oct(ino.toLong, 6); ino += 1
      oct(mode.toLong, 6); oct(0, 6); oct(0, 6); oct(1, 6); oct(0, 6)
      oct(0, 11)
      oct(nameBytes.length + 1L, 6)
      oct(data.length.toLong, 11)
      out.write(sb.toString.getBytes("US-ASCII"))
      out.write(nameBytes); out.write(0)
      out.write(data)
    }
    entries.foreach { case (p, d) => record(p, d, 0x81A4) }
    record("TRAILER!!!", Array.emptyByteArray, 0)
    out.toByteArray
  }

  /** Minimal ISO 28500 WARC: one record per (extra headers, body);
    * the version line, Content-Length, and the two inter-record
    * CRLFs are supplied here.
    */
  def warcArchive(records: Seq[(Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    records.foreach { case (hdrs, body) =>
      val sb = new StringBuilder("WARC/1.0\r\n")
      hdrs.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
      sb.append(s"Content-Length: ${body.length}\r\n\r\n")
      out.write(sb.toString.getBytes("UTF-8"))
      out.write(body)
      out.write("\r\n\r\n".getBytes("UTF-8"))
    }
    out.toByteArray
  }

  /** Unix ar with every member's header name and data stored exactly as
    * given (the data 2-byte aligned with a `\n` pad): the raw form the
    * dialect cases build GNU `/N` and BSD `#1/len` members from.
    */
  def arRawArchive(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("!<arch>\n".getBytes("US-ASCII"))
    members.foreach { case (stored, data) =>
      arHeader(out, stored, data.length.toLong)
      out.write(data)
      if (data.length % 2 == 1) out.write('\n')
    }
    out.toByteArray
  }

  private def arHeader(out: ByteArrayOutputStream, name: String, size: Long): Unit = {
    val sb = new StringBuilder
    sb.append(name.padTo(16, ' '))
    sb.append("0".padTo(12, ' '))     // mtime
    sb.append("0".padTo(6, ' '))      // uid
    sb.append("0".padTo(6, ' '))      // gid
    sb.append("100644".padTo(8, ' ')) // mode
    sb.append(size.toString.padTo(10, ' '))
    sb.append("`\n")
    out.write(sb.toString.getBytes("US-ASCII"))
  }

  /** Unix ar, System V/GNU dialect: short names stored `name/`, names
    * >15 chars through the GNU `//` long-name table, data 2-byte
    * aligned with a `\n` pad. `withSymtab` prepends a `/` symbol-table
    * member (structural — a walker must consume, never emit it).
    */
  def arArchive(entries: Seq[(String, Array[Byte])],
      withSymtab: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("!<arch>\n".getBytes("US-ASCII"))
    if (withSymtab) {
      val sym = Array[Byte](0, 0, 0, 0) // empty ranlib table
      arHeader(out, "/", sym.length.toLong)
      out.write(sym)
    }
    val longNames = entries.map(_._1).filter(_.length > 15)
    val offsets = {
      var off = 0
      longNames.map { n => val o = off; off += n.length + 2; n -> o }.toMap
    }
    val table = longNames.map(_ + "/\n").mkString.getBytes("US-ASCII")
    if (table.nonEmpty) {
      arHeader(out, "//", table.length.toLong)
      out.write(table)
      if (table.length % 2 == 1) out.write('\n')
    }
    entries.foreach { case (name, data) =>
      val stored = if (name.length > 15) s"/${offsets(name)}" else s"$name/"
      arHeader(out, stored, data.length.toLong)
      out.write(data)
      if (data.length % 2 == 1) out.write('\n')
    }
    out.toByteArray
  }

  /** Unix ar, BSD dialect: every name stored `#1/<len>` with the name
    * bytes prepended to the member data (declared size includes them).
    */
  def arArchiveBsd(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("!<arch>\n".getBytes("US-ASCII"))
    entries.foreach { case (name, data) =>
      val nb = name.getBytes("UTF-8")
      arHeader(out, s"#1/${nb.length}", (nb.length + data.length).toLong)
      out.write(nb)
      out.write(data)
      if ((nb.length + data.length) % 2 == 1) out.write('\n')
    }
    out.toByteArray
  }

  /** 7z archive written via commons-compress `SevenZOutputFile`
    * (LZMA2-coded, end-header layout per the 7-zip.org spec). Names
    * ending `/` become directory entries with no stream.
    */
  def sevenZArchive(entries: Seq[(String, Array[Byte])],
      store: Boolean = false): Array[Byte] = {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZMethodConfiguration, SevenZOutputFile}
    val f = java.io.File.createTempFile("graft-7z-fixture-", ".7z")
    try {
      val out = new SevenZOutputFile(f)
      // store=true => COPY method: the entry stream commons-compress
      // hands back is then mark-capable, the shape that exposed the
      // peek-vs-CRC walker bug (see NonClosing scaladoc)
      if (store) out.setContentMethods(java.util.List.of(
        new SevenZMethodConfiguration(SevenZMethod.COPY)))
      entries.foreach { case (name, data) =>
        val e = new SevenZArchiveEntry()
        val isDir = name.endsWith("/")
        e.setName(if (isDir) name.dropRight(1) else name)
        e.setDirectory(isDir)
        out.putArchiveEntry(e)
        if (!isDir) out.write(data)
        out.closeArchiveEntry()
      }
      out.close()
      java.nio.file.Files.readAllBytes(f.toPath)
    } finally f.delete()
  }

  def sha256(data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(data)

  def sha256Hex(data: Array[Byte]): String =
    sha256(data).map(b => f"${b & 0xff}%02x").mkString

  /** A minimal fake ELF: magic + NULs + embedded ASCII runs. */
  def fakeElf(strings: Seq[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write(Array[Byte](0x7f, 'E'.toByte, 'L'.toByte, 'F'.toByte))
    strings.foreach { s =>
      bos.write(Array[Byte](0, 1, 2)) // non-text separators
      bos.write(s.getBytes("UTF-8"))
    }
    bos.write(Array[Byte](0, 0))
    bos.toByteArray
  }
}
