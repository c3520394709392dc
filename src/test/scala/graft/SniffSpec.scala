package graft

import graft.core.FormatKind
import graft.io.Sniff
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayInputStream

/** Port of the reference's compression round-trip tests
  * (reference: src/anyreader/compression.rs:94-118) and container
  * detection (src/anyreader/format.rs).
  */
class SniffSpec extends AnyFunSuite {
  import Fixtures._

  private def readAll(in: java.io.InputStream): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    var n = in.read(buf)
    while (n >= 0) { if (n > 0) bos.write(buf, 0, n); n = in.read(buf) }
    bos.toByteArray
  }

  test("each codec is detected and decodes back to the plaintext") {
    val cases: Seq[(Array[Byte], FormatKind)] = Seq(
      (gzipData(TestData), FormatKind.Gzip),
      (zstdData(TestData), FormatKind.Zstd),
      (bz2Data(TestData), FormatKind.Bzip2),
      (xzData(TestData), FormatKind.Xz),
      (lz4Data(TestData), FormatKind.Lz4),
      (snappyData(TestData), FormatKind.SnappyFramed),
      (TestData, FormatKind.Unknown))
    cases.foreach { case (data, expected) =>
      val (kind, stream) = Sniff.open(new ByteArrayInputStream(data))
      assert(kind == expected, s"for $expected")
      assert(readAll(stream).sameElements(TestData), s"round-trip for $expected")
    }
  }

  test("containers are detected after decompression (tar.gz => tar)") {
    val tar = tarArchive(Seq("a" -> TestData))
    val zip = zipArchive(Seq("a" -> TestData))
    assert(Sniff.formatKindOfBytes(tar) == FormatKind.Tar)
    assert(Sniff.formatKindOfBytes(zip) == FormatKind.Zip)
    assert(Sniff.formatKindOfBytes(gzipData(tar)) == FormatKind.Tar)
    assert(Sniff.formatKindOfBytes(zstdData(zip)) == FormatKind.Zip)
    assert(Sniff.formatKindOfBytes(xzData(tar)) == FormatKind.Tar)
    assert(Sniff.formatKindOfBytes(bz2Data(tar)) == FormatKind.Tar)
    val warc = warcArchive(Seq(Seq("WARC-Type" -> "response") -> TestData))
    assert(Sniff.formatKindOfBytes(warc) == FormatKind.Warc)
    assert(Sniff.formatKindOfBytes(gzipData(warc)) == FormatKind.Warc,
      ".warc.gz sniffs through the codec layer")
    val ar = arArchive(Seq("a.txt" -> TestData))
    assert(Sniff.formatKindOfBytes(ar) == FormatKind.Ar)
    assert(Sniff.formatKindOfBytes(gzipData(ar)) == FormatKind.Ar,
      ".a.gz sniffs through the codec layer")
    val cpio = cpioArchive(Seq("a.txt" -> TestData))
    assert(Sniff.formatKindOfBytes(cpio) == FormatKind.Cpio)
    assert(Sniff.formatKindOfBytes(gzipData(cpio)) == FormatKind.Cpio,
      "initramfs shape (.cpio.gz) sniffs through the codec layer")
    assert(Sniff.formatKindOfBytes(cpioOdcArchive(Seq("a" -> TestData))) == FormatKind.Cpio)
    val sevenZ = sevenZArchive(Seq("a.txt" -> TestData))
    assert(Sniff.formatKindOfBytes(sevenZ) == FormatKind.SevenZ)
    assert(Sniff.formatKindOfBytes(gzipData(sevenZ)) == FormatKind.SevenZ,
      ".7z.gz sniffs through the codec layer")
  }

  test("executables are detected (full reference magic table)") {
    val execs = Seq(
      "ELF" -> fakeElf(Seq("hello")),
      "MZ/EXE" -> "MZ....".getBytes,
      "WASM" -> Array[Byte](0, 'a', 's', 'm', 1),
      "DEX" -> Array[Byte]('d', 'e', 'x', 0x0a, '0', '3', '5', 0),
      "LLVM" -> Array[Byte]('B', 'C', 0xc0.toByte, 0xde.toByte, 0, 0),
      "Java class" -> Array[Byte](0xca.toByte, 0xfe.toByte, 0xba.toByte, 0xbe.toByte, 0, 0),
      "Mach-O BE" -> Array[Byte](0xfe.toByte, 0xed.toByte, 0xfa.toByte, 0xce.toByte, 0, 0),
      "Mach-O 64 LE" -> Array[Byte](0xcf.toByte, 0xfa.toByte, 0xed.toByte, 0xfe.toByte, 0, 0),
      "COFF" -> Array[Byte](0x4c, 0x01, 0, 0))
    execs.foreach { case (name, bytes) =>
      assert(Sniff.formatKindOfBytes(bytes) == FormatKind.Executable, name)
    }
  }

  test("concatenated gzip members decode fully (multi-member parity)") {
    // reference's gzip reader handles concatenated members
    // (compression.rs MultiGzDecoder); java's GZIPInputStream does too
    val two = gzipData("first ".getBytes("UTF-8")) ++ gzipData("second".getBytes("UTF-8"))
    val (kind, stream) = Sniff.open(new ByteArrayInputStream(two))
    assert(kind == FormatKind.Gzip)
    assert(new String(readAll(stream), "UTF-8") == "first second")
  }

  test("compressed non-archive reports the codec kind, content decompressed") {
    val data = gzipData(TestData)
    val (kind, stream) = Sniff.open(new ByteArrayInputStream(data))
    assert(kind == FormatKind.Gzip)
    assert(readAll(stream).sameElements(TestData))
  }

  test("gzip needs CM = 8 and clear reserved flags, not only the magic") {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    assert(Sniff.isGzip(gzipData(TestData)))
    assert(Sniff.isGzip(b(0x1f, 0x8b, 0x08, 0x1f))) // every defined FLG bit
    assert(!Sniff.isGzip(b(0x1f, 0x8b)))
    assert(!Sniff.isGzip(b(0x1f, 0x8b, 0x08)))
    assert(!Sniff.isGzip(b(0x1f, 0x8b, 0x00, 0x00)))
    assert(!Sniff.isGzip(b(0x1f, 0x8b, 0x07, 0x00)))
    Seq(0x20, 0x40, 0x80).foreach(flg => assert(!Sniff.isGzip(b(0x1f, 0x8b, 0x08, flg)), flg))
    // such data sniffs as plain bytes and reads back unchanged
    val data = b(0x1f, 0x8b, 0x00, 0x00) ++ TestData
    val (kind, stream) = Sniff.open(new ByteArrayInputStream(data))
    assert(kind == FormatKind.Unknown)
    assert(readAll(stream).sameElements(data))
  }

  test("zstd skippable frame magic is recognized") {
    // frame magic 0x184D2A50..0x184D2A5F, little-endian
    val b = Array[Byte](0x50, 0x2a, 0x4d.toByte, 0x18, 0, 0, 0, 0)
    assert(Sniff.isZstd(b))
  }
}
