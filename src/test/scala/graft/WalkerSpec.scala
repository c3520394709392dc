package graft

import graft.convert.ArchiveConverter
import graft.core.{ArchiveEntry, ConvertOptions}
import graft.sources.ArchivePartitionReader
import graft.walk.{ArchiveWalker, AsciiStrings}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayInputStream

/** Port of the reference's walker tests (reference:
  * src/anyreader_walker/walkers/tarfile.rs:36-91, zipfile.rs:35-92,
  * tests.rs:11-50) plus the converter-level path/lineage semantics
  * (src/anyreader_walker/utils.rs:49-55, src/batch.rs:108-111).
  */
class WalkerSpec extends AnyFunSuite with TempDirs {
  import Fixtures._

  private val opts = ConvertOptions()

  private def walk(data: Array[Byte], source: String = "input", o: ConvertOptions = opts) =
    ArchiveWalker.walk(source, new ByteArrayInputStream(data), data.length.toLong, o).toVector

  override def afterAll(): Unit =
    try if (sparkStarted) spark.stop() finally super.afterAll()

  private var sparkStarted = false
  // only the source-reader checks need one (WalkMetrics' accumulators)
  private lazy val spark: SparkSession = {
    sparkStarted = true
    SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false")
      .appName("WalkerSpec").getOrCreate()
  }

  /** A 560-byte body of incompressible bytes, so deflate stores it
    * verbatim in a zip; no codec or container magic starts it.
    */
  private val CutBody: Array[Byte] = {
    val b = new Array[Byte](560)
    new java.util.Random(11L).nextBytes(b)
    b(0) = 'x'
    b
  }

  /** `full` cut `back` bytes before the middle of the first occurrence
    * of `part` (a member body, name or header field).
    */
  private def cutInside(full: Array[Byte], part: Array[Byte], back: Int = 0): Array[Byte] = {
    val at = full.indexOfSlice(part)
    assert(at >= 0, "the cut point is not in the archive")
    java.util.Arrays.copyOf(full, at + part.length / 2 - back)
  }

  /** The rows a walk emits before it throws, and what it threw (null: none). */
  private def walkUntilError(data: Array[Byte]): (Vector[ArchiveEntry], Throwable) = {
    val it = ArchiveWalker.walk("input", new ByteArrayInputStream(data), data.length.toLong, opts)
    val rows = Vector.newBuilder[ArchiveEntry]
    try { while (it.hasNext) rows += it.next(); (rows.result(), null) }
    catch { case e: java.io.IOException => (rows.result(), e) }
  }

  /** A body cut short: the rows before the cut are emitted, then the
    * walk throws. Through the source reader under `skipErrors` the same
    * rows land and the input counts one error.
    */
  private def assertBodyCutFails(cut: Array[Byte], before: Seq[(String, Array[Byte])]): Unit = {
    val (rows, err) = walkUntilError(cut)
    assert(rows.map(r => (r.path, r.size)) == before.map { case (p, b) => (p, b.length.toLong) })
    rows.zip(before).foreach { case (r, (_, b)) => assert(r.content.sameElements(b), r.path) }
    assert(err != null, "a body cut short must fail the input")
    val f = tempDir("graft_walker_cut").resolve("cut.bin")
    java.nio.file.Files.write(f, cut)
    val m = new ArchiveConverter.WalkMetrics(spark)
    val read = ArchivePartitionReader.entries(f.toString, opts.copy(skipErrors = true), Some(m))
    assert(read.map(_.path).toVector == before.map(_._1).toVector)
    assert(m.errors.value == 1L)
  }

  /** A header cut short: the rows before it, and no error. */
  private def assertHeaderCutStops(cut: Array[Byte], before: Seq[String]): Unit =
    assert(walk(cut).map(_.path) == before.toVector)

  test("plain file: one row, path = source path") {
    val rows = walk(TestData)
    assert(rows.map(r => (r.path, r.size)) == Vector(("input", TestData.length.toLong)))
    assert(rows.head.content.sameElements(TestData))
    assert(rows.head.hash.sameElements(sha256(TestData)))
  }

  test("compressed file: decompressed content, hash of decompressed bytes") {
    val rows = walk(gzipData(TestData))
    assert(rows.head.content.sameElements(TestData))
    assert(rows.head.size == TestData.length.toLong)
    assert(rows.head.hash.sameElements(sha256(TestData)))
  }

  test("flat tar") {
    val rows = walk(tarArchive(Seq("test" -> TestData)))
    assert(rows.map(_.path) == Vector("test"))
    assert(rows.head.content.sameElements(TestData))
  }

  test("nested tar flattens; inner archive is not emitted as a row") {
    val data = tarArchive(Seq(
      "file" -> TestData,
      "nested" -> tarArchive(Seq("test" -> TestData))))
    val rows = walk(data)
    assert(rows.map(_.path) == Vector("file", "nested/test"))
    assert(rows.forall(_.content.sameElements(TestData)))
  }

  test("flat and nested zip") {
    assert(walk(zipArchive(Seq("test" -> TestData))).map(_.path) == Vector("test"))
    val nested = zipArchive(Seq(
      "file" -> TestData,
      "inner.zip" -> zipArchive(Seq("test" -> TestData))))
    assert(walk(nested).map(_.path) == Vector("file", "inner.zip/test"))
  }

  test("zip64: forced zip64 local headers (the >4 GiB layout) walk like plain zip") {
    val bytes = zip64Archive(Seq("big" -> TestData, "dir/also" -> TestData))
    // sanity: the fixture really is zip64 — local header sizes are
    // 0xFFFFFFFF and a 0x0001 extra field is present
    assert((0 until bytes.length - 4).exists(i =>
      bytes(i) == -1 && bytes(i + 1) == -1 && bytes(i + 2) == -1 && bytes(i + 3) == -1))
    val rows = walk(bytes)
    assert(rows.map(_.path) == Vector("big", "dir/also"))
    assert(rows.forall(_.size == TestData.length.toLong))
    assert(rows.forall(_.hash.sameElements(sha256(TestData))))
    // and nested: a zip64 inside a tar expands in place
    val nested = walk(tarArchive(Seq("inner.zip" -> bytes)))
    assert(nested.map(_.path) == Vector("inner.zip/big", "inner.zip/dir/also"))
  }

  test("mixed nesting: tar.gz containing a zip containing files") {
    val inner = zipArchive(Seq("deep/a.txt" -> TestData))
    val data = gzipData(tarArchive(Seq("innerzip" -> inner)))
    val rows = walk(data)
    assert(rows.map(_.path) == Vector("innerzip/deep/a.txt"))
    assert(rows.head.content.sameElements(TestData))
  }

  test("compressed entry inside a tar is emitted decompressed") {
    val rows = walk(tarArchive(Seq("f.gz" -> gzipData(TestData))))
    assert(rows.map(_.path) == Vector("f.gz"))
    assert(rows.head.content.sameElements(TestData))
    assert(rows.head.size == TestData.length.toLong)
  }

  test("empty files and directories are skipped") {
    val data = tarArchive(Seq("dir/" -> Array.emptyByteArray,
      "empty" -> Array.emptyByteArray, "full" -> TestData))
    assert(walk(data).map(_.path) == Vector("full"))
    val z = zipArchive(Seq("d/" -> Array.emptyByteArray,
      "empty" -> Array.emptyByteArray, "full" -> TestData))
    assert(walk(z).map(_.path) == Vector("full"))
  }

  test("zip quine guard: self-identical (path,size) zip entry is emitted, not recursed") {
    // Streaming-written zips carry no sizes in local headers (data
    // descriptors) => claimed size is -1 on read. A zip entry "q.zip"
    // whose parent zip was itself reached as an entry "q.zip" therefore
    // has Details equal to its parent's — exactly the self-reference
    // the reference's quine check catches (src/visitor.rs:94-100).
    // The payload is a real zip, so WITHOUT the guard the walker would
    // recurse and emit "q.zip/q.zip/x"; WITH it, the inner zip bytes
    // are emitted as a file row.
    val payload = zipArchive(Seq("x" -> TestData))
    val inner = zipArchive(Seq("q.zip" -> payload))   // entry claims (q.zip, -1)
    val outer = zipArchive(Seq("q.zip" -> inner))     // entry claims (q.zip, -1)
    val rows = walk(outer)
    assert(rows.map(_.path) == Vector("q.zip/q.zip"))
    assert(rows.head.content.sameElements(payload))
  }

  test("quine guard does not fire across honest-size boundaries (tar parent)") {
    // tar headers carry real sizes, so the parent's claimed size differs
    // from the child zip entry's -1 => no quine, recursion proceeds.
    val innerPayload = zipArchive(Seq("x" -> TestData))
    val inner = zipArchive(Seq("q.zip" -> innerPayload))
    val parent = tarArchive(Seq("q.zip" -> inner))
    val rows = walk(parent)
    assert(rows.map(_.path) == Vector("q.zip/q.zip/x"))
  }

  test("depth cap emits instead of recursing") {
    val deep = (1 to 5).foldLeft(TestData) { (acc, i) => tarArchive(Seq(s"l$i" -> acc)) }
    val shallow = walk(deep, o = opts.copy(maxDepth = 2))
    // at depth cap the nested tar bytes are emitted as a file
    assert(shallow.nonEmpty)
    // lineage below the root: entries l5..l2 are archives (each joins
    // the path), leaf l1 appends — reference utils.rs:49-55 skip(1)
    // skips only the root input itself
    val full = walk(deep)
    assert(full.map(_.path) == Vector("l5/l4/l3/l2/l1"))
    assert(full.head.content.sameElements(TestData))
  }

  test("over-cap entry fails loudly by default; truncateOversize opts into the prefix") {
    val big = Array.fill[Byte](200)(7)
    val arch = tarArchive(Seq("big" -> big, "ok" -> TestData))
    val capped = opts.copy(maxEntryBytes = 100L)
    // default: loud failure naming the entry — never a wrong-hash row
    val ex = intercept[graft.core.OversizeEntryException] { walk(arch, o = capped) }
    assert(ex.getMessage.contains("big") && ex.getMessage.contains("100"))
    // explicit opt-in: the clamped prefix, with size/hash of the PREFIX
    val rows = walk(arch, o = capped.copy(truncateOversize = true))
    assert(rows.map(r => (r.path, r.size)) == Vector(("big", 100L), ("ok", TestData.length.toLong)))
    assert(rows.head.content.sameElements(big.take(100)))
    assert(rows.head.hash.sameElements(sha256(big.take(100))))
    // an entry of EXACTLY the cap is not an overrun
    val exact = walk(tarArchive(Seq("e" -> big)), o = opts.copy(maxEntryBytes = 200L))
    assert(exact.map(_.size) == Vector(200L))
    assert(exact.head.hash.sameElements(sha256(big)))
  }

  test("chunked walk: over-cap entries split into content_part rows, no truncation") {
    val big = Array.tabulate[Byte](250)(i => (i * 3).toByte)
    val arch = gzipData(tarArchive(Seq(
      "big" -> big,
      "nested" -> tarArchive(Seq("small" -> TestData)))))
    val capped = opts.copy(maxEntryBytes = 100L)
    def chunkWalk(o: ConvertOptions) = ArchiveWalker.walkChunked(
      "input", new ByteArrayInputStream(arch), arch.length.toLong, o).toVector
    val rows = chunkWalk(capped)
    // 250 bytes at cap 100 -> parts of 100/100/50; nested recursion,
    // lineage and order are untouched by chunking
    assert(rows.map(r => (r.path, r.content_part, r.size)) == Vector(
      ("big", 0L, 100L), ("big", 1L, 100L), ("big", 2L, 50L),
      ("nested/small", 0L, TestData.length.toLong)))
    // reassembly in content_part order restores the entry exactly
    val joined = rows.filter(_.path == "big").sortBy(_.content_part)
      .flatMap(_.content.toSeq).toArray
    assert(joined.sameElements(big))
    // per-chunk hashes describe the chunk (documented schema addendum)
    assert(rows.head.hash.sameElements(sha256(big.take(100))))
    // an under-cap corpus chunks trivially: one part-0 row per entry,
    // identical to the plain walk's rows
    val plain = walk(arch, o = opts)
    val trivially = chunkWalk(opts)
    assert(trivially.map(r => (r.path, r.size, r.content_part)) ==
      plain.map(e => (e.path, e.size, 0L)))
    assert(trivially.zip(plain).forall { case (c, e) => c.hash.sameElements(e.hash) })
  }

  test("chunked walk: empty-entry parity with the plain walk everywhere") {
    // inside archives both walks SKIP empty members (tar header rule,
    // zip unknown-size drop rule — reference tarfile.rs:24)
    val arch = gzipData(tarArchive(Seq(
      "empty" -> Array.emptyByteArray,
      "after" -> TestData)))
    val capped = opts.copy(maxEntryBytes = 100L)
    val rows = ArchiveWalker.walkChunked(
      "input", new ByteArrayInputStream(arch), arch.length.toLong, capped).toVector
    assert(rows.map(r => (r.path, r.content_part, r.size)) == Vector(
      ("after", 0L, TestData.length.toLong)))
    val z = zipArchive(Seq("empty" -> Array.emptyByteArray, "full" -> TestData))
    assert(ArchiveWalker.walkChunked("input", new ByteArrayInputStream(z),
      z.length.toLong, capped).map(_.path).toVector == Vector("full"))
    // a 0-byte TOP-LEVEL input emits one row in the plain walk — the
    // chunked walk must emit its part-0 twin, not silently nothing
    val plainEmpty = walk(Array.emptyByteArray)
    assert(plainEmpty.map(e => (e.path, e.size)) == Vector(("input", 0L)))
    val chunkedEmpty = ArchiveWalker.walkChunked(
      "input", new ByteArrayInputStream(Array.emptyByteArray), 0L, capped).toVector
    assert(chunkedEmpty.map(c => (c.path, c.content_part, c.size)) ==
      Vector(("input", 0L, 0L)))
    assert(chunkedEmpty.head.hash.sameElements(sha256(Array.emptyByteArray)))
  }

  test("executable with extractStrings: content = newline-joined runs >= 10 chars") {
    val elf = fakeElf(Seq("short", "a-long-enough-string", "tiny", "another/quite/long/run"))
    val rows = walk(tarArchive(Seq("bin" -> elf)), o = opts.copy(extractStrings = true))
    val content = new String(rows.head.content, "UTF-8")
    // "short" (5) accumulates with the next run per reference semantics
    assert(content.contains("a-long-enough-string"))
    assert(content.endsWith("\n"))
    assert(rows.head.size == rows.head.content.length.toLong)
    assert(rows.head.hash.sameElements(sha256(rows.head.content)))
  }

  test("without extractStrings, executables keep raw content") {
    val elf = fakeElf(Seq("a-long-enough-string"))
    val rows = walk(tarArchive(Seq("bin" -> elf)))
    assert(rows.head.content.sameElements(elf))
  }

  test("URL source: file: URL streams through the same walk (S2)") {
    val data = gzipData(tarArchive(Seq("u.txt" -> TestData)))
    val f = java.io.File.createTempFile("graft_url", ".tar.gz")
    f.deleteOnExit()
    val fos = new java.io.FileOutputStream(f)
    fos.write(data); fos.close()
    val url = f.toURI.toString // file:/...
    val rows = ArchiveWalker.walkInput(url, opts).toVector
    assert(rows.map(r => (r.source, r.path)) == Vector((url, "u.txt")))
    assert(rows.head.content.sameElements(TestData))
  }

  test("URL source: http:// URL streams through the same walk (S2)") {
    // JDK-built-in HTTP server: a real network round-trip, no new deps
    val data = gzipData(tarArchive(Seq("h.txt" -> TestData)))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/corpus/in.tar.gz",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, data.length.toLong)
        ex.getResponseBody.write(data)
        ex.close()
      })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/corpus/in.tar.gz"
      val rows = ArchiveWalker.walkInput(url, opts).toVector
      assert(rows.map(r => (r.source, r.path)) == Vector((url, "h.txt")))
      assert(rows.head.content.sameElements(TestData))
    } finally server.stop(0)
  }

  test("entry order is preserved (arrival order within one input)") {
    val names = (1 to 50).map(i => f"f$i%03d")
    val data = tarArchive(names.map(_ -> TestData))
    assert(walk(data).map(_.path) == names.toVector)
  }

  test("WARC: records walk like tar entries — names, sizes, hashes, skip rules") {
    val info = "software: graft-spark\r\n".getBytes("UTF-8")
    val respA = "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhello warc body\n".getBytes("UTF-8")
    val req = "GET /q HTTP/1.1\r\nHost: example.com\r\n\r\n".getBytes("UTF-8")
    val warc = warcArchive(Seq(
      Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> "<urn:uuid:0001>") -> info,
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://example.com/a") -> respA,
      Seq("WARC-Type" -> "metadata", "WARC-Record-ID" -> "<urn:uuid:0002>") -> Array.emptyByteArray,
      Seq("WARC-Type" -> "request", "WARC-Target-URI" -> "http://example.com/q") -> req))
    val rows = walk(warc)
    assert(rows.map(r => (r.path, r.size)) == Vector(
      ("urn:uuid:0001", info.length.toLong),
      ("http://example.com/a", respA.length.toLong),
      ("http://example.com/q", req.length.toLong)),
      "zero-length record skipped, names from URI else record-id")
    assert(rows(1).content.sameElements(respA) && rows(1).hash.sameElements(sha256(respA)))
  }

  test("WARC: compressed record body emits decompressed; .warc.gz outer layer too") {
    val payload = ("compressed warc payload\n" * 4).getBytes("UTF-8")
    val warc = warcArchive(Seq(
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://example.com/b.gz") ->
        gzipData(payload)))
    for (outer <- Seq(warc, gzipData(warc))) {
      val rows = walk(outer)
      assert(rows.map(r => (r.path, r.size)) ==
        Vector(("http://example.com/b.gz", payload.length.toLong)))
      assert(rows.head.content.sameElements(payload))
      assert(rows.head.hash.sameElements(sha256(payload)))
    }
  }

  test("WARC: a nested archive body expands in place with URI lineage") {
    val inner = Seq("x.txt" -> TestData, "y/z.txt" -> "zee\n".getBytes("UTF-8"))
    val warc = warcArchive(Seq(
      Seq("WARC-Type" -> "resource", "WARC-Target-URI" -> "http://example.com/site.tar") ->
        tarArchive(inner)))
    val rows = walk(warc)
    assert(rows.map(_.path) == Vector(
      "http://example.com/site.tar/x.txt", "http://example.com/site.tar/y/z.txt"))
    assert(rows.head.content.sameElements(TestData))
  }

  test("WARC: a body cut short fails the input; a header cut short stops silently") {
    val good = "intact body".getBytes("UTF-8")
    val full = warcArchive(Seq(
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://a/") -> good,
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://b/") -> CutBody))
    assertBodyCutFails(cutInside(full, CutBody), Seq("http://a/" -> good))
    assertHeaderCutStops(cutInside(full, "http://b/".getBytes("UTF-8")), Seq("http://a/"))
  }

  test("ar: GNU members walk like tar entries — naming dialects, padding, skip rules") {
    val odd = "seven b".getBytes("UTF-8") // odd size => '\n' pad byte
    val even = "eight by".getBytes("UTF-8")
    val long = "payload under a long name\n".getBytes("UTF-8")
    val ar = arArchive(Seq(
      "readme.txt" -> odd,
      "a-name-well-beyond-sixteen-chars.txt" -> long, // via the // table
      "empty.bin" -> Array.emptyByteArray,            // zero-size: skipped
      "data.bin" -> even), withSymtab = true)
    val rows = walk(ar)
    assert(rows.map(r => (r.path, r.size)) == Vector(
      ("readme.txt", odd.length.toLong),
      ("a-name-well-beyond-sixteen-chars.txt", long.length.toLong),
      ("data.bin", even.length.toLong)),
      "symtab + name table consumed not emitted; trailing / stripped; pad byte not in content")
    assert(rows(0).content.sameElements(odd) && rows(0).hash.sameElements(sha256(odd)))
    assert(rows(1).content.sameElements(long))
    assert(rows(2).content.sameElements(even))
  }

  test("ar: BSD #1/len names read off the data area; body = size - len") {
    val body = "bsd dialect body\n".getBytes("UTF-8")
    val rows = walk(arArchiveBsd(Seq("bsd-named-member.txt" -> body)))
    assert(rows.map(r => (r.path, r.size)) ==
      Vector(("bsd-named-member.txt", body.length.toLong)))
    assert(rows.head.content.sameElements(body))
    assert(rows.head.hash.sameElements(sha256(body)))
  }

  test("ar: member bodies recurse through the sniff — gzip leaf, nested tar, lineage") {
    val payload = ("ar gzip member payload\n" * 3).getBytes("UTF-8")
    val inner = Seq("docs/a.txt" -> TestData, "docs/b.txt" -> "bee\n".getBytes("UTF-8"))
    val ar = arArchive(Seq(
      "blob.gz" -> gzipData(payload),
      "site.tar" -> tarArchive(inner)))
    for (outer <- Seq(ar, gzipData(ar))) { // .a and .a.gz both sniff
      val rows = walk(outer)
      assert(rows.map(r => (r.path, r.size)) == Vector(
        ("blob.gz", payload.length.toLong),
        ("site.tar/docs/a.txt", TestData.length.toLong),
        ("site.tar/docs/b.txt", 4L)),
        "gzip member decompressed; nested tar expands with ar-member lineage")
      assert(rows.head.content.sameElements(payload))
    }
  }

  test("ar: deb-shaped archive (debian-binary + control.tar.gz + data.tar.xz) expands") {
    // a .deb IS an ar archive; the nested compressed tars must expand
    // through the shared sniff with ar-member lineage
    val control = tarArchive(Seq("control" -> "Package: demo\n".getBytes("UTF-8")))
    val data = tarArchive(Seq(
      "usr/bin/demo" -> "#!/bin/sh\necho demo\n".getBytes("UTF-8"),
      "usr/share/doc/demo/README" -> TestData))
    val deb = arArchive(Seq(
      "debian-binary" -> "2.0\n".getBytes("UTF-8"),
      "control.tar.gz" -> gzipData(control),
      "data.tar.xz" -> xzData(data)))
    val rows = walk(deb)
    assert(rows.map(_.path) == Vector(
      "debian-binary",
      "control.tar.gz/control",
      "data.tar.xz/usr/bin/demo",
      "data.tar.xz/usr/share/doc/demo/README"))
    assert(rows(1).content.sameElements("Package: demo\n".getBytes("UTF-8")))
    assert(rows(3).content.sameElements(TestData))
  }

  test("cpio newc: members walk like tar entries — alignment, skip rules") {
    val odd = "123".getBytes("UTF-8")   // 3 bytes => 1 NUL pad
    val even = "12345678".getBytes("UTF-8")
    val bytes = cpioArchive(
      Seq(
        "etc" -> Array.emptyByteArray,          // directory: skipped
        "etc/conf.txt" -> odd,
        "empty.bin" -> Array.emptyByteArray,    // zero-size: skipped
        "usr/lib/data.bin" -> even),
      modeOf = p => if (p == "etc") 0x41ED else 0x81A4)
    val rows = walk(bytes)
    assert(rows.map(r => (r.path, r.size)) == Vector(
      ("etc/conf.txt", odd.length.toLong),
      ("usr/lib/data.bin", even.length.toLong)),
      "directories and zero-size members skipped; trailer not emitted; pad NULs not in content")
    assert(rows(0).content.sameElements(odd) && rows(0).hash.sameElements(sha256(odd)))
    assert(rows(1).content.sameElements(even))
  }

  test("cpio odc: portable-ASCII octal headers walk the same members") {
    val bytes = cpioOdcArchive(Seq(
      "a.txt" -> TestData,
      "deep/b.txt" -> "odc body".getBytes("UTF-8")))
    val rows = walk(bytes)
    assert(rows.map(_.path) == Vector("a.txt", "deep/b.txt"))
    assert(rows(0).content.sameElements(TestData))
    assert(rows(0).hash.sameElements(sha256(TestData)))
  }

  test("cpio: member bodies recurse through the sniff — gzip leaf, nested tar, lineage") {
    val inner = tarArchive(Seq("docs/x.txt" -> TestData))
    val bytes = cpioArchive(Seq(
      "payload.gz" -> gzipData(TestData),
      "bundle.tar" -> inner))
    val rows = walk(bytes)
    assert(rows.map(_.path) == Vector("payload.gz", "bundle.tar/docs/x.txt"))
    assert(rows(0).content.sameElements(TestData), "gzip member emitted decompressed")
    assert(rows(1).content.sameElements(TestData))
    // and the whole cpio nests inside other containers (initramfs.gz shape)
    val viaGz = walk(gzipData(cpioArchive(Seq("init" -> TestData))))
    assert(viaGz.map(_.path) == Vector("init"))
  }

  test("rpm: lead + headers consumed, gzipped cpio payload walks with rpm lineage") {
    val payload = gzipData(cpioArchive(Seq(
      "usr/bin/tool" -> TestData,
      "etc/tool.conf" -> "conf body\n".getBytes("UTF-8"),
      "bundle.tar" -> tarArchive(Seq("docs/x.txt" -> TestData)))))
    val rows = walk(rpmPackage(payload))
    assert(rows.map(_.path) == Vector(
      "usr/bin/tool", "etc/tool.conf", "bundle.tar/docs/x.txt"),
      "framing consumed, no artificial payload segment, nested tar expands")
    assert(rows(0).content.sameElements(TestData))
    assert(rows(0).hash.sameElements(sha256(TestData)))
    // nested inside a tar: members carry the rpm member's lineage
    val viaTar = walk(tarArchive(Seq("pkgs/demo.rpm" -> rpmPackage(payload))))
    assert(viaTar.map(_.path).contains("pkgs/demo.rpm/usr/bin/tool"))
  }

  test("rpm: uncompressed tar payload, and corrupt/truncated framing stops silently") {
    // tar payload (the spec allows non-cpio payloads)
    val tarRows = walk(rpmPackage(tarArchive(Seq("a.txt" -> TestData))))
    assert(tarRows.map(_.path) == Vector("a.txt"))
    // zstd-compressed cpio payload (rpm's modern default compressor)
    val zstdRows = walk(rpmPackage(zstdData(cpioArchive(Seq("z.txt" -> TestData)))))
    assert(zstdRows.map(_.path) == Vector("z.txt"))
    assert(zstdRows(0).content.sameElements(TestData))
    // truncated mid-signature-header: nothing emitted, no exception
    val full = rpmPackage(gzipData(cpioArchive(Seq("x" -> TestData))))
    assert(walk(java.util.Arrays.copyOf(full, 100)).isEmpty)
    // corrupt header magic after a valid lead: silent stop
    val bad = full.clone(); bad(96) = 0x00
    assert(walk(bad).isEmpty)
    // unrecognizable payload: framing walks, nothing to emit
    assert(walk(rpmPackage("just some plain bytes".getBytes("UTF-8"))).isEmpty)
  }

  test("7z: members walk like tar entries — skip rules, digests, nesting") {
    val odd = "odd body\n".getBytes("UTF-8")
    val bytes = sevenZArchive(Seq(
      "docs/" -> Array.emptyByteArray,      // directory: skipped
      "docs/a.txt" -> odd,
      "empty.bin" -> Array.emptyByteArray,  // zero-size: skipped
      "payload.gz" -> gzipData(TestData),   // emitted decompressed
      "bundle.tar" -> tarArchive(Seq("deep/x.txt" -> TestData))))
    val rows = walk(bytes)
    assert(rows.map(r => (r.path, r.size)) == Vector(
      ("docs/a.txt", odd.length.toLong),
      ("payload.gz", TestData.length.toLong),
      ("bundle.tar/deep/x.txt", TestData.length.toLong)))
    assert(rows(0).content.sameElements(odd) && rows(0).hash.sameElements(sha256(odd)))
    assert(rows(1).content.sameElements(TestData), "gzip member emitted decompressed")
    // and the 7z nests inside other containers (spool engages mid-stream)
    val viaTar = walk(tarArchive(Seq("pkgs/archive.7z" -> bytes)))
    assert(viaTar.map(_.path) == Vector(
      "pkgs/archive.7z/docs/a.txt",
      "pkgs/archive.7z/payload.gz",
      "pkgs/archive.7z/bundle.tar/deep/x.txt"))
  }

  test("7z: temp-file spool path (sevenZMemSpoolMax=1) walks identically, no leak") {
    val bytes = sevenZArchive(Seq(
      "a.txt" -> TestData,
      "inner.7z" -> sevenZArchive(Seq("b.txt" -> TestData))))
    val before = sevenZSpoolFiles()
    val rows = walk(bytes, o = opts.copy(sevenZMemSpoolMax = 1L))
    assert(rows.map(_.path) == Vector("a.txt", "inner.7z/b.txt"),
      "file-spooled walk matches the in-memory walk, incl. nested 7z")
    assert(rows.forall(_.content.sameElements(TestData)))
    assert(sevenZSpoolFiles() == before, "spool temp files deleted at archive end")
  }

  test("7z: COPY-method entries with mark-capable CRC streams walk intact") {
    // regression: COPY-method 7z entry streams support mark/reset, and
    // the sniff's peek through a shared mark would double-count bytes
    // into commons-compress's CRC check (NonClosing now refuses mark).
    // Member > one 64 KB read buffer so emit() crosses read boundaries.
    val big = new Array[Byte](200 * 1024)
    new java.util.Random(7).nextBytes(big)
    val rows = walk(sevenZArchive(Seq("big.bin" -> big, "small.txt" -> TestData), store = true))
    assert(rows.map(r => (r.path, r.size)) == Vector(
      ("big.bin", big.length.toLong), ("small.txt", TestData.length.toLong)))
    assert(rows(0).hash.sameElements(sha256(big)))
    assert(rows(1).content.sameElements(TestData))
  }

  test("7z: corrupt/truncated archive ends silently (W7 parity)") {
    val full = sevenZArchive(Seq("x.txt" -> TestData))
    // truncated past the signature: the end header is gone => silent empty
    assert(walk(java.util.Arrays.copyOf(full, 40)).isEmpty)
    // magic + garbage: open fails => silent empty
    val garbage = full.clone()
    java.util.Arrays.fill(garbage, 32, garbage.length, 0x5a.toByte)
    assert(walk(garbage).isEmpty)
  }

  private def sevenZSpoolFiles(): Set[String] = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(dir.list()).getOrElse(Array.empty[String])
      .filter(_.startsWith("graft-7z-spool-")).toSet
  }

  test("cpio: a body cut short fails the input; a header cut short stops silently") {
    val good = "intact cpio body".getBytes("UTF-8")
    val members = Seq("good.txt" -> good, "cut.txt" -> CutBody)
    for (full <- Seq(cpioArchive(members), cpioArchive(members, crc = true), cpioOdcArchive(members))) {
      assertBodyCutFails(cutInside(full, CutBody), Seq("good.txt" -> good))
      // cut inside the second header's numeric fields, before its name
      assertHeaderCutStops(cutInside(full, "cut.txt".getBytes("UTF-8"), back = 40), Seq("good.txt"))
    }
  }

  test("cpio crc: a right checksum walks, a wrong one fails the input") {
    val body = "crc checked body\n".getBytes("UTF-8")
    val good = cpioArchive(Seq("a.txt" -> TestData, "b.txt" -> body), crc = true)
    assert(walk(good).map(r => (r.path, r.content.toSeq)) ==
      Vector(("a.txt", TestData.toSeq), ("b.txt", body.toSeq)))
    // the check field is the last 8 hex digits of b.txt's 110-byte header
    val bad = good.clone()
    val header = bad.indexOfSlice("b.txt".getBytes("UTF-8")) - 110
    System.arraycopy("0000dead".getBytes("US-ASCII"), 0, bad, header + 102, 8)
    val (rows, err) = walkUntilError(bad)
    assert(rows.map(_.path) == Vector("a.txt"))
    assert(err != null, "a checksum mismatch must fail the input")
    // also in a body a prune leaves unread, rather than ending the
    // archive silently before the members after it
    val skipped = Array.fill[Byte](200000)('s')
    val pruned = opts.copy(prunePathPrefixes = Seq("keep/"))
    val withSkip = cpioArchive(Seq("skip/a.txt" -> skipped, "keep/b.txt" -> body,
      "keep/c.txt" -> body), crc = true)
    assert(walk(withSkip, o = pruned).map(_.path) == Vector("keep/b.txt", "keep/c.txt"))
    System.arraycopy("0000dead".getBytes("US-ASCII"), 0, withSkip, 102, 8)
    val prunedErr = intercept[Exception](walk(withSkip, o = pruned))
    assert(Iterator.iterate[Throwable](prunedErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("CRC")), prunedErr.toString)
  }

  test("cpio: a corrupt name size stops the walk within one name's bytes") {
    val two = cpioArchive(Seq("a.txt" -> TestData, "b.txt" -> TestData))
    val header = two.indexOfSlice("b.txt".getBytes("UTF-8")) - 110
    // the rest of the stream: 8 MiB that no header may pull into memory
    val tail = 8 << 20
    for (nameSize <- Seq("00000000", "7fffffff", "ffffffff")) {
      val bad = java.util.Arrays.copyOf(two, header + 110 + tail)
      System.arraycopy(nameSize.getBytes("US-ASCII"), 0, bad, header + 94, 8)
      var pulled = 0L
      val in = new java.io.FilterInputStream(new ByteArrayInputStream(bad)) {
        override def read(): Int = { val c = super.read(); if (c >= 0) pulled += 1; c }
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          val n = super.read(b, off, len); if (n > 0) pulled += n; n
        }
      }
      val rows = ArchiveWalker.walk("input", in, bad.length.toLong, opts).toVector
      assert(rows.map(_.path) == Vector("a.txt"), nameSize)
      assert(pulled < (1 << 20), s"namesize $nameSize pulled $pulled bytes")
    }
  }

  test("cpio: a name with UTF-8 bytes decodes as UTF-8, newc and odc") {
    val name = "données/日本語.txt"
    for (bytes <- Seq(cpioArchive(Seq(name -> TestData)), cpioOdcArchive(Seq(name -> TestData))))
      assert(walk(bytes).map(r => (r.path, r.size)) == Vector((name, TestData.length.toLong)))
  }

  test("ar: a body cut short fails the input; a header cut short stops silently") {
    val good = "intact ar body".getBytes("UTF-8")
    val full = arArchive(Seq("good.txt" -> good, "cut.txt" -> CutBody))
    assertBodyCutFails(cutInside(full, CutBody), Seq("good.txt" -> good))
    assertHeaderCutStops(cutInside(full, "cut.txt/".getBytes("US-ASCII")), Seq("good.txt"))
  }

  test("ar dialects: /SYM64/, unresolved /N, NUL-padded BSD and UTF-8 long names") {
    val one = "first body\n".getBytes("UTF-8")
    val two = "second body\n".getBytes("UTF-8")
    def walked(ar: Array[Byte]) = walk(ar).map(r => (r.path, r.content.toSeq))
    // /SYM64/ is structural; /0 with no // table keeps its raw name and
    // the members after it still walk
    assert(walked(arRawArchive(Seq("/SYM64/" -> new Array[Byte](8), "/0" -> one,
      "after.txt/" -> two))) == Vector(("/0", one.toSeq), ("after.txt", two.toSeq)))
    // a UTF-8 name in the // table; /99 points past the table's end
    val long = "très-long-nom-de-fichier-ファイル.txt"
    val table = (long + "/\n").getBytes("UTF-8")
    assert(table.length < 99)
    assert(walked(arRawArchive(Seq("//" -> table, "/0" -> one, "/99" -> two))) ==
      Vector((long, one.toSeq), ("/99", two.toSeq)))
    // BSD: the stored name NUL-padded to its declared length
    val padded = "bsd.txt".getBytes("UTF-8") ++ new Array[Byte](5)
    assert(walked(arRawArchive(Seq(s"#1/${padded.length}" -> (padded ++ one)))) ==
      Vector(("bsd.txt", one.toSeq)))
    // a BSD name longer than its member ends the archive silently
    assert(walked(arRawArchive(Seq("ok.txt/" -> one, "#1/40" -> "short".getBytes("UTF-8"),
      "never.txt/" -> two))) == Vector(("ok.txt", one.toSeq)))
  }

  test("zip: a body cut short fails the input") {
    val good = "intact body".getBytes("UTF-8")
    val full = zipArchive(Seq("good.txt" -> good, "cut.txt" -> CutBody))
    assertBodyCutFails(cutInside(full, CutBody), Seq("good.txt" -> good))
  }

  test("W7: corrupt header after valid entries ends the archive silently") {
    // reference parity: `while let Some(Ok(entry))` stops on a bad
    // header without failing the input (tarfile.rs:22)
    val valid = tarArchive(Seq("a.txt" -> TestData, "b.txt" -> TestData))
    // strip the terminating zero-blocks, then append a garbage block
    val truncated = java.util.Arrays.copyOf(valid, valid.length - 1024)
    val garbage = Array.fill[Byte](512)(0x55)
    val rows = walk(truncated ++ garbage)
    assert(rows.map(_.path) == Vector("a.txt", "b.txt"))
  }

  test("W7: content-read failure propagates and fails the input") {
    // truncated gzip: the decompressor throws mid-content — this must
    // NOT be swallowed as end-of-archive (reference: read errors poison
    // the channel and abort, visitor.rs:59-65)
    val full = gzipData(tarArchive(Seq("big.bin" -> Array.fill[Byte](256 * 1024)(9))))
    val cut = java.util.Arrays.copyOf(full, full.length / 2)
    intercept[java.io.IOException] { walk(cut) }
  }

  test("gzip magic without a gzip header: the member is emitted raw") {
    // 1F 8B followed by a CM other than 8, or reserved FLG bits set, is
    // ordinary data — it must not reach the inflater and fail the input
    val fakes = Seq(
      "cm" -> (Array[Byte](0x1f, 0x8b.toByte, 0x00, 0x00) ++ "not gzip at all".getBytes("UTF-8")),
      "flg" -> (Array[Byte](0x1f, 0x8b.toByte, 0x08, 0xe0.toByte) ++ Array.fill[Byte](40)(3)),
      "short" -> Array[Byte](0x1f, 0x8b.toByte))
    val rows = walk(tarArchive(fakes :+ ("real.gz" -> gzipData(TestData))))
    assert(rows.map(r => (r.path, r.size)) == fakes.map { case (p, b) => (p, b.length.toLong) } :+
      ("real.gz", TestData.length.toLong))
    rows.zip(fakes.map(_._2) :+ TestData).foreach { case (r, want) =>
      assert(r.content.sameElements(want), r.path)
      assert(r.hash.sameElements(sha256(want)), r.path)
    }
  }

  test("walk allocates little beyond the content: no per-entry copy buffers") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean match {
      case m: com.sun.management.ThreadMXBean
          if m.isThreadAllocatedMemorySupported && m.isThreadAllocatedMemoryEnabled => m
      case _ => cancel("this JVM does not count allocated bytes per thread")
    }
    val rnd = new java.util.Random(7L)
    val entries = (1 to 2000).map { i =>
      val b = new Array[Byte](1 + rnd.nextInt(1024))
      rnd.nextBytes(b)
      b(0) = 'x' // no codec or container magic: every entry is a leaf
      s"e$i" -> b
    }
    val tar = tarArchive(entries)
    val contentBytes = entries.map(_._2.length.toLong).sum
    def walkOnce(): Long = ArchiveWalker.walk("input", new ByteArrayInputStream(tar),
      tar.length.toLong, opts).map(_.size).sum
    walkOnce(); walkOnce() // class loading and JIT out of the way
    val before = mx.getCurrentThreadAllocatedBytes
    val walked = walkOnce()
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(walked == contentBytes)
    val perEntry = (allocated - contentBytes) / entries.size
    assert(perEntry < 32 * 1024, s"$perEntry bytes allocated per entry beyond its content")
  }

  test("claimed sizes are hints: short, long and unknown claims give the same rows") {
    val data = Array.tabulate[Byte](5000)(i => (i * 7 + i / 100).toByte)
    // top level: the claim comes straight from the caller
    Seq(-1L, 1L, 1234L, 4999L, 5000L, 5001L, 1L << 20).foreach { claim =>
      val rows = ArchiveWalker.walk("input", new ByteArrayInputStream(data), claim, opts).toVector
      assert(rows.map(r => (r.path, r.size)) == Vector(("input", 5000L)), s"claim $claim")
      assert(rows.head.content.sameElements(data), s"claim $claim")
      assert(rows.head.hash.sameElements(sha256(data)), s"claim $claim")
    }
    // inside a tar the claim is the member's stored size: a gzip member
    // of compressible bytes claims less than it decompresses to, one of
    // two bytes claims more
    val big = Array.fill[Byte](10000)('a')
    val tiny = "hi".getBytes("UTF-8")
    assert(gzipData(big).length < big.length && gzipData(tiny).length > tiny.length)
    val rows = walk(tarArchive(Seq("big.gz" -> gzipData(big), "tiny.gz" -> gzipData(tiny),
      "plain" -> data)))
    assert(rows.map(r => (r.path, r.size)) == Vector(("big.gz", 10000L), ("tiny.gz", 2L),
      ("plain", 5000L)))
    rows.zip(Seq(big, tiny, data)).foreach { case (r, want) =>
      assert(r.content.sameElements(want), r.path)
      assert(r.hash.sameElements(sha256(want)), r.path)
    }
    // hash-only and size-only walks report the same sizes and digests
    val hashOnly = walk(tarArchive(Seq("big.gz" -> gzipData(big), "plain" -> data)),
      o = opts.copy(materializeContent = false))
    assert(hashOnly.map(r => (r.size, r.content.length)) == Vector((10000L, 0), (5000L, 0)))
    assert(hashOnly.map(_.hash.toSeq) == Vector(sha256(big).toSeq, sha256(data).toSeq))
    val sizeOnly = walk(tarArchive(Seq("big.gz" -> gzipData(big), "plain" -> data)),
      o = opts.copy(materializeContent = false, computeHash = false))
    assert(sizeOnly.map(r => (r.size, r.hash.length)) == Vector((10000L, 0), (5000L, 0)))
  }

  test("truncated tar member: the content-read error fails the input") {
    val data = Array.fill[Byte](3000)(5)
    val full = tarArchive(Seq("ok" -> TestData, "cut" -> data))
    // keep the second header and half of its content
    val cut = java.util.Arrays.copyOf(full, 512 + 512 + 512 + 1500)
    intercept[java.io.IOException] { walk(cut) }
  }

  test("over-cap checks hold past a short claim: failure, truncation, exact fit") {
    // the member claims ~30 bytes (its gzip size) but decompresses to 300
    val body = Array.tabulate[Byte](300)(i => ('a' + i % 3).toByte)
    val arch = tarArchive(Seq("z.gz" -> gzipData(body), "ok" -> TestData))
    assert(gzipData(body).length < 100)
    val capped = opts.copy(maxEntryBytes = 100L)
    val ex = intercept[graft.core.OversizeEntryException] { walk(arch, o = capped) }
    assert(ex.getMessage.contains("z.gz") && ex.getMessage.contains("100"))
    val rows = walk(arch, o = capped.copy(truncateOversize = true))
    assert(rows.map(r => (r.path, r.size)) == Vector(("z.gz", 100L), ("ok", TestData.length.toLong)))
    assert(rows.head.content.sameElements(body.take(100)))
    assert(rows.head.hash.sameElements(sha256(body.take(100))))
    val exact = walk(arch, o = opts.copy(maxEntryBytes = 300L))
    assert(exact.head.size == 300L && exact.head.hash.sameElements(sha256(body)))
    // a claim beyond the cap never sizes an array: the plain member
    // fails (or truncates) exactly like the short-claim one
    val plain = tarArchive(Seq("p" -> body))
    intercept[graft.core.OversizeEntryException] { walk(plain, o = capped) }
    val prefix = walk(plain, o = capped.copy(truncateOversize = true))
    assert(prefix.map(_.size) == Vector(100L) && prefix.head.hash.sameElements(sha256(body.take(100))))
  }

  test("pruneSizeMax stops each entry at the bound; survivors keep exact rows") {
    def sized(n: Int) = Array.tabulate[Byte](n)(i => (i % 251).toByte)
    val big = Array.fill[Byte](500)('q')
    val arch = tarArchive(Seq("s50" -> sized(50), "s99" -> sized(99), "s100" -> sized(100),
      "s150" -> sized(150), "big.gz" -> gzipData(big), "small.gz" -> gzipData(sized(20))))
    val o = opts.copy(pruneSizeMax = Some(100L))
    val rows = walk(arch, o = o)
    assert(rows.map(r => (r.path, r.size)) == Vector(("s50", 50L), ("s99", 99L), ("small.gz", 20L)))
    rows.zip(Seq(sized(50), sized(99), sized(20))).foreach { case (r, want) =>
      assert(r.content.sameElements(want), r.path)
      assert(r.hash.sameElements(sha256(want)), r.path)
    }
    // the same bound on the hash-only walk
    val hashOnly = walk(arch, o = o.copy(materializeContent = false))
    assert(hashOnly.map(r => (r.path, r.size, r.hash.toSeq)) == rows.map(r => (r.path, r.size, r.hash.toSeq)))
  }

  test("chunked walk: several parts whatever the claim; parts digest their slices") {
    val body = Array.tabulate[Byte](250)(i => (i * 3).toByte)
    val capped = opts.copy(maxEntryBytes = 100L)
    val want = Vector(body.slice(0, 100), body.slice(100, 200), body.slice(200, 250))
    def check(rows: Vector[graft.core.ArchiveChunk], path: String, label: String): Unit = {
      assert(rows.map(r => (r.path, r.content_part, r.size)) ==
        Vector((path, 0L, 100L), (path, 1L, 100L), (path, 2L, 50L)), label)
      rows.zip(want).foreach { case (r, w) =>
        assert(r.content.sameElements(w), label)
        assert(r.hash.sameElements(sha256(w)), label)
      }
    }
    Seq(-1L, 30L, 100L, 200L, 249L, 250L, 251L, 1000L).foreach { claim =>
      check(ArchiveWalker.walkChunked("input", new ByteArrayInputStream(body), claim, capped).toVector,
        "input", s"claim $claim")
    }
    // in a tar: an exact claim, and a gzip member claiming less than it holds
    val arch = tarArchive(Seq("exact" -> body, "short.gz" -> gzipData(body)))
    val rows = ArchiveWalker.walkChunked("input", new ByteArrayInputStream(arch),
      arch.length.toLong, capped).toVector
    check(rows.filter(_.path == "exact"), "exact", "tar exact")
    check(rows.filter(_.path == "short.gz"), "short.gz", "tar short claim")
    // an entry of exactly two chunks ends without an empty third part
    val two = ArchiveWalker.walkChunked("input", new ByteArrayInputStream(body.take(200)),
      200L, capped).toVector
    assert(two.map(r => (r.content_part, r.size)) == Vector((0L, 100L), (1L, 100L)))
  }

  /** A tar of every header shape the reader must step over: a
    * directory, a symlink, empty and padded files, sizes on and off the
    * 512-byte record, and names too long for the ustar header.
    */
  private def leanTarFixture(longFileMode: Int): Array[Byte] = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val bos = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(bos)
    tar.setLongFileMode(longFileMode)
    tar.setBigNumberMode(TarArchiveOutputStream.BIGNUMBER_POSIX)
    tar.putArchiveEntry(new TarArchiveEntry("dir/"))
    tar.closeArchiveEntry()
    val link = new TarArchiveEntry("dir/link", org.apache.commons.compress.archivers.tar.TarConstants.LF_SYMLINK)
    link.setLinkName("target")
    tar.putArchiveEntry(link)
    tar.closeArchiveEntry()
    val rnd = new scala.util.Random(7)
    for ((n, i) <- Seq(0, 1, 511, 512, 513, 8192, 8193, 20000).zipWithIndex) {
      val name = if (i % 3 == 2) "deep/" + ("segment_" * 20) + s"f$i" else s"dir/f$i"
      val data = Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      val e = new TarArchiveEntry(name)
      e.setSize(n.toLong)
      tar.putArchiveEntry(e)
      tar.write(data)
      tar.closeArchiveEntry()
    }
    tar.close()
    bos.toByteArray
  }

  /** Each step of a reader: the entry's (name, size, bytes the consumer
    * read), "end" or the IOException that stopped it.
    */
  private def tarSteps(next: () => org.apache.commons.compress.archivers.tar.TarArchiveEntry,
      in: java.io.InputStream, take: Int): Vector[String] = {
    val out = Vector.newBuilder[String]
    var go = true
    while (go) {
      try {
        val e = next()
        if (e == null) { out += "end"; go = false }
        else {
          val buf = new Array[Byte](take)
          val got = org.apache.commons.io.IOUtils.read(in, buf)
          out += s"${e.getName} ${e.getSize} ${e.isDirectory} ${got} ${java.util.Arrays.hashCode(buf)}"
        }
      } catch { case x: java.io.IOException => out += s"io: ${x.getMessage}"; go = false }
    }
    out.result()
  }

  test("lean tar reader steps through what the stock reader does, however much of each entry is read") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveInputStream, TarArchiveOutputStream}
    for (mode <- Seq(TarArchiveOutputStream.LONGFILE_POSIX, TarArchiveOutputStream.LONGFILE_GNU)) {
      val full = leanTarFixture(mode)
      // whole, cut inside an entry's data, cut inside its padding
      val cuts = Seq(full.length, 3000, 512 * 9 + 100)
      for (cut <- cuts; take <- Seq(0, 100, 600, 30000)) {
        val data = java.util.Arrays.copyOf(full, cut)
        val stock = new TarArchiveInputStream(new ByteArrayInputStream(data))
        val lean = new ArchiveWalker.LeanTarInputStream(new ByteArrayInputStream(data))
        val want = tarSteps(() => stock.getNextEntry, stock, take)
        val got = tarSteps(() => lean.nextEntry(), lean, take)
        assert(got == want, s"mode $mode, cut $cut, take $take")
        if (cut == full.length) assert(want.size == 11 && want.last == "end", want)
      }
    }
  }

  test("lean tar reader allocates no skip buffer per entry") {
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    val data = tarArchive((0 until 2000).map(i => s"f$i" -> Array.fill[Byte](100)(1)))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated(next: () => AnyRef): Long = {
      val t = Thread.currentThread().getId
      val a0 = mx.getThreadAllocatedBytes(t)
      var n = 0
      while (next() != null) n += 1
      assert(n == 2000)
      mx.getThreadAllocatedBytes(t) - a0
    }
    val stockTar = new TarArchiveInputStream(new ByteArrayInputStream(data))
    val leanTar = new ArchiveWalker.LeanTarInputStream(new ByteArrayInputStream(data))
    val stock = allocated(() => stockTar.getNextEntry)
    val lean = allocated(() => leanTar.nextEntry())
    // the stock reader allocates two 8 KiB buffers per entry
    assert(stock >= 2000L * 16384, stock)
    assert(lean < stock / 4, s"lean $lean, stock $stock")
  }
}

class AsciiStringsSpec extends AnyFunSuite {
  test("StringsMain: reference bin parity — strings then Total line") {
    // reference: crates/extract-strings/src/bin/strings.rs:1-17
    val input = Array[Byte](0) ++ "hello world".getBytes ++ Array[Byte](0) ++
      "a-long-enough-string".getBytes ++ Array[Byte](0xff.toByte)
    val bos = new java.io.ByteArrayOutputStream()
    val total = graft.walk.StringsMain.run(
      new ByteArrayInputStream(input), new java.io.PrintStream(bos, true, "UTF-8"), 4)
    val lines = new String(bos.toByteArray, "UTF-8").split("\n").toSeq
    assert(total == lines.size - 1L)
    assert(lines.last == s"Total strings: $total")
    assert(lines.init.forall(_.length >= 4))
    assert(lines.contains("a-long-enough-string"))
  }

  test("reference test vector at min_length=1") {
    // reference: crates/extract-strings/src/ascii.rs:132-146
    val input = Array[Byte](0) ++ "binary".getBytes ++ Array[Byte](0) ++
      "data".getBytes ++ Array[Byte](0, 0xff.toByte, 0xfe.toByte) ++
      "Hello, ".getBytes ++ Array[Byte](0xf0.toByte, 0x9f.toByte, 0x8c.toByte, 0x8e.toByte) ++
      " World!".getBytes ++ Array[Byte](0) ++ "more binary".getBytes
    val got = AsciiStrings.extract(input, 1)
    assert(got == Seq("binary", "data", "Hello, ", " World!", "more binary"))
  }

  test("short runs accumulate until min_length is reached (reference parity)") {
    val input = Array[Byte](0) ++ "binary".getBytes ++ Array[Byte](0) ++
      "data".getBytes ++ Array[Byte](0)
    assert(AsciiStrings.extract(input, 10) == Seq("binarydata"))
  }

  test("runs spanning buffer boundaries are joined") {
    val run = "x" * 100
    val input = Array[Byte](0) ++ run.getBytes ++ Array[Byte](0)
    val got = AsciiStrings.iterate(new ByteArrayInputStream(input), 10, bufSize = 7).toSeq
    assert(got == Seq(run))
  }

  test("trailing run at EOF is emitted when long enough") {
    assert(AsciiStrings.extract("0123456789abc".getBytes, 10) == Seq("0123456789abc"))
    assert(AsciiStrings.extract("short".getBytes, 10) == Seq.empty)
  }
}
