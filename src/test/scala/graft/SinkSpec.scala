package graft

import graft.convert.ArchiveConverter
import graft.core.ConvertOptions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** K1 sink-tuning parity: the reference's per-column writer properties
  * (src/sink.rs:23-55) must be visible in the written parquet footers —
  * bloom filters on source/path/hash, dictionary on source/path only.
  */
class SinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("SinkSpec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("written footer reflects the tuned sink: blooms + selective dictionary") {
    import Fixtures._
    val arch = java.io.File.createTempFile("graft_sink", ".tar.gz")
    arch.deleteOnExit()
    val fos = new java.io.FileOutputStream(arch)
    // enough distinct entries that dictionary/bloom structures materialize
    fos.write(gzipData(tarArchive((1 to 50).map(i => s"f$i.txt" -> s"content number $i".getBytes("UTF-8")))))
    fos.close()
    val out = java.nio.file.Files.createTempDirectory("graft_sink_out").toString

    val stats = ArchiveConverter.convert(spark, Seq(arch.getAbsolutePath), out, ConvertOptions())
    assert(stats.rows == 50 && stats.entriesRead == 50)

    val part = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val rg = reader.getFooter.getBlocks.asScala.head
      val cols = rg.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap

      // bloom filter on hash (non-dictionary column); parquet-mr omits
      // blooms for fully-dictionary-encoded chunks (source/path here —
      // the dictionary itself already answers point lookups), and none
      // on the columns we disabled
      assert(cols("hash").getBloomFilterOffset >= 0)
      assert(cols("content").getBloomFilterOffset < 0)
      assert(cols("size").getBloomFilterOffset < 0)

      // dictionary: the binary payload columns must NOT be
      // dictionary-encoded (huge values would bloat dictionary pages).
      // The per-column *enable* for source/path is requested in the
      // writer properties but parquet-java's honoring of the
      // `parquet.enable.dictionary#col` toggles is version-dependent,
      // so only the disable side is asserted.
      def usesDict(c: String) =
        cols(c).getEncodings.asScala.exists(_.usesDictionary())
      assert(!usesDict("content") && !usesDict("hash"))

      // zstd codec (engine default)
      assert(cols("content").getCodec.name().equalsIgnoreCase("zstd"))

      // statistics only on the metadata columns (src/sink.rs:41,47-49):
      // content min/max would hold whole blobs in memory and in the footer
      assert(cols("content").getStatistics == null || cols("content").getStatistics.isEmpty)
      assert(cols("hash").getStatistics != null && !cols("hash").getStatistics.isEmpty)
      assert(cols("size").getStatistics != null && !cols("size").getStatistics.isEmpty)
    } finally reader.close()
  }

  test("ConvertOptions.referenceParity restores the reference's SNAPPY codec") {
    import Fixtures._
    val o = graft.core.ConvertOptions.referenceParity
    assert(o.compression == "snappy", "codec is the one documented deviation")
    assert(o == graft.core.ConvertOptions(compression = "snappy"),
      "every other default must match the engine's")
    val arch = java.io.File.createTempFile("graft_refpar", ".tar")
    arch.deleteOnExit()
    val fos = new java.io.FileOutputStream(arch)
    fos.write(tarArchive(Seq("a.txt" -> "reference parity body".getBytes("UTF-8"))))
    fos.close()
    val out = java.nio.file.Files.createTempDirectory("graft_refpar_out").toString
    ArchiveConverter.convert(spark, Seq(arch.getAbsolutePath), out, o)
    val part = new java.io.File(out).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath), new Configuration()))
    try {
      val cols = reader.getFooter.getBlocks.asScala.head.getColumns.asScala
      assert(cols.forall(_.getCodec.name().equalsIgnoreCase("snappy")),
        cols.map(c => c.getPath.toDotString -> c.getCodec.name()).toString)
    } finally reader.close()
  }

  test("singleFile writes exactly one parquet part (reference parity)") {
    import Fixtures._
    val dir = java.nio.file.Files.createTempDirectory("graft_single").toFile
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(new java.io.File(dir, s"in$i.tar.gz").toPath,
        gzipData(tarArchive(Seq(s"f$i.txt" -> s"data $i".getBytes("UTF-8")))))
    }
    val inputs = dir.listFiles().map(_.getAbsolutePath).toSeq
    val out = java.nio.file.Files.createTempDirectory("graft_single_out").toString
    val stats = ArchiveConverter.convert(spark, inputs, out,
      ConvertOptions(singleFile = true))
    assert(stats.rows == 3)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1)
  }

  test("W7: content-read failure aborts by default, is contained with skipErrors") {
    import Fixtures._
    val dir = java.nio.file.Files.createTempDirectory("graft_w7").toFile
    val good = new java.io.File(dir, "good.tar.gz")
    val goodBytes = gzipData(tarArchive(Seq("ok.txt" -> "fine content".getBytes("UTF-8"))))
    java.nio.file.Files.write(good.toPath, goodBytes)
    // truncated gzip over INCOMPRESSIBLE bytes so the cut lands in the
    // middle of entry content (not a header): read error, not EOF
    val bad = new java.io.File(dir, "bad.tar.gz")
    val noise = new Array[Byte](256 * 1024)
    new java.util.Random(1L).nextBytes(noise)
    val full = gzipData(tarArchive(Seq("big.bin" -> noise)))
    java.nio.file.Files.write(bad.toPath, java.util.Arrays.copyOf(full, full.length / 2))
    val inputs = Seq(good.getAbsolutePath, bad.getAbsolutePath)

    // default: the poisoned input fails the job (reference W7 abort)
    val out1 = java.nio.file.Files.createTempDirectory("graft_w7_out1").toString
    intercept[org.apache.spark.SparkException] {
      ArchiveConverter.convert(spark, inputs, out1, ConvertOptions())
    }

    // skipErrors: the good input converts, the bad one is counted
    val out2 = java.nio.file.Files.createTempDirectory("graft_w7_out2").toString
    val stats = ArchiveConverter.convert(spark, inputs, out2, ConvertOptions(skipErrors = true))
    assert(stats.rows == 1 && stats.errors == 1)
    val rows = ArchiveConverter.read(spark, out2).collect()
    assert(rows.map(_.getAs[String]("path")).toSeq == Seq("ok.txt"))
  }

  test("over-cap entry under skipErrors: counted input skip, others survive") {
    import Fixtures._
    val dir = java.nio.file.Files.createTempDirectory("graft_cap").toFile
    val good = new java.io.File(dir, "good.tar.gz")
    java.nio.file.Files.write(good.toPath,
      gzipData(tarArchive(Seq("small.txt" -> "fits".getBytes("UTF-8")))))
    val bad = new java.io.File(dir, "bad.tar.gz")
    java.nio.file.Files.write(bad.toPath,
      gzipData(tarArchive(Seq("huge.bin" -> Array.fill[Byte](4096)(9)))))
    val out = java.nio.file.Files.createTempDirectory("graft_cap_out").toString
    val stats = ArchiveConverter.convert(spark,
      Seq(good.getAbsolutePath, bad.getAbsolutePath), out,
      ConvertOptions(skipErrors = true, maxEntryBytes = 1024L))
    assert(stats.rows == 1 && stats.errors == 1)
    val rows = ArchiveConverter.read(spark, out).collect()
    assert(rows.map(_.getAs[String]("path")).toSeq == Seq("small.txt"))
  }

  test("stats.bytes is the summed content length of the output in every mode") {
    import Fixtures._
    import org.apache.spark.sql.functions.{col, length, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toFile
    def put(name: String, bytes: Array[Byte]): String = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, bytes)
      f.getAbsolutePath
    }
    val tar = put("in.tar.gz", gzipData(tarArchive(Seq(
      "a.txt" -> "shared body".getBytes("UTF-8"),
      "b.txt" -> "shared body".getBytes("UTF-8"),
      "c.txt" -> ("a longer text entry " * 20).getBytes("UTF-8"),
      "bin" -> fakeElf(Seq("a-long-enough-string", "another/quite/long/run"))))))
    val para = "the quick brown fox document body has plenty of plain " +
      "words to clear the sixty character content gate easily"
    val page = s"<html><head><title>W</title></head><body><p>$para</p></body></html>"
    val warc = put("in.warc", warcArchive(Seq(
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://t/page") ->
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" + page)
          .getBytes("UTF-8"),
      Seq("WARC-Type" -> "request", "WARC-Target-URI" -> "http://t/q") ->
        "GET /q HTTP/1.1\r\nHost: t\r\n\r\n".getBytes("ISO-8859-1"))))
    val modes = Seq(
      "plain" -> (tar, ConvertOptions()),
      "unique" -> (tar, ConvertOptions(unique = true)),
      "extractStrings" -> (tar, ConvertOptions(extractStrings = true)),
      "httpPayload" -> (warc, ConvertOptions(httpPayload = true)),
      "wet" -> (warc, ConvertOptions(wet = true)),
      "chunked" -> (tar, ConvertOptions(chunked = true, maxEntryBytes = 64L)))
    modes.foreach { case (mode, (in, o)) =>
      val out = new java.io.File(dir, s"out_$mode").getPath
      val stats = ArchiveConverter.convert(spark, Seq(in), out, o)
      val written = spark.read.parquet(out)
      val contentBytes = written.agg(sum(length(col("content")))).head().getLong(0)
      assert(contentBytes > 0, mode)
      assert(stats.bytes == contentBytes, mode)
      assert(stats.rows == written.count(), mode)
    }
  }

  test("unique output is ordered by hash within each file") {
    import Fixtures._
    val arch = java.io.File.createTempFile("graft_sorted", ".tar")
    arch.deleteOnExit()
    // 60 entries, every third a duplicate of an earlier one
    java.nio.file.Files.write(arch.toPath, tarArchive((1 to 60).map { i =>
      s"f$i" -> s"body ${if (i % 3 == 0) i - 1 else i}".getBytes("UTF-8")
    }))
    val out = java.nio.file.Files.createTempDirectory("graft_sorted_out").toString
    val stats = ArchiveConverter.convert(spark, Seq(arch.getAbsolutePath), out,
      ConvertOptions(unique = true))
    assert(stats.rows == 40)
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)
    val unsigned = Ordering.Implicits.seqOrdering[Seq, Int]
    parts.foreach { part =>
      val hashes = spark.read.parquet(part.getAbsolutePath).select("hash").collect()
        .map(_.getAs[Array[Byte]](0).toSeq.map(_ & 0xff)).toSeq
      assert(hashes.sliding(2).forall(p => p.size < 2 || unsigned.lt(p(0), p(1))), part.getName)
    }
  }

  test("early-stop: abandoned walk iterator closes its input at task completion") {
    import Fixtures._
    val f = java.io.File.createTempFile("graft_leak", ".tar")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      tarArchive((1 to 10).map(i => s"e$i" -> s"entry number $i payload".getBytes("UTF-8"))))
    val path = f.getAbsolutePath
    StreamLeakProbe.closed = false
    val first = spark.sparkContext.range(0L, 1L, 1L, 1).mapPartitions { _ =>
      val fin = new java.io.FileInputStream(path) {
        override def close(): Unit = { StreamLeakProbe.closed = true; super.close() }
      }
      val it = graft.walk.ArchiveWalker.walk(path, fin, new java.io.File(path).length(), ConvertOptions())
      Iterator.single(it.next().path) // consume ONE row, abandon the rest
    }.collect()
    assert(first.toSeq == Seq("e1"))
    assert(StreamLeakProbe.closed,
      "task completion must close a walk input abandoned before exhaustion")
  }
}

/** local-mode observability hook for the early-stop close test: the
  * task runs in this JVM, so a static flag is visible to the driver.
  */
object StreamLeakProbe {
  @volatile var closed = false
}
