package graftbench

import java.io.File
import java.nio.file.{Files => NioFiles}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val dirs = scala.collection.mutable.ArrayBuffer.empty[File]

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(Files.deleteRecursively)
  }

  private def tempDir(): File = {
    val d = NioFiles.createTempDirectory("graftbench").toFile
    dirs += d
    d
  }

  private def bytesOf(c: Corpus): Seq[Seq[Byte]] =
    c.inputs.map(p => NioFiles.readAllBytes(new File(p).toPath).toSeq)

  private def manifestLines(c: Corpus): Seq[String] = {
    val f = File.createTempFile("manifest", ".tsv")
    Gen.writeManifest(c, f)
    try scala.io.Source.fromFile(f).getLines().toList finally f.delete()
  }

  test("a seed gives byte-identical inputs and manifest; another seed does not") {
    val a = Gen.files(tempDir(), 11L, layers = 2, entriesPerLayer = 300, threads = 2)
    val b = Gen.files(tempDir(), 11L, layers = 2, entriesPerLayer = 300, threads = 1)
    val c = Gen.files(tempDir(), 12L, layers = 2, entriesPerLayer = 300, threads = 2)
    assert(bytesOf(a) == bytesOf(b))
    assert(manifestLines(a) == manifestLines(b))
    assert(bytesOf(a) != bytesOf(c))
    assert(manifestLines(a) != manifestLines(c))
  }

  test("the manifest describes what the converter writes") {
    val c = Gen.files(tempDir(), 3L, layers = 1, entriesPerLayer = 400, threads = 2)
    val out = new File(tempDir(), "out").getPath
    graft.convert.ArchiveConverter.convert(spark, c.inputs, out, graft.core.ConvertOptions())
    val rows = graft.convert.ArchiveConverter.read(spark, out).select("hash", "size").collect()
      .map(r => (r.getAs[Array[Byte]](0).map("%02x".format(_)).mkString, r.getLong(1))).sorted.toSeq
    assert(rows == c.manifest.map(e => (e.sha256, e.size)).sorted)
  }

  test("fingerprints are stable across executions and ignore row order") {
    val data = new File("data/sf0.01").getPath
    for (q <- Seq("q01_filter_project", "q46_stream_stream_join")) {
      val f1 = Fingerprint.of(graft.SparkEntry.queries(q)(spark, data))
      val f2 = Fingerprint.of(graft.SparkEntry.queries(q)(spark, data))
      assert(f1 == f2, q)
      assert(f1.rows > 0, q)
    }
    val df = spark.range(0, 1000).selectExpr("id", "id * 0.1 AS d", "cast(id AS string) AS s")
    assert(Fingerprint.of(df) == Fingerprint.of(df.repartition(3).orderBy("s")))
    assert(Fingerprint.of(df) != Fingerprint.of(df.where("id > 0")))
  }

  test("self time subtracts the union of the children's intervals") {
    val root = Span(1, 0, "pass", 0, 100)
    val kids = Seq(
      Span(2, 1, "job", 10, 40),
      Span(3, 1, "job", 30, 50), // overlaps the first: 10..50 covered once
      Span(4, 1, "job", 90, 130), // runs past the parent: only 90..100 counts
      Span(5, 1, "job", -20, -10)) // entirely outside
    assert(Span.selfTime(root, kids) == 100 - 40 - 10)
    assert(Span.selfTime(root, Nil) == 100)
    assert(Span.selfTime(root, Seq(Span(6, 1, "job", 0, 100), Span(7, 1, "job", 20, 30))) == 0)
  }

  test("the tail percentile is the highest that leaves ten samples beyond it") {
    assert(Stats.tailPercentile(9).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile((1 to 11).map(_.toDouble), 90) == 10.0)
  }

  test("the metric lists match BENCHMARK.json") {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def names(key: String): Seq[(String, String)] = {
      val it = m.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(n => n.get("name").asText() -> n.get("unit").asText()).toSeq
    }
    assert(names("end_to_end") == Report.EndToEnd)
    assert(names("per_layer") == Report.PerLayer)
  }
}
