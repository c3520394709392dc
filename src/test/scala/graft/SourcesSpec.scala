package graft

import graft.convert.ArchiveConverter
import graft.core.ConvertOptions
import graft.walk.ArchiveWalker
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The DataSource V2 face (`spark.read.format("archive")`): same rows
  * as the Dataset face, one partition per input, column pruning that
  * reaches the walker (no content buffers / digests for queries that
  * don't project them), W7 containment via the skipErrors option.
  */
class SourcesSpec extends AnyFunSuite with TempDirs {
  import Fixtures._

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("SourcesSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def writeFixture(name: String, bytes: Array[Byte]): String = {
    val f = java.io.File.createTempFile(name, ".tar.gz")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    f.getAbsolutePath
  }

  private lazy val fixturePath: String = writeFixture("graft_src",
    gzipData(tarArchive(Seq(
      "a.txt" -> TestData,
      "nested" -> tarArchive(Seq("inner/b.txt" -> "deeper content".getBytes("UTF-8")))))))

  test("rows match the Dataset face, hash and content included") {
    val viaSource = spark.read.format("archive").load(fixturePath)
      .collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("size"),
        r.getAs[Array[Byte]]("hash").toSeq, r.getAs[Array[Byte]]("content").toSeq))
      .sortBy(_._1)
    val viaDataset = ArchiveConverter.entries(spark, Seq(fixturePath), ConvertOptions())
      .collect()
      .map(e => (e.path, e.size, e.hash.toSeq, e.content.toSeq))
      .sortBy(_._1)
    assert(viaSource.nonEmpty)
    assert(viaSource.toSeq == viaDataset.toSeq)
  }

  test("column pruning reaches the scan; pruned walk skips content and hash") {
    val pruned = spark.read.format("archive").load(fixturePath).select("path", "size")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScan in plan"))
    assert(scan.output.map(_.name).toSet == Set("path", "size"),
      s"pruning must reach the source, got ${scan.output}")
    assert(pruned.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a.txt", TestData.length.toLong), ("nested/inner/b.txt", 14L)))
    // the walker-level contract the source relies on: sizes stay exact
    // while content/hash stay EMPTY (nothing buffered, nothing hashed)
    val slim = ArchiveWalker.walkPath(fixturePath,
      ConvertOptions(materializeContent = false, computeHash = false)).toVector
    assert(slim.map(_.size) == Vector(TestData.length.toLong, 14L))
    assert(slim.forall(e => e.content.isEmpty && e.hash.isEmpty))
    // and hash-only keeps the digest exact with no content buffered
    val hashOnly = ArchiveWalker.walkPath(fixturePath,
      ConvertOptions(materializeContent = false)).toVector
    assert(hashOnly.head.hash.sameElements(sha256(TestData)))
    assert(hashOnly.forall(_.content.isEmpty))
    // COUNT(*) prunes everything and still counts every entry
    assert(spark.read.format("archive").load(fixturePath).count() == 2L)
  }

  test("globs expand driver-side; one partition per input") {
    val dir = tempDir("graft_src_many").toFile
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(new java.io.File(dir, s"in_$i.tar.gz").toPath,
        gzipData(tarArchive(Seq(s"f$i.txt" -> s"content $i".getBytes("UTF-8")))))
    }
    val df = spark.read.format("archive").load(s"${dir.getAbsolutePath}/*.tar.gz")
    assert(df.rdd.getNumPartitions == 3)
    assert(df.select("path").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("f1.txt", "f2.txt", "f3.txt"))
  }

  test("source-filter pushdown prunes input partitions at planning time") {
    val dir = tempDir("graft_src_prune").toFile
    (1 to 3).foreach { i =>
      java.nio.file.Files.write(new java.io.File(dir, s"in_$i.tar.gz").toPath,
        gzipData(tarArchive(Seq(s"f$i.txt" -> s"content $i".getBytes("UTF-8")))))
    }
    import org.apache.spark.sql.functions.col
    val all = spark.read.format("archive").load(s"${dir.getAbsolutePath}/*.tar.gz")
    // equality on source -> ONE planned partition (archive-level pruning)
    val one = all.where(col("source") === s"${dir.getAbsolutePath}/in_2.tar.gz")
    assert(one.rdd.getNumPartitions == 1, "source equality must prune to one input")
    assert(one.select("path").collect().map(_.getString(0)).toSeq == Seq("f2.txt"))
    // prefix filter keeps matching inputs; a no-match filter plans zero
    assert(all.where(col("source").startsWith(s"${dir.getAbsolutePath}/in_"))
      .rdd.getNumPartitions == 3)
    assert(all.where(col("source") === "no/such/input").count() == 0)
    // non-source predicates prune nothing and stay row-side
    val byPath = all.where(col("path") === "f1.txt")
    assert(byPath.rdd.getNumPartitions == 3)
    assert(byPath.count() == 1)
  }

  test("size and path-prefix filters push into the walk") {
    import org.apache.spark.sql.functions.col
    def pushedOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.description()
      }.getOrElse(fail("no BatchScan in plan"))

    // size bounds reach the scan (visible as pushed filters) and the
    // result matches the residual-only answer
    val sized = spark.read.format("archive").load(fixturePath)
      .where(col("size") >= 14 && col("size") < 1000)
    assert(pushedOf(sized).contains("GreaterThanOrEqual(size,14)"))
    assert(pushedOf(sized).contains("LessThan(size,1000)"))
    assert(sized.select("path").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.txt", "nested/inner/b.txt").filter { p =>
        val s = if (p == "a.txt") TestData.length.toLong else 14L
        s >= 14 && s < 1000
      })

    // path prefix prunes the nested subtree in-walk; rows still exact
    val prefixed = spark.read.format("archive").load(fixturePath)
      .where(col("path").startsWith("nested/"))
    assert(pushedOf(prefixed).contains("StringStartsWith(path,nested/)"))
    assert(prefixed.select("path").collect().map(_.getString(0)).toSeq ==
      Seq("nested/inner/b.txt"))

    // walker-level contract: the prune hints drop rows at the source
    val walked = ArchiveWalker.walkPath(fixturePath,
      ConvertOptions(prunePathPrefixes = Seq("nested/"))).toVector
    assert(walked.map(_.path) == Vector("nested/inner/b.txt"))
    val sizedWalk = ArchiveWalker.walkPath(fixturePath,
      ConvertOptions(pruneSizeMin = Some(14L), pruneSizeMax = Some(15L))).toVector
    assert(sizedWalk.map(_.path) == Vector("nested/inner/b.txt"))
    // a doomed entry (reaches pruneSizeMax) stops buffering mid-read
    val doomed = ArchiveWalker.walkPath(fixturePath,
      ConvertOptions(pruneSizeMax = Some(5L))).toVector
    assert(doomed.isEmpty)
  }

  test("chunked entries reassemble to the plain walk's rows, whole-entry digest restored") {
    val chunked = ArchiveConverter.chunkedEntries(spark, Seq(fixturePath),
      ConvertOptions(maxEntryBytes = 7L))
    val back = ArchiveConverter.reassembleChunks(chunked.toDF())
      .collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("size"),
        r.getAs[Array[Byte]]("hash").toSeq, r.getAs[Array[Byte]]("content").toSeq))
      .sortBy(_._1)
    val plain = ArchiveConverter.entries(spark, Seq(fixturePath), ConvertOptions())
      .collect()
      .map(e => (e.path, e.size, e.hash.toSeq, e.content.toSeq))
      .sortBy(_._1)
    assert(back.toSeq == plain.toSeq)
  }

  test("7z input through the DSV2 face; sevenZMemSpoolMax option reaches the walker") {
    val sevenZ = sevenZArchive(Seq(
      "a.txt" -> TestData,
      "inner.tar" -> tarArchive(Seq("docs/b.txt" -> "seven zip body".getBytes("UTF-8")))))
    val p = writeFixture("graft_7z_src", sevenZ)
    // in-memory spool (default) and forced temp-file spool must agree
    val mem = spark.read.format("archive").load(p)
      .selectExpr("path", "size").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val file = spark.read.format("archive").option("sevenZMemSpoolMax", "1").load(p)
      .selectExpr("path", "size").collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(mem.toSeq == Seq(
      ("a.txt", TestData.length.toLong),
      ("inner.tar/docs/b.txt", "seven zip body".length.toLong)))
    assert(file.toSeq == mem.toSeq)
  }

  test("SQL DDL face: CREATE TABLE ... USING archive") {
    spark.sql("DROP TABLE IF EXISTS graft_arch_sql")
    spark.sql(
      s"CREATE TABLE graft_arch_sql USING archive OPTIONS (path '$fixturePath')")
    val rows = spark.sql(
      "SELECT path, size FROM graft_arch_sql ORDER BY path")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq == Seq(("a.txt", TestData.length.toLong), ("nested/inner/b.txt", 14L)))
    spark.sql("DROP TABLE graft_arch_sql")
  }

  test("skipErrors option: corrupt input contained, scan continues") {
    val good = fixturePath
    val noise = new Array[Byte](64 * 1024)
    new java.util.Random(3L).nextBytes(noise)
    val full = gzipData(tarArchive(Seq("big.bin" -> noise)))
    val bad = writeFixture("graft_src_bad", java.util.Arrays.copyOf(full, full.length / 2))
    // default: poisoned input fails the scan
    intercept[org.apache.spark.SparkException] {
      spark.read.format("archive").load(good, bad).count()
    }
    // skipErrors: the good input's rows survive
    val rows = spark.read.format("archive").option("skipErrors", "true")
      .load(good, bad)
      .select("path").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == Seq("a.txt", "nested/inner/b.txt"))
  }
}
