package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end drive of the CLI (`graft.convert.Main`) in a FORKED JVM
  * — the binary a user actually invokes, including the stdin ("-")
  * path-list mode (reference S3, src/main.rs:137-153). Forking keeps
  * Main's `spark.stop()` away from the shared test SparkContext and
  * proves the CLI runs standalone off the Spark jars classpath.
  */
class CliSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("CliSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  // the canonical list lives in build.sbt (jdk17AddOpens) and reaches
  // this forked test JVM as a system property — one source of truth
  private val addOpens: Seq[String] =
    sys.props.get("graft.test.addOpens").map(_.split(" ").toSeq).getOrElse(
      fail("graft.test.addOpens not set — run via sbt (build.sbt javaOptions)"))

  /** Run Main in a fresh JVM; returns (exit code, stdout+stderr). */
  private def runCli(stdin: Option[String], args: String*): (Int, String) = {
    val classes = new File("target/scala-2.13/classes").getAbsolutePath
    val cp = s"/opt/spark/jars/*:$classes"
    val cmd = Seq("java") ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Xmx2g", "-cp", cp,
      "graft.convert.Main") ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val proc = pb.start()
    stdin match {
      case Some(s) =>
        proc.getOutputStream.write(s.getBytes("UTF-8"))
        proc.getOutputStream.close()
      case None => proc.getOutputStream.close()
    }
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    (rc, out)
  }

  private def fixture(): File = {
    val dir = tempDir("graft_cli").toFile
    val tgz = Fixtures.gzipData(Fixtures.tarArchive(Seq(
      "a.txt" -> "hello cli".getBytes("UTF-8"),
      "b.bin" -> Array.tabulate[Byte](500)(i => (i * 7).toByte))))
    Files.write(Paths.get(dir.getPath, "in.tar.gz"), tgz)
    dir
  }

  test("stdin path-list mode ('-') converts and reports stats") {
    val dir = fixture()
    val out = new File(dir, "out").getPath
    val (rc, log) = runCli(
      stdin = Some(s"${dir.getPath}/in.tar.gz\n\n"),
      out, "-")
    assert(rc == 0, log.takeRight(2000))
    assert(log.contains("rows_written=2"), log.takeRight(2000))
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("path")).sorted.toSeq == Seq("a.txt", "b.bin"))
  }

  test("--log-file tees progress and final stats lines to the file") {
    val dir = fixture()
    val out = new File(dir, "out_logged").getPath
    val logF = new File(dir, "convert.log")
    val (rc, _) = runCli(None,
      out, s"${dir.getPath}/in.tar.gz", "--log-file", logF.getPath)
    assert(rc == 0)
    assert(logF.exists(), "log file must be created")
    val log = new String(Files.readAllBytes(logF.toPath), "UTF-8")
    // settled reporter totals + the CLI's final stats line, both teed
    assert(log.contains("[graft] walked:") && log.contains("(1 finished)"), log)
    assert(log.contains("rows_written=2"), log)
  }

  test("--chunked converts oversize entries as content_part rows, reassembly-exact") {
    val dir = fixture() // b.bin is 500 bytes; cap at 200 -> 3 chunks
    val out = new File(dir, "out_chunked").getPath
    val (rc, log) = runCli(None,
      out, s"${dir.getPath}/in.tar.gz", "--chunked", "--max-entry-bytes", "200")
    assert(rc == 0, log.takeRight(2000))
    assert(log.contains("rows_written=4"), log.takeRight(2000)) // 3 + a.txt's 1
    val rows = spark.read.parquet(out)
    assert(rows.where(org.apache.spark.sql.functions.col("path") === "b.bin").count() == 3)
    val back = graft.convert.ArchiveConverter.reassembleChunks(rows)
    assert(back.count() == 2)
    val bbin = back.where(org.apache.spark.sql.functions.col("path") === "b.bin").head()
    assert(bbin.getAs[Array[Byte]]("content").sameElements(
      Array.tabulate[Byte](500)(i => (i * 7).toByte)))
  }

  test("--http-payload decodes WARC response bodies into payload rows") {
    val dir = tempDir("graft_cli_http").toFile
    val p1 = "hello payload body\n"
    val p2 = "gzip coded body\n" * 3
    val gz2 = Fixtures.gzipData(p2.getBytes("UTF-8"))
    val req = "GET /q HTTP/1.1\r\nHost: t\r\n\r\n"
    def rec(typ: String, uri: String, body: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
        body ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val warcBytes =
      rec("response", "http://t/plain",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + p1).getBytes("ISO-8859-1")) ++
      rec("response", "http://t/gz",
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: gzip\r\n\r\n"
          .getBytes("ISO-8859-1") ++ gz2) ++
      rec("request", "http://t/q", req.getBytes("ISO-8859-1"))
    val warc = Paths.get(dir.getPath, "in.warc")
    Files.write(warc, warcBytes)
    val out = new File(dir, "out").getPath
    val (rc, log) = runCli(None, out, warc.toString, "--http-payload")
    assert(rc == 0, log)
    val rows = spark.read.parquet(out).orderBy("path").collect()
    assert(rows.length == 3)
    def sha(b: Array[Byte]): Seq[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).toSeq
    // gz: payload decoded, size/hash describe the PAYLOAD, status rides
    val g = rows(0)
    assert(g.getAs[String]("path") == "http://t/gz")
    assert(new String(g.getAs[Array[Byte]]("content"), "UTF-8") == p2)
    assert(g.getAs[Long]("size") == p2.length.toLong)
    assert(g.getAs[Array[Byte]]("hash").toSeq == sha(p2.getBytes("UTF-8")))
    assert(g.getAs[Int]("http_status") == 200)
    assert(g.getAs[String]("http_content_type") == "text/html")
    val p = rows(1)
    assert(p.getAs[String]("path") == "http://t/plain")
    assert(new String(p.getAs[Array[Byte]]("content"), "UTF-8") == p1)
    assert(p.getAs[String]("http_content_type") == "text/plain")
    // the request record passes through whole with null status/type
    val r = rows(2)
    assert(r.getAs[String]("path") == "http://t/q")
    assert(new String(r.getAs[Array[Byte]]("content"), "ISO-8859-1") == req)
    assert(r.isNullAt(r.fieldIndex("http_status")))
    assert(r.isNullAt(r.fieldIndex("http_content_type")))
  }

  test("--wet converts WARC to clean-text rows end to end") {
    val dir = tempDir("graft_cli_wet").toFile
    // one response whose page has exactly one content-classifiable
    // paragraph (>= 60 chars, no links) amid linky chrome, plus a
    // request record that must DROP (a WET file is responses-only)
    val para = "the quick brown fox document body has plenty of plain " +
      "words to clear the sixty character content gate easily"
    val page = "<html><head><title>W</title></head><body>" +
      "<nav><ul><li><a href=\"/a\">nav one</a></li>" +
      "<li><a href=\"/b\">nav two</a></li></ul></nav>" +
      s"<p>$para</p>" +
      "<footer>copyright <a href=\"/l\">owner</a> reserved</footer></body></html>"
    def rec(typ: String, uri: String, body: Array[Byte]): Array[Byte] =
      (s"WARC/1.0\r\nWARC-Type: $typ\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
        body ++ "\r\n\r\n".getBytes("ISO-8859-1")
    val warcBytes =
      rec("response", "http://t/page",
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
          page).getBytes("UTF-8")) ++
      rec("request", "http://t/q",
        "GET /q HTTP/1.1\r\nHost: t\r\n\r\n".getBytes("ISO-8859-1"))
    val warc = Paths.get(dir.getPath, "in.warc")
    Files.write(warc, warcBytes)
    val out = new File(dir, "out").getPath
    val (rc, log) = runCli(None, out, warc.toString, "--wet")
    assert(rc == 0, log)
    val rows = spark.read.parquet(out).collect()
    // the request dropped; the response row carries the clean text
    assert(rows.length == 1, rows.mkString("\n"))
    val r = rows(0)
    assert(r.getAs[String]("path") == "http://t/page")
    assert(new String(r.getAs[Array[Byte]]("content"), "UTF-8") == para)
    assert(r.getAs[Long]("size") == para.getBytes("UTF-8").length.toLong)
    assert(r.getAs[Int]("http_status") == 200)
    assert(r.getAs[String]("http_content_type") == "text/html; charset=utf-8")
    assert(r.getAs[Long]("n_blocks") == 5L && r.getAs[Long]("n_content") == 1L)
  }

  test("--wet refuses --http-payload (subsumed)") {
    val dir = fixture()
    val out = new File(dir, "out_wet_bad").getPath
    val (rc, log) = runCli(None,
      out, s"${dir.getPath}/in.tar.gz", "--wet", "--http-payload")
    assert(rc != 0)
    assert(log.contains("--wet already decodes"), log.takeRight(2000))
  }

  test("--chunked refuses whole-entry gates (--unique)") {
    val dir = fixture()
    val out = new File(dir, "out_chunked_bad").getPath
    val (rc, log) = runCli(None,
      out, s"${dir.getPath}/in.tar.gz", "--chunked", "--unique")
    assert(rc != 0)
    assert(log.contains("reassembleChunks"), log.takeRight(2000))
  }

  test("bad usage exits nonzero without writing output") {
    val out = "/tmp/graft_cli_bad_usage_out"
    val (rc, _) = runCli(None, out)
    assert(rc == 2)
    assert(!new File(out).exists(), "usage error must not create output")
  }
}
