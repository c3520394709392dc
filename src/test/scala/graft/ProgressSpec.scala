package graft

import graft.convert.{ArchiveConverter, ProgressReporter}
import graft.core.ConvertOptions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Live progress reporting (reference src/progress.rs:11-133): the
  * reporter must tick in-flight counter lines while a conversion runs
  * and settle with the final totals.
  */
class ProgressSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .appName("ProgressSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  test("reporter ticks accumulator values and prints settled totals on stop") {
    spark.sparkContext // force init
    val metrics = new ArchiveConverter.WalkMetrics(spark)
    val buf = new java.io.ByteArrayOutputStream()
    val ps = new java.io.PrintStream(buf, true, "UTF-8")
    val rep = new ProgressReporter(metrics, totalInputs = 3, ps, intervalMs = 20).start()
    metrics.inputs.add(2)
    metrics.entries.add(1234)
    metrics.bytes.add(5L * 1000 * 1000)
    Thread.sleep(200) // several ticks
    metrics.inputs.add(1)
    metrics.errors.add(1)
    rep.stop()
    rep.stop() // idempotent
    val out = buf.toString("UTF-8")
    val lines = out.linesIterator.toVector
    assert(lines.count(_.startsWith("[graft] converting:")) >= 2, out)
    assert(lines.exists(l => l.contains("inputs 2/3") && l.contains("entries 1,234") && l.contains("5.0 MB")), out)
    assert(lines.last.startsWith("[graft] walked:") && lines.last.contains("inputs 3/3")
      && lines.last.contains("1 failed"), out)
    // exactly one settled line, no ticks after stop
    assert(lines.count(_.startsWith("[graft] walked:")) == 1, out)
  }

  test("per-input frames: bars track raw bytes, done inputs fill, unstarted are hidden") {
    spark.sparkContext
    val metrics = new ArchiveConverter.WalkMetrics(spark)
    val sizes = Seq("/data/a.tar" -> 100L * 1000 * 1000, "/data/b.tar" -> -1L, "/data/c.tar" -> 10L)
    val ps = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    val rep = new ProgressReporter(metrics, 3, ps, intervalMs = 100000, None, sizes)
    metrics.perInputBytes.add("/data/a.tar" -> 45L * 1000 * 1000) // 45% read
    metrics.perInputBytes.add("/data/b.tar" -> 7L * 1000 * 1000)  // unknown total
    metrics.perInputDone.add("/data/c.tar" -> 1L)                 // finished
    val f = rep.frame("[graft] converting:")
    assert(f.size == 4, f) // aggregate + 3 started inputs
    assert(f(0).startsWith("[graft] converting:"))
    val a = f.find(_.endsWith("a.tar")).get
    assert(a.contains("[#########-----------]") && a.contains("45.0/100.0 MB reading"), a)
    val b = f.find(_.endsWith("b.tar")).get
    assert(b.contains("[....................]") && b.contains("7.0 MB reading") && !b.contains("/"), b)
    val c = f.find(_.endsWith("c.tar")).get
    assert(c.contains("[####################]") && c.contains("done"), c)
    // an input with zero bytes and no done mark renders no row
    metrics.perInputBytes.reset(); metrics.perInputDone.reset()
    assert(rep.frame("[graft] converting:").size == 1)
  }

  test("live view merges running-task heartbeat partials; task end hands off to the accumulator") {
    spark.sparkContext
    val metrics = new ArchiveConverter.WalkMetrics(spark)
    val lv = new ArchiveConverter.LiveWalkCounters(metrics)
    val sizes = Seq("/d/a.tar" -> 100L * 1000 * 1000)
    val ps = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    val rep = new ProgressReporter(metrics, 1, ps, intervalMs = 100000, None, sizes,
      ansi = false, live = Some(lv))

    // mid-task: nothing in the accumulators yet, heartbeat partial only —
    // delivered through the real listener event (AccumulableInfo built
    // via the shim; its constructor is private[spark])
    val infos = Seq(
      org.apache.spark.sql.graft.GraftShims.accumulableInfo(
        metrics.bytes.id, "graft.bytesRead", java.lang.Long.valueOf(30L * 1000 * 1000)),
      org.apache.spark.sql.graft.GraftShims.accumulableInfo(
        metrics.perInputBytes.id, "graft.perInputBytes",
        Map("/d/a.tar" -> 45L * 1000 * 1000)))
    lv.onExecutorMetricsUpdate(org.apache.spark.scheduler.SparkListenerExecutorMetricsUpdate(
      "0", Seq((7L, 0, 0, infos)), Map.empty))

    assert(lv.longValue(metrics.bytes) == 30L * 1000 * 1000)
    val f = rep.frame("[graft] converting:")
    val bar = f.find(_.endsWith("a.tar")).get
    assert(bar.contains("45.0/100.0 MB reading") && bar.contains("[#########-----------]"), bar)

    // a later heartbeat for the same task REPLACES its partial (cumulative)
    lv.recordPartial(7L, metrics.perInputBytes.id, Map("/d/a.tar" -> 80L * 1000 * 1000))
    assert(lv.mapValue(metrics.perInputBytes)("/d/a.tar") == 80L * 1000 * 1000)

    // task end: partial dropped, the completed value lives in the accumulator
    metrics.perInputBytes.add("/d/a.tar" -> 100L * 1000 * 1000)
    metrics.bytes.add(90L * 1000 * 1000)
    lv.dropTask(7L)
    assert(lv.longValue(metrics.bytes) == 90L * 1000 * 1000)
    assert(lv.mapValue(metrics.perInputBytes)("/d/a.tar") == 100L * 1000 * 1000)
  }

  test("per-input frames cap at MaxBars rows with a +N more tail") {
    spark.sparkContext
    val metrics = new ArchiveConverter.WalkMetrics(spark)
    val n = ProgressReporter.MaxBars + 37
    val sizes = (1 to n).map(i => s"/data/in$i.tar" -> 1000L)
    val ps = new java.io.PrintStream(new java.io.ByteArrayOutputStream())
    val rep = new ProgressReporter(metrics, n.toLong, ps, intervalMs = 100000, None, sizes)
    sizes.foreach { case (p, _) => metrics.perInputDone.add(p -> 1L) }
    val f = rep.frame("[graft] converting:")
    assert(f.size == 1 + ProgressReporter.MaxBars + 1, f.size)
    assert(f.last == "[graft]   … +37 more inputs", f.last)
  }

  test("convert with progress bars renders per-input rows to a redirected stderr") {
    import Fixtures._
    val dir = tempDir("graft_bars").toFile
    val archives = (1 to 2).map { k =>
      val f = new java.io.File(dir, s"in$k.tar.gz")
      val fos = new java.io.FileOutputStream(f)
      fos.write(gzipData(tarArchive((1 to 10).map(i => s"f$i.txt" -> s"row $k-$i".getBytes("UTF-8")))))
      fos.close()
      f.getAbsolutePath
    }
    val out = tempDir("graft_bars_out").toString
    val buf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val stats =
      try ArchiveConverter.convert(spark, archives, out, ConvertOptions(
        progressBars = true, progressIntervalMs = 10))
      finally System.setErr(realErr)
    assert(stats.rows == 20)
    val err = buf.toString("UTF-8")
    // the settled frame carries a full bar + done row per input
    val doneRows = err.linesIterator.filter(l => l.contains("[####################]") && l.contains("done")).toVector
    assert(archives.forall(a => doneRows.exists(_.endsWith(new java.io.File(a).getName))), err)
    assert(err.linesIterator.exists(_.startsWith("[graft] walked: inputs 2/2")), err)
    // redirected stderr is not a console: no ANSI repaint codes
    assert(!err.contains("\u001b["), err)
  }

  test("convert with progress=true surfaces in-flight lines on stderr") {
    import Fixtures._
    val arch = java.io.File.createTempFile("graft_progress", ".tar.gz")
    arch.deleteOnExit()
    val fos = new java.io.FileOutputStream(arch)
    fos.write(gzipData(tarArchive((1 to 20).map(i => s"f$i.txt" -> s"row $i".getBytes("UTF-8")))))
    fos.close()
    val out = tempDir("graft_progress_out").toString

    val buf = new java.io.ByteArrayOutputStream()
    val realErr = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val stats =
      try ArchiveConverter.convert(spark, Seq(arch.getAbsolutePath), out, ConvertOptions(
        progress = true, progressIntervalMs = 10))
      finally System.setErr(realErr)
    assert(stats.rows == 20)
    val err = buf.toString("UTF-8")
    assert(err.linesIterator.exists(_.startsWith("[graft] walked: inputs 1/1")), err)
  }
}
