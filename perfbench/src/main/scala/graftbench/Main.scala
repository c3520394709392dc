package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments (see README.md). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    data: File,
    catalog: File,
    out: File,
    record: Boolean = false)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      work = new File(need("work")),
      data = new File(need("data")),
      catalog = new File(need("catalog")),
      out = new File(need("out")),
      record = kv.getOrElse("record", "0") == "1")
  }
}

/** State of one benchmark run: the Spark session, the listeners, the
  * tracer, failure accounting and the metrics gathered so far.
  */
final class Bench(val args: Args) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  val tracer = new Tracer(spark.sparkContext)
  var listener: BenchListener = _
  var streams: StreamListener = _
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(args.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    listener = new BenchListener(tracer)
    streams = new StreamListener(tracer)
    s.sparkContext.addSparkListener(listener)
    s.streams.addListener(streams)
    spark = s
    s
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)

  /** Runs one counted operation. A throw counts as a failure and its time
    * is never reported: the caller gets None.
    */
  def attempt[T](what: String)(op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case t: Throwable =>
        failed += 1
        System.err.println(s"graftbench: FAILED $what: $t")
        // a dead session fails every later operation: end the run instead
        if (spark.sparkContext.isStopped) throw new IllegalStateException("the Spark session died", t)
        None
    }
  }
}

/** Thrown when an operation's output does not match what it must be. */
final class WrongOutput(msg: String) extends Exception(msg)

object Main {

  val Workloads = Seq("convert_files", "query_sweep")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch { case t: Throwable => t.printStackTrace(); 2 }
    System.exit(code)
  }

  def run(a: Args): Int = {
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    val jvmToMain = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val host0 = Host.sample()
    Files.deleteRecursively(a.work)
    new File(System.getProperty("java.io.tmpdir")).mkdirs()
    a.work.mkdirs()
    val b = new Bench(a)
    val g0 = System.nanoTime()
    val warm = Gen.warmup(new File(a.work, "warm_in"))
    b.notes += f"jvm start to main ${jvmToMain}%.2f s; warm-up inputs generated in ${(System.nanoTime() - g0) / 1e9}%.2f s"

    // Set-up: session start plus a fixed warm-up, three times in this
    // process; the first also carries JVM start. The median is reported.
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      b.newSession()
      b.notes += f"session $i started in ${(System.nanoTime() - t0) / 1e9}%.2f s"
      warmUp(b, warm)
      val s = (System.nanoTime() - t0) / 1e9 + (if (i == 1) jvmToMain else 0.0)
      if (i < 3) b.spark.stop()
      s
    }
    b.e2e("setup_s") = Stats.median(setups)

    a.workload match {
      case "query_sweep" =>
        val q = new QuerySweep(b)
        if (a.record) { q.record(); b.spark.stop(); return 0 }
        q.measure()
        if (a.trace) {
          q.traced()
          new ConvertWorkload(b).probe(warm)
        }
      case _ =>
        val c = new ConvertWorkload(b)
        c.measure()
        if (a.trace) {
          c.traced()
          new QuerySweep(b).probe()
        }
    }

    val (steal, cpu, busy) = Host.between(host0, Host.sample())
    b.layers("host.peak_rss_mb") = Host.peakRssMb()
    b.layers("host.steal_s") = steal
    b.layers("host.busy_cores") = busy
    b.spark.stop()
    b.notes += f"host steal_s=$steal%.2f process_cpu_s=$cpu%.2f busy_cores=$busy%.2f " +
      f"setups_s=${setups.map(s => f"$s%.3f").mkString("/")}; done ${
        (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s after JVM start"
    b.notes.foreach(n => System.err.println("graftbench: " + n))

    val runId = s"${a.workload}-${a.seed}-${if (a.trace) "traced" else "e2e"}"
    if (a.trace) {
      b.tracer.write(new File(a.out, s"spans-$runId.jsonl"), runId)
      println(Report.layerTable(b))
    }
    val metrics = if (a.trace) Report.perLayer(b) else Report.endToEnd(b)
    val record = Json.obj(Seq(
      "run" -> Json.str(runId),
      "e2e" -> Json.obj(b.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(b.layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "host" -> Json.obj(Seq("steal_s" -> Json.num(steal), "process_cpu_s" -> Json.num(cpu), "busy_cores" -> Json.num(busy))),
      "notes" -> b.notes.map(Json.str).mkString("[", ",", "]")))
    a.out.mkdirs()
    java.nio.file.Files.write(new File(a.out, s"run-$runId.json").toPath, (record + "\n").getBytes("UTF-8"))
    Files.deleteRecursively(a.work)
    println(Json.obj(Seq(
      "correct" -> (b.failed == 0).toString,
      "attempted" -> b.attempted.toString,
      "failed" -> b.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, unit)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    0
  }

  /** A fixed warm-up on every set-up, so class loading and JIT of the
    * workload's face happen before anything is timed: a small convert and
    * lookup for the convert workloads, two small queries for the sweep.
    */
  private def warmUp(b: Bench, warm: Corpus): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    if (b.args.workload == "query_sweep") {
      for (q <- Seq("q01_filter_project", "q16_converter"))
        Fingerprint.of(graft.SparkEntry.queries(q)(b.spark, b.args.data.getPath))
    } else {
      val out = new File(b.args.work, "warm_out")
      Files.deleteRecursively(out)
      graft.convert.ArchiveConverter.convert(b.spark, warm.inputs, out.getPath,
        graft.core.ConvertOptions(unique = true))
      graft.convert.ArchiveConverter.read(b.spark, out.getPath)
        .where(col("hash") === lit(new Array[Byte](32))).select("path").collect()
    }
    b.drain()
    b.listener.reset()
  }
}
