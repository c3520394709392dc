package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** One query execution, split by the query timing rule. */
final case class QueryTime(name: String, family: String, buildS: Double, planS: Double,
    execS: Double, cpuS: Double) {
  def totalS: Double = buildS + planS + execS
}

/** The query sweep: the queries named in `queries.json`, in an order the
  * seed permutes, on the bundled sf0.01 tables. Each execution's
  * fingerprint must equal the recorded one.
  */
final class QuerySweep(b: Bench) {
  private val spark = b.spark
  private val registry: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def readJson(name: String): java.util.Map[String, AnyRef] =
    mapper.readValue(new File(b.args.catalog, name), classOf[java.util.Map[String, AnyRef]])

  private val catalog = readJson("queries.json")
  val families: Map[String, String] = readJson("families.json").asScala.map { case (k, v) => k -> v.toString }.toMap
  private def names(key: String): Seq[String] =
    catalog.get(key).asInstanceOf[java.util.List[String]].asScala.toSeq
  val sweep: Seq[String] = names("sweep")
  val targets: Seq[String] = names("targets")
  private val fingerprints: Map[String, String] =
    catalog.get("fingerprints").asInstanceOf[java.util.Map[String, String]].asScala.toMap

  private val times = mutable.ArrayBuffer.empty[QueryTime]
  private val passWalls = mutable.ArrayBuffer.empty[Double]
  private val passCpus = mutable.ArrayBuffer.empty[Double]

  /** Builds, plans and executes one query; returns its times and fingerprint. */
  private def execute(name: String): (QueryTime, Fingerprint) = {
    val family = families.getOrElse(name, "other")
    spark.sparkContext.setLocalProperty(Tracer.TagKey, family)
    try b.tracer.span(name) {
      val c0 = Host.processCpuSeconds()
      val t0 = System.nanoTime()
      val df = b.tracer.span("queries.build")(registry(name)(spark, b.args.data.getPath))
      val t1 = System.nanoTime()
      b.tracer.span("queries.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val fp = b.tracer.span("queries.exec")(Fingerprint.of(df))
      val t3 = System.nanoTime()
      (QueryTime(name, family, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        Host.processCpuSeconds() - c0), fp)
    } finally spark.sparkContext.setLocalProperty(Tracer.TagKey, null)
  }

  /** One counted execution checked against its recorded fingerprint. */
  private def checked(name: String): Option[QueryTime] = b.attempt(name) {
    val (t, fp) = execute(name)
    val want = fingerprints.getOrElse(name, throw new WrongOutput(s"$name has no recorded fingerprint"))
    if (fp.toString != want) throw new WrongOutput(s"$name fingerprint $fp, recorded $want")
    t
  }

  private def pass(order: Seq[String]): Seq[QueryTime] = {
    val ts = order.flatMap(checked)
    passWalls += ts.map(_.totalS).sum
    passCpus += ts.map(_.cpuS).sum
    ts
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(b.args.seed * 1000003L + pass).shuffle(sweep)

  /** One untimed warm-up pass (each query's first run in a JVM pays its
    * class loading and code generation), then whole passes back to back
    * until `--seconds` have gone by.
    */
  def measure(): Unit = {
    val w0 = System.nanoTime()
    order(-1).foreach(q => b.attempt(s"$q warm-up")(execute(q)))
    passWalls.clear(); passCpus.clear()
    b.notes += f"query_sweep: warm-up pass took ${(System.nanoTime() - w0) / 1e9}%.2f s"
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < b.args.seconds) {
      times ++= pass(order(n))
      n += 1
    }
    require(times.nonEmpty, "no query succeeded")
    val ms = times.map(_.totalS * 1e3).toSeq
    b.e2e("pass_s") = Stats.median(passWalls.toSeq)
    b.e2e("pass_cpu_s") = Stats.median(passCpus.toSeq)
    b.notes += f"query_sweep: $n passes of ${sweep.size} queries; " +
      f"pass_s=${passWalls.map(w => f"$w%.3f").mkString("/")}; " + Report.tail("query", ms)
  }

  /** Traced run: one more pass with spans on, followed by the ROADMAP
    * target queries the sweep does not hold, then the per-layer figures.
    * The overhead compares the sweep part with the untraced passes.
    */
  def traced(): Unit = {
    val untraced = Stats.median(passWalls.toSeq)
    val ts = layerPass(order(passWalls.size) ++ targets.filterNot(sweep.contains))
    b.layers("trace.overhead_share") = ts.filter(t => sweep.contains(t.name)).map(_.totalS).sum / untraced - 1
  }

  /** The per-query layers for a run whose own workload is a conversion:
    * one traced execution of one target query per family (q04, q44, q46,
    * q156). The other targets are not run there and read 0.
    */
  def probe(): Unit = {
    layerPass(targets.filter(q => Seq("q04_", "q44_", "q46_", "q156_").exists(q.startsWith)))
  }

  private def layerPass(queries: Seq[String]): Seq[QueryTime] = {
    b.tracer.enabled = true
    b.drain()
    b.listener.reset()
    b.listener.jobsByTag.clear()
    b.streams.reset()
    val ts = b.tracer.span("queries.pass")(pass(queries))
    b.drain()
    val t = b.listener.reset()
    val wall = passWalls.last
    def fam(f: String): Double = ts.filter(_.family == f).map(_.totalS).sum
    b.layers("queries.build_s") = ts.map(_.buildS).sum
    b.layers("queries.plan_s") = ts.map(_.planS).sum
    b.layers("queries.exec_s") = ts.map(_.execS).sum
    b.layers("queries.query_ms_p50") = Stats.median(ts.map(_.totalS * 1e3))
    b.layers("queries.jobs") = t.jobs.toDouble
    b.layers("queries.stages") = t.stages.toDouble
    b.layers("queries.tasks") = t.tasks.toDouble
    b.layers("queries.busy_cores") = t.taskNanos / 1e9 / wall
    b.layers("queries.shuffle_bytes") = t.shuffleWriteBytes.toDouble
    b.layers("queries.spill_bytes") = t.spillBytes.toDouble
    b.layers("queries.task_cpu_s") = t.cpuNanos / 1e9
    b.layers("queries.gc_s") = t.gcMs / 1e3
    for (f <- Seq("stream", "index", "dedup")) {
      b.layers(s"queries.${f}_s") = fam(f)
      b.layers(s"queries.$f.jobs") = b.listener.jobsByTag.getOrElse(f, 0L).toDouble
    }
    for (q <- targets)
      b.layers(s"queries.${q.takeWhile(_ != '_')}_s") = ts.filter(_.name == q).map(_.totalS).sum
    val s = b.streams
    b.layers("streaming.batches") = s.batches.toDouble
    b.layers("streaming.jobs_per_batch") = if (s.batches > 0) t.streamJobs.toDouble / s.batches else 0.0
    b.layers("streaming.add_batch_s") = s.addBatchMs / 1e3
    b.layers("streaming.wal_commit_s") = s.walCommitMs / 1e3
    Report.queryRows = ts
    ts
  }

  /** Runs every registered query twice, in registry order and then in
    * reverse, and writes the fingerprints that agree into `queries.json`
    * (keeping its sweep and target lists). Times go to stderr.
    */
  def record(): Unit = {
    val all = registry.keys.toSeq
    def run(order: Seq[String]): Map[String, (Double, String)] = order.map { q =>
      q -> (try { val (t, fp) = execute(q); (t.totalS, fp.toString) }
      catch { case e: Throwable => System.err.println(s"record: $q failed: $e"); (-1.0, "failed") })
    }.toMap
    val first = run(all)
    val second = run(all.reverse)
    val stable = all.filter(q => first(q)._2 != "failed" && first(q)._2 == second(q)._2)
    all.foreach { q =>
      System.err.println(f"record: $q%-36s ${first(q)._1}%8.3f ${second(q)._1}%8.3f " +
        (if (stable.contains(q)) "stable" else s"UNSTABLE ${first(q)._2} ${second(q)._2}"))
    }
    val fps = new java.util.TreeMap[String, String]()
    stable.foreach(q => fps.put(q, second(q)._2))
    catalog.put("fingerprints", fps)
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(b.args.catalog, "queries.json"), catalog)
  }
}
