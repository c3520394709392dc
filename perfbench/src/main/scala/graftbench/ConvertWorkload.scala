package graftbench

import java.io.{File, FileInputStream}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.convert.ArchiveConverter
import graft.core.ConvertOptions
import graft.io.Sniff
import graft.walk.ArchiveWalker
import org.apache.spark.sql.functions.{col, hex, length, lit, lower, sha2}

/** One timed conversion pass and what the listener saw during it. */
final case class ConvertPass(wallS: Double, cpuS: Double, stealS: Double,
    startMs: Long, endMs: Long, tasks: TaskTotals, outputBytes: Long, outputFiles: Int)

/** What a conversion output must hold: rows, content bytes, and the
  * wrapping sum of a per-row digest of (sha256, size).
  */
final case class Expect(rows: Long, bytes: Long, digest: Long)

/** `convert_files`: `convert` with `unique = true` over generated image
  * layers. Each pass converts the whole corpus and is checked against the
  * manifest untimed; timed point lookups then read the last output.
  */
final class ConvertWorkload(b: Bench) {
  private val kind = "convert_files"
  private val Lookups = 20
  private val WarmPasses = 2
  private val spark = b.spark
  private val opts = ConvertOptions(unique = true)
  private val out = new File(b.args.work, "out")
  private val passes = mutable.ArrayBuffer.empty[ConvertPass]
  private val lookupMs = mutable.ArrayBuffer.empty[Double]

  private lazy val corpus: Corpus = {
    val dir = new File(b.args.work, "in")
    val c = Gen.files(dir, b.args.seed, layers = 16, entriesPerLayer = 3000, threads = b.cores)
    Gen.writeManifest(c, new File(b.args.work, "manifest.tsv"))
    c
  }

  private def rowDigest(sha: Array[Byte], size: Long): Long =
    java.nio.ByteBuffer.wrap(sha, 0, 8).getLong * 31 + size

  private def hexBytes(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private lazy val expect: Expect = {
    // unique = true keeps one row per distinct hash
    val m = corpus.manifest.groupBy(_.sha256).values.map(_.head).toSeq
    Expect(m.size.toLong, m.map(_.size).sum, m.map(e => rowDigest(hexBytes(e.sha256), e.size)).sum)
  }

  /** Half hashes present in the output, half absent, fixed by the seed;
    * a present hash carries the sizes the manifest gives it.
    */
  private lazy val lookupKeys: Seq[(Array[Byte], Set[Long])] = {
    val r = new SplittableRandom(b.args.seed ^ 0x10c0c0L)
    val bySha = corpus.manifest.groupBy(_.sha256)
    val distinct = bySha.keys.toIndexedSeq.sorted
    val present = Seq.fill(Lookups / 2) {
      val sha = distinct(r.nextInt(distinct.size))
      hexBytes(sha) -> bySha(sha).map(_.size).toSet
    }
    val absent = Seq.fill(Lookups / 2) { val h = new Array[Byte](32); r.nextBytes(h); h -> Set.empty[Long] }
    present.zip(absent).flatMap { case (p, a) => Seq(p, a) }
  }

  /** A point lookup as a dedup check makes it: where is this content? */
  private def lookup(h: Array[Byte]): Array[org.apache.spark.sql.Row] =
    b.tracer.span("readback.lookup") {
      ArchiveConverter.read(spark, out.getPath).where(col("hash") === lit(h))
        .select("source", "path", "size", "hash").collect()
    }

  private def pass(c: Corpus): ConvertPass = {
    Files.deleteRecursively(out)
    b.listener.reset()
    val h0 = Host.sample()
    val startMs = System.currentTimeMillis()
    b.tracer.span("convert.pass") {
      ArchiveConverter.convert(spark, c.inputs, out.getPath, opts)
    }
    val endMs = System.currentTimeMillis()
    val h1 = Host.sample()
    b.drain()
    val (steal, cpu, _) = Host.between(h0, h1)
    ConvertPass((h1.wallNs - h0.wallNs) / 1e9, cpu, steal, startMs, endMs, b.listener.reset(),
      Files.sizeOf(out), Files.dataFiles(out))
  }

  /** Untimed read-back check against the manifest; `content` also
    * re-hashes every content value in the first output file.
    */
  private def verify(content: Boolean): Unit = {
    val rows = ArchiveConverter.read(spark, out.getPath).select("hash", "size").collect()
    val got = Expect(rows.length.toLong, rows.map(_.getLong(1)).sum,
      rows.map(r => rowDigest(r.getAs[Array[Byte]](0), r.getLong(1))).sum)
    if (got != expect) throw new WrongOutput(s"$kind output $got, manifest says $expect")
    if (content) {
      val first = out.listFiles().filter(_.getName.startsWith("part-")).map(_.getPath).min
      val df = ArchiveConverter.read(spark, first)
      val bad = df.where(lower(hex(col("hash"))) =!= sha2(col("content"), 256) ||
        length(col("content")) =!= col("size")).count()
      if (bad != 0) throw new WrongOutput(s"$bad rows whose content does not match hash/size")
    }
  }

  /** Timed point lookups; a wrong answer is a failure and is not timed. */
  private def lookups(): Unit = lookupKeys.foreach { case (h, sizes) =>
    b.attempt("lookup") {
      val t0 = System.nanoTime()
      val rows = lookup(h)
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = rows.length == (if (sizes.isEmpty) 0 else 1) &&
        rows.forall(r => java.util.Arrays.equals(r.getAs[Array[Byte]]("hash"), h) && sizes(r.getAs[Long]("size")))
      if (!ok) throw new WrongOutput(s"lookup returned ${rows.length} rows for a hash with sizes $sizes")
      ms
    }.foreach(lookupMs += _)
  }

  /** Two warm-up passes (the JIT is still compiling the walker and the
    * encoder through them), then passes back to back until `--seconds`
    * have gone by (at least three). Every pass is checked against the
    * manifest; only those after the warm-up make the figures. Then the
    * timed lookups on the last output (after two untimed ones) and an
    * untimed re-hash of its content.
    */
  def measure(): Unit = {
    val g0 = System.nanoTime()
    corpus
    b.notes += f"$kind: inputs generated in ${(System.nanoTime() - g0) / 1e9}%.2f s"
    val w0 = System.nanoTime()
    (1 to WarmPasses).foreach(_ => b.attempt(s"$kind warm-up pass") { pass(corpus); verify(content = false) })
    val t0 = System.nanoTime()
    b.notes += f"$kind: warm-up passes took ${(t0 - w0) / 1e9}%.2f s"
    var n = 0
    while (n < 3 || (System.nanoTime() - t0) / 1e9 < b.args.seconds) {
      b.attempt(s"$kind pass") {
        val p = pass(corpus)
        verify(content = false)
        p
      }.foreach(passes += _)
      n += 1
    }
    val l0 = System.nanoTime()
    lookupKeys.take(2).foreach { case (h, _) => lookup(h) }
    lookups()
    b.notes += f"$kind: passes took ${(l0 - t0) / 1e9}%.2f s, lookups ${(System.nanoTime() - l0) / 1e9}%.2f s"
    b.attempt(s"$kind content check")(verify(content = true))
    report()
  }

  private def report(): Unit = {
    require(passes.nonEmpty, s"no $kind pass succeeded")
    val mb = corpus.contentBytes / 1e6
    b.e2e("pass_s") = Stats.median(passes.map(_.wallS).toSeq)
    b.e2e("pass_cpu_s") = Stats.median(passes.map(_.cpuS).toSeq)
    b.layers("readback.lookup_ms_p50") = Stats.median(lookupMs.toSeq)
    throughput(corpus, passes.toSeq)
    b.notes += f"$kind: ${passes.size} passes, ${corpus.manifest.size} entries, $mb%.1f MB content, " +
      f"${corpus.inputBytes / 1e6}%.1f MB inputs; pass_s=${passes.map(p => f"${p.wallS}%.3f").mkString("/")}; " +
      f"pass steal_s=${passes.map(p => f"${p.stealS}%.2f").mkString("/")}; " + Report.tail("lookup", lookupMs.toSeq)
  }

  /** The converter's user-facing rates over `ps`, as per-layer figures. */
  private def throughput(c: Corpus, ps: Seq[ConvertPass]): Unit = {
    val mb = c.contentBytes / 1e6
    b.layers("convert.mb_per_s") = Stats.median(ps.map(mb / _.wallS))
    b.layers("convert.entries_per_s") = Stats.median(ps.map(c.manifest.size / _.wallS))
    b.layers("convert.cpu_s_per_gb") = Stats.median(ps.map(_.cpuS / (mb / 1000)))
    b.layers("convert.output_bytes_per_input_byte") = ps.last.outputBytes.toDouble / c.inputBytes
  }

  /** Traced run: one traced pass of the workload's own corpus, then the
    * single-layer probes on the same inputs.
    */
  def traced(): Unit = {
    b.tracer.enabled = true
    val p = b.tracer.span("convert.traced_pass") { pass(corpus) }
    b.layers("trace.overhead_share") = p.wallS / b.e2e("pass_s") - 1
    b.listener.reset()
    var inBytes = 0L
    var inRows = 0L
    lookupKeys.foreach { case (h, _) =>
      lookup(h)
      b.drain()
      val t = b.listener.reset()
      inBytes += t.inputBytes; inRows += t.inputRecords
    }
    b.layers("readback.bytes_read_per_lookup") = inBytes.toDouble / lookupKeys.size
    b.layers("readback.rows_read_per_lookup") = inRows.toDouble / lookupKeys.size
    layerProbes(corpus, p)
  }

  /** Converter layer probes on a small corpus, for a run whose own
    * workload does not convert (so every layer metric is measured).
    */
  def probe(small: Corpus): Unit = {
    b.tracer.enabled = true
    val p = pass(small)
    throughput(small, Seq(p))
    val ms = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      lookup(new Array[Byte](32))
      (System.nanoTime() - t0) / 1e6
    }
    b.drain()
    val rt = b.listener.reset()
    b.layers("readback.lookup_ms_p50") = Stats.median(ms)
    b.layers("readback.bytes_read_per_lookup") = rt.inputBytes.toDouble / ms.size
    b.layers("readback.rows_read_per_lookup") = rt.inputRecords.toDouble / ms.size
    layerProbes(small, p)
  }

  private def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = b.tracer.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Single-thread io and walk probes, the Spark scan without a sink, and
    * the DSv2 `archive` source, all over `c`'s inputs; `p` is the traced
    * pass they are set beside.
    */
  private def layerProbes(c: Corpus, p: ConvertPass): Unit = {
    val mb = c.contentBytes / 1e6
    def walk(name: String, o: ConvertOptions): (Long, Double) = timed(name) {
      c.inputs.map(path => ArchiveWalker.walkPath(path, o).size.toLong).sum
    }
    walk("walk.warm-up", opts) // so the first timed variant pays no cold-start cost
    val (ioBytes, ioS) = timed("io.decompress") {
      c.inputs.map { path =>
        val (_, in) = Sniff.decompress(new FileInputStream(path))
        try {
          val buf = new Array[Byte](1 << 20)
          var n = 0L
          var k = in.read(buf)
          while (k >= 0) { n += k; k = in.read(buf) }
          n
        } finally in.close()
      }.sum
    }
    val (entries, parseAll) = walk("walk.parse", opts.copy(materializeContent = false, computeHash = false))
    val (_, copyAll) = walk("walk.copy", opts.copy(computeHash = false))
    val (_, fullAll) = walk("walk.full", opts)
    b.layers("io.decompress_s") = ioS
    b.layers("io.decompress_mb_per_s") = ioBytes / 1e6 / ioS
    b.layers("walk.parse_s") = parseAll - ioS
    b.layers("walk.parse_us_per_entry") = (parseAll - ioS) / entries * 1e6
    b.layers("walk.entries") = entries.toDouble
    b.layers("walk.copy_s") = copyAll - parseAll
    b.layers("walk.sha256_s") = fullAll - copyAll
    b.layers("walk.mb_per_s_1t") = mb / fullAll

    b.listener.reset()
    val (_, scanS) = timed("convert.scan") {
      ArchiveConverter.filteredEntries(spark, c.inputs, opts).write.format("noop").mode("overwrite").save()
    }
    b.drain()
    val scan = b.listener.reset()
    val (_, sourceS) = timed("sources.scan") {
      spark.read.format("archive").load(c.inputs: _*).write.format("noop").mode("overwrite").save()
    }
    val (_, listS) = timed("sources.listing") {
      spark.read.format("archive").load(c.inputs: _*).select("path", "size")
        .write.format("noop").mode("overwrite").save()
    }
    b.drain()
    b.listener.reset()

    val t = p.tasks
    val durs = t.taskDurations.map(_.toDouble).toSeq
    b.layers("convert.scan_s") = scanS
    b.layers("convert.sink_s") = p.wallS - scanS
    b.layers("convert.job_start_s") = (t.firstTaskStart - p.startMs) / 1e3
    b.layers("convert.commit_s") = (p.endMs - t.lastTaskEnd) / 1e3
    b.layers("convert.busy_cores") = t.taskNanos / 1e9 / p.wallS
    b.layers("convert.task_s_max_over_median") = if (durs.isEmpty) 0.0 else durs.max / Stats.median(durs)
    b.layers("convert.speedup_vs_1t") = (mb / p.wallS) / (mb / fullAll)
    b.layers("convert.spark_overhead_ratio") = scan.taskNanos / 1e9 / fullAll
    b.layers("convert.shuffle_write_bytes") = t.shuffleWriteBytes.toDouble
    b.layers("convert.shuffle_records") = t.shuffleRecords.toDouble
    b.layers("convert.gc_s") = t.gcMs / 1e3
    b.layers("convert.output_files") = p.outputFiles.toDouble
    b.layers("sources.scan_s") = sourceS
    b.layers("sources.listing_s") = listS

    // The pass wall split into layers that add up to it: job start and
    // commit from the listener, the task window shared out by each
    // layer's single-thread time (io, walk steps, the rest of the Spark
    // scan) and the sink as what the scan does not explain.
    val window = p.wallS - b.layers("convert.job_start_s") - b.layers("convert.commit_s")
    val taskS = t.taskNanos / 1e9
    val perTask = if (taskS > 0) window / taskS else 0.0
    val scanTask = math.min(scan.taskNanos / 1e9, taskS)
    val split = Seq(
      "convert.job_start" -> b.layers("convert.job_start_s"),
      "io.decompress" -> ioS * perTask,
      "walk.parse" -> (parseAll - ioS) * perTask,
      "walk.copy" -> (copyAll - parseAll) * perTask,
      "walk.sha256" -> (fullAll - copyAll) * perTask,
      "spark.scan (rest)" -> (scanTask - fullAll) * perTask,
      "convert.sink" -> (taskS - scanTask) * perTask,
      "convert.commit" -> b.layers("convert.commit_s"))
    Report.passSplit = Some((p.wallS, split))
  }
}
