package graftbench

/** The metric lists (they match BENCHMARK.json) and the per-layer table. */
object Report {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "pass_s" -> "s",
    "pass_cpu_s" -> "CPU-s")

  val Targets: Seq[String] =
    Seq("q04", "q44", "q46", "q80", "q107", "q108", "q131", "q137", "q150", "q154", "q156", "q159")

  val PerLayer: Seq[(String, String)] = Seq(
    "io.decompress_s" -> "s",
    "io.decompress_mb_per_s" -> "MB/s",
    "walk.parse_s" -> "s",
    "walk.parse_us_per_entry" -> "us",
    "walk.entries" -> "count",
    "walk.copy_s" -> "s",
    "walk.sha256_s" -> "s",
    "walk.mb_per_s_1t" -> "MB/s",
    "convert.mb_per_s" -> "MB/s",
    "convert.entries_per_s" -> "1/s",
    "convert.cpu_s_per_gb" -> "CPU-s/GB",
    "convert.output_bytes_per_input_byte" -> "ratio",
    "convert.scan_s" -> "s",
    "convert.sink_s" -> "s",
    "convert.job_start_s" -> "s",
    "convert.commit_s" -> "s",
    "convert.busy_cores" -> "cores",
    "convert.task_s_max_over_median" -> "ratio",
    "convert.speedup_vs_1t" -> "ratio",
    "convert.spark_overhead_ratio" -> "ratio",
    "convert.shuffle_write_bytes" -> "bytes",
    "convert.shuffle_records" -> "count",
    "convert.gc_s" -> "s",
    "convert.output_files" -> "count",
    "sources.scan_s" -> "s",
    "sources.listing_s" -> "s",
    "readback.bytes_read_per_lookup" -> "bytes",
    "readback.rows_read_per_lookup" -> "count",
    "readback.lookup_ms_p50" -> "ms",
    "queries.build_s" -> "s",
    "queries.plan_s" -> "s",
    "queries.exec_s" -> "s",
    "queries.query_ms_p50" -> "ms",
    "queries.jobs" -> "count",
    "queries.stages" -> "count",
    "queries.tasks" -> "count",
    "queries.busy_cores" -> "cores",
    "queries.shuffle_bytes" -> "bytes",
    "queries.spill_bytes" -> "bytes",
    "queries.task_cpu_s" -> "CPU-s",
    "queries.gc_s" -> "s",
    "queries.stream_s" -> "s",
    "queries.index_s" -> "s",
    "queries.dedup_s" -> "s",
    "queries.stream.jobs" -> "count",
    "queries.index.jobs" -> "count",
    "queries.dedup.jobs" -> "count") ++
    Targets.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "streaming.batches" -> "count",
    "streaming.jobs_per_batch" -> "ratio",
    "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s",
    "host.steal_s" -> "s",
    "host.busy_cores" -> "cores",
    "host.peak_rss_mb" -> "MB",
    "trace.overhead_share" -> "ratio")

  /** Sample count, median and the highest percentile with at least ten
    * samples beyond it, for the run notes.
    */
  def tail(what: String, ms: Seq[Double]): String =
    f"${ms.size} ${what} samples, p50 ${Stats.percentile(ms, 50)}%.1f ms" + Stats.tailPercentile(ms.size)
      .filter(_ > 50).map(p => f", p$p%.0f ${Stats.percentile(ms, p)}%.1f ms").getOrElse("")

  private def pick(have: collection.Map[String, Double], want: Seq[(String, String)]): Seq[(String, (Double, String))] =
    want.map { case (k, unit) =>
      k -> (have.getOrElse(k, throw new IllegalStateException(s"metric $k was not measured")), unit)
    }

  def endToEnd(b: Bench): Seq[(String, (Double, String))] = pick(b.e2e, EndToEnd)
  def perLayer(b: Bench): Seq[(String, (Double, String))] = pick(b.layers, PerLayer)

  /** Set by the traced convert pass: its wall and its additive split. */
  @volatile var passSplit: Option[(Double, Seq[(String, Double)])] = None
  /** Set by the traced query pass. */
  @volatile var queryRows: Seq[QueryTime] = Nil

  /** Span totals and self times by span name, the convert pass split,
    * and the query pass split, as plain text.
    */
  def layerTable(b: Bench): String = {
    val spans = b.tracer.all
    val children = spans.groupBy(_.parent)
    val byName = spans.groupBy(s => if (s.name.matches("q\\d+_.*")) "query" else s.name).toSeq.sortBy(_._1)
    val sb = new StringBuilder
    sb ++= f"${"span"}%-22s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s\n"
    byName.foreach { case (name, ss) =>
      val total = ss.map(_.dur).sum / 1e9
      val self = ss.map(s => Span.selfTime(s, children.getOrElse(s.id, Nil))).sum / 1e9
      sb ++= f"$name%-22s ${ss.size}%7d $total%10.3f $self%10.3f\n"
    }
    passSplit.foreach { case (wall, split) =>
      sb ++= f"\nconvert pass split (wall $wall%.3f s)\n"
      split.foreach { case (k, v) => sb ++= f"  $k%-20s $v%8.3f s ${100 * v / wall}%6.1f%%\n" }
      sb ++= f"  ${"sum"}%-20s ${split.map(_._2).sum}%8.3f s\n"
    }
    if (queryRows.nonEmpty) {
      val q = queryRows
      val wall = q.map(_.totalS).sum
      sb ++= f"\nquery pass split (${q.size} queries, $wall%.3f s)\n"
      Seq("build" -> q.map(_.buildS).sum, "plan" -> q.map(_.planS).sum, "exec" -> q.map(_.execS).sum)
        .foreach { case (k, v) => sb ++= f"  $k%-20s $v%8.3f s ${100 * v / wall}%6.1f%%\n" }
      q.groupBy(_.family).toSeq.sortBy(_._1).foreach { case (f, ts) =>
        sb ++= f"  family $f%-13s ${ts.map(_.totalS).sum}%8.3f s over ${ts.size} queries\n"
      }
    }
    sb.toString
  }
}
