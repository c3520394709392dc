package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Regression net over the PHYSICAL plans the scale story depends on
  * (the prose claims in SCALE.md / PLANS_r03.md, asserted): filter
  * pushdown reaching the parquet scan, the zero-exchange ANN probes,
  * the single-exchange as-of join, top-k via TakeOrderedAndProject.
  * A refactor that silently loses one of these properties fails here,
  * not in a 100 TB run.
  */
class PlanGuardSpec extends AnyFunSuite with TempDirs {

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("PlanGuardSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  private def exchanges(p: String): Int =
    "(?m)^\\s*(?:[+:][- ]*)*Exchange ".r.findAllIn(p).size

  /** Hash exchanges EXCLUDING the deliberate small-input fan-out
    * (`Layouts.fanOutByKey` plans as `REPARTITION_BY_NUM`, identity at
    * scale): the guards below budget the ALGORITHM's shuffles; the
    * fan-out is a separate, bounded allowance asserted via [[fanOuts]].
    */
  private def hashExchanges(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("REPARTITION_BY_NUM"))

  private def fanOuts(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("REPARTITION_BY_NUM"))

  test("q01: quantity filter is pushed to the parquet scan, schema pruned") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("LessThan(l_quantity"), p)
    assert(!p.contains("l_shipdate"), "projection must prune unused columns")
  }

  test("q23/q37: ANN probes are zero-exchange (pure filter + top-k)") {
    for (q <- Seq("q23_ann_lsh", "q37_ann_ivf")) {
      val p = plan(q)
      assert(exchanges(p) == 0, s"$q grew a shuffle:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q lost bounded top-k:\n$p")
    }
  }

  test("q129: PQ/ADC scan is zero-exchange whole-stage codegen + top-k") {
    val p = plan("q129_ann_pq")
    assert(exchanges(p) == 0, s"q129 grew a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q129 lost bounded top-k:\n$p")
    // encode + ADC lookups must stay inside codegen — vec_l2sq_slice
    // and the table lookups are all expression-level (the `*(n)`
    // prefix is executedPlan.toString's whole-stage-codegen marker)
    assert(p.contains("*(1) Project"), s"q129 fell out of codegen:\n$p")
  }

  test("q130: token-budget mix windows ONLY the over-budget branch") {
    val p = plan("q130_token_budget")
    // one hash exchange aggregates per-source totals, one carries the
    // over-budget branch into its window; the totals side re-enters as
    // a broadcast (never a third hash exchange); + the presentation sort
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"q130 grew a shuffle:\n$p")
    assert(p.contains("Window"), s"q130 lost the cumulative window:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"q130 must broadcast the per-source totals:\n$p")
  }

  test("q132: IVF-PQ is zero-exchange — probe prune + quantized rank in one pass") {
    val p = plan("q132_ann_ivfpq")
    assert(exchanges(p) == 0, s"q132 grew a shuffle:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"q132 lost bounded top-k:\n$p")
  }

  test("q133: data card aggregates before it windows (no per-doc global sort)") {
    val p = plan("q133_data_card")
    // the language-mode window ranks the (source x lang) COUNT table,
    // never documents: a Window must only ever follow an aggregate
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, s"q133 lost the mode window:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"q133 grew a shuffle:\n$p")
  }

  test("q131: the stored index streams through a broadcast join") {
    val p = plan("q131_incr_neardup")
    // the increment's signature set is broadcast — the index side must
    // never hash-shuffle its full row set into the candidate join
    assert(p.contains("BroadcastHashJoin"), s"q131 lost the broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"q131 grew a shuffle:\n$p")
  }

  test("q28: as-of join is one hash exchange (union -> window)") {
    val p = plan("q28_asof_join")
    // exactly one hash exchange does the as-of work; the only other
    // allowed exchange is the presentation sort's range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"as-of join must hash-shuffle once:\n$p")
    assert(exchanges(p) <= 2, p)
    assert(p.contains("Window"), p)
  }

  test("q32: filters push to the events scan through the adaptive ts projection") {
    // the layout-adaptive read (EventsTable) wraps the scan in a ts
    // normalization; a regression that blocks predicate pushdown
    // through that projection would re-read the full events table
    val p = plan("q32_range_join")
    assert(p.contains("EqualTo(event_type,click)"), s"lost pushdown:\n$p")
    assert(p.contains("EqualTo(event_type,purchase)"), s"lost pushdown:\n$p")
    assert(exchanges(p) <= 2, s"q32 grew a shuffle:\n$p")
  }

  test("q09/q14: global top-k never sorts the full input") {
    for (q <- Seq("q09_topk_limit", "q14_cosine_topk")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
    }
  }

  test("q02: aggregation is two-phase around a single exchange") {
    val p = plan("q02_tpch_q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // one agg exchange + the presentation sort's range exchange
    assert(exchanges(p) <= 2, p)
  }

  test("q03: dimension join broadcasts; no shuffle on the fact side") {
    val p = plan("q03_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(exchanges(p) == 0, s"broadcast join must not shuffle:\n$p")
  }

  test("q44: prefix filter ranks in place — no array-rebuild aggregate") {
    // the candidate stage is eagerly checkpointed inside
    // jaccardNearDupPairs (r21: it is consumed three times), so the
    // window/no-collect_list properties are asserted on the CANDIDATE
    // operator's own plan — the stage that actually ranks the grams
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pc = graft.ops.Dedup.jaccardNearDupCandidates(
      docs, "doc_id", "text", threshold = 0.7, shingleWidth = 3)
      .queryExecution.executedPlan.toString
    // the prefix stage must rank grams with a window on the exploded
    // frame; a regression to collect_list -> array_sort -> re-explode
    // re-materializes every doc's ordered gram array
    assert(!pc.contains("collect_list"), s"prefix stage regressed to array rebuild:\n$pc")
    assert(pc.contains("Window"), pc)
    // the full query keeps a bounded ALGORITHM exchange budget; the
    // small-input fan-outs (one per gram-projection site) are budgeted
    // separately — identity at scale
    val p = plan("q44_jaccard_neardup")
    assert(!p.contains("collect_list"), s"verify stage regressed to array rebuild:\n$p")
    assert(exchanges(p) - fanOuts(p) <= 5, s"q44 grew an exchange:\n$p")
    // one per gram-projection CONSUMER in the initial plan (the final
    // plan dedupes them via ReusedExchange): freq + keyed in the
    // candidate stage, id_a + id_b sides in the verify
    assert(fanOuts(p) <= 4, s"q44: fan-outs beyond the four gram sites:\n$p")
  }

  test("q61/q62: sampling and scrubbing stay narrow (sort exchange only)") {
    for (q <- Seq("q61_stratified_sample", "q62_pii_scrub")) {
      val p = plan(q)
      // the op itself is a pure filter/projection; the only exchange
      // allowed is the presentation sort's range partitioning
      assert(exchanges(p) <= 1, s"$q grew a shuffle:\n$p")
      assert(!p.contains("Exchange hashpartitioning"), s"$q hash-shuffled:\n$p")
    }
  }

  test("q93: normalization is a narrow codegen'd projection (sort exchange only)") {
    // nfc_normalize/strip_accents are codegen'd scalar expressions:
    // the only exchange allowed is the presentation sort's range
    // partitioning, and the projection must run inside a
    // WholeStageCodegen span. Codegen spans only appear in the FINAL
    // adaptive plan, so execute first (sf0.001 = 500 rows).
    val df = SparkEntry.queries("q93_normalize")(spark, sfDir)
    df.collect() // count() would plan a SEPARATE query; collect() runs this one
    // executed AQE toString renders Final Plan + Initial Plan; keep the
    // final section only or every exchange counts twice
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(exchanges(p) <= 1, s"q93 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q93 hash-shuffled:\n$p")
    // codegen'd operators render as `*(n) Op` in the final plan
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, s"q93 fell out of codegen:\n$p")
  }

  test("q95/q96/q97: chunking, url parse and html extract stay narrow") {
    for (q <- Seq("q95_cdc_chunks", "q96_url_parse", "q97_html_extract")) {
      val p = plan(q)
      // pure codegen'd projection (q96/q97) or projection + generate
      // (q95): the only exchange allowed is the presentation sort
      assert(exchanges(p) <= 1, s"$q grew a shuffle:\n$p")
      assert(!p.contains("Exchange hashpartitioning"), s"$q hash-shuffled:\n$p")
    }
  }

  test("q98: the cleaning pipeline dedups on ONE hash exchange, winners broadcast back") {
    // html extract + nfc + length gate + sample are all narrow; the
    // exact-dedup winner election is the single hash exchange, and the
    // winner semi-join must come back as a broadcast (AQE), never a
    // second full shuffle of the cleaned text
    val df = SparkEntry.queries("q98_clean_pipeline")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(hashExchanges(p) <= 1,
      s"q98 must hash-shuffle once (the dedup election):\n$p")
    // the fan-out (Layouts.fanOutBarrier) repartitions INSIDE its eager
    // checkpoint: this plan reads the checkpoint and carries no fan-out
    // exchange of its own
    assert(p.contains("Scan ExistingRDD"), s"q98 lost its fan-out barrier checkpoint:\n$p")
    assert(fanOuts(p) == 0, s"q98's fan-out must stay inside the barrier checkpoint:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"q98 winner join must broadcast:\n$p")
  }

  test("q80: shared-substring pairs ride ONE gram exchange — no df join, no checkpoint") {
    // the document-frequency window and the per-gram id-list aggregate
    // share one hash exchange on the gram hash, below the pair
    // aggregation's own (id_a, id_b) exchange
    val df = SparkEntry.queries("q80_substring_pairs")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toIndexedSeq
    val gramExchanges = lines.indices.filter(i =>
      lines(i).contains("Exchange hashpartitioning(__gh"))
    assert(gramExchanges.size == 1, s"q80 must hash-shuffle the grams exactly once:\n$p")
    val pairAgg = lines.indexWhere(l => l.contains("HashAggregate(keys=[id_a"))
    assert(pairAgg >= 0 && gramExchanges.head > pairAgg,
      s"q80's gram exchange must sit below the pair aggregation:\n$p")
    assert(!lines.exists(l => l.contains("Join") && l.contains("__gh")),
      s"q80 joins on the gram hash:\n$p")
    assert(!p.contains("Scan ExistingRDD"), s"q80 reads a checkpoint:\n$p")
  }

  test("q99: url-normalize dedup is one hash exchange over a narrow projection") {
    // synthesis + url_normalize are codegen'd scalar work; the winner
    // election is the single hash agg exchange, plus the presentation
    // sort's range exchange
    val p = plan("q99_url_normalize")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q99 must hash-shuffle once (the winner election):\n$p")
    assert(exchanges(p) <= 2, s"q99 grew a shuffle:\n$p")
  }

  test("q101: http_payload projection adds no exchange to the walk chain") {
    // the WARC walk is task-per-input fan-out (no exchange) and
    // http_payload is a codegen'd scalar — the only exchange allowed
    // is the presentation sort's range partitioning
    val p = plan("q101_http_payload")
    assert(exchanges(p) <= 1, s"q101 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q101 hash-shuffled:\n$p")
  }

  test("q105: main-content extraction is a zero-shuffle narrow projection") {
    // synthesis + block split + classification are all scalar work —
    // the only exchange allowed is the presentation sort's range
    // partitioning (q97's shape)
    val p = plan("q105_main_content")
    assert(exchanges(p) <= 1, s"q105 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q105 hash-shuffled:\n$p")
  }

  test("q106: raw keys cross the wire only as bounded partial aggregates") {
    // one hash exchange of the grouped counts (key-cardinality-
    // bounded) which the n-subtree REUSES at runtime, single-partition
    // exchanges carry only per-partition MG maps (<= k entries) /
    // one-row stats — so the executed final plan must show exchange
    // reuse and at most one live hash shuffle
    val df = SparkEntry.queries("q106_freq_items")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // a ReusedExchange line cites the original's "Exchange
    // hashpartitioning" text — count only LIVE exchanges
    assert("(?m)^(?!.*ReusedExchange).*Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q106 must hash-shuffle the grouped counts once:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"q106 n-subtree must reuse the grouped-count shuffle:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"q106 sketch must partial-aggregate map-side:\n$p")
  }

  test("q102: sort-query dedup is one hash exchange over a narrow projection") {
    // q99's shape: synthesis + url_normalize(sort) codegen'd, winner
    // election = the single hash agg exchange + presentation sort
    val p = plan("q102_url_sortquery")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q102 must hash-shuffle once (the winner election):\n$p")
    assert(exchanges(p) <= 2, s"q102 grew a shuffle:\n$p")
  }

  test("q104: charset decode is a narrow codegen'd projection") {
    val p = plan("q104_charset_decode")
    assert(exchanges(p) <= 1, s"q104 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q104 hash-shuffled:\n$p")
  }

  test("q107: link extraction stays narrow; rollup is the count-distinct pair") {
    // synthesis + extract_links + url_resolve + normalize + PSL are
    // all codegen'd scalar work feeding ONE aggregation — the exact
    // count(DISTINCT url) plans as Spark's canonical two-exchange
    // distinct agg ((src,dst,url) then (src,dst)), plus the
    // presentation sort. Anything beyond that is a regression.
    val p = plan("q107_link_graph")
    assert(hashExchanges(p) <= 2,
      s"q107 must shuffle only for the distinct-agg pair:\n$p")
    assert(fanOuts(p) <= 1, s"q107: at most the one small-input fan-out:\n$p")
    assert(exchanges(p) <= 4, s"q107 grew a shuffle:\n$p")
    assert(p.contains("extract_links"), s"q107 lost the extraction stage:\n$p")
  }

  test("q108: pagerank output is the checkpointed iteration result + sort") {
    // the fixed power iterations run eagerly inside pageRank (each
    // truncated by localCheckpoint); the query's own plan must be
    // nothing but the checkpoint scan, the rounding projection and
    // the presentation sort
    val p = plan("q108_pagerank")
    assert(exchanges(p) <= 1, s"q108 re-planned iteration work:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q108 hash-shuffled:\n$p")
  }

  test("q109: robots evaluation is a narrow codegen'd projection") {
    // six robots_allowed probes are pure scalar work over the
    // documents scan — the only exchange is the presentation sort
    val p = plan("q109_robots_gate")
    assert(exchanges(p) <= 1, s"q109 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q109 hash-shuffled:\n$p")
  }

  test("q110: audio decode is narrow mapPartitions work (sort exchange only)") {
    // synthesis + real javax.sound decode run inside the partition;
    // features are O(channels) doubles — only the presentation sort
    // may exchange
    val p = plan("q110_audio_decode")
    assert(exchanges(p) <= 2, s"q110 grew a shuffle:\n$p")
    assert(hashExchanges(p) == 0 && fanOuts(p) <= 1,
      s"q110 hash-shuffled beyond the small-input fan-out:\n$p")
  }

  test("q111: sitemap parse + posexplode is narrow (sort exchange only)") {
    // synthesis, the scanner and the generator all run inside the
    // partition — the only exchange is the presentation sort
    val p = plan("q111_sitemap")
    assert(exchanges(p) <= 1, s"q111 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q111 hash-shuffled:\n$p")
  }

  test("q112: frontier is two bounded aggs — no Window over the URL set") {
    // (host,loc) dedup + the typed per-host top-k election; the scan →
    // gate stage is narrow. A Window operator would mean the per-host
    // sort-everything plan the bounded aggregator exists to avoid.
    val p = plan("q112_frontier")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"q112 grew a third hash exchange:\n$p")
    assert(!p.contains("Window"), s"q112 window-sorted the URL set:\n$p")
  }

  test("q113: CDX key build is one hash exchange over a narrow projection") {
    val p = plan("q113_cdx_keys")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q113 grew a second hash exchange:\n$p")
  }

  test("q114/q115/q116/q118: robots-sitemap, html-meta, anchors, scripts narrow") {
    Seq("q114_robots_sitemaps", "q115_html_meta", "q116_anchor_text",
      "q118_script_mix", "q119_crawl_delay").foreach { q =>
      val p = plan(q)
      assert(exchanges(p) <= 1, s"$q grew a shuffle:\n$p")
      assert(!p.contains("Exchange hashpartitioning"), s"$q hash-shuffled:\n$p")
    }
  }

  test("q117: nofollow rank output is the checkpointed result + sort") {
    // like q108: the iterations ran eagerly at localCheckpoint time;
    // the output plan reads the checkpoint, no live pagerank shuffles
    val p = plan("q117_nofollow_rank")
    assert(!p.contains("Exchange hashpartitioning"), s"q117 hash-shuffled:\n$p")
  }

  test("q120: WARC->CDX chain adds no exchange to the walk (sort only)") {
    val p = plan("q120_warc_cdx")
    assert(!p.contains("Exchange hashpartitioning"), s"q120 hash-shuffled:\n$p")
  }

  test("q122: WARC->WET chain adds no exchange to the walk (sort only)") {
    // http_payload -> charset_decode -> mainContent -> nfc_normalize
    // are all per-row scalar work over the walk; only the
    // presentation sort may exchange
    val p = plan("q122_warc_wet")
    assert(!p.contains("Exchange hashpartitioning"), s"q122 hash-shuffled:\n$p")
    assert(exchanges(p) <= 1, s"q122 grew a shuffle:\n$p")
  }

  test("q139: the --wet converter stage adds no exchange to the walk (sort only)") {
    // the q122 rule for the CLI mode: decode + charset + main-content
    // + NFC are one narrow codegen'd projection over the walk; only
    // the presentation sort may exchange
    val p = plan("q139_wet_convert")
    assert(!p.contains("Exchange hashpartitioning"), s"q139 hash-shuffled:\n$p")
    assert(exchanges(p) <= 1, s"q139 grew a shuffle:\n$p")
  }

  test("q123: image decode is narrow mapPartitions work (sort exchange only)") {
    // synthesis + real javax.imageio decode run inside the partition;
    // features are O(channels) doubles — only the presentation sort
    // may exchange (the q110 shape)
    val p = plan("q123_image_decode")
    assert(exchanges(p) <= 2, s"q123 grew a shuffle:\n$p")
    assert(hashExchanges(p) == 0 && fanOuts(p) <= 1,
      s"q123 hash-shuffled beyond the small-input fan-out:\n$p")
  }

  test("q125: CDX read-back prunes to ONE shard with the prefix pushed to parquet") {
    // the BucketingSpec assertions under the correctness face: the
    // domain scan must touch exactly one shard= directory at plan
    // time, and the finer key prefix must reach the parquet reader
    val df = SparkEntry.queries("q125_cdx_scan")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    assert(p.contains("PushedFilters") && p.contains("StringStartsWith"),
      s"q125 prefix filter not pushed:\n$p")
    // AQE hides the inner plan from collectFirst — unwrap it
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scan = inner.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("q125 has no FileSourceScan"))
    assert(scan.selectedPartitions.partitionCount == 1,
      s"q125 must scan exactly 1 shard, got ${scan.selectedPartitions.partitionCount}")
  }

  test("q135: the ANN read-back prunes to the 4 probed cell directories") {
    // the vector sibling of the q125 guard: the probe must prune the
    // at-rest codes layout to nprobe=4 of nlist=16 cell= directories
    // at plan time — a query reads codes only, from probed cells only
    val df = SparkEntry.queries("q135_ann_atrest")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scan = inner.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("q135 has no FileSourceScan"))
    assert(scan.selectedPartitions.partitionCount == 4,
      s"q135 must scan exactly the 4 probed cells, got ${scan.selectedPartitions.partitionCount}")
    // codes-only read: the fp32 vector column must not exist in the scan
    assert(!scan.schema.fieldNames.contains("embedding"),
      s"q135 read-back must touch codes only: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("q138: the appended layout still prunes to the 4 probed cells, codes only") {
    // the q135 guard must HOLD ON THE MERGED LAYOUT: after the
    // increment append the probe still plans exactly the 4 probed
    // cell directories and reads no fp32 vector column
    val df = SparkEntry.queries("q138_ann_append")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scan = inner.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("q138 has no FileSourceScan"))
    assert(scan.selectedPartitions.partitionCount == 4,
      s"q138 must scan exactly the 4 probed cells, got ${scan.selectedPartitions.partitionCount}")
    assert(!scan.schema.fieldNames.contains("embedding"),
      s"q138 read-back must touch codes only: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("q148: the residual layout keeps the q135 scan shape — 4 probed cells, codes only") {
    // the residual encoder must not cost the at-rest plan anything:
    // same partition pruning (4 of 16 cell= directories at plan
    // time), same codes-only read — the per-cell ADC CASE evaluates
    // on the PARTITION column, never on data columns
    val df = SparkEntry.queries("q148_ann_residual_atrest")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scan = inner.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("q148 has no FileSourceScan"))
    assert(scan.selectedPartitions.partitionCount == 4,
      s"q148 must scan exactly the 4 probed cells, got ${scan.selectedPartitions.partitionCount}")
    assert(!scan.schema.fieldNames.contains("embedding"),
      s"q148 read-back must touch codes only: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("AnnIndex.probe over committed increments: every scan reads probed cells and codes only") {
    // the q157/q161 claim: the probe predicate sits above the base ∪
    // increments union and reaches every side, so each increment
    // directory prunes to the probed cells like the base layout, and
    // no side reads the kept fp32 vector column
    import graft.ops.{AnnIndex, Similarity}
    import spark.implicits._
    val dim = 8
    def vecs(r: Range) = r.map(i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 0.31 + j))))
      .toDF("vec_id", "embedding")
    val corpus = vecs(0 until 64)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    val out = tempDir("graft_plan_incr").toString +
      "/layout"
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding", ivfCb, pqCb,
      out, keep = Seq("embedding"))
    Seq(0L -> (100 until 132), 1L -> (200 until 232)).foreach { case (b, r) =>
      AnnIndex.open(spark, out, "vec_id").append(vecs(r), "embedding", b,
        keep = Seq("embedding"))
    }
    val index = AnnIndex.open(spark, out, "vec_id")
    val query = Array.fill(dim)(0.7)
    val probed = Similarity.ivfProbed(index.ivf, query, 2).toSet
    val df = index.probe(Seq(0L -> query), k = 5, nprobe = 2)
    assert(df.count() == 5)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(exchanges(plan.toString) == 0, s"the probe grew a shuffle:\n$plan")
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 2, s"expected base + increments scans:\n$plan")
    scans.foreach { s =>
      val parts = s.relation.partitionSchema
      val i = parts.fieldIndex("cell")
      val cells = s.selectedPartitions.filePartitionIterator
        .map(p => p.values.get(i, parts(i).dataType).toString.toLong).toSet
      assert(cells.nonEmpty && cells.subsetOf(probed),
        s"a scan read cells $cells outside the probed $probed")
      // file columns read: id and code; cell (and an increment's
      // ingest_batch) come from the directory names, not the files
      assert(s.requiredSchema.fieldNames.toSet.subsetOf(Set("vec_id", "code")),
        s"a scan read ${s.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("q146: the filtered probe pushes the predicate to parquet inside the pruned cells") {
    // filtered ANN = q135's pruning + the metadata predicate at scan
    // level: 4 of 16 cell directories at plan time, the grp filter in
    // PushedFilters, and still no fp32 vector column
    val df = SparkEntry.queries("q146_ann_filtered")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    assert(p.contains("PushedFilters") && p.contains("grp"),
      s"q146 metadata predicate not pushed:\n$p")
    val inner = plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val scan = inner.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("q146 has no FileSourceScan"))
    assert(scan.selectedPartitions.partitionCount == 4,
      s"q146 must scan exactly the 4 probed cells, got ${scan.selectedPartitions.partitionCount}")
    assert(!scan.schema.fieldNames.contains("embedding"),
      s"q146 read-back must touch codes only: ${scan.schema.fieldNames.mkString(",")}")
  }

  test("q136: snapshot diff joins 40-byte (id, hash) rows, never payloads") {
    val p = plan("q136_snapshot_diff")
    // each side must reduce to (id, md5) BEFORE the full-outer join:
    // the join operator's output carries no text column
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      s"q136 lost the full-outer reconciliation:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      s"q136 grew a shuffle:\n$p")
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(!joinLine.contains("text"), s"q136 join must not carry payloads:\n$joinLine")
  }

  test("q140: the refresh recomputes the delta only; global stages ride manifest rows") {
    // the diff is pre-materialized (localCheckpoint) at build time, so
    // the refresh plan is: narrow derive over the delta + semi-joins +
    // union + the manifest-row winner election + presentation sort.
    // The election and sort are the only heavy exchanges; text columns
    // must never cross a join (elections key on the stored md5)
    val p = plan("q140_incr_refresh")
    assert(hashExchanges(p) <= 3, s"q140 grew a shuffle:\n$p")
    // derive fans out BELOW its manifest checkpoint, so the fan-out
    // exchange runs at build time and this plan reads the checkpoint
    assert(p.contains("Scan ExistingRDD"), s"q140 lost its manifest checkpoint:\n$p")
    assert(fanOuts(p) == 0, s"q140's fan-out must stay inside the manifest checkpoint:\n$p")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")).toSeq
    joinLines.foreach(l =>
      assert(!l.contains("text") && !l.contains("clean#"),
        s"q140 join carries payloads:\n$l"))
  }

  test("q137: the selection pipeline stays hash-bounded end to end") {
    val p = plan("q137_corpus_select")
    // gate (narrow) -> winners (hash agg + semi-join) -> split filter
    // (narrow) -> budget (totals agg + broadcast + over-branch window)
    // -> presentation sort. The union's two branches duplicate the
    // upstream winner-election subtree in the INITIAL plan (7 planned
    // hash exchanges); at runtime AQE resolves the duplicates to
    // ReusedExchange (the q106 rule), so only 5 live.
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 7,
      s"q137 grew a shuffle:\n$p")
    assert(p.contains("Window"), s"q137 lost the budget window:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      s"q137 must broadcast the per-source totals:\n$p")
    // prove the reuse claim on the EXECUTED plan, not just assert it
    val df = SparkEntry.queries("q137_corpus_select")(spark, sfDir)
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"q137's duplicated upstream must resolve to ReusedExchange:\n$executed")
  }

  test("q126: BPE counting is a narrow codegen'd projection") {
    val p = plan("q126_bpe_tokens")
    assert(exchanges(p) <= 1, s"q126 grew a shuffle:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"q126 hash-shuffled:\n$p")
  }

  test("q127: PII redaction is a narrow codegen'd projection") {
    val p = plan("q127_pii_redact")
    assert(exchanges(p) <= 1, s"q127 grew a shuffle:\n$p") // presentation sort only
    assert(!p.contains("Exchange hashpartitioning"), s"q127 hash-shuffled:\n$p")
  }

  test("q121: fetch schedule is ONE host exchange (the honest window)") {
    // a schedule ranks EVERY URL of a host — unlike q112's top-k this
    // window is the right shape; guard it at one hash exchange
    val p = plan("q121_fetch_schedule")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q121 grew a second hash exchange:\n$p")
  }

  test("q100: part-wise CDC is one entry-keyed exchange + sorted groups") {
    val p = plan("q100_cdc_parts")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"q100 must shuffle once (parts of one entry must meet):\n$p")
    // flatMapSortedGroups renders as MapGroups over a sort WITHIN the
    // exchange's partitions — no extra exchange for the ordering
    assert(p.contains("MapGroups"), s"q100 lost its sorted-group operator:\n$p")
  }

  test("q16: converter plan has no exchange at all (narrow walk -> write)") {
    // the converter itself (no --unique) is shuffle-free by design;
    // q16's presentation sort adds exactly one range exchange
    val p = plan("q16_converter")
    assert(exchanges(p) <= 1, s"walk/filter/write must stay narrow:\n$p")
  }

  test("converter --unique: one hash exchange, no aggregate, one sort under the run-start filter") {
    import graft.convert.ArchiveConverter
    import graft.core.ConvertOptions
    val dir = tempDir("graft_plan_unique").toFile
    val inputs = (1 to 3).map { i =>
      val f = new java.io.File(dir, s"in$i.tar")
      java.nio.file.Files.write(f.toPath, Fixtures.tarArchive(Seq(
        s"a$i.txt" -> "shared".getBytes("UTF-8"), s"b$i.txt" -> s"own $i".getBytes("UTF-8"))))
      f.getAbsolutePath
    }
    val df = ArchiveConverter.filteredEntries(spark, inputs, ConvertOptions(unique = true))
    val p = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(hash".r.findAllIn(p).size == 1,
      s"--unique must shuffle once, on hash:\n$p")
    for (op <- Seq("SortAggregate", "HashAggregate", "ObjectHashAggregate", "Window"))
      assert(!p.contains(op), s"--unique planned $op:\n$p")
    val lines = p.linesIterator.toIndexedSeq
    val runStart = lines.indexWhere(_.contains("Filter run_start(hash"))
    assert(runStart >= 0 && lines(runStart + 1).contains("Sort [hash"),
      s"the run-start filter must sit directly on the hash sort:\n$p")
    assert(lines.count(_.contains("Sort [")) == 1, s"--unique must sort once:\n$p")
    val exchange = lines.indexWhere(_.contains("Exchange hashpartitioning(hash"))
    val cache = lines.indexWhere(_.contains("Filter digest_cache_miss(hash"))
    assert(exchange > runStart && cache > exchange,
      s"the digest cache must filter below the exchange:\n$p")
    assert(df.select("hash").distinct().count() == df.count() && df.count() == 4)
    // neither filter runs inside whole-stage codegen, whose Filter would
    // rebuild every kept row, content included, at the stage's end
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try {
      // a codegen'd operator prints as "*(<stage id>) <name>"
      val fixed = ArchiveConverter.filteredEntries(spark, inputs, ConvertOptions(unique = true))
        .queryExecution.executedPlan.toString
      val filters = fixed.linesIterator.filter(l => l.contains("Filter run_start(") ||
        l.contains("Filter digest_cache_miss(")).toSeq
      assert(filters.size == 2 && filters.forall(!_.contains("*(")) && fixed.contains("*("), fixed)
    } finally saved match {
      case Some(v) => spark.conf.set(aqe, v)
      case None => spark.conf.unset(aqe)
    }
  }

  test("streaming --unique keeps its stateful dedup (StreamingDeduplicate)") {
    import graft.core.ConvertOptions
    import graft.streaming.StreamingConverter
    val dir = tempDir("graft_plan_stream_unique").toString
    val df = StreamingConverter.entryStream(spark, dir, ConvertOptions(unique = true))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert(p.contains("StreamingDeduplicate"), s"stream dedup lost its state:\n$p")
    assert(!p.contains("digest_cache_miss") && !p.contains("run_start"), p)
  }

  test("q151: drift report is one narrow pass into a single cohort aggregate") {
    // both kinds' error projections are inlined-codebook scalar work;
    // the only hash exchange is the cohort aggregate (map-side
    // partials), plus the presentation sort's range exchange — no
    // join, no window, nothing driver-side
    val p = plan("q151_quant_drift")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"q151 must aggregate on one exchange:\n$p")
    assert(!p.contains("Join"), s"q151 grew a join:\n$p")
    assert(!p.contains("Window"), s"q151 grew a window:\n$p")
  }

  test("q152: the trained classifier scores at scan speed (sort exchange only)") {
    // the fused hashed_linear_z logit is one codegen'd projection —
    // no explode, no weight-table join, no aggregate; the single
    // exchange is the presentation sort
    // executed plan (the q98 guard's rule): AQE's pre-execution
    // toString hides the whole-stage-codegen markers
    val df = SparkEntry.queries("q152_quality_classifier")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(exchanges(p) == 1, s"q152 must stay narrow:\n$p")
    assert(!p.contains("Join"), s"q152 grew a join:\n$p")
    assert(!p.contains("Generate"), s"q152 must not explode grams:\n$p")
    assert(p.contains("*("), s"q152 fell out of whole-stage codegen:\n$p")
  }

  test("q153: sharded FFD is one hash exchange, never a single-partition collapse") {
    val p = plan("q153_ffd_packing")
    assert(!p.contains("Exchange SinglePartition"),
      s"q153 collapsed to one partition:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"q153 must shuffle once (the shard key):\n$p")
  }

  test("q155: BPE->FFD composition shuffles twice (shard key, rollup), never collapses") {
    // tokenizer scan is codegen'd scalar work; the pack's shard
    // exchange and the per-bin rollup's aggregate exchange are the
    // only hash shuffles (plus the presentation sort's range exchange)
    val p = plan("q155_bpe_ffd_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"q155 collapsed to one partition:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"q155 must shuffle exactly twice (shard, rollup):\n$p")
    assert(!p.contains("Join"), s"q155 grew a join:\n$p")
  }

  test("probe stages stay whole-stage codegen'd at registry parameters (the r17 64KB cliff)") {
    // the executed residual probe plan must carry codegen spans — the
    // r17 sweep saw this exact query's stage fall back to interpreted
    // when the per-cell tables were unrolled literals
    for (name <- Seq("q147_ann_residual", "q148_ann_residual_atrest")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("*("), s"$name fell out of whole-stage codegen:\n$p")
    }
  }
}
