package graft.ops

import graft.functions.GraftFunctions
import graft.ops.Similarity.{IvfCodebook, PqCodebooks}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema

/** One IVF-PQ at-rest index — the long-lived handle every at-rest
  * probe and every lifecycle step goes through ("Continuously Adaptive
  * Similarity Search", SIGMOD 2020: the index is one object, not a
  * family of entry points).
  *
  * [[AnnIndex.open]] does the lookup once: it follows the generation
  * pointer ([[Similarity.resolveLayout]]) and reads the `_codebooks`
  * sidecar once ([[Layouts.collectSidecarCached]]), which gives the
  * quantizer `kind` — `"pq"` (raw-vector codes,
  * [[Similarity.writeIvfPqPartitioned]]) or `"rpq"` (residual codes,
  * [[Similarity.writeIvfPqResidualPartitioned]]) — and the codebooks.
  * The caller never names the kind or the codebooks, so residual codes
  * can never be ranked through raw tables, appended through the wrong
  * encoder, or encoded with codebooks the layout was not written with.
  *
  * Reads: [[probe]] is the one ranking path for both kinds and
  * [[refine]] the exact re-rank of a raw-PQ layout, both over the base
  * layout plus every committed increment ([[append]]).
  *
  * Lifecycle: the index is the IVF-PQ codec over a
  * [[Layouts.GenerationStore]], which owns the policy — when a write
  * is safe, what a fold records, where the pointer swap sits, when a
  * handle is stale. [[append]] is the store's fenced
  * append (batch callers and the ingest stream alike), [[maintain]]
  * and [[maintainFromDriftSeries]] retrain in its rebuild, and
  * [[compact]] is its fold.
  *
  * The read-only fields are the generation directory the pointer
  * resolved to (`layout`), the kind tag, the coarse codebook (`ivf`)
  * and the PQ tables (`pq`: raw tables for `"pq"`, residual tables for
  * `"rpq"`).
  */
final class AnnIndex private (spark: SparkSession,
    private[graft] val store: Layouts.GenerationStore,
    val idCol: String, val kind: String, val ivf: IvfCodebook,
    val pq: PqCodebooks) {

  import AnnIndex.{Cell, Code}

  val layout: String = store.layout

  val residual: Boolean = kind == "rpq"

  /** Top-k by ADC for each query: `(query_id, <idCol>, adc)`, the k
    * nearest per query (ties by id), ordered (query_id, adc, id).
    *
    * The probe predicate is applied above the base ∪ increments union
    * and Catalyst pushes it into every side, so each increment
    * directory is partition-pruned to the probed cells like the base
    * (plan-guarded). With no `_increments` directory the scan is the
    * base layout alone. `excludeBatchId` mirrors the ingest loop's
    * replay rule (a batch's own in-flight directory is never read).
    * `filter` restricts ranking to a predicate over kept metadata
    * columns, evaluated on the scan (pushed to parquet for pushable
    * predicates), so a filtered query never post-ranks and re-queries.
    *
    * One query plans a narrow codes-only scan of the probed cells
    * into TakeOrderedAndProject — zero exchanges. Several queries
    * share ONE scan of the union of their probed cells: each row fans
    * out (an inline `explode(array(struct...))` — no join, no second
    * scan) only to the queries whose probe covers its cell, and the
    * per-query top-k is one hash exchange on `query_id` plus a
    * bounded window. Each query adds one ADC table (a codegen
    * reference object) and one fan-out slot, so a batch is capped at
    * 1024 queries; chunk a larger set and union the results.
    */
  def probe(queries: Seq[(Long, Array[Double])], k: Int, nprobe: Int = 4,
      filter: Option[Column] = None,
      excludeBatchId: Option[Long] = None): DataFrame = {
    require(queries.nonEmpty, "the probe needs at least one query")
    require(queries.map(_._1).distinct.length == queries.length,
      "duplicate query ids — each query needs its own id in the output")
    require(queries.length <= 1024,
      s"${queries.length} queries in one probe — the fan-out inlines one " +
        "ADC table and one struct slot per query; chunk the query set " +
        "(union the per-chunk results) past 1024")
    require(nprobe >= 1, "nprobe must be >= 1 (the probe needs at least one cell)")
    // (query id, probed cells, the query's ADC column over the codes)
    val perQuery: Seq[(Long, Seq[Long], Column)] = queries.map { case (qid, q) =>
      if (residual) {
        val (probed, cellIds, luts) = Similarity.residualCellLuts(ivf, pq, q, nprobe)
        (qid, probed, GraftFunctions.pq_adc_by_cell(col(Cell), col(Code), cellIds, luts))
      } else
        (qid, Similarity.ivfProbed(ivf, q, nprobe),
          GraftFunctions.pq_adc(col(Code), Similarity.pqAdcTable(pq, q)))
    }
    val base = FooterSchema.read(spark, layout)
    // a filter may name any kept metadata column, so it carries them
    // all through the union; unfiltered probes read codes only
    val cols = if (filter.isEmpty) Seq(idCol, Cell, Code) else base.columns.toSeq
    val cells = Layouts.withIncrements(spark, base, layout, cols, excludeBatchId)
      .where(col(Cell).isin(perQuery.flatMap(_._2).distinct: _*))
    val scan = filter.fold(cells)(cells.where)
    perQuery match {
      case Seq((qid, _, adc)) =>
        scan.select(lit(qid).as("query_id"), col(idCol), round(adc, 6).as("adc"))
          .orderBy(col("adc"), col(idCol))
          .limit(k)
      case _ =>
        // one struct per query: its rounded ADC where the row's cell is
        // probed by THIS query, null elsewhere (dropped before ranking)
        val fanout = perQuery.map { case (qid, probed, adc) =>
          struct(lit(qid).as("query_id"),
            when(col(Cell).isin(probed: _*), round(adc, 6))
              .otherwise(lit(null).cast("double")).as("adc"))
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("adc"), col(idCol))
        scan.select(col(idCol), explode(array(fanout: _*)).as("__q"))
          .select(col("__q.query_id").as("query_id"), col(idCol),
            col("__q.adc").as("adc"))
          .where(col("adc").isNotNull)
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") <= k)
          .select(col("query_id"), col(idCol), col("adc"))
          // the window already sorted each query's partition, so this
          // final sort only merges Q bounded partitions (Q·k rows)
          .orderBy(col("query_id"), col("adc"), col(idCol))
    }
  }

  /** SHORTLIST + EXACT RE-RANK (FAISS's IndexRefineFlat): rank the
    * probed cells' codes by ADC, keep a `shortlist`-sized candidate
    * set, then re-rank exactly those rows by TRUE cosine on the
    * full-precision vectors the layout carries (written and appended
    * with `keep = Seq(vecCol)`) and return the top `k` as (idCol, cos),
    * ordered cos desc, ties by id. Never worse than the plain ADC
    * top-k: every exact neighbour the ADC top-k found is still in the
    * shortlist and wins its exact re-rank (OpsSpec pins the
    * dominance).
    *
    * Two narrow scans of the probed cells of base ∪ committed
    * increments: the shortlist is [[probe]]'s ADC top-`shortlist`
    * (TakeOrderedAndProject), a BOUNDED driver collect of its ids,
    * then (id, vector) for exactly those rows via an `isin` pushed
    * into the parquet scan. No join, no shuffle. A residual layout is
    * refused, and so is an increment appended without `vecCol` in
    * `keep` (its rows have no vector to re-rank).
    */
  def refine(query: Array[Double], k: Int, vecCol: String,
      shortlist: Int = 100, nprobe: Int = 4): DataFrame = {
    require(shortlist >= k,
      s"shortlist=$shortlist must be >= k=$k (the re-rank keeps k of " +
        "the shortlist)")
    require(shortlist <= 100000,
      s"shortlist=$shortlist: the shortlist ids are a driver collect " +
        "and an isin predicate — keep it bounded (the refine step's " +
        "point is exact distances on FEW rows)")
    if (residual)
      throw new IllegalStateException(
        s"refine re-ranks raw-PQ ('pq') shortlists; the layout at $layout " +
          "holds RESIDUAL ('rpq') codes — rank it with probe")
    // built first: an increment without `vecCol` refuses before the probe runs
    val rows = Layouts.withIncrements(spark, FooterSchema.read(spark, layout), layout,
      Seq(idCol, Cell, vecCol), None)
    val ids = probe(Seq(0L -> query), shortlist, nprobe).select(idCol)
      .collect().map(_.get(0))
    rows.where(col(Cell).isin(Similarity.ivfProbed(ivf, query, nprobe): _*) &&
      col(idCol).isin(ids: _*))
      .select(col(idCol), round(Similarity.cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** APPEND a batch — the daily-ingest shape for vectors (the q131
    * near-dup-index play), and the one write every ingest takes, batch
    * or streamed ([[graft.streaming.StreamingSimilarity]]): encode ONLY
    * the batch with this generation's codebooks and kind and write its
    * (id, cell, code) rows — plus the `keep` metadata columns, as in the
    * layout writers — into the increment directory the batch OWNS
    * (`_increments/ingest_batch=<batchId>`, cell-partitioned inside it,
    * overwritten wholesale). The corpus side is never read, re-encoded
    * or shuffled. [[probe]] and [[refine]] answer over base ∪ committed
    * increments with the same pruning and no retraining; [[compact]]
    * folds them into the next generation.
    *
    * Batch ids share the id space of the index's ingest stream and
    * increase from batch to batch; an id is reused only to retry that
    * batch. The retry is idempotent: a batch whose fence failed (a fold
    * or rebuild met it) reruns under the same id on a reopened index and
    * rewrites its own directory in the live generation, or writes
    * nothing when the fold already folded it ([[compact]]), so no id is
    * stored twice (a duplicated id surfaces twice in a top-k).
    *
    * Quantization error drifts as the ingested distribution leaves the
    * trained one; [[maintain]] is this append gated by that drift
    * ([[Similarity.ivfPqDistortion]]), rebuilding when it is too large.
    */
  def append(batch: DataFrame, vecCol: String, batchId: Long,
      keep: Seq[String] = Nil): Unit =
    store.append("append", batchId)(encode(batch, vecCol, keep, _))

  /** Encode with this generation's codebooks and kind, overwriting the
    * increment directory `dir` — the write of every append face
    * ([[append]], [[maintain]], and a stream batch that fences it with
    * its drift report as one store append).
    */
  private[graft] def encode(batch: DataFrame, vecCol: String,
      keep: Seq[String], dir: String): Unit =
    Similarity.writeCoded(
      Similarity.coded(batch, idCol, vecCol, ivf, pq, residual, keep), "overwrite", dir)

  /** DRIFT-GATED incremental maintenance — the loop FAISS's IndexIVFPQ
    * leaves to the caller (`add` vs re-`train`): [[append]] the batch
    * while its quantization error under this generation's codebooks
    * (`storedErr`) stays within `driftThreshold` × what codebooks
    * fitted to the batch itself achieve (`freshErr`); above it — the
    * ingested distribution has left the trained one — retrain on
    * corpus ∪ batch into `gen<k+1>` and swap the pointer to it. The
    * append branch writes the batch as increment `batchId`, under
    * [[append]]'s batch-id contract.
    *
    * Both error terms come from the batch alone (one narrow codegen'd
    * pass each), so no baseline statistic is stored or trusted.
    * `corpus` (the CURRENT corpus vectors, pre-batch) is read ONLY on
    * the rebuild path: a year of in-distribution batches costs a year
    * of narrow append passes. nlist/m/ks come from this generation, so
    * a rebuild keeps the geometry and the kind ('pq' or 'rpq'); the
    * codebooks are the deterministic smallest-id ones, or the
    * distributed k-means trainers' with `trained = true`.
    *
    * A batch of `ks` rows or fewer always APPENDS: its own stand-in
    * codebooks memorize it exactly (freshErr = 0), so the comparison
    * would trigger a full corpus retrain on a trickle batch that
    * carries no evidence about the distribution.
    *
    * The rebuild is the store's ([[Layouts.GenerationStore.rebuild]]).
    */
  def maintain(corpus: DataFrame, batch: DataFrame, vecCol: String,
      batchId: Long, driftThreshold: Double = 2.0,
      trained: Boolean = false): AnnIndex.MaintainReport = {
    require(driftThreshold >= 1.0,
      s"driftThreshold=$driftThreshold: below 1.0 every batch rebuilds " +
        "(stored codebooks cannot beat batch-fitted ones on the batch's " +
        "own distribution)")
    store.requireRebuildable("maintain")
    val (nlist, m, ks) = (ivf.length, pq.length, pq(0).length)
    val storedErr = Similarity.ivfPqDistortion(batch, vecCol, ivf, pq, residual)
    // bounded probe: limit ks+1, never a full count
    val tiny = batch.select(col(idCol)).limit(ks + 1).count() <= ks
    val freshIvf = Similarity.ivfCodebook(batch, idCol, vecCol, nlist)
    val freshPq =
      if (residual) Similarity.residualPqCodebooks(batch, idCol, vecCol, freshIvf, m, ks)
      else Similarity.pqCodebooks(batch, idCol, vecCol, m, ks)
    val freshErr = Similarity.ivfPqDistortion(batch, vecCol, freshIvf, freshPq, residual)
    if (tiny || storedErr <= driftThreshold * freshErr) {
      store.append("maintain", batchId)(encode(batch, vecCol, Nil, _))
      AnnIndex.MaintainReport("append", storedErr, freshErr, layout)
    } else
      // the marker is taken AFTER the decision (the append branch must
      // not refuse against our own marker), so an append that slipped
      // in during the decision scans is the caller's corpus-of-record
      // to re-ship, as with any batch ingested after the corpus snapshot
      store.rebuild("maintain") { target =>
        val all = corpus.select(col(idCol), col(vecCol))
          .unionByName(batch.select(col(idCol), col(vecCol)))
        Similarity.retrainGeneration(residual, nlist, m, ks, all, idCol,
          vecCol, target, trained)
        AnnIndex.MaintainReport("rebuild", storedErr, freshErr, target)
      }
  }

  /** The MONITORING JOB that closes the streaming maintenance loop: the
    * ingest stream ([[graft.streaming.StreamingSimilarity]]) writes one
    * drift report per micro-batch to `driftOut`, and this job
    * thresholds that series and triggers the rebuild — stream + monitor
    * together do what [[maintain]] does for a hand-driven batch.
    *
    * Decision, from the series alone: `baseline` = median of the FIRST
    * `window` reports (right after the codebooks were trained,
    * in-distribution by construction), `trailing` = median of the LAST
    * `window`. Medians, so one noisy micro-batch never triggers a
    * corpus-wide retrain. REBUILD when `trailing > driftThreshold *
    * baseline` and the series holds at least `2 * window` reports
    * (shorter series would compare a series against itself); otherwise
    * KEEP. The keep path reads one KB-sized row per micro-batch ever
    * ingested and touches nothing else.
    *
    * The rebuild retrains on `corpus` (the full vector corpus — the
    * caller's system of record; the layout stores only codes) into
    * `gen<k+1>`, kind and geometry preserved, in the store's rebuild
    * window. Inside it, after the generation, it writes the FENCE
    * (`driftOut/_rebuilt`: the max batch id consumed and the new
    * generation's name); the store then swaps `_current` and lifts the
    * marker, and (with `prune`) the consumed reports are dropped
    * ([[Similarity.pruneDriftSeries]]).
    * Later runs threshold only batches after the fence; until a fresh
    * window accumulates they return `keep` with `batches = 0` and NaN
    * medians. A rebuild REFUSES when `gen<k+1>` already exists (a
    * crashed rebuild's unfenced orphan, or a live generation): the
    * operator deletes it and re-runs, or fences by hand.
    *
    * CRASH RECOVERY, forward-only: the fence is the rebuild's commit
    * record. A fence naming a generation AHEAD of this one means a run
    * died in the fence→swap window; the store completes the swap
    * ([[Layouts.GenerationStore.completeSwap]]) and the call returns
    * `action = "swap"` — never a second fold. A fence at or behind the
    * pointer is history (compactions and [[maintain]] rebuilds advance
    * the pointer without touching it) and never swaps it backward.
    */
  def maintainFromDriftSeries(driftOut: String, corpus: DataFrame,
      vecCol: String, window: Int = 3, driftThreshold: Double = 2.0,
      trained: Boolean = false,
      prune: Boolean = false): AnnIndex.DriftSeriesReport = {
    require(window >= 1, s"window=$window: the medians need at least one report")
    require(driftThreshold >= 1.0,
      s"driftThreshold=$driftThreshold: below 1.0 an in-distribution " +
        "series (trailing ~= baseline) would rebuild on noise")
    val face = "maintainFromDriftSeries"
    store.requireRebuildable(face)
    val fence = Similarity.readFence(spark, driftOut)
    def keep(baseline: Double, trailing: Double, batches: Long) =
      AnnIndex.DriftSeriesReport("keep", baseline, trailing, batches, layout)
    fence.flatMap(_._2).flatMap(store.completeSwap(face, _)) match {
      case Some(swapped) =>
        return AnnIndex.DriftSeriesReport("swap", Double.NaN, Double.NaN, 0, swapped)
      case None =>
    }
    // one double per micro-batch ever ingested — bounded by batch
    // count, never by data volume; an execution-time failure (a torn
    // part file a killed report writer left) names the contract
    val fullSeries =
      try Similarity.readDriftSeries(spark, driftOut)
        .select(col("ingest_batch"), col("pq_err").cast("double"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      catch {
        case e: org.apache.spark.SparkException =>
          throw new IllegalStateException(
            s"the drift series at $driftOut failed mid-read — a torn " +
              "per-batch report (killed writer) or a foreign file; " +
              "delete the offending ingest_batch directory (its batch " +
              "will rewrite it on replay) and re-run", e)
      }
    // zero reports is legitimate only after a fenced rebuild pruned
    // them; an unfenced empty series means the stream never committed
    if (fullSeries.isEmpty) {
      require(fence.isDefined,
        s"the drift series at $driftOut holds no reports — nothing to " +
          "threshold (has the ingest stream committed a batch?)")
      return keep(Double.NaN, Double.NaN, 0)
    }
    // reports at or before the fence describe an OLD generation's
    // codebooks — thresholding them would re-fire the retrain forever
    val fencedThrough = fence.map(_._1).getOrElse(Long.MinValue)
    val series = fullSeries.filter(_._1 > fencedThrough).map(_._2)
    if (series.isEmpty) return keep(Double.NaN, Double.NaN, 0)
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val baseline = median(series.take(window))
    val trailing = median(series.takeRight(window))
    if (series.length < 2 * window || trailing <= driftThreshold * baseline)
      return keep(baseline, trailing, series.length)
    val target = store.rebuild(face) { dst =>
      require(!Layouts.exists(spark, dst),
        s"maintainFromDriftSeries: $dst already exists — either a " +
          "crashed rebuild left an unfenced generation (delete it and " +
          "re-run, or write the fence by hand if its pointer swap " +
          "already happened) or the path is a live generation; the " +
          "monitor never overwrites it.")
      Similarity.retrainGeneration(residual, ivf.length, pq.length,
        pq(0).length, corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
        dst, trained)
      // the fence AFTER the generation: it is the commit record the
      // recovery above keys on; a crash before it leaves an unfenced
      // gen<k+1>, which the exists-refusal surfaces on the re-run
      Layouts.writeSidecar(spark, s"$driftOut/${Similarity.RebuiltFence}",
        Similarity.RebuiltFenceSchema,
        Seq(Row(fullSeries.map(_._1).max, new org.apache.hadoop.fs.Path(dst).getName)))
      dst
    }
    if (prune) Similarity.pruneDriftSeries(spark, driftOut)
    AnnIndex.DriftSeriesReport("rebuild", baseline, trailing,
      series.length, target)
  }

  /** COMPACT the generation — the LSM small-files pay-down: every
    * append leaves one increment directory with a file per touched
    * cell, and every probe pays their opens. Compaction is
    * the store's fold ([[Layouts.GenerationStore.fold]]) into
    * `gen<k+1>`, returned: the base and EVERY committed increment,
    * codes rewritten (never re-encoded: no vectors read, no codebooks
    * applied) hash-repartitioned by cell, so each cell is one file and
    * no increment is left. Cost: one shuffle of the ~4-40 B/row codes.
    *
    * `dropIds` is the TOMBSTONE set — one id column
    * ([[graft.ops.Cdc.snapshotDiff]]'s `removed` class is the natural
    * producer): matching rows are retired (an unhinted anti-join on
    * `idCol` — AQE broadcasts a small set, a bulk takedown degrades to
    * a shuffle join), so a deleted document never again surfaces in a
    * top-k. The sidecar is written FIRST: a failed data rewrite leaves
    * a sidecar-only `gen<k+1>` (detectable), never a data-only one.
    */
  def compact(dropIds: Option[DataFrame] = None): String =
    store.fold("compact") { dst =>
      val base = FooterSchema.read(spark, layout)
      val rows = Layouts.dropTombstones(Layouts.withIncrements(spark, base, layout,
        base.columns.toIndexedSeq, None), dropIds, idCol, "compact")
      Similarity.writeIvfPqCodebooks(spark, dst, ivf, pq, kind)
      Similarity.writeCoded(rows.repartition(col(Cell)), "append", dst)
    }
}

object AnnIndex {

  /** The partition column of every IVF-PQ layout. */
  private[ops] val Cell = "cell"

  /** The PQ code column of every IVF-PQ layout. */
  private[ops] val Code = "code"

  /** The append-or-rebuild decision of an [[AnnIndex.maintain]] call:
    * `action` is `"append"` or `"rebuild"`, `storedErr`/`freshErr` the
    * batch's mean ADC reconstruction error under the stored codebooks
    * vs under codebooks derived from the batch itself, and `layout`
    * the generation now holding the batch (this one on append,
    * `gen<k+1>` on rebuild).
    */
  case class MaintainReport(action: String, storedErr: Double,
      freshErr: Double, layout: String)

  /** The verdict of an [[AnnIndex.maintainFromDriftSeries]] call:
    * `action` is `"keep"`, `"rebuild"` or `"swap"` (a crashed
    * rebuild's pointer swap completed), `baselineErr`/`trailingErr` the
    * medians of the series' first and last `window` post-fence reports,
    * `batches` the post-fence series length, and `layout` the
    * generation now current.
    */
  case class DriftSeriesReport(action: String, baselineErr: Double,
      trailingErr: Double, batches: Long, layout: String)

  /** Open the index at `path` — a layout or a pointered store root
    * ([[Layouts.GenerationPointer]]), which resolves to the generation
    * `_current` names now. `idCol` names the layout's id column.
    */
  def open(spark: SparkSession, path: String, idCol: String): AnnIndex = {
    val store = Layouts.openStore(spark, path)
    val layout = store.layout
    require(Similarity.hasIvfPqCodebooks(spark, layout),
      s"no _codebooks sidecar under $layout — the layout predates the " +
        "sidecar or was hand-built; rewrite it with writeIvfPqPartitioned " +
        "/ writeIvfPqResidualPartitioned")
    // cached per generation: a streaming loop opens the index every
    // micro-batch, and without the cache each open re-reads the same
    // KB-sized sidecar parquet
    val rows = Layouts.collectSidecarCached(spark, layout + "/_codebooks",
      "writeIvfPqPartitioned / writeIvfPqResidualPartitioned")
    val kinds = rows.map(_.getString(0)).distinct.sorted
    // every corruption mode of a present sidecar is the same exception
    // type, so one catch covers them all
    def corrupt(what: String) = new IllegalStateException(
      s"the _codebooks sidecar under $layout $what " +
        s"(kinds present: ${kinds.mkString(", ")})")
    val kind = (kinds.contains("pq"), kinds.contains("rpq")) match {
      // no writer produces both: refusing beats silently preferring one
      case (true, true) => throw corrupt("holds BOTH 'pq' and 'rpq' " +
        "tables — ambiguous; rebuild the layout")
      case (true, false) => "pq"
      case (false, true) => "rpq"
      case _ => throw corrupt("holds neither 'pq' nor 'rpq' tables")
    }
    val ivf: IvfCodebook = rows.filter(_.getString(0) == "ivf")
      .sortBy(_.getInt(1))
      .map(r => (r.getLong(2), r.getSeq[Double](3).toArray, r.getDouble(4)))
    if (ivf.isEmpty) throw corrupt("has no 'ivf' coarse codebook")
    val pqRows = rows.filter(_.getString(0) == kind)
    val pq: PqCodebooks = pqRows.map(_.getInt(1)).distinct.sorted.map { m =>
      pqRows.filter(_.getInt(1) == m).sortBy(_.getLong(2))
        .map(_.getSeq[Double](3).toArray)
    }
    new AnnIndex(spark, store, idCol, kind, ivf, pq)
  }
}
