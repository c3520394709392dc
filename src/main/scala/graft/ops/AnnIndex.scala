package graft.ops

import graft.functions.GraftFunctions
import graft.ops.Similarity.{IvfCodebook, PqCodebooks}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One IVF-PQ at-rest index — the long-lived handle every at-rest
  * probe goes through ("Continuously Adaptive Similarity Search",
  * SIGMOD 2020: the index is one object, not a family of entry
  * points).
  *
  * [[AnnIndex.open]] does the lookup once: it follows the generation
  * pointer ([[Similarity.resolveLayout]]) and reads the `_codebooks`
  * sidecar once ([[Layouts.collectSidecarCached]]), which gives the
  * quantizer `kind` — `"pq"` (raw-vector codes,
  * [[Similarity.writeIvfPqPartitioned]]) or `"rpq"` (residual codes,
  * [[Similarity.writeIvfPqResidualPartitioned]]) — and the codebooks.
  * The caller never names the kind, so residual codes can never be
  * ranked through raw tables or vice versa.
  *
  * [[probe]] is the one ranking path for both kinds, over the base
  * layout plus every committed streamed increment
  * ([[Similarity.appendIvfPqIncrement]]); [[refine]] is the exact
  * re-rank of a raw-PQ base layout. The read-only fields are the
  * generation directory the pointer resolved to (`layout`), the kind
  * tag, the coarse codebook (`ivf`) and the PQ tables (`pq`: raw
  * tables for `"pq"`, residual tables for `"rpq"`).
  */
final class AnnIndex private (spark: SparkSession, val layout: String,
    val idCol: String, val kind: String, val ivf: IvfCodebook,
    val pq: PqCodebooks) {

  import AnnIndex.{Cell, Code}

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
    AnnIndex.requireNprobe(nprobe)
    // (query id, probed cells, the query's ADC column over the codes)
    val perQuery: Seq[(Long, Seq[Long], Column)] = queries.map { case (qid, q) =>
      if (residual) {
        val (probed, cellIds, luts) = Similarity.residualCellLuts(ivf, pq, q, nprobe)
        (qid, probed, GraftFunctions.pq_adc_by_cell(col(Cell), col(Code), cellIds, luts))
      } else
        (qid, Similarity.ivfProbed(ivf, q, nprobe),
          GraftFunctions.pq_adc(col(Code), Similarity.pqAdcTable(pq, q)))
    }
    val base = spark.read.parquet(layout)
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
    * full-precision vectors the layout carries (written with
    * `keep = Seq(vecCol)`) and return the top `k` as (idCol, cos),
    * ordered cos desc, ties by id. Never worse than the plain ADC
    * top-k: every exact neighbour the ADC top-k found is still in the
    * shortlist and wins its exact re-rank (OpsSpec pins the
    * dominance).
    *
    * Two narrow scans of the probed cells: (id, code) into the ADC
    * shortlist (TakeOrderedAndProject), a BOUNDED driver collect of
    * the shortlist ids, then (id, vector) for exactly those rows via
    * an `isin` pushed into the parquet scan. No join, no shuffle.
    *
    * Scope: the base layout of a raw-PQ index only — committed
    * increments are not scanned (compact first), and a residual
    * layout is refused.
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
    AnnIndex.requireNprobe(nprobe)
    if (residual)
      throw new IllegalStateException(
        s"refine re-ranks raw-PQ ('pq') shortlists; the layout at $layout " +
          "holds RESIDUAL ('rpq') codes — rank it with probe")
    val lut = Similarity.pqAdcTable(pq, query)
    val cells = spark.read.parquet(layout)
      .where(col(Cell).isin(Similarity.ivfProbed(ivf, query, nprobe): _*))
    val ids = cells
      .select(col(idCol), round(GraftFunctions.pq_adc(col(Code), lut), 6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(shortlist)
      .select(idCol)
      .collect().map(_.get(0))
    cells.where(col(idCol).isin(ids: _*))
      .select(col(idCol), round(Similarity.cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }
}

object AnnIndex {

  /** The partition column of every IVF-PQ layout. */
  private[ops] val Cell = "cell"

  /** The PQ code column of every IVF-PQ layout. */
  private[ops] val Code = "code"

  /** Open the index at `path` — a layout or a pointered store root
    * ([[Layouts.GenerationPointer]]). `idCol` names the layout's id
    * column.
    */
  def open(spark: SparkSession, path: String, idCol: String): AnnIndex =
    at(spark, Similarity.resolveLayout(spark, path), idCol)

  /** [[open]] without following a generation pointer — for callers
    * that already hold the generation directory.
    */
  private[ops] def at(spark: SparkSession, layout: String,
      idCol: String): AnnIndex = {
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
    new AnnIndex(spark, layout, idCol, kind, ivf, pq)
  }

  private def requireNprobe(nprobe: Int): Unit =
    require(nprobe >= 1, "nprobe must be >= 1 (the probe needs at least one cell)")
}
