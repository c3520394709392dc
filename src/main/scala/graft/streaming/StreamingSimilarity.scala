package graft.streaming

import graft.ops.{AnnIndex, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The daily vector-ingest loop AS A STREAM — the [[StreamingDedup]]
  * play for the ANN family: each micro-batch of (id, embedding) rows
  * is encoded with the layout's STORED codebooks (read back from the
  * `_codebooks` sidecar — nothing retrained, nothing handed over out
  * of band) and appended into the at-rest IVF-PQ layout, so probes
  * over base + increments ([[graft.ops.AnnIndex.probe]])
  * see yesterday's stream batches exactly as [[graft.ops.Similarity.appendIvfPq]] /
  * [[graft.ops.Similarity.appendIvfPqResidual]] batches. KIND-AWARE:
  * the sidecar's 'pq'/'rpq' tag picks the encoder per batch, so the
  * same stream code serves raw and residual layouts and can never
  * poison one with the other's codes.
  *
  * Exactly-once story, inherited from the near-dup loop: every
  * per-batch write is IDEMPOTENT — the batch owns
  * `_increments/ingest_batch=<id>` inside the layout
  * ([[graft.ops.Similarity.appendIvfPqIncrement]], overwritten
  * wholesale on a crash-replay), so plain parquet converges without a
  * transactional table format, and a duplicated code row (which would
  * surface the same id twice in a top-k) cannot survive a replay.
  * [[graft.ops.Similarity.compactIvfPqLayout]] folds the increments
  * into the next base generation (quiesce the stream first).
  *
  * `driftOut` composes the rebuild signal in: when set, each batch
  * also writes its one-row drift report — mean ADC reconstruction
  * error of the BATCH under the stored codebooks
  * ([[graft.ops.Similarity.ivfPqDistortion]]) — to
  * `driftOut/ingest_batch=<id>` (idempotent, same discipline). The
  * monitoring job is [[graft.ops.Similarity.maintainFromDriftSeries]]:
  * it thresholds the trailing window of that series against the
  * leading one and triggers the corpus-wide rebuild under the
  * layout's quiesce marker; the stream itself never rebuilds (a
  * retrain mid-stream would race the micro-batches reading the
  * codebooks it replaces — the marker makes the stream's appends fail
  * curated and replay after the swap). Upgrade note, spec-verified:
  * a driftOut mixing pre-round-18 batches (which ALSO embedded
  * ingest_batch as a data column) with new directory-only batches
  * reads correctly through [[graft.ops.Similarity.readDriftSeries]] —
  * the directory-derived partition column shadows the embedded copy,
  * which held the identical value by construction.
  *
  * The returned writer is not started — the caller holds the
  * [[org.apache.spark.sql.streaming.StreamingQuery]] (the
  * [[StreamingConverter.writer]] contract). Restart with the same
  * `checkpoint` resumes from the last committed batch.
  */
object StreamingSimilarity {

  /** One micro-batch step, exposed for direct (non-stream) testing of
    * the replay semantics: encode with the stored codebooks, land the
    * codes in the increment directory the batch owns, optionally write
    * the batch's drift report. Re-invoking with the same `batchId` and
    * rows converges to identical on-disk state.
    */
  def ingestBatch(
      b: DataFrame,
      batchId: Long,
      layoutPath: String,
      idCol: String,
      vecCol: String,
      driftOut: Option[String]): Unit =
    // a pointered store root resolves to the CURRENT generation once
    // per batch: the first micro-batch after a pointered rebuild's
    // swap encodes with (and reports drift against) the NEW
    // generation's codebooks automatically
    ingestBatchResolved(b, batchId, layoutPath,
      Similarity.resolveLayout(b.sparkSession, layoutPath),
      idCol, vecCol, driftOut)

  /** [[ingestBatch]] with the generation resolution split out — the
    * seam that lets the post-write pointer fence below be pinned
    * deterministically (a spec hands in a stale `layout` to stand for
    * "the pointer moved while this batch was encoding").
    */
  private[graft] def ingestBatchResolved(
      b: DataFrame,
      batchId: Long,
      layoutPath: String,
      layout: String,
      idCol: String,
      vecCol: String,
      driftOut: Option[String]): Unit = {
    val spark = b.sparkSession
    // fail BEFORE the encode while a compaction holds the layout's
    // quiesce marker (appendIvfPqIncrement refuses too — this check
    // just moves the curated failure ahead of the work): the
    // checkpoint replays the batch after the fold
    graft.ops.Layouts.assertNotQuiesced(spark, layout,
      "incrementalAnnStream")
    Similarity.appendIvfPqIncrement(b, idCol, vecCol, layout, batchId)
    driftOut.foreach { out =>
      // kind-aware like the append itself: a residual layout's drift
      // is its residual reconstruction error, not the raw-PQ one
      val idx = AnnIndex.open(spark, layout, idCol)
      val err = Similarity.ivfPqDistortion(b, vecCol, idx.ivf, idx.pq,
        idx.residual)
      // the batch id lives in the DIRECTORY (the verdicts convention:
      // a read of `out` surfaces it as the ingest_batch partition
      // column) — writing it as a data column too would collide with
      // the discovered partition column on read. Driver-side write:
      // one double the driver just collected (ivfPqDistortion) — a
      // Spark job per report was pure per-batch scheduler tax.
      graft.ops.Layouts.writeSidecar(spark,
        graft.ops.Layouts.ownedBatchDir(out, batchId),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("pq_err",
            org.apache.spark.sql.types.DoubleType, nullable = false))),
        Seq(org.apache.spark.sql.Row(err)))
    }
    // post-write pointer fence: the marker is check-then-act for a
    // batch already past its check, so a pointered rebuild can acquire,
    // retrain, swap and release while this batch encodes (the in-flight
    // handshake catches a batch that is already STAGING; this closes
    // the resolve-to-first-write sliver before any staging exists).
    // Failing AFTER the write is safe and convergent: the checkpoint
    // has not committed, the replay resolves the NEW generation and
    // re-encodes there, and the rows written into the superseded
    // generation are never read again (its probes ended at the swap;
    // vacuumGenerations reclaims it).
    if (Similarity.resolveLayout(spark, layoutPath) != layout)
      throw new IllegalStateException(
        s"incrementalAnnStream: the generation pointer under $layoutPath " +
          s"moved off $layout while batch $batchId was encoding (a " +
          "pointered rebuild swapped it); failing the batch so the " +
          "checkpoint replays it against the new generation")
  }

  def incrementalAnnStream(
      batches: DataFrame,
      layoutPath: String,
      checkpoint: String,
      idCol: String,
      vecCol: String,
      driftOut: Option[String] = None,
      availableNow: Boolean = true): DataStreamWriter[Row] = {
    require(batches.isStreaming,
      "incrementalAnnStream takes a STREAMING frame; the batch face is " +
        "Similarity.appendIvfPq / maintainIvfPq")
    // the batch is consumed twice when driftOut is set (encode +
    // distortion): the shared shell materializes it once
    IncrementalIngest.ownedBatchWriter(batches, Seq(idCol, vecCol),
      checkpoint, availableNow) { (b, batchId) =>
      ingestBatch(b, batchId, layoutPath, idCol, vecCol, driftOut)
    }
  }
}
