package graft.streaming

import graft.ops.{AnnIndex, Layouts, Similarity}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The daily vector-ingest loop AS A STREAM — the [[StreamingDedup]]
  * play for the ANN family: each micro-batch opens the index once
  * ([[graft.ops.AnnIndex.open]]) and appends its (id, embedding) rows
  * with the handle's STORED codebooks and kind, through the same
  * encode as [[graft.ops.AnnIndex.append]] — nothing retrained, nothing
  * handed over out of band — so probes over base + increments
  * ([[graft.ops.AnnIndex.probe]]) see yesterday's stream batches
  * exactly as batch-face appends. The same stream code serves raw and
  * residual layouts and can never poison one with the other's codes.
  *
  * Exactly-once story, inherited from the near-dup loop: every
  * per-batch write is IDEMPOTENT — the batch owns
  * `_increments/ingest_batch=<id>` inside the layout (overwritten
  * wholesale on a crash-replay), so plain parquet converges without a
  * transactional table format, and a duplicated code row (which would
  * surface the same id twice in a top-k) cannot survive a replay.
  * [[graft.ops.AnnIndex.compact]] folds the increments into the next
  * base generation; the increment is each batch's last write, so a
  * batch the fold folded is complete and its replay writes nothing.
  *
  * `layoutPath` is a plain layout or a pointered store root
  * ([[graft.ops.Layouts.GenerationPointer]]). A root resolves to the
  * CURRENT generation once per batch, so after a rebuild or compaction
  * swaps `_current` the next micro-batch encodes with (and reports
  * drift against) the new generation. The batch's writes are one
  * fenced append of the index's store
  * ([[graft.ops.Layouts.GenerationStore.append]]): while a compaction
  * holds the quiesce marker, or once the pointer moved during the
  * batch, it fails curated and the checkpoint replays it into the
  * live generation.
  *
  * `driftOut` composes the rebuild signal in: when set, each batch
  * also writes its one-row drift report — mean ADC reconstruction
  * error of the BATCH under the stored codebooks
  * ([[graft.ops.Similarity.ivfPqDistortion]]) — to
  * `driftOut/ingest_batch=<id>` (idempotent, same discipline). The
  * monitoring job is [[graft.ops.AnnIndex.maintainFromDriftSeries]]:
  * it thresholds the trailing window of that series against the
  * leading one and rebuilds under the generation's quiesce marker; the
  * stream itself never rebuilds (a retrain mid-stream would race the
  * micro-batches reading the codebooks it replaces). Upgrade note,
  * spec-verified: a driftOut mixing pre-round-18 batches (which ALSO
  * embedded ingest_batch as a data column) with new directory-only
  * batches reads correctly through
  * [[graft.ops.Similarity.readDriftSeries]] — the directory-derived
  * partition column shadows the embedded copy, which held the identical
  * value by construction.
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
    ingestBatchFenced(b, batchId, layoutPath, idCol, vecCol, driftOut,
      () => ())

  /** [[ingestBatch]] with a hook between the writes and the post-write
    * fence — the seam that lets a spec pin the fence deterministically
    * (a rebuild swapping the pointer, or a compaction taking the
    * marker, while this batch was encoding), like
    * [[StreamingDedup.ingestBatchFenced]] and
    * [[StreamingBloomGate.ingestBatchFenced]].
    */
  private[graft] def ingestBatchFenced(
      b: DataFrame,
      batchId: Long,
      layoutPath: String,
      idCol: String,
      vecCol: String,
      driftOut: Option[String],
      beforeFence: () => Unit): Unit = {
    val spark = b.sparkSession
    val idx = AnnIndex.open(spark, layoutPath, idCol)
    // the fence runs after the drift report too: a report computed
    // against a superseded generation's codebooks must not commit with
    // the batch
    idx.store.append("incrementalAnnStream", batchId, beforeFence) { dir =>
      driftOut.foreach { out =>
        // kind-aware like the append itself: a residual layout's drift
        // is its residual reconstruction error, not the raw-PQ one
        val err = Similarity.ivfPqDistortion(b, vecCol, idx.ivf, idx.pq,
          idx.residual)
        // the batch id lives in the DIRECTORY (the verdicts convention:
        // a read of `out` surfaces it as the ingest_batch partition
        // column) — writing it as a data column too would collide with
        // the discovered partition column on read. Driver-side write:
        // one double the driver just collected (ivfPqDistortion) — a
        // Spark job per report was pure per-batch scheduler tax.
        Layouts.writeSidecar(spark, Layouts.ownedBatchDir(out, batchId),
          StructType(Seq(StructField("pq_err", DoubleType, nullable = false))),
          Seq(Row(err)))
      }
      // the increment LAST, so a batch a fold folded is complete
      idx.encode(b, vecCol, Nil, dir)
    }
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
      "incrementalAnnStream takes a STREAMING frame; the batch faces are " +
        "AnnIndex.append / maintain")
    // the batch is consumed twice when driftOut is set (encode +
    // distortion): the shared shell materializes it once
    IncrementalIngest.ownedBatchWriter(batches, Seq(idCol, vecCol),
      checkpoint, availableNow) { (b, batchId) =>
      ingestBatch(b, batchId, layoutPath, idCol, vecCol, driftOut)
    }
  }
}
