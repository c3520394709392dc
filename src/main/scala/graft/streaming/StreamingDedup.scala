package graft.streaming

import graft.ops.{Dedup, Layouts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The daily-ingest near-dup loop AS A STREAM: each micro-batch of
  * (id, text) documents is deduplicated against the corpus HISTORY —
  * the at-rest signature index ([[graft.ops.Dedup.writeNearDupIndex]])
  * plus every batch ingested before it — and then becomes history
  * itself. This is [[graft.ops.Dedup.incrementalNearDup]] (q131) with
  * the batching, ordering and restart bookkeeping that a continuous
  * ingest needs, instead of a caller-driven daily job.
  *
  * Scale shape per micro-batch, unchanged from the batch face: the
  * increment's signatures are computed fresh (it is small), the
  * stored index streams through the broadcast-or-shuffle candidate
  * join picked by the signature-row budget, and only candidate-
  * matched documents are ever shingled for the exact-Jaccard verify.
  *
  * Exactly-once story — every per-batch write is IDEMPOTENT, so a
  * crash-replay converges to the first attempt's state with plain
  * parquet and no transactional table format:
  *   - VERDICTS overwrite the batch's own `ingest_batch=<id>`
  *     subdirectory of `verdictsOut` (read the whole directory; the
  *     partition column names the batch).
  *   - INDEX signatures land in the batch's own
  *     `_increments/ingest_batch=<id>` directory of the index layout
  *     ([[graft.ops.Dedup.writeIncrement]]), overwritten
  *     wholesale on replay, and last: a batch whose signatures a fold
  *     folded has complete verdicts and text, so its replay writes
  *     nothing. The dedup step reads base + committed
  *     increments EXCLUDING the batch's own directory
  *     ([[graft.ops.Dedup.nearDupIndexWithIncrements]]), so a replayed
  *     batch sees exactly the history its first attempt saw: no
  *     self-matches, and no same-batch near-dup twins classifying
  *     against each other (the r16 plain-append design had both
  *     edges — closed in r18 by this per-batch layout).
  *   - CORPUS text lands in the batch's own
  *     `_increments/ingest_batch=<id>` directory of the corpus store,
  *     same discipline. The verify step reads base + increments
  *     (excluding own — candidates can never reference the current
  *     batch anyway, since its index rows are excluded).
  * Plain reads of either layout skip the increments; every batch face
  * over the index reads them ([[graft.ops.Dedup.nearDupIndexWithIncrements]]),
  * and [[graft.ops.Dedup.compactNearDupIndex]] folds them while the
  * stream runs.
  * `indexPath` is a plain layout or a pointered store root; each batch
  * is one fenced append of its store
  * ([[graft.ops.Layouts.GenerationStore.append]]), so a batch a fold
  * overlapped fails curated and replays into the live generation.
  *
  * The returned writer is not started — the caller holds the
  * [[org.apache.spark.sql.streaming.StreamingQuery]] (the
  * [[StreamingConverter.writer]] contract). Restart with the same
  * `checkpoint` resumes from the last committed batch.
  */
object StreamingDedup {

  /** One micro-batch step, exposed for direct (non-stream) testing of
    * the replay semantics: dedup `b` against base + committed
    * increments excluding `batchId`'s own, write the verdicts
    * idempotently, then land the batch's signatures and text as
    * increments the batch owns. Re-invoking with the same `batchId`
    * and rows converges to identical on-disk state.
    */
  def ingestBatch(
      b: DataFrame,
      batchId: Long,
      corpusPath: String,
      indexPath: String,
      verdictsOut: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int,
      bands: Int,
      shingleWidth: Int,
      maxBroadcastSigRows: Long): Unit =
    ingestBatchFenced(b, batchId, corpusPath, indexPath, verdictsOut, idCol,
      textCol, threshold, numHashes, bands, shingleWidth,
      maxBroadcastSigRows, () => ())

  /** [[ingestBatch]] with a hook between the writes and the post-write
    * fence — the seam a spec pins a fold overlapping the batch with,
    * like [[StreamingSimilarity.ingestBatchFenced]].
    */
  private[graft] def ingestBatchFenced(b: DataFrame, batchId: Long,
      corpusPath: String, indexPath: String, verdictsOut: String,
      idCol: String, textCol: String, threshold: Double, numHashes: Int,
      bands: Int, shingleWidth: Int, maxBroadcastSigRows: Long,
      beforeFence: () => Unit): Unit = {
    val spark = b.sparkSession
    val face = "incrementalNearDupStream"
    val store = Layouts.openStore(spark, indexPath)
    // the store refuses BEFORE the dedup work while a compaction holds
    // the marker (the checkpoint replays the batch after the fold)
    store.append(face, batchId, beforeFence) { dir =>
      // fail before any write if the caller's banding disagrees with
      // the layout (the appendNearDupIndex discipline): a mismatched
      // dedup pass would silently change which pairs can ever collide
      Dedup.validateIndexMeta(spark, store.layout, numHashes, bands,
        shingleWidth, face)
      val history = Dedup.nearDupIndexWithIncrements(spark, store.layout,
        excludeBatchId = Some(batchId))
      val corpus = Layouts.withIncrements(spark,
        FooterSchema.read(spark, corpusPath), corpusPath, Seq(idCol, textCol),
        excludeBatchId = Some(batchId))
      val verdicts = Dedup.incrementalNearDupAgainst(history, corpus, b,
        idCol, textCol, threshold, numHashes, bands, shingleWidth,
        maxBroadcastSigRows)
      // idempotent: the batch owns its verdict partition directory
      verdicts.write.mode("overwrite")
        .parquet(Layouts.ownedBatchDir(verdictsOut, batchId))
      // the batch becomes history: text, then signatures LAST, into
      // increment directories the batch owns (overwritten wholesale on
      // replay) — a fold that folded the signatures met a complete batch
      b.write.mode("overwrite")
        .parquet(Layouts.incrementDir(corpusPath, batchId))
      Dedup.writeIncrement(b, idCol, textCol, dir, numHashes, bands,
        shingleWidth)
    }
  }

  def incrementalNearDupStream(
      batches: DataFrame,
      corpusPath: String,
      indexPath: String,
      verdictsOut: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3,
      maxBroadcastSigRows: Long = 4L << 20,
      availableNow: Boolean = true): DataStreamWriter[Row] = {
    require(batches.isStreaming,
      "incrementalNearDupStream takes a STREAMING frame; the batch face " +
        "is Dedup.incrementalNearDup")
    // the batch is consumed repeatedly (count, candidate join, verify,
    // both increment writes): the shared shell materializes it once
    IncrementalIngest.ownedBatchWriter(batches, Seq(idCol, textCol),
      checkpoint, availableNow) { (b, batchId) =>
      ingestBatch(b, batchId, corpusPath, indexPath, verdictsOut,
        idCol, textCol, threshold, numHashes, bands, shingleWidth,
        maxBroadcastSigRows)
    }
  }
}
