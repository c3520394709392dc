package graft.streaming

import graft.ops.{Bloom, Layouts}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The incremental EXACT-dedup admission gate AS A STREAM — the third
  * family on the [[IncrementalIngest]] shell (near-dup text:
  * [[StreamingDedup]]; vectors: [[StreamingSimilarity]]): each
  * micro-batch is judged against the HISTORICAL Bloom bitmap (the
  * corpus' at-rest index plus every previously committed batch's
  * increment — [[graft.ops.Bloom.readBloomIndex]]), its novel rows are
  * admitted to `admittedOut`, and its own bitmap is appended so later
  * batches dedup against it. The batch gate itself is
  * [[graft.ops.Bloom.bloomGate]]'s arithmetic unchanged — deterministic
  * md5-derived probe positions, no false negatives, declared false
  * positives — so the stream's admission set is oracle-checkable
  * bit-for-bit.
  *
  * Exactly-once story, inherited from the other two loops: the batch
  * OWNS `_increments/ingest_batch=<id>` inside the index and
  * `ingest_batch=<id>` under `admittedOut`
  * ([[graft.ops.Layouts.incrementDir]] /
  * [[graft.ops.Layouts.ownedBatchDir]], both overwritten wholesale),
  * the history read drops only its own increment, and the admitted
  * rows are written before the bitmap, so a replay converges to
  * identical on-disk state (spec-pinned) — and writes nothing once a
  * fold has folded the batch's bitmap.
  * The batch's WHOLE bitmap is appended, not just its admitted rows'
  * (identical final OR — a dropped row's bits are already set in the
  * history that dropped it — and one branch less to replay).
  *
  * Cost shape per batch: one KB-sized row read per committed batch
  * ever (never corpus rows), one scan-speed membership filter, one
  * map-side-reducing bitmap fold of the batch.
  * [[graft.ops.Bloom.compactBloomIndex]] folds the increment rows into
  * the next generation's single base row when the listing tax bites.
  * `indexPath` is a plain layout or a pointered store root; each batch
  * is one fenced append of its store
  * ([[graft.ops.Layouts.GenerationStore.append]]), so a batch a fold
  * overlapped fails curated and replays into the live generation.
  */
object StreamingBloomGate {

  /** One micro-batch step, exposed for direct (non-stream) testing of
    * the replay semantics. Re-invoking with the same `batchId` and
    * rows converges to identical on-disk state.
    */
  def ingestBatch(b: DataFrame, batchId: Long, indexPath: String,
      textCol: String, admittedOut: String): Unit =
    ingestBatchFenced(b, batchId, indexPath, textCol, admittedOut, () => ())

  /** [[ingestBatch]] with a hook between the writes and the post-write
    * fence — the seam that lets a spec pin the check-then-act window
    * deterministically (a compaction acquiring its marker or swapping
    * the pointer while this batch was computing), mirroring
    * [[StreamingSimilarity.ingestBatchFenced]].
    */
  private[graft] def ingestBatchFenced(b: DataFrame, batchId: Long,
      indexPath: String, textCol: String, admittedOut: String,
      beforeFence: () => Unit): Unit = {
    val spark = b.sparkSession
    val store = Layouts.openStore(spark, indexPath)
    store.append("bloomGateStream", batchId, beforeFence) { dir =>
      val (m, k, words) = Bloom.readBloomIndex(spark, store.layout,
        excludeBatchId = Some(batchId))
      b.where(!Bloom.bloomMember(col(textCol), m, k, words))
        .write.mode("overwrite")
        .parquet(Layouts.ownedBatchDir(admittedOut, batchId))
      Bloom.writeBitmapRow(spark, Bloom.bitmapOf(b, textCol, m, k), m, k, dir)
    }
  }

  /** The stream: micro-batches of rows with `textCol` (plus whatever
    * `cols` should ride into `admittedOut`) gated against the history
    * at `indexPath` ([[graft.ops.Bloom.writeBloomIndex]] first). The
    * returned writer is not started — the caller holds the query (the
    * [[StreamingConverter.writer]] contract); restart with the same
    * `checkpoint` resumes from the last committed batch.
    */
  def bloomGateStream(batches: DataFrame, indexPath: String,
      checkpoint: String, cols: Seq[String], textCol: String,
      admittedOut: String,
      availableNow: Boolean = true): DataStreamWriter[Row] = {
    require(batches.isStreaming,
      "bloomGateStream takes a STREAMING frame; the batch face is " +
        "Bloom.bloomGate")
    IncrementalIngest.ownedBatchWriter(batches, cols, checkpoint,
      availableNow) { (b, batchId) =>
      ingestBatch(b, batchId, indexPath, textCol, admittedOut)
    }
  }
}
