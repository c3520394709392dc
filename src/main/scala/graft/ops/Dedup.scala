package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema

/** Deduplication operators for large-scale corpus curation.
  *
  * All operators here are *bucketed* — nothing is ever all-pairs across
  * the corpus. The only shuffles carry (id, key) pairs or per-candidate
  * token arrays, never full document content, so the exchanges stay
  * small even at 100 TB input (reference D1 analogue:
  * /root/reference/src/sink.rs:75-103, which keeps a single in-memory
  * HashSet — Spark's spillable aggregation replaces it).
  */
object Dedup {

  /** Lowercased alphanumeric word tokens of a text column.
    * Definition is deliberately oracle-expressible (plain regexp +
    * split) so dedup results can be verified against ANSI SQL.
    */
  def tokens(text: Column): Column =
    filter(split(lower(regexp_replace(text, "[^a-zA-Z0-9]+", " ")), " "), x => x =!= "")

  /** Distinct `w`-word shingles of a text column (default 3). Uses the
    * codegen'd single-pass expression — the equivalent built-in
    * composition (`transform(sequence(...), i -> element_at(tokens, ...))`)
    * re-evaluates the tokenizer per shingle element after Catalyst
    * projection collapse, which is O(tokens²) per row.
    */
  def shingles(text: Column, w: Int = 3): Column =
    GraftFunctions.word_shingles(text, w)

  /** Exact Jaccard similarity of two precomputed shingle-set columns.
    * Two EMPTY sets score 0.0, not 1.0: an empty gram set carries no
    * similarity evidence (exact dedup owns truly-empty documents), and
    * under ANSI mode the raw 0/0 would throw — the guard also matches
    * the SQL oracle, where 0.0/0.0 = NaN fails every >= threshold.
    */
  def jaccard(a: Column, b: Column): Column = {
    val u = size(array_union(a, b))
    when(u === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / u.cast("double"))
  }

  /** Exact dedup by content identity without shuffling content:
    * elect `min(id)` per content hash, then semi-join winners back.
    * Only (hash, id) crosses the exchange — at 100 TB the shuffle
    * carries ~48 bytes/row instead of the full document.
    */
  def exactWinners(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val hashed = df.select(col(idCol), md5(col(contentCol).cast("binary")).as("__h"))
    val winners = hashed.groupBy("__h").agg(min(col(idCol)).as(idCol)).drop("__h")
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** The LSH band-signature projection: one (id, band, key) row per
    * band — `key` is the 64-bit hash of that band's minhash slice.
    * This is the ONLY per-document state near-dup candidacy needs
    * (24 bytes/band/doc), which makes it the natural at-rest index
    * payload ([[writeNearDupIndex]]): signatures over a 100 TB corpus
    * are computed once, and every later increment joins against the
    * stored rows instead of recomputing the corpus.
    */
  def bandSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): DataFrame =
    bandSignaturesImpl(df, idCol, textCol, numHashes, bands, shingleWidth,
      fanOut = true)

  /** [[bandSignatures]] with the small-input fan-out switchable: the
    * compute faces (candidate generation, the at-rest corpus write)
    * want the minhash pass as wide as the cluster; the per-BATCH
    * append faces do not — a streamed micro-batch keeps its source
    * partitioning so its increment directory holds one file per source
    * partition, not one near-empty file per core.
    */
  private def bandSignaturesImpl(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      bands: Int,
      shingleWidth: Int,
      fanOut: Boolean): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // fan the (id, text) projection out before the signature pass: the
    // minhash is the CPU of this operator, and a sub-split-size corpus
    // arrives as fewer partitions than cores (identity at scale — see
    // Layouts.fanOutByKey)
    val projected = df.select(col(idCol).as("id"), col(textCol).as("__bs_text"))
    val src = if (fanOut) Layouts.fanOutByKey(projected, "id") else projected
    src
      .select(
        col("id"),
        GraftFunctions.minhash_signature(col("__bs_text"), numHashes, shingleWidth).as("__sig"))
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, $bands - 1), b -> xxhash64(concat_ws(',', transform(slice(__sig, b * $r + 1, $r), x -> cast(x as string)))))")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "key")
  }

  /** The MinHash+LSH CANDIDATE pairs (pre-verify) of [[nearDupPairs]]
    * — exposed so scale runs can measure candidate volume directly
    * (sub-linear candidate growth is the property that makes the
    * banding a 100 TB design; counting it must not require re-deriving
    * the banding).
    */
  def nearDupCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): DataFrame = {
    // candidate generation carries ONLY (id, band, key) — 24 bytes/row —
    // through the exchange; shingle sets join in later, and only for
    // ids that actually appear in a candidate pair
    val banded = bandSignatures(df, idCol, textCol, numHashes, bands, shingleWidth)
    val a = banded.select(col("id").as("id_a"), col("band"), col("key"))
    val b = banded.select(col("id").as("id_b"), col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Near-duplicate pairs via MinHash + LSH banding, exact-verified.
    *
    * Pipeline (every stage bucketed, no all-pairs):
    *   1. per-row MinHash signature (`numHashes` permutations over
    *      `shingleWidth`-word shingles) — embarrassingly parallel
    *      ([[bandSignatures]] is stages 1-2, the at-rest index payload);
    *   2. split the signature into `bands` bands and hash each band;
    *      explode to (band, bandKey) — rows whose band collides are
    *      candidates. For threshold t, P[detect] = 1-(1-t^r)^b with
    *      r = numHashes/bands; at t=0.9, r=4, b=32 the miss
    *      probability is ~1e-15;
    *   3. self-join on (band, bandKey) — the shuffle carries only
    *      (id, band, key) ([[nearDupCandidates]] is stages 1-3);
    *   4. exact verify: join token shingle sets for *candidates only*
    *      and keep pairs with Jaccard >= `threshold`.
    *
    * Skew note: a cluster of k identical documents produces k rows per
    * bucket and k²/2 candidate pairs — inherent to pair *enumeration*.
    * For dedup-only (keep one per cluster), use [[nearDupWinners]]
    * which elects min-id per bucket and never enumerates pairs.
    *
    * @return columns (id_a, id_b, jaccard) with id_a < id_b
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3,
      maxBroadcastCandRows: Long = 4L << 20): DataFrame = {
    // candidate-bounded and consumed three times (two id projections
    // for the semi-joins + the verification join): without the eager
    // localCheckpoint each consumer re-runs the banding self-join —
    // the [[incrementalNearDup]]/[[nearDupPairsFromIndex]] rule,
    // applied to the from-raw-text face (r21 optimization)
    val cand = nearDupCandidates(df, idCol, textCol, numHashes, bands, shingleWidth)
      .localCheckpoint(true)
    verifiedPairs(cand, df, idCol, textCol, threshold, shingleWidth,
      maxBroadcastCandRows)
  }

  /** The exact-Jaccard verify both pair faces share: shingle only the
    * candidate-matched documents and keep the (id_a, id_b, jaccard)
    * pairs at or above `threshold`.
    */
  private def verifiedPairs(cand: DataFrame, df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleWidth: Int,
      maxBroadcastCandRows: Long): DataFrame = {
    // semi-join the corpus down to candidate-matched ids BEFORE
    // shingling: the previous shape shingled EVERY corpus row twice
    // (id_a side + id_b side) on the way into the verification join —
    // an O(corpus text bytes) pass per side that candidates bound
    // instead. Broadcast while the candidate-id set provably fits
    // (counting the checkpointed set is cheap); degrade to a shuffle
    // semi-join rather than a driver OOM on a pathological corpus.
    val candIds = cand.select(col("id_a").as("__cid"))
      .union(cand.select(col("id_b").as("__cid"))).distinct()
    val hintedIds =
      if (cand.count() * 2 <= maxBroadcastCandRows) broadcast(candIds)
      else candIds
    val sh = df
      .join(hintedIds, df(idCol) === col("__cid"), "left_semi")
      .select(col(idCol).as("__sid"), shingles(col(textCol), shingleWidth).as("__sh"))
    cand
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("__sha"), col("__shb")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Persist the corpus's [[bandSignatures]] as the at-rest near-dup
    * index: (id, key) parquet under `band=` partition directories.
    * At 100 TB this is THE incremental-dedup artifact — the signature
    * pass over the corpus runs once; every later batch joins its own
    * (tiny) signature set against these stored rows instead of
    * recomputing minhashes over the whole corpus
    * ([[incrementalNearDup]]).
    */
  def writeNearDupIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      out: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): Unit = {
    // repartition by band before the partitioned write: with the
    // signature pass fanned out to cluster width, a direct
    // partitionBy("band") write would emit one file per (task, band)
    // pair — up to cores x bands near-empty files, a listing tax every
    // index reader then pays (r21: measured as a 2x regression on the
    // index-reading queries). One exchange of 24-byte rows buys one
    // file per band, written by `bands` parallel tasks — the
    // compactNearDupIndex layout discipline applied at birth.
    bandSignatures(df, idCol, textCol, numHashes, bands, shingleWidth)
      .repartition(col("band"))
      .write.mode("overwrite").partitionBy("band").parquet(out)
    // self-describing index: persist the banding parameters inside
    // the layout (`_meta`, underscore-prefixed like `_SUCCESS` so
    // plain reads skip it) — every reader then VALIDATES instead of
    // trusting the caller (signatures built under different banding
    // or shingle width silently change which pairs can ever collide).
    // Driver-side write: three ints the driver already holds — a
    // Spark job per sidecar was pure scheduler tax (r21 optimization).
    Layouts.writeSidecar(df.sparkSession, out + "/_meta", NearDupMetaSchema,
      Seq(org.apache.spark.sql.Row(numHashes, bands, shingleWidth)))
  }

  /** Schema of the signature index's `_meta` sidecar (matches the
    * previous `Seq((Int, Int, Int)).toDF` encoder output exactly).
    */
  private val NearDupMetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("num_hashes",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("bands",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("shingle_width",
      org.apache.spark.sql.types.IntegerType, nullable = false)))

  /** The banding parameters a [[writeNearDupIndex]] layout was
    * written with, or None for a pre-meta / hand-built layout.
    * `indexPath` is a layout or a pointered store root (resolved
    * through [[Similarity.resolveLayout]], like every reader here).
    * Absence is an explicit filesystem check; a PRESENT but
    * empty/unreadable `_meta` (interrupted write) is a curated
    * failure, never a silent skip of the banding validation
    * ([[Layouts.collectSidecar]]).
    */
  def readNearDupIndexMeta(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[(Int, Int, Int)] = {
    val meta = Similarity.resolveLayout(spark, indexPath) + "/_meta"
    if (!Layouts.exists(spark, meta)) None
    else {
      // cached per generation: the streaming loop validates the
      // banding EVERY micro-batch, and without the cache each
      // validation re-reads the same one-row sidecar parquet
      val r = Layouts.collectSidecarCached(spark, meta, "writeNearDupIndex")(0)
      Some((r.getInt(0), r.getInt(1), r.getInt(2)))
    }
  }

  private[graft] def validateIndexMeta(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, numHashes: Int, bands: Int, shingleWidth: Int,
      caller: String): Unit =
    readNearDupIndexMeta(spark, indexPath).foreach { case (nh, b, sw) =>
      require(nh == numHashes && b == bands && sw == shingleWidth,
        s"$caller: the index at $indexPath was written with " +
          s"numHashes=$nh bands=$b shingleWidth=$sw but the call asks " +
          s"for numHashes=$numHashes bands=$bands " +
          s"shingleWidth=$shingleWidth — mismatched banding silently " +
          "changes which pairs can ever collide; pass the stored " +
          "parameters (readNearDupIndexMeta) or rebuild the index")
    }

  /** Append a new batch's signatures into a [[writeNearDupIndex]]
    * layout — the daily half of the index lifecycle (the corpus is
    * never recomputed; tomorrow's [[incrementalNearDup]] sees today's
    * batch as corpus). `out` is a layout or a pointered store root;
    * the write is the store's fenced append
    * ([[Layouts.GenerationStore.append]]) into the increment directory
    * batch `batchId` owns, under its batch-id contract: ids share the
    * index's stream id space and increase, and an id is reused only to
    * retry that batch, which rewrites its own directory. Validates the
    * stored banding parameters first: an append under different
    * banding poisons the index silently.
    */
  def appendNearDupIndex(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      out: String,
      batchId: Long,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): Unit = {
    val store = Layouts.openStore(batch.sparkSession, out)
    store.append("appendNearDupIndex", batchId) { dir =>
      validateIndexMeta(batch.sparkSession, store.layout, numHashes, bands,
        shingleWidth, "appendNearDupIndex")
      writeIncrement(batch, idCol, textCol, dir, numHashes, bands, shingleWidth)
    }
  }

  /** The signature write of every near-dup append (this file's batch
    * face and [[graft.streaming.StreamingDedup]], which validates the
    * banding first and fences this write with its verdicts as one
    * store append): the batch's signatures overwrite the increment
    * directory `dir` the batch OWNS, so a retry or crash-replay
    * rewrites the same rows instead of appending them twice. Plain
    * reads of the base skip increments; every reader here reads them
    * ([[nearDupIndexWithIncrements]]).
    */
  private[graft] def writeIncrement(batch: DataFrame, idCol: String,
      textCol: String, dir: String, numHashes: Int, bands: Int,
      shingleWidth: Int): Unit =
    // per-batch increment: NO fan-out — the increment directory holds
    // one file per SOURCE partition of the batch, not one per core
    bandSignaturesImpl(batch, idCol, textCol, numHashes, bands,
        shingleWidth, fanOut = false)
      .write.mode("overwrite").parquet(dir)

  /** The layout's stored signature rows PLUS its committed
    * increments ([[writeIncrement]] directories), as one
    * (id, band, key) frame — what every near-dup reader here reads, so
    * a fold's carried newest increment stays in every pair, `dup_of`
    * and split. `excludeBatchId` drops the named batch's own directory
    * — the replay rule: a re-executed micro-batch must
    * dedup against exactly the history its first attempt saw, never
    * its own earlier partial append (which would let same-batch
    * near-dup twins classify against each other, or a self-pair eat a
    * real verdict).
    */
  def nearDupIndexWithIncrements(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, excludeBatchId: Option[Long] = None): DataFrame = {
    val layout = Similarity.resolveLayout(spark, indexPath)
    Layouts.withIncrements(spark, FooterSchema.read(spark, layout), layout,
      Seq("id", "band", "key"), excludeBatchId)
  }

  /** COMPACT a signature index: every append, daily
    * ([[appendNearDupIndex]]) or streamed, leaves one increment
    * directory (the [[graft.ops.AnnIndex.compact]] small-files tax,
    * text side). This is the store's fold
    * ([[Layouts.GenerationStore.fold]]) of the pointered root `root`
    * into `gen<k+1>`, returned: (id, band, key) rows hash-repartitioned
    * by band — one file per band directory, nothing re-hashed — with
    * the `_meta` banding sidecar written first.
    *
    * `dropIds` is the TOMBSTONE set (one id column —
    * [[graft.ops.Cdc.snapshotDiff]]'s `removed` class): matching
    * signature rows are retired, so a deleted document can never again
    * appear in a candidate pair, a `dup_of`, or a split cluster — even
    * when the caller forgets to filter the corpus side (candidates come
    * ONLY from stored rows).
    */
  def compactNearDupIndex(spark: org.apache.spark.sql.SparkSession,
      root: String, dropIds: Option[DataFrame] = None): String =
    Layouts.openStore(spark, root).fold("compactNearDupIndex", new Layouts.FoldCodec {
      private def retire(rows: DataFrame) =
        Layouts.dropTombstones(rows, dropIds, "id", "compactNearDupIndex")
      def writeFolded(src: String, folded: Long => Boolean, dst: String): Unit = {
        val rows = retire(Layouts.withIncrementsWhere(spark,
          FooterSchema.read(spark, src), src, Seq("id", "band", "key"), folded))
        // meta FIRST: a failure in the (much larger) data rewrite
        // leaves a meta-only generation — detectable — instead of a
        // data-only one that masquerades as a legitimate pre-meta layout
        readNearDupIndexMeta(spark, src).foreach { case (nh, b, sw) =>
          Layouts.writeSidecar(spark, dst + "/_meta", NearDupMetaSchema,
            Seq(org.apache.spark.sql.Row(nh, b, sw)))
        }
        rows.repartition(col("band"))
          .write.mode("append").partitionBy("band").parquet(dst)
      }
      def carry(src: String, dst: String): Unit =
        retire(FooterSchema.read(spark, src)).write.mode("overwrite").parquet(dst)
    })

  /** Near-dup detection of a NEW batch against a corpus indexed at
    * rest by [[writeNearDupIndex]] — the daily-ingest shape: the
    * increment's signatures are computed fresh (it is small), the
    * corpus's are READ, never recomputed (stored rows plus committed
    * increments, [[nearDupIndexWithIncrements]]).
    *
    * Scale shape, two regimes split by the increment's signature-row
    * count (`batch rows × bands`, one metadata-cheap count of the
    * batch):
    *   - at or under `maxBroadcastSigRows`, the increment's
    *     (band, key) set is broadcast, so the stored index streams
    *     through a broadcast join with NO shuffle of the index side
    *     and no state beyond the increment's signatures;
    *   - above it (a ~5M-doc increment at 32 bands is 160M band rows
    *     — no sane broadcast fits that), every broadcast hint in the
    *     chain drops away and the candidate join runs as a shuffle
    *     join on (band, key): the index side pays one exchange, which
    *     at that increment size is the honest price (the q78
    *     AQE-fallback discipline — AQE may still choose to broadcast
    *     any side its runtime stats prove small).
    * Both regimes compute the identical answer; only the join
    * strategy changes. The candidate set (bounded by true collisions)
    * then drives exact-Jaccard verification against only the matched
    * corpus documents' texts. Candidates carry 24-byte rows; shingle
    * sets join in candidate-bounded.
    *
    * @param corpus the indexed documents (for verification text —
    *               only candidate-matched rows are ever shingled)
    * @param batch  the new documents
    * @param maxBroadcastSigRows broadcast budget in SIGNATURE rows
    *        (default 4M ≈ 125k docs at 32 bands ≈ low hundreds of MB
    *        hashed — inside a healthy executor heap with headroom)
    * @return (idCol of the new doc, dup_of = smallest corpus id with
    *         verified Jaccard >= threshold)
    */
  def incrementalNearDup(
      spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3,
      maxBroadcastSigRows: Long = 4L << 20): DataFrame = {
    validateIndexMeta(spark, indexPath, numHashes, bands, shingleWidth,
      "incrementalNearDup")
    incrementalNearDupAgainst(
      nearDupIndexWithIncrements(spark, indexPath), corpus, batch, idCol,
      textCol, threshold, numHashes, bands, shingleWidth, maxBroadcastSigRows)
  }

  /** [[incrementalNearDup]] against an EXPLICIT signature-rows frame
    * (id, band, key) instead of a layout path — the face the streaming
    * ingest loop uses to union the base index with its committed
    * per-batch increments ([[nearDupIndexWithIncrements]]). No banding
    * validation happens here (there is no layout to read `_meta`
    * from); path-based callers go through [[incrementalNearDup]],
    * which validates before delegating.
    */
  def incrementalNearDupAgainst(
      index: DataFrame,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3,
      maxBroadcastSigRows: Long = 4L << 20): DataFrame = {
    val newSig = bandSignatures(batch, idCol, textCol, numHashes, bands, shingleWidth)
      .withColumnRenamed("id", "__new_id")
    // the broadcast-budget guard: counting the batch is one cheap
    // pass (parquet answers it from footers), and it is the quantity
    // that decides whether the broadcast regime is SAFE — an
    // unconditional broadcast kills the job exactly when the operator
    // matters most (the big daily increment)
    val smallIncrement = batch.count() * bands <= maxBroadcastSigRows
    def hinted(df: DataFrame): DataFrame =
      if (smallIncrement) broadcast(df) else df
    val idx = index
      .select(col("id").as("__old_id"), col("band"), col("key"))
    // cand is consumed THREE times (two semi-joins + the verification
    // join); without the eager localCheckpoint each consumer would
    // re-scan the full at-rest index and re-run the candidate join —
    // the multi-TB pass this operator exists to avoid. cand itself is
    // candidate-bounded (true collisions only), so materializing it is
    // cheap by design (the Graph.pageRank lineage-cut precedent).
    val cand = idx
      .join(hinted(newSig), Seq("band", "key"))
      .select(col("__old_id"), col("__new_id"))
      // never let a row elect ITSELF: when the index already holds the
      // batch's own signatures (a crash-replay whose append landed
      // before the checkpoint commit), a self-pair would win the
      // min-id election below for any batch doc whose id undercuts its
      // true dup partner's — and a caller filtering self-verdicts
      // afterwards would silently drop a REAL dup (r17 ADVICE).
      // Excluding self-pairs up front makes the election fall back to
      // the next-smallest real match; with the disjoint id domains of
      // a normal daily batch this predicate matches nothing.
      .where(col("__old_id") =!= col("__new_id"))
      .dropDuplicates("__old_id", "__new_id")
      .localCheckpoint(true)
    // semi-join the corpus down to candidate-matched ids BEFORE
    // shingling: without it the shingle projection runs over EVERY
    // corpus row on the way into the verification join — the O(corpus
    // text bytes) pass the index exists to avoid (caught by the
    // incr: scale rung, where it erased the index's win)
    val oldSh = corpus
      .join(hinted(cand.select(col("__old_id")).distinct()),
        corpus(idCol) === col("__old_id"), "left_semi")
      .select(col(idCol).as("__old_id"), shingles(col(textCol), shingleWidth).as("__sha"))
    // same candidates-only rule on the batch side: a large increment
    // with few near-dups must not pay a shingle pass over all its text
    val newSh = batch
      .join(hinted(cand.select(col("__new_id")).distinct()),
        batch(idCol) === col("__new_id"), "left_semi")
      .select(col(idCol).as("__new_id"), shingles(col(textCol), shingleWidth).as("__shb"))
    cand
      .join(oldSh, Seq("__old_id"))
      .join(newSh, Seq("__new_id"))
      .where(round(jaccard(col("__sha"), col("__shb")), 6) >= threshold)
      .groupBy(col("__new_id").as(idCol))
      .agg(min(col("__old_id")).as("dup_of"))
  }

  /** [[nearDupPairs]] answered FROM a [[writeNearDupIndex]] layout:
    * candidates come from a self-join of the STORED (id, band, key)
    * rows plus committed increments ([[nearDupIndexWithIncrements]]) —
    * the corpus is never re-minhashed — and only
    * candidate-matched documents are shingled for the exact-Jaccard
    * verify. With an index written at the same banding, the result is
    * identical to [[nearDupPairs]] by construction (both sides derive
    * candidates from the same signature rows).
    *
    * This is what makes the at-rest index reusable across the WHOLE
    * dedup family: a production corpus pays the signature pass once
    * ([[writeNearDupIndex]]), and pairs / winners
    * ([[nearDupWinnersVerifiedFromIndex]]) / split
    * ([[graft.ops.Sampling.leakFreeSplit]]'s `indexPath`) /
    * increments ([[incrementalNearDup]]) all read it.
    *
    * Scale shape: the self-join shuffles 24-byte (id, band, key) rows
    * on (band, key) — the q18 exchange without the signature CPU in
    * front of it; the verify stage is candidate-bounded on both
    * sides (the [[incrementalNearDup]] semi-join discipline). The
    * candidate-id set broadcasts only while it fits
    * `maxBroadcastCandRows` (counting it is free — the set is already
    * localCheckpointed); a pathologically duplicated corpus degrades
    * to a shuffle semi-join instead of a driver OOM (the
    * [[incrementalNearDup]] budget discipline).
    */
  def nearDupPairsFromIndex(
      indexPath: String,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleWidth: Int = 3,
      maxBroadcastCandRows: Long = 4L << 20): DataFrame = {
    // only the shingle width is a caller input here (banding lives
    // entirely in the stored rows) — but a verify stage shingling at
    // a DIFFERENT width than the signatures were built from silently
    // changes what "Jaccard >= threshold" means relative to candidacy
    readNearDupIndexMeta(df.sparkSession, indexPath).foreach {
      case (_, _, sw) =>
        require(sw == shingleWidth,
          s"nearDupPairsFromIndex: the index at $indexPath was built " +
            s"over $sw-word shingles but the verify stage asks for " +
            s"$shingleWidth — pass the stored width (readNearDupIndexMeta)")
    }
    val banded = nearDupIndexWithIncrements(df.sparkSession, indexPath)
    val a = banded.select(col("id").as("id_a"), col("band"), col("key"))
    val b = banded.select(col("id").as("id_b"), col("band"), col("key"))
    // candidate-bounded and consumed three times — the
    // incrementalNearDup localCheckpoint rule
    val cand = a.join(b, Seq("band", "key"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true)
    verifiedPairs(cand, df, idCol, textCol, threshold, shingleWidth,
      maxBroadcastCandRows)
  }

  /** Near-dup *dedup* at scale: cluster by LSH bucket, elect min-id
    * winner per connected bucket, semi-join survivors. Never
    * enumerates pairs, so identical-document clusters cost O(k) not
    * O(k²). One exchange on bucket key + one on id.
    */
  def nearDupWinners(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): DataFrame = {
    val r = numHashes / bands
    val banded = Layouts.fanOutByKey(
        df.select(col(idCol).as("__id"), col(textCol).as("__nw_text")), "__id")
      .select(
        col("__id"),
        GraftFunctions.minhash_signature(col("__nw_text"), numHashes, shingleWidth).as("__sig"))
      .select(col("__id"), explode(expr(
        s"transform(sequence(0, $bands - 1), b -> named_struct('band', b, 'key', xxhash64(concat_ws(',', transform(slice(__sig, b * $r + 1, $r), x -> cast(x as string))))))")).as("__bk"))
    // a row loses if any of its buckets contains a smaller id
    val minPerBucket = banded.groupBy("__bk").agg(min("__id").as("__min"))
    val losers = banded.join(minPerBucket, "__bk")
      .where(col("__id") > col("__min"))
      .select(col("__id").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Near-dup dedup with VERIFIED winner election — the
    * engine-independent sibling of [[nearDupWinners]]: verified pairs
    * ([[nearDupPairs]]: banded candidates, exact-Jaccard verify) →
    * connected components ([[components]]) → drop every id whose
    * cluster representative (min reachable id) is smaller than itself.
    * Docs in no verified pair survive untouched.
    *
    * [[nearDupWinners]] elects per LSH BUCKET, so its survivor set
    * depends on the engine's band hash (murmur3) — correct dedup, but
    * no external oracle can reproduce it. This face's survivor set is
    * a pure function of the exact Jaccard graph at `threshold`, which
    * any engine can recompute. Cost: enumerates verified pairs (true
    * near-dups only — ~linear by the candidate-volume scale evidence)
    * plus the components pass; both building blocks carry their own
    * 100 TB story (banded key-only exchanges; bounded probe / label
    * propagation).
    */
  def nearDupWinnersVerified(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, threshold, numHashes, bands, shingleWidth)
    winnersFromPairs(df, idCol, pairs)
  }

  /** [[nearDupWinnersVerified]] reading a [[writeNearDupIndex]]
    * layout instead of re-minhashing the corpus
    * ([[nearDupPairsFromIndex]]'s candidates + the same components →
    * min-reachable-id election). Identical survivor set when the
    * index was written at the same banding.
    */
  def nearDupWinnersVerifiedFromIndex(
      indexPath: String,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      shingleWidth: Int = 3): DataFrame =
    winnersFromPairs(df, idCol,
      nearDupPairsFromIndex(indexPath, df, idCol, textCol, threshold, shingleWidth))

  private def winnersFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val losers = components(pairs.select("id_a", "id_b"))
      .where(col("cluster") < col("id"))
      .select(col("id").as("__loser"))
    df.join(losers, df(idCol) === col("__loser"), "left_anti")
  }

  /** Distinct character n-grams of a text column, in lexicographic
    * order. Character grams (vs [[shingles]]' word grams) are the
    * usual unit for n-gram-Jaccard dedup: robust to tokenization and
    * to languages without whitespace. Codepoint-based `substr` on both
    * engines, so the sets are oracle-reproducible. Texts shorter than
    * `n` yield the EMPTY set (same convention as word shingles below
    * width — no phantom partial gram, so degenerate documents never
    * pair through a truncated hot key).
    */
  def charGrams(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_sort(array_distinct(transform(
        sequence(lit(1), length(text) - lit(n - 1)),
        i => text.substr(i, lit(n))))))

  /** Near-duplicate pairs by exact n-gram Jaccard with prefix
    * filtering (AllPairs/PPJoin candidate generation — Bayardo et al.,
    * WWW'07; Xiao et al., WWW'08) — the non-probabilistic sibling of
    * [[nearDupPairs]]: no hashing, no false-negative probability, the
    * prefix filter is *provably complete* at the threshold.
    *
    * Under any global total order on grams, if J(A,B) >= t then the
    * smallest shared gram sits within the first |S| - ceil(t*|S|) + 1
    * grams of BOTH sorted sets (if it sat later in either, the
    * remaining positions could not hold the ceil(t*|S|) shared grams
    * that J >= t implies). So joining only on *prefix* grams loses
    * nothing, and candidate volume shrinks by ~(1-t) per side vs a
    * full inverted index.
    *
    * Scale shape: the only wide exchanges carry (id, gram) prefix
    * pairs and the (id, gram-set) arrays for ids that survive to a
    * candidate pair — never document content. With `freqOrder` (the
    * classic AllPairs refinement, default on) grams are ordered by
    * ascending global document frequency, so prefixes hold the
    * *rarest* grams and hot buckets ("the ␣", "␣and␣")
    * never generate candidates; costs one extra count-aggregation and
    * one join, both on (gram) / (id, gram) keys. `freqOrder = false`
    * orders lexicographically — one pass, fine for small corpora.
    *
    * GRAM UNIT MATTERS AT SCALE: the default is `shingleWidth`-word
    * shingles. Char grams (`charN = Some(n)`) are only safe when they
    * are *distinctive* — on a corpus drawn from a shared vocabulary,
    * every char-5-gram appears in a large fraction of documents, the
    * prefix filter cannot save a join whose hottest key matches most
    * of the corpus, and candidates go quadratic (measured here:
    * 5000 shared-vocab docs → max char-5-gram df 3889/5000 → 39M
    * candidates even frequency-ordered; word-3-shingle max df 25 →
    * ~10k candidates). Word shingles multiply the alphabet, keeping
    * document frequency — and therefore candidate volume — low.
    *
    * @param charN Some(n) switches the gram unit to char n-grams
    *              (tokenization-free; for scripts without whitespace)
    * @return columns (id_a, id_b, jaccard) with id_a < id_b
    */
  /** The AllPairs/PPJoin CANDIDATE pairs (pre-verify) of
    * [[jaccardNearDupPairs]] — exposed for scale instrumentation like
    * [[nearDupCandidates]].
    */
  def jaccardNearDupCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleWidth: Int = 3,
      charN: Option[Int] = None,
      freqOrder: Boolean = true): DataFrame = {
    val gram = charN match {
      case Some(n) => charGrams(col(textCol), n)
      case None    => array_sort(shingles(col(textCol), shingleWidth))
    }
    // the gram projection is this operator's CPU: fan out first
    val gramSets = Layouts.fanOutByKey(
        df.select(col(idCol).as("__id"), col(textCol).as(textCol)), "__id")
      .select(col("__id"), gram.as("__sh"))
    val pfx = prefixRows(gramSets, threshold, freqOrder)

    val a = pfx.select(col("__id").as("id_a"), col("__g"),
      col("__pos").as("__pa"), col("__sz").as("__sa"))
    val b = pfx.select(col("__id").as("id_b"), col("__g"),
      col("__pos").as("__pb"), col("__sz").as("__sb"))
    // PPJoin positional filter: J >= t implies |A∩B| >= t/(1+t)(|A|+|B|);
    // a match at 0-based positions (pa, pb) can contribute at most
    // min(|A|-pa, |B|-pb) overlap (itself + everything after it in both
    // sorted sets), so matches that cannot reach the bound are dropped
    // BEFORE the pair ever materializes. A qualifying pair's EARLIEST
    // shared prefix gram always passes (it has the loosest bound), so
    // completeness is preserved. The epsilon keeps float error from
    // rounding ceil() PAST a mathematically-integral bound (measured at
    // t=0.8, |A|+|B|=63: exact bound 28, naive double 28.000000000000004
    // -> ceil 29 would drop boundary-exact J=0.8 pairs); erring low only
    // admits a candidate the exact verify then rejects.
    val alpha = ceil(lit(threshold / (1 + threshold)) * (col("__sa") + col("__sb")) - lit(1e-6))
    a.join(b, Seq("__g"))
      .where(col("id_a") < col("id_b") &&
        least(col("__sa") - col("__pa"), col("__sb") - col("__pb")) >= alpha)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  def jaccardNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.7,
      shingleWidth: Int = 3,
      charN: Option[Int] = None,
      freqOrder: Boolean = true,
      maxBroadcastCandRows: Long = 4L << 20): DataFrame = {
    val gram = charN match {
      case Some(n) => charGrams(col(textCol), n)
      case None    => array_sort(shingles(col(textCol), shingleWidth))
    }
    // A/B r21: checkpoint + semi-join variant measured SLOWER here
    val cand = jaccardNearDupCandidates(df, idCol, textCol, threshold,
        shingleWidth, charN, freqOrder)
    val gramSets = df.select(col(idCol).as("__id"), gram.as("__sh"))
    cand
      .join(gramSets.select(col("__id").as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(gramSets.select(col("__id").as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("__sha"), col("__shb")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Decontamination — the cross-corpus form of near-dup dedup every
    * training pipeline needs: drop from `train` any row whose text is
    * a near-duplicate (shingle Jaccard >= `threshold`) of ANY `ref`
    * row (benchmark/eval-set contamination). Same MinHash+LSH banding
    * as [[nearDupPairs]], but the bucket join is train x ref ONLY —
    * never train x train — so candidate volume scales with the SMALL
    * ref corpus: ref's banded keys are `bands` x 24 B per row, and AQE
    * broadcasts that side for benchmark-sized refs. Verify joins
    * shingle sets for candidate ids only; the survivors come back via
    * one left_anti on the id.
    *
    * @return the rows of `train` that survive
    */
  /** The train x ref CANDIDATE pairs (pre-verify) of [[decontaminate]]
    * — exposed for scale instrumentation like [[nearDupCandidates]].
    * Columns (__idT, __idR).
    */
  def decontaminationCandidates(
      train: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def banded(df: DataFrame, side: String): DataFrame = Layouts.fanOutByKey(
        df.select(col(idCol).as(s"__id$side"), col(textCol).as("__dc_text")),
        s"__id$side")
      .select(
        col(s"__id$side"),
        GraftFunctions.minhash_signature(col("__dc_text"), numHashes, shingleWidth).as("__sig"))
      .select(col(s"__id$side"), posexplode(expr(
        s"transform(sequence(0, $bands - 1), b -> xxhash64(concat_ws(',', transform(slice(__sig, b * $r + 1, $r), x -> cast(x as string)))))")))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__key")
    banded(train, "T").join(banded(ref, "R"), Seq("__band", "__key"))
      .select("__idT", "__idR")
      .dropDuplicates("__idT", "__idR")
  }

  def decontaminate(
      train: DataFrame,
      ref: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 128,
      bands: Int = 32,
      shingleWidth: Int = 3,
      maxBroadcastCandRows: Long = 4L << 20): DataFrame = {
    // A/B r21: a checkpoint + candidates-only semi-join variant was
    // measured here and kept only where it won (see nearDupPairs)
    val cand = decontaminationCandidates(train, ref, idCol, textCol,
        numHashes, bands, shingleWidth)
    val shT = train.select(col(idCol).as("__idT"), shingles(col(textCol), shingleWidth).as("__shT"))
    val shR = ref.select(col(idCol).as("__idR"), shingles(col(textCol), shingleWidth).as("__shR"))
    val contaminated = cand
      .join(shT, Seq("__idT"))
      .join(shR, Seq("__idR"))
      .where(jaccard(col("__shT"), col("__shR")) >= threshold)
      .select(col("__idT").as(idCol))
      .distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** The prefix filter, computed directly on the exploded (id, gram)
    * frame: rank each doc's grams under the chosen total order —
    * ascending global document frequency with the gram text as
    * tiebreak when `freqOrder`, else lexicographic — with one window,
    * and keep ranks below |S| - ceil(t*|S|) + 1.
    *
    * Output rows are (__id, __g, __pos, __sz): `__pos` the gram's
    * 0-based position in the doc's FULL ordered set, `__sz` the set
    * size; both feed the PPJoin positional filter.
    *
    * This replaces a collect_list -> array_sort -> re-explode rebuild:
    * ranking where the rows already are costs the same single
    * id-keyed exchange the rebuild's groupBy needed, but skips
    * materializing every doc's ordered array and re-exploding it —
    * at 100 TB that array pass (alloc + copy + explode of the full
    * exploded relation) was pure overhead. Package-visible so probes
    * measure the SAME stages the operator ships.
    *
    * The frequency order keeps its `groupBy` aggregate and join rather
    * than counting `__df` in place with a window over `__g`, as
    * [[sharedSubstringCandidates]] does: on ScaleEvidence's
    * `gen:50000` corpus (local[4] on 4 vCPU, one JVM, the two shapes
    * alternating, 5 warm reps) the window took a median 15.80 s
    * against 15.23 s for the candidates and was slower in all 5 pairs.
    * Hot shingles make the per-gram window buffer and its sort cost
    * more than the map-side-reduced aggregate and the join.
    */
  private[graft] def prefixRows(
      gramSets: DataFrame, threshold: Double, freqOrder: Boolean): DataFrame = {
    val exploded = gramSets.select(col("__id"), explode(col("__sh")).as("__g"))
    val keyed =
      if (!freqOrder) exploded
      else {
        val freq = exploded.groupBy("__g").agg(count(lit(1)).as("__df"))
        exploded.join(freq, "__g")
      }
    val byId = Window.partitionBy("__id")
    val ord =
      if (freqOrder) byId.orderBy(col("__df"), col("__g")) else byId.orderBy(col("__g"))
    keyed
      .withColumn("__sz", count(lit(1)).over(byId).cast("int"))
      .withColumn("__pos", row_number().over(ord) - 1)
      .where(col("__pos") < col("__sz") - ceil(lit(threshold) * col("__sz")).cast("int") + 1)
      .select("__id", "__g", "__pos", "__sz")
  }

  /** Connected components over a near-dup pair set: assigns each id
    * the minimum id reachable through pairs (label propagation to a
    * fixpoint). Use on [[nearDupPairs]] output to turn pairwise
    * evidence into dedup clusters — `cluster` is the canonical
    * survivor, everything else in the component is a duplicate.
    *
    * Scale, two regimes gated on the VERIFIED pair count (an LSH+verify
    * pair graph is orders of magnitude smaller than its corpus):
    *   - `<= smallGraphMax` pairs (default 4M ≈ 64 MB of longs): driver
    *     union-find. Same small-data principle as AQE broadcasting a
    *     join side — 4 shuffle rounds replaced by one collect of keys
    *     (never content). This is the common case even at 100 TB.
    *   - larger: distributed min-label propagation; each iteration is
    *     one join + one aggregation on (id, label) pairs; iteration
    *     count is the largest component's diameter, tiny for near-dup
    *     graphs (dup clusters are near-cliques). `maxIter` caps
    *     pathological chains. (Pointer-jumping was tried and measured
    *     SLOWER here: the extra self-join per round costs more than
    *     the iterations it saves on diameter-2-3 graphs.)
    *
    * @param pairs columns (id_a, id_b)
    * @return (id, cluster) — one row per id appearing in any pair
    */
  def components(pairs: DataFrame, maxIter: Int = 20,
      smallGraphMax: Long = 4000000L): DataFrame = {
    // Both regimes cast ids to long (the driver fast path reads
    // getLong; min-label semantics need a total order). Guard the cast:
    // a silent cast of non-numeric ids would null them and crash or
    // corrupt labels with no useful error.
    {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      val integral: Set[org.apache.spark.sql.types.DataType] =
        Set(ByteType, ShortType, IntegerType, LongType)
      val idTypes = Seq("id_a", "id_b").map(c => pairs.schema(c).dataType)
      require(idTypes.forall(integral.contains),
        s"components() requires integral id_a/id_b columns, got (${idTypes.mkString(", ")}); " +
          "map non-numeric ids to longs first (e.g. xxhash64(id) or a dense_rank)")
    }
    require(smallGraphMax < Int.MaxValue, "smallGraphMax must fit an Int limit")
    // materialize the pair set once — everything below reads it at
    // least twice, and upstream pair generation (LSH + verify) is the
    // expensive part
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .toDF("id_a", "id_b").cache()
    // ONE bounded action decides the regime AND fetches the small
    // regime's edges: limit(max+1).collect() short-circuits past max+1
    // rows like the count-probe it replaces, but the common (small)
    // case no longer pays a second pass — probe job + full-collect job
    // were two actions over the same cached rows. The big regime's
    // driver-heap concern (a ~smallGraphMax-row Row array held for the
    // whole distributed run) is handled by DISCARDING the probe array
    // before the distributed path starts — it is transient garbage,
    // not a resident reference.
    // collect PRIMITIVE pairs, not Rows: the probe can ship up to
    // smallGraphMax+1 rows to the driver before the regime is known,
    // and a GenericRow costs ~100 B against a specialized (Long, Long)
    // tuple's 32 — the big-graph regime's transient peak drops ~3x
    // (r21 ADVICE)
    var probe: Array[(Long, Long)] = {
      import org.apache.spark.sql.Encoders
      p.limit(smallGraphMax.toInt + 1)
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
        .collect()
    }
    if (probe.length <= smallGraphMax) {
      // complete fetch: fewer than max+1 rows came back, so this IS
      // the whole cached pair set
      val edges = probe
      p.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      // union by min: the surviving root is always the component min id
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val s = pairs.sparkSession
      import s.implicits._
      return s.createDataset(parent.keys.toSeq.sorted.map(id => (id, find(id))))
        .toDF("id", "cluster")
    }
    probe = null // big regime: the probe rows must not outlive this point
    val labels = componentsDistributed(p, maxIter)._1
    p.unpersist()
    labels
  }

  /** The distributed min-label-propagation regime of [[components]],
    * split out so scale-evidence runs can record the iteration count
    * alongside the wall clock. Returns (labels, iterations) where
    * iterations includes the final no-change convergence probe.
    */
  private[graft] def componentsDistributed(p: DataFrame, maxIter: Int = 20): (DataFrame, Int) = {
    // undirected edge list, both directions
    val edges = p.unionAll(p.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .toDF("src", "dst")
      .distinct()
      .cache()
    // eager localCheckpoint, not cache(): each iteration's frame joins
    // the previous one, so a cached chain keeps the full logical
    // lineage — the analyzed plan roughly triples per iteration and
    // planning/explain cost blows up long before the data does.
    // Checkpointing truncates both the logical plan and the RDD
    // lineage to a constant size per iteration; superseded iterations'
    // blocks are reclaimed by the ContextCleaner once unreferenced.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // each node adopts min(own label, neighbors' labels)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("__n"))
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"), least(col("cluster"), coalesce(col("__n"), col("cluster"))).as("cluster"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("cluster", "__old"), "id")
        .where(col("cluster") =!= col("__old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    (labels, iter)
  }

  /** Near-duplicate pairs via SimHash with chunk-PAIR banding (the
    * "2-of-5 pigeonhole": Manku/Jain/Sarma WWW'07 table-probing
    * generalized to pair keys).
    *
    * The 64-bit signature is split into 5 disjoint 12-bit chunks
    * (covering 60 bits; leaving bits out of chunks only makes chunks
    * MORE likely to agree, so completeness is preserved). Any pair
    * with Hamming distance <= 3 has differing bits in at most 3
    * chunks, hence agrees exactly on at least 2 of the 5 — so
    * bucketing on every (chunkPair, value_i || value_j) key (C(5,2) =
    * 10 keys per doc, 24 signature bits each) finds ALL such pairs
    * without an all-pairs scan. For `maxHamming <= 3` (the canonical
    * radius for 64-bit simhash) the result is exactly the all-pairs
    * Hamming filter, which is what the SQL oracle computes.
    *
    * Scale note vs single-chunk banding (the previous 4 x 16-bit
    * scheme): a random collision now needs TWO simultaneous 12-bit
    * chunk agreements (2^-24 per key pair vs 2^-16), which matters
    * precisely when signatures concentrate — measured on the 50k-doc
    * real-text rung this cut candidates 8.8x (9.80M -> 1.12M, full
    * pipeline 26.7 s -> 4.3 s) for 2.5x more exploded rows. The
    * shuffle still carries only (key, id, sig).
    *
    * @return (id_a, id_b, hamming) with id_a < id_b
    */
  /** The chunk-pair-banded CANDIDATE pairs of [[simhashNearDup]] with
    * their Hamming distance, BEFORE the radius filter — exposed for
    * scale instrumentation like [[nearDupCandidates]].
    */
  def simhashCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val sig = Layouts.fanOutByKey(
        df.select(col(idCol).as("__id"), col(textCol).as("__sh_text")), "__id")
      .select(col("__id"),
        GraftFunctions.simhash64(col("__sh_text")).as("__sim"))
    // one 64-bit key per chunk pair: pairIdx * 2^24 | chunk_i * 2^12 | chunk_j
    val pairKeys = (for {
      i <- 0 until 5; j <- (i + 1) until 5
    } yield s"(${i * 5 + j}L * 16777216 + (shiftright(__sim, ${i * 12}) & 4095) * 4096" +
      s" + (shiftright(__sim, ${j * 12}) & 4095))").mkString("array(", ", ", ")")
    val banded = sig.select(col("__id"), col("__sim"),
      explode(expr(pairKeys)).as("__val"))
    val a = banded.select(col("__id").as("id_a"), col("__sim").as("__sa"), col("__val"))
    val b = banded.select(col("__id").as("id_b"), col("__sim").as("__sb"), col("__val"))
    a.join(b, Seq("__val"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", GraftFunctions.hamming64(col("__sa"), col("__sb")).cast("int"))
  }

  def simhashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    simhashCandidates(df, idCol, textCol)
      .where(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact shared-substring duplicate pairs — the EXACT-SUBSTRING
    * dedup family (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better": remove verbatim runs shared
    * across documents; their suffix-array finds runs ≥50 tokens).
    * This operator reports every pair of documents sharing at least
    * one exact `k`-character run of NORMALIZED text (the q22
    * winnowing normalization: lowercased alphanumeric tokens joined
    * by single spaces — so punctuation/case noise cannot hide a
    * verbatim copy), with the number of distinct shared runs.
    *
    * Complements the similarity family: Jaccard/MinHash (q18/q44)
    * score whole-document overlap and miss a long verbatim quote
    * inside two otherwise-different documents; this catches exactly
    * that.
    *
    * Mechanism: k-gram rolling hashes per document
    * ([[graft.functions.HashingHelper.winnow]]; the default
    * `window=1` emits every position's hash), distinct per doc, a
    * gram-keyed document-frequency window filter, then each gram's
    * id list exploded into its pairs.
    *
    * `window` is the SCALE knob: winnowing selects the minimal hash
    * in every `window` consecutive positions, keeping ~2/(window+1)
    * of the gram stream while GUARANTEEING (Schleimer et al. 2003)
    * that any shared run of >= k+window-1 characters still shares a
    * selected gram — so window trades the detection threshold
    * (k -> k+window-1) for a proportional cut in gram volume and
    * every downstream exchange. window=1 detects at exactly k.
    *
    * `maxDf` caps the per-gram bucket (candidate pairs are
    * Σ_g df(g)² ≤ maxDf·Σ_g df(g) — linear in the gram stream with a
    * maxDf constant): a run shared by MORE than `maxDf` documents is
    * boilerplate, the regime [[graft.ops.Quality.stripBoilerplate]]
    * removes line-wise — pair enumeration over such grams would be
    * quadratic AND useless for pair-level dedup decisions. The cap is
    * part of the operator's declared semantics, not a silent
    * truncation.
    *
    * Scale shape: exchanges carry (id, gram-hash) pairs only, one
    * gram-keyed exchange feeds both the df window and the id-list
    * aggregate; no driver materialization.
    *
    * @return (id_a, id_b, shared_grams), id_a < id_b
    */
  def sharedSubstringPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, maxDf: Int = 64, window: Int = 1): DataFrame =
    sharedSubstringCandidates(df, idCol, textCol, k, maxDf, window)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_grams"))

  /** [[sharedSubstringPairs]]'s pre-aggregate frame — one row per
    * (pair, shared gram) occurrence, the exact stream the pair
    * aggregation consumes. Exposed for scale evidence: its row count
    * is Σ_g df(g)·(df(g)-1)/2 over eligible grams, the quantity the
    * maxDf cap bounds.
    */
  def sharedSubstringCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 24, maxDf: Int = 64, window: Int = 1): DataFrame = {
    require(k >= 4, "k must be >= 4 (shorter runs are ubiquitous)")
    require(maxDf >= 2, "maxDf must be >= 2 (pairs need two documents)")
    require(window >= 1, "window must be >= 1 (1 = every gram, no sampling)")
    // ONE gram exchange for the whole operator: the winnowing fingerprint
    // pass (k-gram MD5 per character position, by far this operator's
    // CPU) runs cluster-wide above the fan-out, and the 16-byte
    // (id, gram-hash) rows are hash-partitioned by gram once, for the
    // document-frequency window. The per-gram id-list aggregate below
    // rides that partitioning. The df filter runs BEFORE the id lists
    // are collected (the window's per-gram buffer spills; a list does
    // not), so a boilerplate gram shared by millions of documents
    // never becomes a list; the surviving lists are bounded by maxDf
    val grams = Layouts.fanOutByKey(
        df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol),
        explode(array_distinct(GraftFunctions.fingerprint(col(textCol), k, window)))
          .as("__gh"))
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("__gh")))
      .where(col("__df").between(2, maxDf))
    // pairs come from exploding each gram's bounded id list twice —
    // the same (id_a < id_b) pair multiset the aliased self-join
    // produced, without its second scan, second shuffle, or build-side
    // broadcast of the full stream
    grams.groupBy(col("__gh")).agg(collect_list(col(idCol)).as("__ids"))
      .select(col("__gh"), col("__ids"), explode(col("__ids")).as("id_a"))
      .select(col("__gh"), col("id_a"), explode(col("__ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__gh"))
  }
}
