package graft.queries

import graft.convert.ArchiveConverter
import graft.core.{ConvertOptions, IncludeType}
import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{AnnIndex, Dedup, MultiModal, Packing, Quality, Sampling, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import scala.collection.immutable.ListMap

/** Similarity / ANN family: brute-force cosine, sign-LSH, IVF (flat and
  * trained), SemDeDup, embedding near-dup.
  *
  * One trait of the [[Inventory]] registry split (r12 verdict #7):
  * the single `queries` ListMap + `oracleSql` map in [[Inventory]]
  * remain the registry face; the linear trait chain preserves the
  * original member initialization order.
  */
private[queries] trait InventorySimilarity extends InventoryDedup {


  private[queries] val OnesQuery: Array[Double] = Array.fill(64)(1.0)

  /** The at-rest top-10 of [[OnesQuery]] over 4 probed cells
    * ([[graft.ops.AnnIndex.probe]], one query), as (vec_id, adc).
    */
  private def onesProbe(s: SparkSession, path: String,
      filter: Option[Column] = None): DataFrame =
    AnnIndex.open(s, path, "vec_id")
      .probe(Seq(0L -> OnesQuery), k = 10, nprobe = 4, filter = filter)
      .drop("query_id")


  private[queries] def q14(s: SparkSession, d: String): DataFrame =
    Similarity.cosineTopK(t(s, d, "embeddings"), "vec_id", "embedding", OnesQuery, 10)


  private[queries] def q23(s: SparkSession, d: String): DataFrame =
    // h=8 / probe<=2 scans ~37/256 ≈ 14% of buckets — good recall at
    // this corpus size while still pruning 86% of the scan
    Similarity.annLshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      OnesQuery, k = 10, dim = 64, h = 8, probeHamming = 2)


  private[queries] def q25(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDupPairsExact(t(s, d, "embeddings"), "vec_id", "embedding",
      threshold = 0.45)
      .orderBy(col("id_a"), col("id_b"))


  /** The LSH-banded (scale-path) embedding near-dup variant of q25:
    * candidates = pairs colliding in >=1 of 8 8-bit sign-LSH tables,
    * verified by exact cosine. Oracle recomputes the same codes from
    * the inlined ±1 planes, so the result (candidates ∩ cos>=t) is
    * exact on both engines.
    */
  private[queries] def q31(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
      threshold = 0.45, dim = 64, tables = 8, bitsPerTable = 8)
      .orderBy(col("id_a"), col("id_b"))


  /** IVF ANN ([[Similarity.ivfTopK]]): nearest-centroid cell
    * assignment over a 16-entry codebook, probe the 4 cells nearest
    * the query, exact re-rank inside. The oracle recomputes the
    * assignment and probe from the same deterministic codebook (the 16
    * smallest-id vectors).
    */
  private[queries] def q37(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      OnesQuery, k = 10, nlist = 16, nprobe = 4)


  /** PQ/ADC ANN ([[Similarity.pqAdcTopK]], Jégou et al. TPAMI 2011):
    * each 64-dim vector quantizes to 8 subspace codes (16 centroids
    * per subspace — 4 bits each, 256 bytes → 4 at rest); the query
    * never decodes — its distance to a row is 8 lookups into the
    * precomputed query-to-centroid table, summed. The oracle
    * recomputes everything from the same deterministic codebooks (the
    * q37 rule: subspace slices of the 16 smallest-id vectors):
    * per-subspace argmin assignment, the ADC table, and the ordered
    * lookup sum — encode AND asymmetric distance are both
    * load-bearing.
    */
  private[queries] def q129(s: SparkSession, d: String): DataFrame =
    Similarity.pqAdcTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      OnesQuery, k = 10, m = 8, ks = 16)


  /** IVF-PQ ([[Similarity.ivfPqTopK]]): q37's coarse probe pruning
    * the scan to 4 of 16 cells, q129's PQ/ADC ranking inside — the
    * composed FAISS IndexIVFPQ shape. The oracle chains both halves'
    * already-proven CTEs: q37's cosine assignment + probe election,
    * then q129's encode/ADC restricted to the probed rows — so the
    * cell pruning and the quantized ranking are BOTH load-bearing in
    * one top-k.
    */
  private[queries] def q132(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      OnesQuery, k = 10, nlist = 16, nprobe = 4, m = 8, ks = 16)


  /** The IVF-PQ AT-REST read-back (q125's play for vectors): the
    * (vec_id, cell, code) layout is WRITTEN `partitionBy(cell)` —
    * codes only, no fp32 vectors — and the query is answered FROM THE
    * FILES: the probe prunes the listing to 4 of 16 cell directories
    * (plan-guarded `selectedPartitions`), and
    * [[graft.ops.AnnIndex.probe]] ranks the pre-encoded codes
    * without re-touching a vector. Same answer as q132's in-flight
    * face by construction, so the oracle SQL is shared — write,
    * layout, pruning and the coded scan must all land on the
    * recomputed CTE chain.
    */
  private[queries] def q135(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q135_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, out)
    onesProbe(s, out)
  }


  /** INCREMENTAL maintenance of the IVF-PQ at-rest layout
    * ([[graft.ops.AnnIndex.append]] — the q131 daily-ingest play for
    * vectors): the corpus (vec_id % 5 != 0) is written
    * `partitionBy(cell)` as `gen0` of a pointered store root with
    * codebooks trained on it, the increment (vec_id % 5 = 0) is encoded
    * with the handle's SAME stored codebooks — no retraining, no corpus
    * re-read — and appended as batch 0's own increment directory; the
    * probe then answers over corpus+increment FROM THE FILES. corpus ∪ increment = the whole table, so the oracle
    * is q135's proven CTE chain with only the codebook CTEs
    * restricted to the corpus predicate — the append is correct iff
    * the merged layout lands on the recomputed full-table top-k.
    */
  private[queries] def q138(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val incr = emb.where(col("vec_id") % 5 === 0)
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q138_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // overwrite clears any previous run's increment, so reruns stay
    // deterministic; the append itself never touches the corpus files
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    AnnIndex.open(s, base, "vec_id").append(incr, "embedding", 0L)
    onesProbe(s, base)
  }


  /** The SELF-CONTAINED at-rest probe ([[graft.ops.AnnIndex.open]]
    * — round 14): [[Similarity.writeIvfPqPartitioned]] persists the
    * codebooks INSIDE the layout (`_codebooks` sidecar), and the query
    * answers from the files alone — codebooks loaded back (exact
    * double round-trip), cells pruned, codes ranked — with nothing
    * handed over out of band and nothing retrained. Shares q132/q135's
    * oracle: the loaded-codebook probe must land on the same
    * recomputed top-k, so persistence, read-back and the probe are all
    * load-bearing.
    */
  private[queries] def q143(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q143_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, out)
    onesProbe(s, out)
  }


  /** COMPACTION of the appended ANN layout
    * ([[graft.ops.AnnIndex.compact]] — the LSM small-files play):
    * q138's corpus-write + increment-append, then `gen0` is compacted
    * into `gen1` (base and batch codes rewritten one-file-per-cell,
    * nothing re-encoded, sidecar carried, the batch recorded as folded,
    * no increment left, pointer swapped) and the probe of the store
    * root answers from `gen1` alone (the sidecar and the folded batch
    * are load-bearing). Shares q138's oracle: a rewrite that loses,
    * duplicates or re-cells a single code row lands off the recomputed
    * top-k.
    */
  private[queries] def q144(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val incr = emb.where(col("vec_id") % 5 === 0)
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q144_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    AnnIndex.open(s, base, "vec_id").append(incr, "embedding", 0L)
    AnnIndex.open(s, base, "vec_id").compact()
    onesProbe(s, base)
  }


  /** RESIDUAL-encoded IVF-PQ ([[Similarity.ivfPqResidualTopK]] — the
    * full FAISS IndexIVFPQ algorithm: q132 quantizes raw vectors,
    * this face quantizes `v - centroid(cell(v))`, the encoding that
    * makes one shared code table describe within-cell structure).
    * The oracle restates the whole chain: q37's assignment + probe,
    * the residual codebook (residuals of the 16 smallest-id vectors
    * under their assigned centroids), per-(cell, subspace) argmin in
    * combined coordinates, the per-probed-cell ADC tables, and the
    * m-ordered lookup sum — coarse assignment, residual derivation,
    * encode and asymmetric distance ALL load-bearing in one top-k.
    */
  private[queries] def q147(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqResidualTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      OnesQuery, k = 10, nlist = 16, nprobe = 4, m = 8, ks = 16)


  /** FILTERED ANN at rest ([[Similarity.writeIvfPqPartitioned]]'s
    * `keep` + [[graft.ops.AnnIndex.probe]]'s `filter` — round 14):
    * the layout carries a metadata column (`grp = vec_id % 4`, the
    * stand-in for language/source/license tier), and the probe asks
    * for top-k AMONG `grp = 1` rows only — the predicate evaluated on
    * the scan (pushed to parquet, plan-guarded) over probed cells, so
    * a filtered query never post-ranks-and-re-queries. The oracle is
    * the q132/q135 chain with the SAME predicate on the probed-row
    * CTE: metadata carry, pushdown and restricted ranking all
    * load-bearing in one top-k.
    */
  private[queries] def q146(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
      .withColumn("grp", pmod(col("vec_id"), lit(4L)))
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q146_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, out, keep = Seq("grp"))
    onesProbe(s, out, filter = Some(col("grp") === 1L))
  }


  /** RESIDUAL codes AT REST ([[Similarity.writeIvfPqResidualPartitioned]]
    * — round 15): q147's strictly-better residual quantizer persisted
    * in the q135 `partitionBy(cell)` layout. The corpus
    * (vec_id % 5 != 0) is written with residual codes and the
    * `kind='rpq'` sidecar, the increment (vec_id % 5 = 0) is
    * residual-encoded with the SAME stored codebooks and appended as
    * batch 0's own increment directory ([[graft.ops.AnnIndex.append]],
    * whose handle reads the rpq tables off the sidecar), and the probe
    * answers over base ∪ increment from
    * the files alone ([[graft.ops.AnnIndex.probe]], which reads the
    * 'rpq' kind off the sidecar: per-probed-cell residual ADC tables
    * selected by the partition column). Write, no-retrain append, sidecar round-trip
    * and the residual-coordinate ranking are ALL load-bearing in one
    * top-k — the oracle restates the whole chain in residual
    * coordinates with codebook CTEs restricted to the corpus half
    * (q138's play for the q147 encoder).
    */
  private[queries] def q148(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val incr = emb.where(col("vec_id") % 5 === 0)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 16)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q148_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    AnnIndex.open(s, base, "vec_id").append(incr, "embedding", 0L)
    onesProbe(s, base)
  }


  /** TOMBSTONES for the ANN layout ([[graft.ops.AnnIndex.compact]]'s
    * `dropIds` — round 15): [[graft.ops.Cdc.snapshotDiff]] classifies
    * removed ids, and compaction is where the at-rest index retires
    * them (the LSM tombstone discipline). The full corpus is written
    * `partitionBy(cell)`, the removed set (vec_id % 7 = 0) is dropped
    * DURING the compaction rewrite, and the probe answers from the
    * compacted generation alone — a retired id surviving the rewrite
    * lands off the recomputed top-k (the oracle ranks only surviving
    * rows through full-corpus codebooks), even though the probe never
    * re-filters anything.
    */
  private[queries] def q149(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q149_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    val removed = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    AnnIndex.open(s, base, "vec_id").compact(dropIds = Some(removed))
    onesProbe(s, base)
  }


  /** QUANTIZATION-DRIFT metric ([[Similarity.quantizationDrift]] —
    * round 17): the number behind [[graft.ops.AnnIndex.maintain]]'s
    * append-or-rebuild decision. Codebooks (coarse, raw
    * PQ and residual PQ — the q132/q148 deterministic stand-ins) are
    * built on the corpus half (vec_id % 5 != 0), and the report is
    * the mean ADC reconstruction error of BOTH quantizer kinds split
    * by cohort: the trained corpus vs the appended batch (vec_id %
    * 5 = 0) — exactly the two numbers whose gap triggers a re-train.
    * The oracle restates the error arithmetic from the proven
    * q129/q148 CTEs: per-(vector, subspace) the distance to EVERY
    * codebook entry, min over entries (the argmin distance IS the
    * reconstruction error — no code round-trip), summed in subspace
    * order, averaged per cohort.
    */
  private[queries] def q151(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 8, ks = 16)
    Similarity.quantizationDrift(
      emb.withColumn("cohort",
        when(col("vec_id") % 5 === 0, lit("batch")).otherwise(lit("corpus"))),
      "embedding", "cohort", ivfCb, pqCb, rcb)
      .orderBy(col("cohort"))
  }


  /** SemDeDup ([[Similarity.semDedup]], arXiv:2303.09540): semantic
    * dedup = IVF-cell clustering (the q37 deterministic codebook, so
    * the oracle can reproduce the assignment) → within-cell exact
    * cosine pairs at the q25/q31 threshold → one min-id survivor per
    * connected duplicate group. Output = (vec_id, cell) of survivors;
    * the oracle chains q37's assignment CTE, q31's pair arithmetic
    * (within cells only) and q75's closure + loser anti-join.
    */
  private[queries] def q77(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val cb = Similarity.ivfCodebook(emb, "vec_id", "embedding", nlist = 16)
    Similarity.semDedup(emb, "vec_id", "embedding", cb, threshold = 0.45)
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }


  /** DRIFT-GATED maintenance ([[graft.ops.AnnIndex.maintain]] — the q140
    * incremental-refresh play for vectors, composing q138's append
    * with q151's drift metric into the append-or-rebuild decision
    * FAISS leaves to the caller): both regimes demonstrated against
    * the same corpus layout. The in-distribution batch (vec_id % 5 =
    * 0) appends — its error under the STORED codebooks sits within
    * 2x of what batch-fitted codebooks achieve; the drifted batch
    * (same vectors shifted +4.0 per coordinate, ids offset) rebuilds
    * — the stored tables describe it ~1000x worse. The oracle
    * restates all four error terms from q151's proven min-over-
    * entries arithmetic (batch-fitted codebooks = the batch's own 16
    * smallest-id vectors; the drifted pair shifts vector AND codebook
    * the same way the engine does, in double) and the 2.0-threshold
    * decision CASE — so the error arithmetic, the threshold
    * comparison and both actions are load-bearing in one hash. All
    * vectors pass through an explicit double cast so engine and
    * oracle shift in the SAME precision (a float-typed +4.0 would
    * round where DuckDB's ::DOUBLE + 4.0 does not).
    */
  /** STREAMING ANN ingest
    * ([[graft.streaming.StreamingSimilarity.incrementalAnnStream]] —
    * round 18, the q154 play for vectors): the corpus (vec_id % 5 !=
    * 0) is written at rest with its `_codebooks` sidecar; the
    * increment rows arrive as TWO ordered micro-batches (vec_id % 10
    * = 0, then % 10 = 5 — staged files with ordered mtimes,
    * `maxFilesPerTrigger = 1`), each encoded with the STORED sidecar
    * codebooks and landed in the increment directory the batch owns;
    * the probe then answers over base + increments. corpus ∪ batches
    * = the whole table, so the oracle is EXACTLY q138's: the streamed
    * layout is correct iff it lands on the recomputed full-table
    * top-k with corpus-trained codebooks — encode-with-stored-tables,
    * batch placement, increment visibility and the probe are all
    * load-bearing. Stream state (checkpoint, increments) is rebuilt
    * fresh per run; the corpus layout and staged sources are cached
    * behind a marker (the q154 harness discipline).
    */
  private[queries] def q157(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q157_stream"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    def rm(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Seq("/ckpt", "/layout/" + graft.ops.Layouts.IncrementsDir)
      .foreach(sfx => rm(base + sfx))
    val fixturesOk = new java.io.File(base + "/_fixtures_ok")
    if (!fixturesOk.exists()) {
      Seq("/src", "/layout").foreach(sfx => rm(base + sfx))
      val corpus = emb.where(col("vec_id") % 5 =!= 0)
      val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
        "embedding", nlist = 16, m = 8, ks = 16)
      Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
        ivfCb, pqCb, base + "/layout")
      val srcDir = new java.io.File(base + "/src"); srcDir.mkdirs()
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmpd = new java.io.File(base + "/stage_" + name)
        rm(tmpd.getAbsolutePath)
        df.coalesce(1).write.parquet(tmpd.getAbsolutePath)
        val part = tmpd.listFiles().filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(srcDir, name + ".parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(mtime)
        rm(tmpd.getAbsolutePath)
      }
      val t0 = System.currentTimeMillis() - 120000
      stage(emb.where(col("vec_id") % 10 === 0), "a", t0)
      stage(emb.where(col("vec_id") % 10 === 5), "b", t0 + 60000)
      fixturesOk.createNewFile()
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base + "/src")
    withStreamPartitions(s, 8) {
      val q = graft.streaming.StreamingSimilarity.incrementalAnnStream(
        src, base + "/layout", base + "/ckpt", "vec_id", "embedding").start()
      val done = q.awaitTermination(300000)
      if (!done) q.stop()
      require(done,
        "q157: the availableNow stream did not terminate within 300 s")
    }
    onesProbe(s, base + "/layout")
  }


  private[queries] def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val indist = emb.where(col("vec_id") % 5 === 0)
    val drifted = indist.select((col("vec_id") + 10000L).as("vec_id"),
      transform(col("embedding"), x => x + lit(4.0)).as("embedding"))
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q156_layout"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // ONE corpus generation serves both regimes: the in-distribution
    // regime appends into gen0 first, then the drift regime's rebuild
    // writes gen1 and moves the pointer off gen0 (overwrite-on-rerun
    // and the re-pointing keep the whole query deterministic). Both
    // regimes' errors depend only on gen0's codebooks and the batch.
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    val index = AnnIndex.open(s, base, "vec_id")
    // the corpus argument is consumed ONLY by the rebuild path's
    // retrain-and-rewrite, and q156's oracle pins the DECISION terms
    // (action, stored_err, fresh_err — none depend on it); the full
    // corpus-wide rebuild is q158's seat, so this one hands the
    // drift regime a narrow slice and keeps the sweep cost on the
    // decision it actually proves (round-19 trim, VERDICT r18 #6)
    val slice = corpus.where(col("vec_id") % 50 === 1)
    val ra = index.maintain(corpus, indist, "embedding", 0L)
    val rb = index.maintain(slice, drifted, "embedding", 1L)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq(("indist", ra.action, r6(ra.storedErr), r6(ra.freshErr)),
        ("drift", rb.action, r6(rb.storedErr), r6(rb.freshErr)))
      .toDF("regime", "action", "stored_err", "fresh_err")
      .orderBy(col("regime"))
  }


  /** [[graft.ops.AnnIndex.maintain]]'s REBUILD PATH at production
    * geometry (q156 pins the decision; this seat pins the retrain +
    * generation swap end-to-end at nlist=16, multi-cell): the drifted
    * batch keeps its ORIGINAL ids (vec_id % 5 = 0, +4.0 per
    * coordinate), so the deterministic smallest-id retrain over
    * corpus ∪ batch derives codebooks that MIX raw and drifted
    * vectors — genuinely different tables from gen0's, making the
    * retrain itself load-bearing, not just the file swap. The output
    * is the q132 probe OVER THE NEW GENERATION; the oracle recomputes
    * the whole chain (union table, union-trained codebooks,
    * assignment, probe, encode, ADC) — a rebuild that reused stale
    * codebooks, dropped a cohort, or mis-celled one row lands off
    * this top-k.
    */
  private[queries] def q158(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val drifted = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(4.0)).as("embedding"))
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q158_rebuild"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    // the POINTERED lifecycle (round 20): the store root's _current is
    // initialised at gen0, the rebuild derives gen1 and swaps the
    // pointer INSIDE its quiesce window, and the probe below addresses
    // the ROOT — answering from the new generation purely through the
    // pointer, with no path handed across the swap by hand
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    val r = AnnIndex.open(s, base, "vec_id").maintain(corpus, drifted,
      "embedding", 0L)
    require(r.action == "rebuild" && r.layout == base + "/gen1",
      s"q158 expects the drifted batch to trigger the rebuild path, got $r")
    onesProbe(s, base)
  }


  /** The COMPOSED maintenance loop
    * ([[graft.ops.AnnIndex.maintainFromDriftSeries]] — the monitoring job that
    * closes q156 + q157 into one lifecycle): four micro-batches land
    * through the streaming ingest face, each writing its one-row
    * drift report; the monitor then thresholds median-of-last-2
    * against median-of-first-2 and (here) fires the rebuild. The
    * oracle recomputes all four per-batch errors from q151's proven
    * min-over-entries arithmetic under the CORPUS codebooks, takes
    * the same medians and restates the decision CASE — the per-batch
    * drift metric, the series ordering, the window medians and the
    * threshold comparison are all load-bearing in one hash.
    */
  private[queries] def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(corpus, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q159_monitor"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // fresh generation + drift series per run: ingestBatch overwrites
    // per-batch directories idempotently, and the gen0 rewrite clears
    // any prior run's increments wholesale
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    graft.ops.Layouts.delete(s, base + "/drift")
    // the monitor refuses to overwrite an existing rebuild target (a
    // crashed-rebuild guard); a rerun is a fresh lifecycle, so clear it
    graft.ops.Layouts.delete(s, base + "/gen1")
    def shifted(mod: Long, off: Double, idOff: Long) =
      emb.where(col("vec_id") % 10 === mod)
        .select((col("vec_id") + idOff).as("vec_id"),
          transform(col("embedding"), x => x + lit(off)).as("embedding"))
    val batches = Seq(
      shifted(0L, 0.0, 0L), shifted(5L, 0.0, 0L),          // in-distribution
      shifted(0L, 4.0, 10000L), shifted(5L, 4.0, 20000L))  // drifted
    batches.zipWithIndex.foreach { case (b, i) =>
      graft.streaming.StreamingSimilarity.ingestBatch(b, i.toLong,
        base, "vec_id", "embedding", Some(base + "/drift"))
    }
    val r = AnnIndex.open(s, base, "vec_id").maintainFromDriftSeries(
      base + "/drift", emb, "embedding", window = 2)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((r.action, r6(r.baselineErr), r6(r.trailingErr), r.batches))
      .toDF("action", "baseline_err", "trailing_err", "batches")
  }


  /** MULTI-QUERY batched ANN ([[graft.ops.AnnIndex.probe]] with two queries
    * — round 19, the offline-retrieval shape): two query vectors with
    * DISJOINT probe sets (all-ones and all-minus-ones — opposite
    * cosine orderings over the coarse centroids, so the probe picks
    * the top-4 cells for one and the bottom-4 for the other) answered
    * from ONE scan of the union of their probed cells. The oracle
    * recomputes both probe sets, both per-query ADC tables and both
    * top-k rankings from the shared encode chain — the union-cell
    * pruning, the per-query cell masking and the per-query ranking
    * are all load-bearing: a row ranked by the wrong query's table,
    * or leaked across probe sets, lands off this result.
    */
  private[queries] def q160(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q160_batch"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, base + "/layout")
    val qs = Seq(1L -> OnesQuery, 2L -> Array.fill(64)(-1.0))
    AnnIndex.open(s, base + "/layout", "vec_id").probe(qs, k = 5, nprobe = 4)
      .orderBy(col("query_id"), col("adc"), col("vec_id"))
  }


  /** KIND-AWARE, INCREMENTS-AWARE batched probe (round 20 —
    * [[graft.ops.AnnIndex.probe]] over an 'rpq' layout):
    * q160's two-query offline-retrieval chain in RESIDUAL coordinates
    * over a layout holding committed STREAMING increments. The corpus
    * (vec_id % 5 != 0) is written residual-encoded; the % 5 == 0
    * cohort arrives as two streamed micro-batches (% 10 == 0 then
    * % 10 == 5) through the kind-aware ingest face (which must pick
    * the residual encoder off the sidecar tag); both query vectors
    * (opposite probe sets, as in q160) answer from ONE scan of
    * base + increments pruned to the union of their probed cells,
    * each ranked by its own per-probed-cell residual ADC tables. The
    * oracle fuses q148's residual-at-rest CTEs (corpus-trained
    * codebooks, all vectors encoded) with q160's per-query probe
    * masking — the streamed encode, the increment merge, the union
    * pruning and both residual rankings are all load-bearing in one
    * hash.
    */
  private[queries] def q161(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") % 5 =!= 0)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 16)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q161_rbatch"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // the overwrite clears any prior run's increments wholesale, so a
    // rerun is a fresh lifecycle
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/layout")
    Seq(0L -> 0L, 1L -> 5L).foreach { case (batchId, mod) =>
      graft.streaming.StreamingSimilarity.ingestBatch(
        emb.where(col("vec_id") % 10 === mod), batchId, base + "/layout",
        "vec_id", "embedding", None)
    }
    val qs = Seq(1L -> OnesQuery, 2L -> Array.fill(64)(-1.0))
    AnnIndex.open(s, base + "/layout", "vec_id").probe(qs, k = 5, nprobe = 4)
  }


  /** recall@k (round 20 — [[Similarity.annRecallAtK]]): the quality
    * axis of the ANN surface, measured where the oracle can check it —
    * recall@10 of the in-flight IVF-PQ probe against the exact cosine
    * top-10 (q14's proven ranking) at two nprobe settings. Both sides
    * are deterministic (stand-in codebooks, fixed query), so the
    * recall fractions are exact numbers, not estimates: the oracle
    * recomputes the exact list, both probed ADC rankings (q132's chain
    * with the probe LIMIT parametrised) and the intersection counts.
    * nprobe = 16 probes every cell, isolating pure PQ ranking loss;
    * nprobe = 4 adds the coarse probe's pruning loss on top. (On this
    * random fixture the stand-in quantizer's ranking loss dominates —
    * the ScaleEvidence `recall:` rung shows the tuning curve proper,
    * with trained codebooks and planted separable ground truth.)
    */
  private[queries] def q162(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", OnesQuery, 10)
    Seq(4, 16).map { np =>
      val approx = Similarity.ivfPqTopK(emb, "vec_id", "embedding", OnesQuery,
        k = 10, nlist = 16, nprobe = np, m = 8, ks = 16)
      Similarity.annRecallAtK(
        exact.select(lit(np.toLong).as("nprobe"), col("vec_id")),
        approx.select(lit(np.toLong).as("nprobe"), col("vec_id")),
        "nprobe", "vec_id", k = 10)
    }.reduce(_ unionByName _)
      .orderBy(col("nprobe"))
  }


  /** ADC shortlist + EXACT RE-RANK (round 20 —
    * [[graft.ops.AnnIndex.refine]], the FAISS IndexRefineFlat
    * pattern and the answer to the PQ ranking loss q162 measures):
    * the layout carries the full-precision vectors (`keep`), the
    * probe shortlists 40 candidates by ADC inside the probed cells,
    * and exact cosine re-ranks them for the final top-10. The oracle
    * restates both stages — the q132 ADC chain ordered by rounded
    * distance (ties by id) LIMIT 40, then q14's exact cosine over
    * exactly those ids LIMIT 10 — so the shortlist cutoff, the id
    * tie-order and the re-rank metric are all load-bearing in one
    * hash.
    */
  private[queries] def q164(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    val (ivfCb, pqCb) = Similarity.ivfAndPqCodebooks(emb, "vec_id",
      "embedding", nlist = 16, m = 8, ks = 16)
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q164_refine"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, base + "/layout", keep = Seq("embedding"))
    AnnIndex.open(s, base + "/layout", "vec_id")
      .refine(OnesQuery, k = 10, "embedding", shortlist = 40, nprobe = 4)
  }
}
