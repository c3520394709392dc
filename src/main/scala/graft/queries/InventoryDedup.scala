package graft.queries

import graft.convert.ArchiveConverter
import graft.core.{ConvertOptions, IncludeType}
import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{Dedup, MultiModal, Packing, Quality, Sampling, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.DecimalType

import scala.collection.immutable.ListMap

/** Deduplication family: exact winners, MinHash/LSH, SimHash, Jaccard
  * PPJoin, shared substrings, decontamination, line dedup, scrubbing,
  * connected components, verified winners, the Bloom gate.
  *
  * One trait of the [[Inventory]] registry split (r12 verdict #7):
  * the single `queries` ListMap + `oracleSql` map in [[Inventory]]
  * remain the registry face; the linear trait chain preserves the
  * original member initialization order.
  */
private[queries] trait InventoryDedup extends InventorySources {


  // -------------------------------------------------------------------
  // Q17+: training-data pipeline operators
  // -------------------------------------------------------------------

  private[queries] def q17(s: SparkSession, d: String): DataFrame =
    Dedup.exactWinners(t(s, d, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))


  private[queries] def q18(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupPairs(t(s, d, "documents"), "doc_id", "text", threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))


  private[queries] def q21(s: SparkSession, d: String): DataFrame =
    // maxHamming=3 with 5-chunk PAIR banding (C(5,2)=10 keys) is
    // pigeonhole-complete: <=3 flipped bits touch <=3 of the 5 chunks,
    // so >=2 chunks survive intact and their pair key collides — the
    // result equals the all-pairs Hamming filter the oracle computes
    Dedup.simhashNearDup(t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))


  private[queries] def q22(s: SparkSession, d: String): DataFrame = {
    // the winnowing fingerprint *set* per document: count + min/max of
    // distinct selected gram hashes (the set of per-window minima) —
    // md5-based gram hashes make this exactly reproducible in SQL
    val fp = GraftFunctions.fingerprint(col("text"))
    t(s, d, "documents")
      .select(col("doc_id"),
        coalesce(size(array_distinct(fp)).cast("long"), lit(0L)).as("n_fp"),
        array_min(fp).as("fp_min"),
        array_max(fp).as("fp_max"))
      .orderBy(col("doc_id"))
  }


  /** Connected components over the near-dup pair graph: each doc in a
    * pair gets the min doc_id reachable through pairs — the canonical
    * survivor of its dup cluster. The iterative label-propagation
    * DataFrame loop ([[Dedup.components]]) is checked against a
    * recursive-CTE transitive closure in the oracle.
    */
  private[queries] def q33(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.nearDupPairs(t(s, d, "documents"), "doc_id", "text", threshold = 0.8)
    Dedup.components(pairs).orderBy(col("id"))
  }


  /** n-gram Jaccard near-dup (brief's fourth dedup mode): exact
    * word-3-gram Jaccard with the provably-complete prefix filter —
    * the deterministic sibling of q18's MinHash+LSH (same similarity,
    * no hashing, no false-negative probability). The oracle computes
    * ALL pairs, so it checks the prefix filter's completeness, not
    * just the similarity arithmetic.
    */
  private[queries] def q44(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardNearDupPairs(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.7, shingleWidth = 3)
      .orderBy(col("id_a"), col("id_b"))


  /** Decontamination (cross-corpus near-dup removal): treat sources
    * src0/src1 as the held-out benchmark and drop their near-dups from
    * the rest of the corpus. The oracle recomputes contamination with
    * an ALL-pairs train x ref Jaccard join, so it checks the LSH
    * candidate generation's recall, not just the verify arithmetic.
    */
  private[queries] def q57(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val ref = docs.where(col("source").isin("src0", "src1"))
    val train = docs.where(!col("source").isin("src0", "src1"))
    Dedup.decontaminate(train, ref, "doc_id", "text", threshold = 0.8)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }


  /** Cross-document line-level dedup ([[Quality.stripBoilerplate]] —
    * C4-style boilerplate removal). Every document gets a shared nav
    * header and license footer injected; the op must strip exactly
    * those (document frequency 5000 >> minDocs=10) and return each
    * original text byte-identical — original lines repeat across far
    * fewer than 10 docs (the corpus's dup clusters are pairs/triples),
    * so nothing else crosses the threshold. The oracle restates the
    * whole pipeline relationally (explode with positions, document-
    * frequency HAVING, ordered string_agg reassembly).
    */
  private[queries] def q69(s: SparkSession, d: String): DataFrame = {
    val injected = t(s, d, "documents").select(col("doc_id"),
      concat_ws("\n", lit("NAV MENU"), col("text"),
        lit("COPYRIGHT 2024 EXAMPLE CORP")).as("text2"))
    Quality.stripBoilerplate(injected, "doc_id", "text2", minDocs = 10)
      .orderBy(col("doc_id"))
  }


  /** Verified-winner near-dup dedup
    * ([[Dedup.nearDupWinnersVerified]]): survivors of the exact
    * Jaccard >= 0.8 graph — each doc whose min reachable id through
    * verified pairs is itself. Unlike the bucket-exact
    * `nearDupWinners` (band-hash-dependent, rows-only checkable at
    * best), this survivor set is engine-independent: the oracle
    * recomputes it from q33's transitive closure with a final
    * loser anti-join.
    */
  private[queries] def q75(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupWinnersVerified(t(s, d, "documents"), "doc_id", "text", threshold = 0.8)
      .select(col("doc_id")).orderBy(col("doc_id"))


  /** Exact shared-substring pairs ([[Dedup.sharedSubstringPairs]],
    * Lee et al. 2021): documents sharing a verbatim 24-char
    * normalized run, df-capped at 64 docs per gram. Catches the long
    * quote / copied passage case whole-document Jaccard (q18/q44)
    * dilutes away.
    */
  private[queries] def q80(s: SparkSession, d: String): DataFrame =
    Dedup.sharedSubstringPairs(t(s, d, "documents"), "doc_id", "text",
      k = 24, maxDf = 64)
      .orderBy(col("id_a"), col("id_b"))


  /** Incremental Bloom dedup gate ([[graft.ops.Bloom.bloomGate]]):
    * incoming = re-keyed copies of corpus texts (must ALL drop — the
    * no-false-negative guarantee) + genuinely-new odd docs (kept
    * modulo the declared md5-deterministic false positives). The
    * corpus reduces to one 2^20-bit bitmap (map-side partial OR — the
    * only corpus-side exchange is one 128 KiB word array per
    * partition); the incoming side filters at scan speed against the
    * bitmap literal, zero exchanges.
    */
  private[queries] def q88(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.where(col("doc_id") % 2 === 0).select(col("text"))
    val incoming = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")))
    graft.ops.Bloom.bloomGate(corpus, incoming, "text")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }


  /** STREAMING Bloom admission gate (round 20 —
    * [[graft.streaming.StreamingBloomGate]], the third family on the
    * shared IncrementalIngest shell): q88's incremental-ingestion
    * pattern as a stream. The even-id corpus becomes an at-rest Bloom
    * index; batch 0 brings re-keyed corpus copies (must ALL drop — no
    * false negatives) plus the % 4 == 1 odd docs (admitted modulo the
    * declared md5-deterministic FPs); batch 1 brings re-keyed copies
    * of batch 0's odd docs (must drop against the UPDATED history —
    * the per-batch bitmap increments are load-bearing) plus the
    * % 4 == 3 odd docs. The oracle restates q88's position anti-join
    * over the BATCHED history: batch 0 against corpus positions alone,
    * batch 1 against corpus ∪ batch-0 positions.
    */
  private[queries] def q163(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val corpus = docs.where(col("doc_id") % 2 === 0).select(col("text"))
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q163_bloom"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // fresh lifecycle per run: the index overwrite clears its
    // increments wholesale; the admitted root is cleared explicitly
    graft.ops.Layouts.delete(s, base + "/admitted")
    graft.ops.Bloom.writeBloomIndex(corpus, "text", base + "/index")
    val b0 = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text")))
    val b1 = docs.where(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      .unionAll(docs.where(col("doc_id") % 4 === 3)
        .select(col("doc_id"), col("text")))
    graft.streaming.StreamingBloomGate.ingestBatch(b0, 0L,
      base + "/index", "text", base + "/admitted")
    graft.streaming.StreamingBloomGate.ingestBatch(b1, 1L,
      base + "/index", "text", base + "/admitted")
    FooterSchema.read(s, base + "/admitted")
      .select(col("ingest_batch").cast("long").as("ingest_batch"),
        col("doc_id"))
      .orderBy(col("ingest_batch"), col("doc_id"))
  }


  /** q62 fixture texts — inline literals (the synthetic documents
    * table contains no PII-shaped spans, so like q59 the query is
    * self-contained); chosen to exercise greedy-domain backtracking
    * (trailing dot after a TLD), multiple matches per row, parens and
    * separators inside phone spans, digit runs too short to redact,
    * and the email→IP→phone scrub order on a mixed row.
    */
  private[queries] val Q62Texts: Seq[(Long, String)] = Seq(
    1L -> "contact Jane Doe at jane.doe+spam@example.org or j.d@sub.example.co.uk.",
    2L -> "server 192.168.0.1 responded; fallback 10.0.0.255 timed out",
    3L -> "call +1 415 555 0132 or (020) 7946-0958 after hours",
    4L -> "no pii here, just text with 3 small numbers like 42",
    5L -> "mixed: bob@corp.io from 172.16.254.3 dialed 555-867-5309 twice")


  /** PII scrub (TextStats.scrubPii) — email/IPv4/phone redaction. */
  private[queries] def q62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Q62Texts.toDF("id", "text")
      .select(col("id"), TextStats.scrubPii(col("text")).as("scrubbed"))
      .orderBy(col("id"))
  }

  /** Leakage-free train/val/test split ([[Sampling.leakFreeSplit]]):
    * the deterministic hash split applied at NEAR-DUP-CLUSTER
    * granularity, so the two halves of a near-duplicate pair can
    * never straddle train and test (the contamination a per-doc
    * split bakes into every held-out metric). Composes q33's
    * verified-pair components with q76/q82's md5 split arithmetic:
    * cluster = min reachable id through Jaccard >= 0.8 pairs (docs in
    * no pair are their own cluster), split = `md5_long62("13:" ||
    * cluster) % 100` → 80/10/10. The oracle restates the whole thing:
    * q33's recursive-CTE closure, a singleton-fill left join, and the
    * identical md5 bucket arithmetic — so cluster labels AND the
    * cluster-granular (not doc-granular) bucketing are both
    * load-bearing.
    */
  private[queries] def q128(s: SparkSession, d: String): DataFrame =
    Sampling.leakFreeSplit(t(s, d, "documents"), "doc_id", "text",
        threshold = 0.8, seed = "13", trainPct = 80, valPct = 10)
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))

  /** Incremental near-dup against the at-rest signature index
    * ([[Dedup.writeNearDupIndex]] + [[Dedup.incrementalNearDup]]) —
    * the daily-ingest shape: even-id documents are "the corpus",
    * their band signatures are WRITTEN to parquet once, and the
    * odd-id "new batch" joins its own signatures against the stored
    * rows (broadcast — the index side never shuffles), then verifies
    * exact Jaccard against only the matched corpus texts. The oracle
    * is the q18 rule across the parity split: all (even, odd) pairs
    * with Jaccard >= 0.8, min corpus id per new doc — so the index
    * write, the read-back, the banded candidacy (complete at 0.8,
    * the q18-verified property) and the verification all land in one
    * answer.
    */
  private[queries] def q131(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val old = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 2 === 1)
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q131_index"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Dedup.writeNearDupIndex(old, "doc_id", "text", out)
    Dedup.incrementalNearDup(s, out, old, batch, "doc_id", "text", threshold = 0.8)
      .orderBy(col("doc_id"))
  }

  /** The leak-free split answered FROM the at-rest signature index
    * (q128 + q131 composed — the r13 verdict's production gap: a
    * split that re-minhashes 100 TB pays the second signature pass
    * [[Dedup.writeNearDupIndex]] exists to avoid). The WHOLE corpus
    * is indexed once; [[Sampling.leakFreeSplit]] with `indexPath`
    * derives its verified pairs from the STORED (id, band, key) rows
    * ([[Dedup.nearDupPairsFromIndex]]) and shingles only
    * candidate-matched documents. The oracle is q128's exact chain
    * verbatim — the index path must land on the identical clusters
    * and buckets the from-raw-text path computes.
    */
  private[queries] def q141(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q141_index"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Dedup.writeNearDupIndex(docs, "doc_id", "text", out)
    Sampling.leakFreeSplit(docs, "doc_id", "text",
        threshold = 0.8, seed = "13", trainPct = 80, valPct = 10,
        indexPath = Some(out))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Verified near-dup WINNERS answered from the at-rest signature
    * index ([[Dedup.nearDupWinnersVerifiedFromIndex]] — q141's reuse
    * applied to the q75 dedup face): the survivor set must be
    * identical to q75's from-raw-text election, proven against the
    * same recursive-closure oracle verbatim.
    */
  private[queries] def q142(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val out = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q142_index"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    Dedup.writeNearDupIndex(docs, "doc_id", "text", out)
    Dedup.nearDupWinnersVerifiedFromIndex(out, docs, "doc_id", "text",
        threshold = 0.8)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** TOMBSTONES for the signature index
    * ([[Dedup.compactNearDupIndex]]'s `dropIds` — round 15, the text
    * sibling of q149): the corpus is indexed once, a removed set
    * (doc_id % 3 = 0 — [[graft.ops.Cdc.snapshotDiff]]'s `removed`
    * class in production) is retired DURING the compaction rewrite,
    * and the pair query runs against the compacted generation with
    * the FULL corpus still on the verify side — candidates come only
    * from stored rows, so a retired id can never re-enter a pair even
    * when the caller forgets to filter the corpus. The oracle is
    * q18's exact-Jaccard chain restricted to surviving ids: one stale
    * signature row surviving the rewrite lands an extra pair.
    */
  private[queries] def q150(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q150_index"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    // a pointered store; a rerun rewrites gen0 and re-points first
    Dedup.writeNearDupIndex(docs, "doc_id", "text", base + "/gen0")
    graft.ops.Layouts.swapGenerationPointer(s, base, "gen0")
    val removed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    Dedup.compactNearDupIndex(s, base, dropIds = Some(removed))
    Dedup.nearDupPairsFromIndex(base, docs, "doc_id", "text",
        threshold = 0.8)
      .orderBy(col("id_a"), col("id_b"))
  }


  /** STREAMING incremental near-dup
    * ([[graft.streaming.StreamingDedup.incrementalNearDupStream]] —
    * round 17): the q131 daily-ingest loop as a foreachBatch stream.
    * The corpus third (doc_id % 3 = 0) is indexed at rest; the two
    * batch thirds arrive as ORDERED micro-batches (staged files with
    * ordered mtimes, `maxFilesPerTrigger = 1`): batch A (% 3 = 1)
    * dedups against the corpus alone, then becomes history — its
    * signatures append to the index, its text to the corpus store —
    * and batch B (% 3 = 2) dedups against corpus ∪ A. The oracle
    * restates exactly that history discipline: for each batch doc,
    * dup_of = min older-history id with exact Jaccard >= 0.8 (q18's
    * proven shingle arithmetic), history(A) = corpus,
    * history(B) = corpus ∪ A — so batch ordering, the
    * signatures-become-history append AND the min-id election are all
    * load-bearing per verdict row. Every piece of stream state
    * (checkpoint, index, corpus store, verdicts) is rebuilt fresh per
    * run, so the query is deterministic and rerunnable.
    */
  private[queries] def q154(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val base = new java.io.File(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft_q154_stream"),
      java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
    def rm(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    // fresh PER-RUN state: checkpoint (a stale one would replay
    // nothing), verdicts, and the increment directories the stream
    // appends under the corpus/index fixtures. The fixtures themselves
    // (corpus parquet, signature index, staged source files) depend
    // only on `d` and are CACHED across runs behind a marker — the
    // rebuild was ~40% of the query's wall time (r17 sweep), pure
    // harness cost, none of it the operator under test.
    Seq("/ckpt", "/out", "/corpus/" + graft.ops.Layouts.IncrementsDir,
      "/idx/" + graft.ops.Layouts.IncrementsDir).foreach(sfx => rm(base + sfx))
    val fixturesOk = new java.io.File(base + "/_fixtures_ok")
    if (!fixturesOk.exists()) {
      Seq("/src", "/corpus", "/idx").foreach(sfx => rm(base + sfx))
      val corpus = docs.where(col("doc_id") % 3 === 0)
      corpus.write.mode("overwrite").parquet(base + "/corpus")
      Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx")
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
      // mtimes order the batches (maxFilesPerTrigger=1 processes
      // oldest-first); staleness across cached runs is irrelevant,
      // only the a-before-b ordering is load-bearing
      val t0 = System.currentTimeMillis() - 120000
      stage(docs.where(col("doc_id") % 3 === 1), "a", t0)
      stage(docs.where(col("doc_id") % 3 === 2), "b", t0 + 60000)
      fixturesOk.createNewFile()
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val src = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(base + "/src")
    withStreamPartitions(s, 8) {
      val q = graft.streaming.StreamingDedup.incrementalNearDupStream(
        src, base + "/corpus", base + "/idx", base + "/out", base + "/ckpt",
        "doc_id", "text").start()
      // a stream that has not finished in 300 s must FAIL, not let the
      // harness read a partial /out while the query keeps running
      val done = q.awaitTermination(300000)
      if (!done) q.stop()
      require(done,
        "q154: the availableNow stream did not terminate within 300 s")
    }
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("dup_of", LongType))))
      .parquet(base + "/out")
      .select(col("doc_id"), col("dup_of"))
      .orderBy(col("doc_id"))
  }
}
