package graft

import graft.core.ConvertOptions
import graft.ops.{AnnIndex, MultiModal}
import graft.streaming.StreamingConverter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming converter (availableNow trigger) and multimodal plumbing. */
class StreamingSpec extends AnyFunSuite with TempDirs {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("StreamingSpec")
    .getOrCreate()

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** One query through the index handle, as (vec_id, adc). */
  private def annProbe(path: String, query: Array[Double], k: Int,
      nprobe: Int): DataFrame =
    AnnIndex.open(spark, path, "vec_id").probe(Seq(0L -> query), k, nprobe)
      .drop("query_id")

  private def tmp(prefix: String): java.io.File = tempDir(prefix).toFile

  test("streaming converter: path file -> walked parquet via availableNow") {
    import Fixtures._
    // one archive on disk
    val arch = new java.io.File(tmp("graft_sarch"), "in.tar.gz")
    val fos = new java.io.FileOutputStream(arch)
    fos.write(gzipData(tarArchive(Seq("s1" -> TestData, "s2" -> TestData))))
    fos.close()
    // drop its path into the streaming source dir
    val pathDir = tmp("graft_spaths")
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "batch1.txt").toPath, arch.getAbsolutePath + "\n")

    val out = tmp("graft_sout").getAbsolutePath
    val ckpt = tmp("graft_sckpt").getAbsolutePath
    val entries = StreamingConverter.entryStream(spark, pathDir.getAbsolutePath,
      ConvertOptions(unique = true))
    val q = StreamingConverter.writer(entries, out, ckpt, availableNow = true).start()
    q.awaitTermination(120000)

    val got = spark.read.parquet(out)
    // s1 and s2 share content => unique dedups to 1 row
    assert(got.count() == 1)
    assert(got.select("path").head().getString(0).startsWith("s"))
  }

  test("checkpoint recovery: restart resumes exactly-once, dedup state survives") {
    import Fixtures._
    val archDir = tmp("graft_srec")
    def mkArch(name: String, members: Seq[(String, Array[Byte])]): String = {
      val f = new java.io.File(archDir, name)
      val fos = new java.io.FileOutputStream(f)
      fos.write(gzipData(tarArchive(members))); fos.close()
      f.getAbsolutePath
    }
    val arch1 = mkArch("in1.tar.gz", Seq(
      "a.txt" -> "first batch content".getBytes("UTF-8"),
      "dup.txt" -> TestData))
    // the restart batch carries NEW content plus a cross-batch
    // duplicate of batch 1's TestData
    val arch2 = mkArch("in2.tar.gz", Seq(
      "b.txt" -> "second batch content".getBytes("UTF-8"),
      "dup2.txt" -> TestData))

    val pathDir = tmp("graft_srec_paths")
    val out = tmp("graft_srec_out").getAbsolutePath
    val ckpt = tmp("graft_srec_ckpt").getAbsolutePath
    def runOnce(): Unit = {
      val entries = StreamingConverter.entryStream(spark, pathDir.getAbsolutePath,
        ConvertOptions(unique = true))
      val q = StreamingConverter.writer(entries, out, ckpt, availableNow = true).start()
      q.awaitTermination(120000)
      q.stop()
    }

    // first run: half the work, then the query stops (availableNow)
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "batch1.txt").toPath, arch1 + "\n")
    runOnce()
    assert(spark.read.parquet(out).count() == 2)

    // backlog arrives while "down"; restart from the SAME checkpoint
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "batch2.txt").toPath, arch2 + "\n")
    runOnce()

    val got = spark.read.parquet(out)
    // exactly-once: batch 1 not reprocessed (else a/dup would repeat);
    // the checkpointed dedup STATE survives the restart (dup2's
    // content hash was first seen before the stop, so it is dropped)
    assert(got.count() == 3, got.collect().mkString(", "))
    assert(got.select("path").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a.txt", "b.txt", "dup.txt"))
  }

  test("WARC->WET streaming: clean text per crawl file, batch --wet parity") {
    val f1 = graft.queries.Inventory.buildWetWarcFixture()
    val pathDir = tmp("graft_swet_paths")
    val out = tmp("graft_swet_out").getAbsolutePath
    val ckpt = tmp("graft_swet_ckpt").getAbsolutePath
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "b1.txt").toPath, f1 + "\n")
    val s = StreamingConverter.wetStream(spark, pathDir.getAbsolutePath)
    val q = StreamingConverter.writer(s, out, ckpt, availableNow = true).start()
    q.awaitTermination(120000); q.stop()
    val got = spark.read.parquet(out)
    // the q122 fixture: 8 pages with extractable content, c09 gated out
    assert(got.count() == 8, got.collect().mkString("\n"))
    // batch parity: the (path, text sha256) set equals the --wet
    // converter's unique-by-text conversion of the same WARC
    val batchSet = graft.convert.ArchiveConverter.filteredEntries(spark,
        Seq(f1), graft.core.ConvertOptions(wet = true, unique = true,
          minSize = Some(1L)))
      .select(col("path"), lower(hex(col("hash"))).as("sha"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val gotSet = got.select(col("path"), col("wet_sha256"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotSet == batchSet, s"stream $gotSet vs batch $batchSet")
  }

  test("WARC->http_payload streaming: .warc.gz ingest, restart-surviving payload dedup, batch parity") {
    val f1 = graft.queries.Inventory.buildHttpWarcFixture()
    // a re-crawl: the same records re-served as a .warc.gz (the codec
    // sniff must decompress before the WARC walk, in-stream)
    val gzFile = new java.io.File(tmp("graft_swarc"), "recrawl.warc.gz")
    val fos = new java.io.FileOutputStream(gzFile)
    val gz = new java.util.zip.GZIPOutputStream(fos)
    gz.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f1)))
    gz.close()
    val pathDir = tmp("graft_swarc_paths")
    val out = tmp("graft_swarc_out").getAbsolutePath
    val ckpt = tmp("graft_swarc_ckpt").getAbsolutePath
    def runOnce(): Unit = {
      val s = StreamingConverter.httpPayloadStream(spark, pathDir.getAbsolutePath)
      val q = StreamingConverter.writer(s, out, ckpt, availableNow = true).start()
      q.awaitTermination(120000); q.stop()
    }
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "b1.txt").toPath, f1 + "\n")
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst > 0)
    // the re-crawl arrives while "down"; restart from the SAME
    // checkpoint — every payload digest is already in the state store
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "b2.txt").toPath, gzFile.getAbsolutePath + "\n")
    runOnce()
    val got = spark.read.parquet(out)
    assert(got.count() == afterFirst,
      "restart-surviving payload dedup must drop the whole re-crawl")
    // batch parity (the q38 rule): same digest set as the batch
    // equivalent over BOTH files
    val h = graft.functions.GraftFunctions.http_payload(col("content"))
    val batchSet = graft.convert.ArchiveConverter.entries(spark,
        Seq(f1, gzFile.getAbsolutePath), ConvertOptions()).toDF()
      .select(sha2(h.getField("payload"), 256).as("payload_sha256"),
        h.getField("status").as("status"),
        length(h.getField("payload")).cast("long").as("payload_size"))
      // same non-empty-response gate as the stream (empty-payload
      // warcinfo/request records must not occupy a dedup seat)
      .where(col("status").isNotNull && col("payload_size") > 0)
      .select("payload_sha256")
      .dropDuplicates("payload_sha256")
      .collect().map(_.getString(0)).toSet
    val gotSet = got.select("payload_sha256").collect().map(_.getString(0)).toSet
    assert(gotSet == batchSet)
  }

  test("chunked streaming ingest: oversize entries survive as content_part rows") {
    import Fixtures._
    val big = Array.tabulate[Byte](500)(i => (i * 11).toByte)
    val arch = new java.io.File(tmp("graft_schunk"), "in.tar.gz")
    val fos = new java.io.FileOutputStream(arch)
    fos.write(gzipData(tarArchive(Seq("big.bin" -> big, "small.txt" -> TestData))))
    fos.close()
    val pathDir = tmp("graft_schunk_paths")
    java.nio.file.Files.writeString(
      new java.io.File(pathDir, "b1.txt").toPath, arch.getAbsolutePath + "\n")
    val out = tmp("graft_schunk_out").getAbsolutePath
    val ckpt = tmp("graft_schunk_ckpt").getAbsolutePath

    val chunks = StreamingConverter.chunkedEntryStream(spark, pathDir.getAbsolutePath,
      graft.core.ConvertOptions(maxEntryBytes = 200L))
    val q = StreamingConverter.writer(chunks, out, ckpt, availableNow = true).start()
    q.awaitTermination(120000)
    q.stop()

    val got = spark.read.parquet(out)
    // 500 bytes at cap 200 -> 3 parts + the small entry's part 0
    assert(got.where(col("path") === "big.bin").count() == 3)
    assert(got.select(sum("size")).head().getLong(0) == 500L + TestData.length)
    // reassembly restores the exact original entry
    val back = graft.convert.ArchiveConverter.reassembleChunks(got)
      .where(col("path") === "big.bin").head()
    assert(back.getAs[Array[Byte]]("content").sameElements(big))
  }

  test("streaming skipErrors: a truncated input is skipped, the good input's rows land") {
    import Fixtures._
    val dir = tmp("graft_sskip")
    val good = new java.io.File(dir, "good.tar.gz")
    java.nio.file.Files.write(good.toPath,
      gzipData(tarArchive(Seq("ok.txt" -> "fine content".getBytes("UTF-8")))))
    // truncated gzip over incompressible bytes: the cut lands mid-entry,
    // so the walk fails with a read error, not a clean EOF
    val noise = new Array[Byte](256 * 1024)
    new java.util.Random(5L).nextBytes(noise)
    val full = gzipData(tarArchive(Seq("big.bin" -> noise)))
    val bad = new java.io.File(dir, "bad.tar.gz")
    java.nio.file.Files.write(bad.toPath, java.util.Arrays.copyOf(full, full.length / 2))
    val pathDir = tmp("graft_sskip_paths")
    java.nio.file.Files.writeString(new java.io.File(pathDir, "b1.txt").toPath,
      bad.getAbsolutePath + "\n" + good.getAbsolutePath + "\n")
    val out = tmp("graft_sskip_out").getAbsolutePath
    val ckpt = tmp("graft_sskip_ckpt").getAbsolutePath

    val entries = StreamingConverter.entryStream(spark, pathDir.getAbsolutePath,
      ConvertOptions(skipErrors = true))
    val q = StreamingConverter.writer(entries, out, ckpt, availableNow = true).start()
    q.awaitTermination(120000)
    q.stop()
    assert(q.exception.isEmpty, q.exception.toString)
    val got = spark.read.parquet(out)
    assert(got.select("path").collect().map(_.getString(0)).toSeq == Seq("ok.txt"))
  }

  test("streaming windowed counts match the batch shape") {
    import spark.implicits._
    val events = Seq(
      ("2024-01-01 00:10:00", "click"),
      ("2024-01-01 00:50:00", "click"),
      ("2024-01-01 01:10:00", "view")
    ).toDF("raw_ts", "event_type")
      .withColumn("ts", col("raw_ts").cast("timestamp"))
    val out = StreamingConverter.windowedEventCounts(events)
      .orderBy("ws", "event_type").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n") == 2) // two clicks in hour 0
  }

  test("streaming session windows: watermark + session_window on a file stream") {
    import org.apache.spark.sql.types._
    // events for one user: two sessions separated by > the 1h gap
    val srcDir = tmp("graft_sess_src")
    import spark.implicits._
    Seq(
      ("2024-01-01 00:00:00", 7L), ("2024-01-01 00:30:00", 7L), // session 1
      ("2024-01-01 05:00:00", 7L)                               // session 2
    ).toDF("raw_ts", "user_id")
      .withColumn("ts", col("raw_ts").cast("timestamp"))
      .select("ts", "user_id")
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType)))
    val sessions = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("graft_sess_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("graft_sess_sink").orderBy("ss").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("n") == 2 && got(1).getAs[Long]("n") == 1)
  }

  test("bloom gate filters a stream against a historical corpus bitmap") {
    // the gate's incoming side is a pure narrow filter (literal
    // bitmap), so it composes with readStream unchanged — the
    // incremental-ingestion shape: batch corpus, streaming shard
    import org.apache.spark.sql.types._
    import spark.implicits._
    val corpus = Seq("seen doc one", "seen doc two").toDF("text")
    val srcDir = tmp("graft_bloom_src")
    Seq(10L -> "seen doc one", 11L -> "fresh doc a", 12L -> "fresh doc b")
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(srcDir.getAbsolutePath)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val incoming = spark.readStream.schema(schema).parquet(srcDir.getAbsolutePath)
    val gated = graft.ops.Bloom.bloomGate(corpus, incoming, "text")
    assert(gated.isStreaming, "gating must not break the streaming plan")
    val q = gated.writeStream.format("memory").queryName("graft_bloom_sink")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("graft_bloom_sink").orderBy("doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(11L, 12L), "corpus duplicate dropped, fresh docs pass")
  }

  test("multimodal: meta struct, features, resize, frame sampling") {
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 0, 0, 0) ++ Array.fill[Byte](100)(7)
    val raw = Array.fill[Byte](5000)(42)
    val df = Seq((1L, png), (2L, raw)).toDF("id", "bytes")

    val meta = MultiModal.withImageMeta(df, "bytes")
    val m = meta.where(col("id") === 1).select("meta.format", "meta.n_bytes").head()
    assert(m.getString(0) == "png" && m.getLong(1) == 108L)

    val feats = MultiModal.imageFeatures(df, "bytes")
      .where(col("id") === 2).select("features").head().getSeq[Double](0)
    assert(feats.length == 4 && feats.take(3).forall(_ == 42.0))

    val resized = MultiModal.resizeTo(df, "bytes", 64)
    assert(resized.select(length(col("resized"))).collect().map(_.getInt(0)).forall(_ <= 64))

    val frames = MultiModal.sampleFrames(df.where(col("id") === 2), "bytes", n = 3, frameBytes = 1000)
    val fr = frames.select("frame_idx", "frame").collect()
    assert(fr.length == 3)
    assert(fr.forall(_.getAs[Array[Byte]]("frame").length == 1000))
  }

  test("cleaning pipeline runs as a stream: narrow stages + stateful dedup, batch parity") {
    // the q98 composition is streaming-executable as-is: html extract /
    // nfc / length gate are stateless projections, the exact-dedup
    // stage swaps the batch groupBy election for the streaming-native
    // dropDuplicates(hash) state store. availableNow over a parquet
    // dir must reproduce the batch run's kept id set.
    import spark.implicits._
    import graft.functions.GraftFunctions
    import graft.ops.Quality
    val srcDir = tmp("graft_cleansrc")
    val docs = (0L until 60L).map { i =>
      // plant exact duplicates: ids 40-59 repeat the text of 0-19
      val text = s"document body number ${i % 40} with enough words to pass the gate " * 4
      (i, text)
    }.toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(srcDir.getAbsolutePath)

    def clean(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(col("doc_id"),
          GraftFunctions.nfc_normalize(
            Quality.htmlToText(concat(lit("<p>"), col("text"), lit("</p>")))).as("clean"))
        .where(length(col("clean")) >= 120)
        .withColumn("h", md5(col("clean")))

    val stream = clean(spark.readStream
        .schema(docs.schema).parquet(srcDir.getAbsolutePath))
      .dropDuplicates("h")
    val q = stream.writeStream
      .format("memory").queryName("clean_stream")
      .option("checkpointLocation", tmp("graft_cleanckpt").getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").start()
    q.awaitTermination(60000)

    val streamed = spark.table("clean_stream")
      .select("h").collect().map(_.getString(0)).toSet
    val batch = clean(spark.read.parquet(srcDir.getAbsolutePath))
      .select("h").distinct().collect().map(_.getString(0)).toSet
    // 40 distinct texts, 20 of them duplicated: both modes keep one
    // representative per hash
    assert(batch.size == 40)
    assert(streamed == batch)
  }

  test("streaming incremental near-dup: batches dedup against history, restart resumes") {
    import spark.implicits._
    import graft.streaming.StreamingDedup
    val base = tmp("graft_snd").getAbsolutePath
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val u1 = "completely different text about distributed query engines and planners"
    val corpus = Seq(
      (10L, t0),
      (11L, "unrelated corpus text nothing shared with anything else at all here"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    // a pointered store root: the stream addresses the root, the base
    // generation is gen0 and the compaction below writes gen1
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    graft.ops.Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    val srcDir = new java.io.File(base + "/src"); srcDir.mkdirs()
    def stage(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val tmpd = new java.io.File(base + s"/stage$n")
      df.coalesce(1).write.parquet(tmpd.getAbsolutePath)
      val part = tmpd.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir.getAbsolutePath, s"b$n.parquet"))
    }
    def runStream(): Unit = {
      val src = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.getAbsolutePath)
      val q = StreamingDedup.incrementalNearDupStream(src, base + "/corpus",
        base + "/idx", base + "/out", base + "/ckpt", "doc_id", "text").start()
      q.awaitTermination(120000)
    }
    def verdicts(): Seq[(Long, Long)] = spark.read.parquet(base + "/out")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq.sorted
    // batch 1: doc 20 near-dups corpus doc 10; doc 21 is new material
    stage(Seq((20L, t0 + " extra"), (21L, u1)).toDF("doc_id", "text"), 1)
    runStream()
    assert(verdicts() == Seq(20L -> 10L))
    // the batch became history: text landed in the corpus store's
    // increment directory, signatures in the index's — both invisible
    // to plain reads of the base layouts, visible via the faces
    assert(spark.read.parquet(base + "/corpus").count() == 2)
    assert(graft.ops.Layouts.withIncrements(spark,
      spark.read.parquet(base + "/corpus"), base + "/corpus",
      Seq("doc_id", "text"), None).count() == 4)
    assert(graft.ops.Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 4)
    // restart from the same checkpoint: batch 1 is NOT reprocessed;
    // batch 2 dedups against corpus AND batch 1 (30 dups 21 — a doc
    // the index only knows from the previous micro-batch; 31 dups 10
    // with min-id election over the {10, 20} candidate set)
    stage(Seq((30L, u1 + " tail"), (31L, t0)).toDF("doc_id", "text"), 2)
    runStream()
    assert(verdicts() == Seq(20L -> 10L, 30L -> 21L, 31L -> 10L))
    // batch parity: the same batch through the batch face on the same
    // pre-batch-2 state (index and corpus with batch 2's own
    // increments excluded — exactly what the stream's step read)
    val expected = graft.ops.Dedup.incrementalNearDupAgainst(
        graft.ops.Dedup.nearDupIndexWithIncrements(spark, base + "/idx",
          excludeBatchId = Some(1L)),
        graft.ops.Layouts.withIncrements(spark,
          spark.read.parquet(base + "/corpus"), base + "/corpus",
          Seq("doc_id", "text"), excludeBatchId = Some(1L)),
        Seq((30L, u1 + " tail"), (31L, t0)).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(expected == Seq(30L -> 21L, 31L -> 10L))
    // compaction folds the increments into the next generation: the
    // compacted layout answers the same history as the faces, with
    // every batch folded and the newest, batch 1, recorded
    assert(graft.ops.Dedup.compactNearDupIndex(spark, base + "/idx") ==
      base + "/idx/gen1")
    assert(graft.ops.Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 6)
    assert(graft.ops.Layouts.incrementIds(spark, base + "/idx/gen1").isEmpty)
    assert(graft.ops.Layouts.foldedThrough(spark, base + "/idx/gen1") == Some(1L))
  }

  test("streaming ANN ingest: stored-codebook appends, restart resumes, drift reported, replay converges") {
    import spark.implicits._
    import graft.ops.Similarity
    import graft.streaming.StreamingSimilarity
    val base = tmp("graft_sann").getAbsolutePath
    // a pointered store root: the stream addresses the root, the base
    // generation is gen0 and the compaction below writes gen1
    val root = base + "/layout"
    val gen0 = root + "/gen0"
    val dim = 16
    // vectors deterministic PER ID, so a batch regenerates identically
    // for the crash-replay and batch-face parity checks below
    def vecs(n: Int, b: Long, off: Double) = (0 until n).map { i =>
      val id = b + i
      (id, Array.tabulate(dim)(j => math.sin(id * 0.7 + j * 1.3) + off))
    }
    val corpus = vecs(40, 0L, 0.0).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, gen0)
    graft.ops.Layouts.swapGenerationPointer(spark, root, "gen0")
    val srcDir = new java.io.File(base + "/src"); srcDir.mkdirs()
    def stage(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
      val tmpd = new java.io.File(base + s"/stage$n")
      df.coalesce(1).write.parquet(tmpd.getAbsolutePath)
      val part = tmpd.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir.getAbsolutePath, s"b$n.parquet"))
    }
    def runStream(): Unit = {
      val src = spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.getAbsolutePath)
      val q = StreamingSimilarity.incrementalAnnStream(src, root,
        base + "/ckpt", "vec_id", "embedding",
        driftOut = Some(base + "/drift")).start()
      assert(q.awaitTermination(120000), "ANN ingest stream did not finish")
    }
    val query = Array.fill(dim)(1.0)
    stage(vecs(10, 100L, 0.0).toDF("vec_id", "embedding"), 1)
    runStream()
    // the batch landed in its own increment directory: plain reads of
    // the layout stay base-only, the increments face sees 40 + 10
    assert(spark.read.parquet(gen0).count() == 40)
    val ids1 = annProbe(root, query, k = 50, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(ids1.exists(_ >= 100L), s"batch 1 invisible to the probe: $ids1")
    // restart from the same checkpoint: batch 1 NOT reprocessed, the
    // shifted batch 2 appends and its drift report lands per batch
    stage(vecs(10, 200L, 6.0).toDF("vec_id", "embedding"), 2)
    runStream()
    val counted = graft.ops.Layouts.withIncrements(spark,
      spark.read.parquet(gen0), gen0,
      Seq("vec_id", "cell", "code"), None)
    assert(counted.count() == 60)
    assert(counted.select("vec_id").distinct().count() == 60)
    val atRest = annProbe(root, query, k = 8, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    // batch parity: the SAME two batches through the batch face
    // (AnnIndex.append into a parallel layout) answer identically —
    // stream and batch ingest are the same operator
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/par")
    val par = AnnIndex.open(spark, base + "/par", "vec_id")
    par.append(vecs(10, 100L, 0.0).toDF("vec_id", "embedding"), "embedding", 0L)
    par.append(vecs(10, 200L, 6.0).toDF("vec_id", "embedding"), "embedding", 1L)
    val viaBatchFace = annProbe(base + "/par", query, k = 8, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(viaBatchFace == atRest, s"$viaBatchFace vs $atRest")
    // drift: one row per batch via the partition column; the shifted
    // batch scores worse under the stored codebooks
    val drift = spark.read.parquet(base + "/drift")
      .select("ingest_batch", "pq_err").as[(Long, Double)]
      .collect().toMap
    assert(drift.keySet == Set(0L, 1L), s"$drift")
    assert(drift(1L) > drift(0L) * 1.5, s"$drift")
    // crash-replay converges: re-running the newest batch (the only one
    // a checkpoint can replay) rewrites its directory wholesale — no
    // duplicated code rows, same probe
    StreamingSimilarity.ingestBatch(
      vecs(10, 200L, 6.0).toDF("vec_id", "embedding"), 1L,
      root, "vec_id", "embedding", Some(base + "/drift"))
    val again = annProbe(root, query, k = 8, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    val replayed = graft.ops.Layouts.withIncrements(spark,
      spark.read.parquet(gen0), gen0,
      Seq("vec_id", "cell", "code"), None)
    assert(replayed.count() == 60)
    assert(replayed.select("vec_id").distinct().count() == 60)
    // compaction folds the streamed increments into the next base
    // generation (quiesced stream), sidecar carried
    AnnIndex.open(spark, root, "vec_id").compact()
    val gen1 = root + "/gen1"
    assert(graft.ops.Layouts.withIncrements(spark, spark.read.parquet(gen1),
      gen1, Seq("vec_id", "cell", "code"), None).count() == 60)
    // every batch is folded; the newest, batch 1, is recorded
    assert(graft.ops.Layouts.incrementIds(spark, gen1).isEmpty)
    assert(graft.ops.Layouts.foldedThrough(spark, gen1) == Some(1L))
    val compacted = annProbe(root + "/gen1", query, k = 8, nprobe = 4)
      .as[(Long, Double)].collect().toSeq
    assert(compacted == atRest, s"$compacted vs $atRest")
    assert(again == atRest, s"$again vs $atRest")
  }

  test("ingest crash-replay converges: twins stay unique, self-pairs never eat a verdict") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts}
    import graft.streaming.StreamingDedup
    val base = tmp("graft_sndreplay").getAbsolutePath
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (10L, t0),
      (11L, "unrelated corpus text nothing shared with anything else at all here"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx")
    // one batch with BOTH r17 replay edges: docs 1/2 are same-batch
    // near-dup twins matching nothing in history, and doc 3's id
    // undercuts its true corpus partner 10 (the ADVICE verdict-loss
    // shape: a self-pair would win its min-id election)
    val twins = "same batch twin text that matches nothing stored in the corpus index yet"
    val b = Seq((1L, twins), (2L, twins + " tail"), (3L, t0 + " extra"))
      .toDF("doc_id", "text")
    def run(): Unit = StreamingDedup.ingestBatch(b, 5L, base + "/corpus",
      base + "/idx", base + "/out", "doc_id", "text", 0.8, 128, 32, 3, 4L << 20)
    def verdicts(): Seq[(Long, Long)] = spark.read.parquet(base + "/out")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq.sorted
    run()
    // twins dedup against HISTORY only (in-batch pairs are nearDupPairs'
    // job): both unique; doc 3 elects its real partner
    val first = verdicts()
    assert(first == Seq(3L -> 10L))
    // CRASH-REPLAY: the batch's signatures and text already landed
    // (run() completed both appends); re-running the same batchId must
    // converge — no twin classifying against its sibling, no self-pair
    // eating doc 3's verdict, no duplicated history rows
    run()
    assert(verdicts() == first)
    assert(Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 5)
    assert(Layouts.withIncrements(spark, spark.read.parquet(base + "/corpus"),
      base + "/corpus", Seq("doc_id", "text"), None).count() == 5)
    // the batch-face backstop (r17 ADVICE): even against a POISONED
    // index that already holds the batch's own rows, the election
    // excludes self-pairs — doc 3 still reaches 10, and the twins now
    // (correctly, given that index) elect each other instead of
    // themselves
    val poisoned = Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
    val v = Dedup.incrementalNearDupAgainst(poisoned,
        Layouts.withIncrements(spark, spark.read.parquet(base + "/corpus"),
          base + "/corpus", Seq("doc_id", "text"), None),
        b, "doc_id", "text")
      .as[(Long, Long)].collect().toSeq.sorted
    assert(v == Seq(1L -> 2L, 2L -> 1L, 3L -> 10L))
  }

  test("quiesce guard: appends refuse mid-compaction and resume after, both families") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts, Similarity}
    import graft.streaming.{StreamingDedup, StreamingSimilarity}
    val base = tmp("graft_quiesce").getAbsolutePath
    // --- ANN family ---
    val dim = 8
    def vecs(n: Int, b: Long) = (0 until n).map { i =>
      (b + i, Array.tabulate(dim)(j => math.sin((b + i) * 0.7 + j)))
    }
    val corpus = vecs(20, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 2)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2, ks = 4)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/ann/gen0")
    Layouts.swapGenerationPointer(spark, base + "/ann", "gen0")
    val batch = vecs(5, 100L).toDF("vec_id", "embedding")
    // a held marker makes every append face refuse, curated
    Layouts.acquireQuiesce(spark, base + "/ann/gen0", "test")
    val e1 = intercept[IllegalStateException] {
      StreamingSimilarity.ingestBatch(batch, 0L, base + "/ann",
        "vec_id", "embedding", None)
    }
    assert(e1.getMessage.contains(Layouts.QuiesceMarker), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      AnnIndex.open(spark, base + "/ann", "vec_id")
        .append(batch, "embedding", 0L)
    }
    assert(e2.getMessage.contains(Layouts.QuiesceMarker), e2.getMessage)
    // a second compaction cannot take a held marker (no double-fold)
    val e3 = intercept[IllegalStateException] {
      Layouts.acquireQuiesce(spark, base + "/ann/gen0", "second")
    }
    assert(e3.getMessage.contains("already holds"), e3.getMessage)
    // released -> the failed batch replays cleanly
    Layouts.releaseQuiesce(spark, base + "/ann/gen0")
    StreamingSimilarity.ingestBatch(batch, 0L, base + "/ann",
      "vec_id", "embedding", None)
    // the real compactor takes and releases the marker around the fold
    AnnIndex.open(spark, base + "/ann", "vec_id").compact()
    assert(!Layouts.exists(spark, base + "/ann/gen0/" + Layouts.QuiesceMarker))
    val annGen1 = base + "/ann/gen1"
    assert(Layouts.withIncrements(spark, spark.read.parquet(annGen1), annGen1,
      Seq("vec_id", "cell", "code"), None).count() == 25)
    // the only batch is folded and recorded
    assert(Layouts.incrementIds(spark, annGen1).isEmpty)
    assert(Layouts.foldedThrough(spark, annGen1) == Some(0L))
    // the in-flight handshake: an increment directory holding an
    // uncommitted write (Spark's _temporary staging) refuses the fold
    // even though the marker was free — folding a half-written batch
    // is silent data loss; the marker is still released on the refusal
    val inflight = new java.io.File(
      base + "/ann/gen1/_increments/ingest_batch=99/_temporary")
    assert(inflight.mkdirs())
    val e7 = intercept[IllegalStateException] {
      AnnIndex.open(spark, base + "/ann", "vec_id").compact()
    }
    assert(e7.getMessage.contains("_temporary"), e7.getMessage)
    assert(!Layouts.exists(spark, base + "/ann/gen1/" + Layouts.QuiesceMarker))
    graft.ops.Layouts.delete(spark, base + "/ann/gen1/_increments/ingest_batch=99")
    // --- near-dup family ---
    val docs = Seq((10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "completely unrelated corpus text nothing shared here at all"))
      .toDF("doc_id", "text")
    docs.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(docs, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    val db = Seq((1L, "fresh batch text matching nothing stored anywhere yet"))
      .toDF("doc_id", "text")
    Layouts.acquireQuiesce(spark, base + "/idx/gen0", "test")
    val e4 = intercept[IllegalStateException] {
      StreamingDedup.ingestBatch(db, 7L, base + "/corpus", base + "/idx",
        base + "/out", "doc_id", "text", 0.8, 128, 32, 3, 4L << 20)
    }
    assert(e4.getMessage.contains(Layouts.QuiesceMarker), e4.getMessage)
    val e5 = intercept[IllegalStateException] {
      Dedup.appendNearDupIndex(db, "doc_id", "text", base + "/idx", 7L)
    }
    assert(e5.getMessage.contains(Layouts.QuiesceMarker), e5.getMessage)
    Layouts.releaseQuiesce(spark, base + "/idx/gen0")
    StreamingDedup.ingestBatch(db, 7L, base + "/corpus", base + "/idx",
      base + "/out", "doc_id", "text", 0.8, 128, 32, 3, 4L << 20)
    Dedup.compactNearDupIndex(spark, base + "/idx")
    assert(!Layouts.exists(spark, base + "/idx/gen0/" + Layouts.QuiesceMarker))
    assert(Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 3)
    assert(Layouts.incrementIds(spark, base + "/idx/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, base + "/idx/gen1") == Some(7L))
  }

  test("sidecar cache: one read serves N same-generation batches, a rewrite invalidates") {
    import spark.implicits._
    import graft.ops.{Layouts, Similarity}
    import graft.streaming.StreamingSimilarity
    val base = tmp("graft_scache").getAbsolutePath
    val dim = 8
    def vecs(n: Int, b: Long) = (0 until n).map { i =>
      (b + i, Array.tabulate(dim)(j => math.cos((b + i) * 0.3 + j)))
    }
    val corpus = vecs(16, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 2)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2, ks = 4)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/ann")
    // N batches, each deriving kind + codebooks (+ drift report, which
    // reads them again): ONE sidecar parquet read serves them all
    val before = Layouts.sidecarCacheMisses.get()
    (0 until 3).foreach { i =>
      StreamingSimilarity.ingestBatch(vecs(4, 100L + 10 * i).toDF("vec_id", "embedding"),
        i.toLong, base + "/ann", "vec_id", "embedding",
        Some(base + "/drift"))
    }
    assert(Layouts.sidecarCacheMisses.get() - before == 1,
      s"expected 1 sidecar read across 3 batches, got " +
        s"${Layouts.sidecarCacheMisses.get() - before}")
    // a NEW generation at the same path (rewrite) invalidates: the
    // next batch re-reads, and reads the NEW codebooks
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/ann")
    val mid = Layouts.sidecarCacheMisses.get()
    StreamingSimilarity.ingestBatch(vecs(4, 200L).toDF("vec_id", "embedding"),
      0L, base + "/ann", "vec_id", "embedding", None)
    assert(Layouts.sidecarCacheMisses.get() - mid == 1,
      "a rewritten generation must re-read the sidecar")
  }

  test("pointered drift monitor: swap inside the quiesce window, fence-without-swap recovery, stream follows the pointer") {
    import spark.implicits._
    import graft.ops.{Layouts, Similarity}
    import graft.streaming.StreamingSimilarity
    val rnd = new scala.util.Random(23)
    val dim = 16
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    def sample(n: Int, off: Double, base: Long) = (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3 + off))
    }
    val root = tmp("graft_ptrdrift").getAbsolutePath
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    // the ingest loop addresses the ROOT: each batch resolves the
    // pointer, encodes with the live generation's codebooks, lands in
    // ITS increments
    val batches = Seq(
      sample(24, 0.0, 1000L), sample(24, 0.0, 2000L),
      sample(24, 25.0, 3000L), sample(24, 25.0, 4000L))
      .map(_.toDF("vec_id", "embedding"))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingSimilarity.ingestBatch(b, i.toLong, root,
        "vec_id", "embedding", Some(root + "/drift"))
    }
    assert(Layouts.exists(spark,
      root + "/gen0/_increments/ingest_batch=3"))
    val all = batches.foldLeft(corpus)(_ unionByName _)
    // the drifted trailing window rebuilds into gen1; the POINTER is
    // swapped inside the quiesce window and the marker released after
    def monitor() = AnnIndex.open(spark, root, "vec_id")
      .maintainFromDriftSeries(root + "/drift", all, "embedding", window = 2)
    val r = monitor()
    assert(r.action == "rebuild" && r.layout == root + "/gen1", s"$r")
    assert(Layouts.currentGenerationName(spark, root) == "gen1")
    assert(!Layouts.exists(spark, root + "/gen0/" + Layouts.QuiesceMarker))
    // the ROOT probe answers from gen1: the full corpus re-encoded
    // under union-retrained codebooks
    val q = Array.fill(dim)(1.0)
    val newIvf = Similarity.ivfCodebook(all, "vec_id", "embedding", nlist = 4)
    val newPq = Similarity.pqCodebooks(all, "vec_id", "embedding", m = 4, ks = 16)
    val atRoot = annProbe(root, q, k = 8, nprobe = 2).as[(Long, Double)].collect().toSeq
    val inFlight = Similarity.ivfPqTopK(all, "vec_id", "embedding", q,
      k = 8, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(newIvf), pqCb = Some(newPq))
      .as[(Long, Double)].collect().toSeq
    assert(atRoot == inFlight, s"$atRoot vs $inFlight")
    // CRASH WINDOW: a run that died between the fence write and the
    // pointer swap leaves fence->gen1, pointer->gen0, marker HELD on
    // gen0 (appends refused — no batch can vanish). Manufacture
    // exactly that state, then let the next monitor tick recover.
    Layouts.swapGenerationPointer(spark, root, "gen0")
    Layouts.acquireQuiesce(spark, root + "/gen0", "crashed-rebuild")
    val rec = monitor()
    assert(rec.action == "swap" && rec.layout == root + "/gen1", s"$rec")
    assert(Layouts.currentGenerationName(spark, root) == "gen1")
    assert(!Layouts.exists(spark, root + "/gen0/" + Layouts.QuiesceMarker),
      "recovery must release the dead run's marker")
    // NO double-fold: the recovery never rebuilt again
    assert(!Layouts.exists(spark, root + "/gen2"))
    // converged: the stream's next batch follows the pointer into gen1
    // and the next tick is a plain keep over the post-fence series
    StreamingSimilarity.ingestBatch(sample(24, 0.0, 5000L)
      .toDF("vec_id", "embedding"), 4L, root, "vec_id", "embedding",
      Some(root + "/drift"))
    assert(Layouts.exists(spark,
      root + "/gen1/_increments/ingest_batch=4"))
    val tick = monitor()
    assert(tick.action == "keep" && tick.batches == 1, s"$tick")
    // the post-write pointer fence: a batch whose generation pointer
    // moved while it was encoding (here: re-aimed at gen0 between the
    // writes and the fence) must fail AFTER its write so the checkpoint
    // replays it against the live generation — the resolve-to-first-
    // write sliver the marker's check-then-act cannot cover
    val stale = intercept[IllegalStateException] {
      StreamingSimilarity.ingestBatchFenced(
        sample(24, 0.0, 6000L).toDF("vec_id", "embedding"), 5L,
        root, "vec_id", "embedding", None,
        () => Layouts.swapGenerationPointer(spark, root, "gen0"))
    }
    assert(stale.getMessage.contains("moved off"), stale.getMessage)
    Layouts.swapGenerationPointer(spark, root, "gen1")
    // the replay (normal resolution) lands the batch in the live
    // generation, overwriting the directory the failed attempt wrote
    StreamingSimilarity.ingestBatch(sample(24, 0.0, 6000L)
      .toDF("vec_id", "embedding"), 5L, root, "vec_id", "embedding", None)
    assert(Layouts.exists(spark, root + "/gen1/_increments/ingest_batch=5"))
    // the COMPACTION-side twin: fold the live generation (base +
    // streamed increments) into gen2 with the pointer swapped inside
    // the marker window — the merged probe before equals the base-only
    // probe after (the fold preserves every row), the next stream
    // batch lands in gen2, and vacuum reclaims both superseded
    // generations
    val beforeFold = annProbe(root, q, k = 8, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val gen2 = AnnIndex.open(spark, root, "vec_id").compact()
    assert(gen2 == root + "/gen2", gen2)
    assert(Layouts.currentGenerationName(spark, root) == "gen2")
    assert(!Layouts.exists(spark, root + "/gen1/" + Layouts.QuiesceMarker))
    val afterFold = annProbe(root, q, k = 8, nprobe = 2).as[(Long, Double)].collect().toSeq
    assert(afterFold == beforeFold, s"$afterFold vs $beforeFold")
    StreamingSimilarity.ingestBatch(sample(24, 0.0, 7000L)
      .toDF("vec_id", "embedding"), 6L, root, "vec_id", "embedding", None)
    assert(Layouts.exists(spark, root + "/gen2/_increments/ingest_batch=6"))
    assert(Layouts.vacuumGenerations(spark, root, keep = 1) ==
      Seq("gen0", "gen1"))
    assert(annProbe(root, q, k = 8, nprobe = 2).count() == 8)
  }

  test("pointered monitor recovery is FORWARD-ONLY: a pointer advanced past the fence is never swapped backward") {
    // r20 ADVICE (high): AnnIndex.compact / AnnIndex.maintain
    // swap _current without touching the drift fence, so after a
    // compaction the fence names a generation BEHIND the pointer (and
    // still on disk, pre-vacuum). Treating that as an interrupted
    // fence->swap window would point the store BACK at the superseded
    // generation — resurrecting rows the compaction retired.
    import spark.implicits._
    import graft.ops.{Layouts, Similarity}
    import graft.streaming.StreamingSimilarity
    val rnd = new scala.util.Random(29)
    val dim = 16
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    def sample(n: Int, off: Double, base: Long) = (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3 + off))
    }
    val root = tmp("graft_fwdonly").getAbsolutePath
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    val batches = Seq(
      sample(24, 0.0, 1000L), sample(24, 0.0, 2000L),
      sample(24, 25.0, 3000L), sample(24, 25.0, 4000L))
      .map(_.toDF("vec_id", "embedding"))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingSimilarity.ingestBatch(b, i.toLong, root,
        "vec_id", "embedding", Some(root + "/drift"))
    }
    val all = batches.foldLeft(corpus)(_ unionByName _)
    def monitor() = AnnIndex.open(spark, root, "vec_id")
      .maintainFromDriftSeries(root + "/drift", all, "embedding", window = 2)
    val r = monitor()
    assert(r.action == "rebuild" && r.layout == root + "/gen1", s"$r")
    // a pointered COMPACTION advances the pointer to gen2; the fence
    // still names gen1, which is still on disk (no vacuum yet)
    val gen2 = AnnIndex.open(spark, root, "vec_id").compact()
    assert(gen2 == root + "/gen2" &&
      Layouts.currentGenerationName(spark, root) == "gen2")
    // the next monitor tick must NOT read fence(gen1) != pointer(gen2)
    // as an interrupted swap: the pointer stays on gen2 and the tick is
    // a plain keep over the (fully fenced) series
    val tick = monitor()
    assert(tick.action != "swap", s"backward swap: $tick")
    assert(Layouts.currentGenerationName(spark, root) == "gen2",
      "the pointer must never move backward onto a superseded generation")
  }

  test("streaming bloom gate: novel docs admitted against batched history, replay converges, compaction folds") {
    import spark.implicits._
    import graft.ops.{Bloom, Layouts}
    import graft.streaming.StreamingBloomGate
    val base = tmp("graft_sbloom").getAbsolutePath
    val corpus = Seq((0L, "alpha"), (2L, "beta"), (4L, "gamma"))
      .toDF("doc_id", "text")
    // a pointered store root: the stream addresses the root, the
    // compaction below folds gen0 into gen1
    Bloom.writeBloomIndex(corpus.select("text"), "text", base + "/index/gen0",
      mBits = 1 << 10, k = 4)
    Layouts.swapGenerationPointer(spark, base + "/index", "gen0")
    // two file-batches through the REAL stream: batch 0 re-sees a
    // corpus text and brings one novel; batch 1 re-sees batch 0's
    // novel (must drop against the UPDATED history) and brings its own
    val srcDir = new java.io.File(base + "/src"); srcDir.mkdirs()
    def stage(rows: Seq[(Long, String)], n: Int): Unit = {
      val tmpd = new java.io.File(base + s"/stage$n")
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmpd.getAbsolutePath)
      val part = tmpd.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir.getAbsolutePath, s"b$n.parquet"))
    }
    stage(Seq(100L -> "alpha", 101L -> "delta"), 1)
    stage(Seq(200L -> "delta", 201L -> "epsilon"), 2)
    val src = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.getAbsolutePath)
    val sq = StreamingBloomGate.bloomGateStream(src, base + "/index",
      base + "/ckpt", Seq("doc_id", "text"), "text",
      base + "/admitted").start()
    assert(sq.awaitTermination(120000), "bloom gate stream did not finish")
    val admitted = spark.read.parquet(base + "/admitted")
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(admitted == Set((0L, 101L), (1L, 201L)), s"$admitted")
    // crash-replay converges: re-running the newest batch (the only one
    // a checkpoint can replay) judges against the history its FIRST
    // attempt saw (own increment excluded), so its novel doc is admitted
    // again, not dropped by its own bits
    StreamingBloomGate.ingestBatch(
      Seq(200L -> "delta", 201L -> "epsilon").toDF("doc_id", "text"), 1L,
      base + "/index", "text", base + "/admitted")
    val replayed = spark.read.parquet(base + "/admitted")
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(replayed == admitted, s"$replayed")
    // compaction folds every increment into the base row; the full OR
    // is bit-identical, so the gate's behavior is unchanged
    val (m, k, words) = Bloom.readBloomIndex(spark, base + "/index")
    assert(Bloom.compactBloomIndex(spark, base + "/index") ==
      base + "/index/gen1")
    val (m2, k2, w2) = Bloom.readBloomIndex(spark, base + "/index")
    assert((m2, k2) == (m, k) && w2.toSeq == words.toSeq)
    assert(spark.read.parquet(base + "/index/gen1").count() == 1)
    // replay safety ACROSS the fold: the newest batch (the only one
    // Structured Streaming can still replay) is folded and recorded, so
    // its replay writes nothing — judging it against the compacted
    // index would meet its own bits and drop epsilon
    assert(Layouts.incrementIds(spark, base + "/index/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, base + "/index/gen1") == Some(1L))
    StreamingBloomGate.ingestBatch(
      Seq(200L -> "delta", 201L -> "epsilon").toDF("doc_id", "text"), 1L,
      base + "/index", "text", base + "/admitted")
    val replayedPost = spark.read.parquet(base + "/admitted")
      .select(col("ingest_batch").cast("long"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(replayedPost == admitted, s"$replayedPost")
    // a quiesced index refuses the streaming step (replay-after-fold)
    Layouts.acquireQuiesce(spark, base + "/index/gen1", "test")
    val eQ = intercept[IllegalStateException] {
      StreamingBloomGate.ingestBatch(
        Seq(300L -> "zeta").toDF("doc_id", "text"), 2L,
        base + "/index", "text", base + "/admitted")
    }
    assert(eQ.getMessage.contains(Layouts.QuiesceMarker), eQ.getMessage)
    Layouts.releaseQuiesce(spark, base + "/index/gen1")
    // mixed bitmap geometry is refused, curated (an OR across
    // different m is garbage)
    Bloom.writeBitmapRow(spark, new Array[Long](8), 512, 4,
      Layouts.incrementDir(base + "/index/gen1", 9L))
    val eG = intercept[IllegalStateException] {
      Bloom.readBloomIndex(spark, base + "/index")
    }
    assert(eG.getMessage.contains("geometries"), eG.getMessage)
  }

  test("bloom gate post-write fence: a compaction acquiring the marker mid-batch fails the batch AFTER its writes (r20 ADVICE)") {
    // the check-then-act window: a batch passes assertNotQuiesced, a
    // compactBloomIndex acquires the marker / folds / the caller swaps
    // while the batch is still computing, and the batch's increment
    // lands in the folded-away src. Without the post-write fence the
    // batch's checkpoint would COMMIT with its bits permanently absent
    // from the live index; with it the batch fails (checkpoint
    // uncommitted), and the replay converges against the post-fold
    // index.
    import spark.implicits._
    import graft.ops.{Bloom, Layouts}
    import graft.streaming.StreamingBloomGate
    val base = tmp("graft_sbloomfence").getAbsolutePath
    Bloom.writeBloomIndex(Seq("alpha").toDF("text"), "text",
      base + "/index", mBits = 1 << 10, k = 4)
    val e = intercept[IllegalStateException] {
      StreamingBloomGate.ingestBatchFenced(
        Seq(1L -> "beta").toDF("doc_id", "text"), 0L,
        base + "/index", "text", base + "/admitted",
        // the compaction wins the race between this batch's first
        // check and its writes
        beforeFence =
          () => Layouts.acquireQuiesce(spark, base + "/index", "test"))
    }
    assert(e.getMessage.contains(Layouts.QuiesceMarker), e.getMessage)
    // the writes DID land (the fence fires after them) — harmless: the
    // failed batch's checkpoint never committed, so the replay owns and
    // overwrites both directories
    assert(Layouts.exists(spark,
      Layouts.incrementDir(base + "/index", 0L)))
    Layouts.releaseQuiesce(spark, base + "/index")
    StreamingBloomGate.ingestBatch(
      Seq(1L -> "beta").toDF("doc_id", "text"), 0L,
      base + "/index", "text", base + "/admitted")
    val admitted = spark.read.parquet(base + "/admitted")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(admitted == Set(1L), s"$admitted")
  }

  /** An IVF-PQ store root: a 20-vector `gen0` with `_current` on it. */
  private def annStore(root: String): Unit = {
    import spark.implicits._
    import graft.ops.{Layouts, Similarity}
    val corpus = foldVecs(20, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 2)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 2, ks = 4)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
  }

  private def foldVecs(n: Int, b: Long) = (0 until n).map { i =>
    (b + i, Array.tabulate(8)(j => math.sin((b + i) * 0.7 + j)))
  }

  /** The ids of a generation's base plus its committed increments. */
  private def annRows(gen: String): org.apache.spark.sql.DataFrame =
    graft.ops.Layouts.withIncrements(spark, spark.read.parquet(gen), gen,
      Seq("vec_id"), None)

  test("fold/replay (ANN): a compaction inside a batch's fence window folds the batch; the replay stores each id once") {
    import spark.implicits._
    import graft.ops.Layouts
    import graft.streaming.StreamingSimilarity
    val root = tmp("graft_foldann").getAbsolutePath
    annStore(root)
    val batch = foldVecs(5, 100L).toDF("vec_id", "embedding")
    // the compaction lands after the batch's increment committed and
    // before its fence: the fence fails the batch (pointer moved)
    val e = intercept[IllegalStateException] {
      StreamingSimilarity.ingestBatchFenced(batch, 0L, root, "vec_id",
        "embedding", None, () => AnnIndex.open(spark, root, "vec_id").compact())
    }
    assert(e.getMessage.contains("moved off"), e.getMessage)
    // the checkpoint never committed, so the batch replays — and
    // writes nothing: the fold recorded it, so no copy lands beside
    // the folded one
    StreamingSimilarity.ingestBatch(batch, 0L, root, "vec_id", "embedding", None)
    val rows = annRows(root + "/gen1")
    assert(rows.count() == 25, s"${rows.count()} rows for 25 ids")
    assert(rows.distinct().count() == 25)
    assert(Layouts.incrementIds(spark, root + "/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, root + "/gen1") == Some(0L))
    // tombstoning every row of the folded batch leaves a readable
    // generation (the retired ids are gone, the base is intact)
    AnnIndex.open(spark, root, "vec_id").compact(dropIds = Some(batch.select("vec_id")))
    assert(annRows(root + "/gen2").count() == 20)
  }

  test("fold/replay (near-dup): the replay after a compaction in the fence window reaches the first attempt's verdicts") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts}
    import graft.streaming.StreamingDedup
    val base = tmp("graft_folddedup").getAbsolutePath
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (10L, t0),
      (11L, "unrelated corpus text nothing shared with anything else at all here"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    // the "ingest crash-replay converges" batch: twins 1/2 match nothing
    // in history, doc 3 undercuts its true partner 10
    val twins = "same batch twin text that matches nothing stored in the corpus index yet"
    val b = Seq((1L, twins), (2L, twins + " tail"), (3L, t0 + " extra"))
      .toDF("doc_id", "text")
    def run(beforeFence: () => Unit): Unit = StreamingDedup.ingestBatchFenced(
      b, 5L, base + "/corpus", base + "/idx", base + "/out", "doc_id",
      "text", 0.8, 128, 32, 3, 4L << 20, beforeFence)
    def verdicts(): Seq[(Long, Long)] = spark.read.parquet(base + "/out")
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSeq.sorted
    val e = intercept[IllegalStateException] {
      run(() => Dedup.compactNearDupIndex(spark, base + "/idx"))
    }
    assert(e.getMessage.contains("moved off"), e.getMessage)
    val first = verdicts()
    assert(first == Seq(3L -> 10L))
    // the fold recorded batch 5, so the replay writes nothing: the
    // first attempt's verdicts stand and the twins stay unique
    run(() => ())
    assert(verdicts() == first)
    val idx = Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
    assert(idx.select("id").distinct().count() == 5)
    assert(idx.count() == idx.select("id", "band").distinct().count(),
      "an id's signatures are stored twice")
    // tombstoning every row of the folded batch leaves a readable
    // generation
    Dedup.compactNearDupIndex(spark, base + "/idx", dropIds = Some(b.select("doc_id")))
    assert(Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 2)
  }

  test("near-dup batch faces keep the newest streamed batch after a fold folds it") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts, Sampling}
    import graft.streaming.StreamingDedup
    val base = tmp("graft_carryreaders").getAbsolutePath
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val u1 = "completely different text about distributed query engines and planners"
    val corpus = Seq(
      (10L, t0),
      (11L, "unrelated corpus text nothing shared with anything else at all here"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    // one streamed batch: 20 near-dups corpus doc 10, 21 is new material
    val batch = Seq((20L, t0 + " extra"), (21L, u1)).toDF("doc_id", "text")
    StreamingDedup.ingestBatch(batch, 0L, base + "/corpus", base + "/idx",
      base + "/out", "doc_id", "text", 0.8, 128, 32, 3, 4L << 20)
    // the fold folds batch 0, the newest, into gen1's base
    Dedup.compactNearDupIndex(spark, base + "/idx")
    assert(Layouts.incrementIds(spark, base + "/idx/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, base + "/idx/gen1") == Some(0L))
    val docs = corpus.unionByName(batch)
    val pairs = Dedup.nearDupPairsFromIndex(base + "/idx", docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq(10L -> 20L), s"$pairs")
    // the winners and the split read the same pairs
    assert(Dedup.nearDupWinnersVerifiedFromIndex(base + "/idx", docs, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet == Set(10L, 11L, 21L))
    val split = Sampling.leakFreeSplit(docs, "doc_id", "text",
      indexPath = Some(base + "/idx"))
    assert(split.where(col("doc_id") === 20L).select("cluster").as[Long]
      .collect().toSeq == Seq(10L))
    // a later batch's only partner is batch 0's doc 21
    val later = Seq((30L, u1 + " tail")).toDF("doc_id", "text")
    assert(Dedup.incrementalNearDup(spark, base + "/idx", docs, later,
      "doc_id", "text").as[(Long, Long)].collect().toSeq == Seq(30L -> 21L))
  }

  test("a zero-row ANN stream batch leaves its generation readable and foldable") {
    import spark.implicits._
    import graft.ops.Layouts
    import graft.streaming.StreamingSimilarity
    val root = tmp("graft_emptyann").getAbsolutePath
    annStore(root)
    val batch = foldVecs(5, 100L).toDF("vec_id", "embedding")
    def ingest(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingSimilarity.ingestBatch(b, id, root, "vec_id", "embedding", None)
    // the cell-partitioned write of zero rows leaves no data file
    ingest(batch.limit(0), 0L)
    assert(Layouts.incrementIds(spark, root + "/gen0") == Seq(0L))
    assert(annRows(root + "/gen0").count() == 20)
    assert(annProbe(root, Array.fill(8)(0.5), k = 30, nprobe = 2).count() == 20)
    // the fold reads past the empty batch 0 and folds batch 1
    ingest(batch, 1L)
    AnnIndex.open(spark, root, "vec_id").compact()
    assert(Layouts.incrementIds(spark, root + "/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, root + "/gen1") == Some(1L))
    assert(annRows(root + "/gen1").count() == 25)
    // an empty newest batch folds to nothing, and is recorded
    ingest(batch.limit(0), 2L)
    AnnIndex.open(spark, root, "vec_id").compact()
    assert(Layouts.incrementIds(spark, root + "/gen2").isEmpty)
    assert(Layouts.foldedThrough(spark, root + "/gen2") == Some(2L))
    assert(annRows(root + "/gen2").count() == 25)
  }

  test("fold/replay (Bloom): the replay after a compaction in the fence window admits the same set") {
    import spark.implicits._
    import graft.ops.{Bloom, Layouts}
    import graft.streaming.StreamingBloomGate
    val base = tmp("graft_foldbloom").getAbsolutePath
    Bloom.writeBloomIndex(Seq("alpha").toDF("text"), "text",
      base + "/index/gen0", mBits = 1 << 10, k = 4)
    Layouts.swapGenerationPointer(spark, base + "/index", "gen0")
    val batch = Seq(1L -> "alpha", 2L -> "beta").toDF("doc_id", "text")
    def admitted(): Set[Long] = spark.read.parquet(base + "/admitted")
      .select(col("doc_id")).as[Long].collect().toSet
    val e = intercept[IllegalStateException] {
      StreamingBloomGate.ingestBatchFenced(batch, 0L, base + "/index", "text",
        base + "/admitted", () => Bloom.compactBloomIndex(spark, base + "/index"))
    }
    assert(e.getMessage.contains("moved off"), e.getMessage)
    val first = admitted()
    assert(first == Set(2L))
    StreamingBloomGate.ingestBatch(batch, 0L, base + "/index", "text",
      base + "/admitted")
    assert(admitted() == first)
    assert(Layouts.incrementIds(spark, base + "/index/gen1").isEmpty)
    assert(Layouts.foldedThrough(spark, base + "/index/gen1") == Some(0L))
  }

  test("marker at the fence: a compaction taking the marker after a batch's writes fails the batch, ANN and near-dup") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts}
    import graft.streaming.{StreamingDedup, StreamingSimilarity}
    // --- ANN: the pointer has not moved yet, only the marker is held
    val root = tmp("graft_fenceann").getAbsolutePath
    annStore(root)
    val batch = foldVecs(5, 100L).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalStateException] {
      StreamingSimilarity.ingestBatchFenced(batch, 0L, root, "vec_id",
        "embedding", None, () => Layouts.acquireQuiesce(spark, root + "/gen0", "t"))
    }
    assert(e1.getMessage.contains(Layouts.QuiesceMarker), e1.getMessage)
    Layouts.releaseQuiesce(spark, root + "/gen0")
    StreamingSimilarity.ingestBatch(batch, 0L, root, "vec_id", "embedding", None)
    assert(annRows(root + "/gen0").count() == 25)
    // --- near-dup
    val base = tmp("graft_fencededup").getAbsolutePath
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    val db = Seq((1L, "fresh batch text matching nothing stored anywhere yet"))
      .toDF("doc_id", "text")
    def run(beforeFence: () => Unit): Unit = StreamingDedup.ingestBatchFenced(
      db, 0L, base + "/corpus", base + "/idx", base + "/out", "doc_id",
      "text", 0.8, 128, 32, 3, 4L << 20, beforeFence)
    val e2 = intercept[IllegalStateException] {
      run(() => Layouts.acquireQuiesce(spark, base + "/idx/gen0", "t"))
    }
    assert(e2.getMessage.contains(Layouts.QuiesceMarker), e2.getMessage)
    Layouts.releaseQuiesce(spark, base + "/idx/gen0")
    run(() => ())
    assert(Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
      .select("id").distinct().count() == 2)
  }

  test("write order: a batch that fails before its increment keeps its side output across a fold, ANN and near-dup") {
    import spark.implicits._
    import graft.ops.{Dedup, Layouts}
    import graft.streaming.{StreamingDedup, StreamingSimilarity}
    // a regular file where a directory must go fails that write
    def block(path: String): Unit = {
      new java.io.File(path).getParentFile.mkdirs()
      assert(new java.io.File(path).createNewFile())
    }
    // --- ANN: the drift report fails, so its increment was never written
    val root = tmp("graft_orderann").getAbsolutePath
    annStore(root)
    val drift = tmp("graft_orderdrift").getAbsolutePath + "/drift"
    val batch = foldVecs(5, 100L).toDF("vec_id", "embedding")
    block(drift)
    intercept[Exception] {
      StreamingSimilarity.ingestBatch(batch, 0L, root, "vec_id", "embedding", Some(drift))
    }
    assert(Layouts.incrementIds(spark, root + "/gen0").isEmpty)
    AnnIndex.open(spark, root, "vec_id").compact()
    Layouts.delete(spark, drift)
    StreamingSimilarity.ingestBatch(batch, 0L, root, "vec_id", "embedding", Some(drift))
    assert(Layouts.exists(spark, Layouts.ownedBatchDir(drift, 0L)),
      "the replay of a batch whose increment was never folded writes its report")
    assert(annRows(root + "/gen1").count() == 25)
    assert(annRows(root + "/gen1").distinct().count() == 25)
    // --- near-dup: the corpus text fails, so the signatures were never written
    val base = tmp("graft_orderdedup").getAbsolutePath
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    corpus.write.parquet(base + "/corpus")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    val db = Seq((1L, "fresh batch text matching nothing stored anywhere yet"),
      (2L, "another new document with its own words in the batch")).toDF("doc_id", "text")
    def run(): Unit = StreamingDedup.ingestBatch(db, 0L, base + "/corpus",
      base + "/idx", base + "/out", "doc_id", "text", 0.8, 128, 32, 3, 4L << 20)
    block(base + "/corpus/" + Layouts.IncrementsDir)
    intercept[Exception](run())
    assert(Layouts.incrementIds(spark, base + "/idx/gen0").isEmpty)
    Dedup.compactNearDupIndex(spark, base + "/idx")
    Layouts.delete(spark, base + "/corpus/" + Layouts.IncrementsDir)
    run()
    val text = Layouts.withIncrements(spark, spark.read.parquet(base + "/corpus"),
      base + "/corpus", Seq("doc_id", "text"), None)
    assert(text.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 10L),
      "the replay of a batch whose signatures were never folded writes its text")
    val idx = Dedup.nearDupIndexWithIncrements(spark, base + "/idx")
    assert(idx.select("id").distinct().count() == 3)
    assert(idx.count() == idx.select("id", "band").distinct().count(),
      "an id's signatures are stored twice")
  }
}
