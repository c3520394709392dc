package graft

import graft.functions.{GraftFunctions, TextStats}
import graft.ops.{AnnIndex, Dedup, Layouts, Quality, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level specs for the dedup / similarity / text-analysis
  * surface, on small hand-checkable corpora.
  */
class OpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("OpsSpec")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** One query through the index handle, as (vec_id, adc). */
  private def annProbe(path: String, query: Array[Double], k: Int,
      nprobe: Int = 4, excludeBatchId: Option[Long] = None): DataFrame =
    AnnIndex.open(spark, path, "vec_id")
      .probe(Seq(0L -> query), k, nprobe, excludeBatchId = excludeBatchId)
      .drop("query_id")

  /** The rows of an index generation that every reader sees: its base
    * ∪ committed increments, projected to `cols`.
    */
  private def indexRows(layout: String, cols: String*): DataFrame =
    Layouts.withIncrements(spark, spark.read.parquet(layout), layout, cols, None)

  private def docs() = {
    val base = "the quick brown fox jumps over the lazy dog again and again until done"
    val nearDup = base + " extra"       // high shingle overlap with base
    val other = "completely different words compose this sentence nothing shared here at all"
    import spark.implicits._
    Seq(
      (0L, base), (1L, nearDup), (2L, other),
      (3L, "short text"), (4L, base)    // 4 is an exact dup of 0
    ).toDF("doc_id", "text")
  }

  test("exactWinners keeps min id per identical content") {
    val out = Dedup.exactWinners(docs(), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(out.sameElements(Array(0L, 1L, 2L, 3L)))  // 4 (dup of 0) dropped
  }

  test("nearDupPairs finds near and exact dups, bucketed not all-pairs") {
    val pairs = Dedup.nearDupPairs(docs(), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // (0,4) exact dup (j=1.0); (0,1)+(1,4) near-dups; nothing with 2/3
    assert(pairs.toSeq == Seq((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("jaccardNearDupPairs equals all-pairs Jaccard under both gram orders and units") {
    import org.apache.spark.sql.functions._
    // independent all-pairs reference over the same gram definitions
    def allPairs(gram: org.apache.spark.sql.Column) = {
      val g = docs().select(col("doc_id"), gram.as("sh"))
      g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          round(Dedup.jaccard(col("a.sh"), col("b.sh")), 6).as("jaccard"))
        .where(col("jaccard") >= 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    }
    val refChar = allPairs(Dedup.charGrams(col("text"), 5))
    val refWord = allPairs(Dedup.shingles(col("text"), 3))
    assert(refChar.nonEmpty && refChar.map(p => (p._1, p._2)).contains((0L, 4L)))
    assert(refWord.map(p => (p._1, p._2)).contains((0L, 4L)))
    for (freqOrder <- Seq(true, false)) {
      val gotChar = Dedup.jaccardNearDupPairs(docs(), "doc_id", "text",
          threshold = 0.3, charN = Some(5), freqOrder = freqOrder)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(gotChar == refChar, s"char grams, freqOrder=$freqOrder")
      val gotWord = Dedup.jaccardNearDupPairs(docs(), "doc_id", "text",
          threshold = 0.3, shingleWidth = 3, freqOrder = freqOrder)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
      assert(gotWord == refWord, s"word shingles, freqOrder=$freqOrder")
    }
  }

  test("positional filter keeps boundary-exact pairs (J == t, integral overlap bound)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // |A|=31, |B|=32, overlap 28 => J = 28/35 = 0.8 EXACTLY, and the
    // t/(1+t)(|A|+|B|) bound = 28 is integral — the case where naive
    // float ceil() overshoots to 29. Unique words sort BEFORE shared
    // ones (both lexicographically and by df), pinning the earliest
    // shared gram at remaining-capacity exactly 28 on both sides.
    val shared = (1 to 28).map(i => f"s$i%03d")
    val a = (1 to 3).map(i => f"a$i%02d") ++ shared
    val b = (1 to 4).map(i => f"b$i%02d") ++ shared
    val df = Seq((1L, a.mkString(" ")), (2L, b.mkString(" "))).toDF("doc_id", "text")
    for (freqOrder <- Seq(true, false)) {
      val got = Dedup.jaccardNearDupPairs(df, "doc_id", "text",
          threshold = 0.8, shingleWidth = 1, freqOrder = freqOrder)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq((1L, 2L, 0.8)), s"freqOrder=$freqOrder got=$got")
    }
  }

  test("jaccard prefix filter prunes: prefix explode emits fewer grams than full index") {
    import org.apache.spark.sql.functions._
    val full = docs().select(explode(Dedup.charGrams(col("text"), 5))).count()
    val sh = docs().select(Dedup.charGrams(col("text"), 5).as("__sh"))
    val pref = sh.select(explode(slice(col("__sh"), lit(1),
      size(col("__sh")) - ceil(lit(0.7) * size(col("__sh"))).cast("int") + 1))).count()
    assert(pref < full * 4 / 10, s"prefix $pref vs full $full") // ≤ ~30% + 1/doc
  }

  test("decontaminate drops train rows near-duplicating any ref row") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again until done"
    val train = Seq(
      (0L, base + " extra"),                                    // near-dup of ref 100
      (1L, "completely different words compose this sentence nothing shared here"),
      (2L, base)).toDF("doc_id", "text")                        // exact dup of ref 100
    val ref = Seq((100L, base)).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(train, ref, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(1L)), kept.mkString(","))
    // ref-only similarity: train rows similar to EACH OTHER survive
    val kept2 = Dedup.decontaminate(
      train.union(Seq((3L, base + " extra more")).toDF("doc_id", "text")),
      Seq((200L, "zero overlap reference text entirely")).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept2.sameElements(Array(0L, 1L, 2L, 3L)), kept2.mkString(","))
  }

  test("nearDupWinners drops LSH-bucket losers only") {
    val kept = Dedup.nearDupWinners(docs(), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.contains(0L) && !kept.contains(4L)) // exact dup always loses
    assert(kept.contains(2L) && kept.contains(3L))  // non-dups survive
  }

  test("components: chains collapse to min-id clusters (both path regimes)") {
    import spark.implicits._
    // two components: {1,2,3,7} via chain, {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L)
    // small-graph fast path (driver union-find)
    val fast = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expect)
    // distributed label-propagation path (threshold forced to 0)
    val dist = Dedup.components(pairs, smallGraphMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expect)
  }

  test("components: distributed path at its real regime (> 4M edges, default threshold)") {
    // 450k 10-node clusters x 9 edges = 4.05M edges: the default
    // smallGraphMax probe (4M + 1) proves the graph is too big and the
    // call takes the distributed label-prop branch for real — no
    // lowered-threshold shortcut. Star topology keeps convergence at 2
    // iterations so the case stays unit-test sized. Every node's true
    // label is analytically id - id % 16 (min of its 16-stride block),
    // checked with one aggregation, never a collect.
    val nClusters = 450000L
    val pairs = ScaleEvidence.componentsGraph(spark, nClusters)
    val labels = Dedup.components(pairs) // default smallGraphMax = 4M
    val (nNodes, wrong) = {
      val r = labels.agg(
        count(lit(1)),
        sum(when(col("cluster") =!= col("id") - (col("id") % 16), 1L).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(nNodes == nClusters * 10, s"expected ${nClusters * 10} labeled nodes, got $nNodes")
    assert(wrong == 0L, s"$wrong nodes got a non-min-id cluster label")
  }

  test("simhashNearDup finds exact dup at hamming 0") {
    val pairs = Dedup.simhashNearDup(docs(), "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 4L && p._3 == 0))
  }

  test("cosineTopK is exact and ordered") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),   // cos vs (1,1) = 1/sqrt(2) ≈ 0.707107
      (1L, Array(1.0f, 1.0f)),   // cos = 1.0
      (2L, Array(-1.0f, -1.0f)), // cos = -1.0
      (3L, Array(0.0f, 2.0f))    // cos ≈ 0.707107 — tie with 0, id breaks
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, "vec_id", "embedding", Array(1.0, 1.0), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq == Seq(1L, 0L, 3L))
    assert(top(0)._2 == 1.0)
    assert(math.abs(top(1)._2 - 0.707107) < 1e-6)
  }

  test("annLshTopK returns a subset of exact top-k ranking order") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(16)(1.0)
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.annLshTopK(vecs, "vec_id", "embedding", q, 5, dim = 16, h = 8, probeHamming = 3)
      .collect().map(_.getLong(0))
    assert(ann.nonEmpty)
    // approximate: every ANN hit must be a real vector; ordering desc by cos
    val cos = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ann.map(cos).sameElements(ann.map(cos).sorted(Ordering[Double].reverse)))
    assert(ann.toSet.subsetOf(cos.keySet))
    assert(exact.intersect(ann.toSet).nonEmpty) // recall > 0 on this corpus
  }

  test("ivfTopK: probed cells re-rank exactly and follow the codebook") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val q = Array.fill(16)(1.0)
    val got = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, k = 5, nlist = 8, nprobe = 8)
    // probing ALL cells == exact brute force
    val exact = Similarity.cosineTopK(vecs, "vec_id", "embedding", q, 5)
    assert(got.collect().toSeq == exact.collect().toSeq)
    // probing fewer cells returns a correctly-ordered subset of the corpus
    val part = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, k = 5, nlist = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(part.nonEmpty && part.length <= 5)
    assert(part.map(_._2).toSeq == part.map(_._2).sorted(Ordering[Double].reverse).toSeq)
  }

  test("TopKByScore aggregator matches the window top-k on every merge order") {
    import spark.implicits._
    val rows = Seq(
      ("en", 1L, 5.0), ("en", 2L, 9.0), ("en", 3L, 9.0), ("en", 4L, 1.0),
      ("en", 5L, 7.0), ("fr", 6L, 2.0), ("fr", 7L, 2.0), ("de", 8L, 4.0))
    // many partitions => partial buffers merge in arbitrary order
    val ds = spark.createDataset(rows).repartition(5).as[(String, Long, Double)]
    val got = ds.groupByKey(_._1)
      .agg(graft.ops.TopKByScore(2).toColumn.name("top"))
      .collect().toMap
    assert(got("en") == List((9.0, 2L), (9.0, 3L)))  // score desc, tie to min id
    assert(got("fr") == List((2.0, 6L), (2.0, 7L)))
    assert(got("de") == List((4.0, 8L)))             // group smaller than k
  }

  test("embedding near-dup pairs: exact and LSH agree on identical vectors") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(2.0f, 4.0f, 6.0f)),  // same direction as 0 => cos 1.0
      (2L, Array(-3.0f, 1.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val exact = Similarity.embeddingNearDupPairsExact(vecs, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(exact.toSeq == Seq((0L, 1L)))
    val lsh = Similarity.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.99, dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lsh.toSeq == Seq((0L, 1L)))
  }

  test("trained IVF codebook beats the smallest-id stand-in on a clustered corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val k = 8
    // well-separated unit cluster centers + tight noise; ids are laid
    // out cluster-major so the smallest-id stand-in seeds ALL its
    // centroids from cluster 0 — the degenerate case training fixes
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for (c <- 0 until k; j <- 0 until 30) yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      (c.toLong * 30 + j, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val query = centers(5).map(_ + 0.01)

    def recallAt10(codebook: Option[Similarity.IvfCodebook]): Double = {
      val exact = Similarity.cosineTopK(df, "vec_id", "embedding", query, 10)
        .collect().map(_.getLong(0)).toSet
      val approx = Similarity.ivfTopK(df, "vec_id", "embedding", query,
        k = 10, nlist = k, nprobe = 2, codebook = codebook)
        .collect().map(_.getLong(0)).toSet
      (exact & approx).size / 10.0
    }

    val trained = Similarity.trainIvfCodebook(df, "vec_id", "embedding", nlist = k)
    assert(trained.length == k && trained.forall(c => math.abs(c._3 - 1.0) < 1e-9))
    val trainedRecall = recallAt10(Some(trained))
    val standInRecall = recallAt10(None)
    // the trained codebook recovers the true clusters: probing 2 of 8
    // cells finds (nearly) all true neighbors; the id-seeded stand-in
    // cannot separate the corpus it never sampled
    assert(trainedRecall >= 0.9, s"trained recall $trainedRecall")
    assert(trainedRecall > standInRecall,
      s"trained $trainedRecall must beat stand-in $standInRecall")
  }

  test("PQ: codes match a driver recompute, pack/unpack round-trips") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0L until 40L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val m = 4; val ks = 8; val dsub = dim / m
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m, ks)
    assert(cb.length == m && cb.forall(_.length == ks) &&
      cb.forall(_.forall(_.length == dsub)))
    val got = df.select(col("vec_id"), Similarity.pqCode(cb, col("embedding")).as("c"))
      .as[(Long, Seq[Int])].collect().toMap
    // driver-side argmin over the same codebooks
    rows.foreach { case (id, v) =>
      val want = (0 until m).map { mi =>
        (0 until ks).minBy { j =>
          val d = (0 until dsub).map { i =>
            val t = v(mi * dsub + i).toDouble - cb(mi)(j)(i); t * t
          }.sum
          (d, j)
        }
      }
      assert(got(id) == want, s"vec $id: got ${got(id)} want $want")
    }
    // pack/unpack is the identity and fits the advertised width
    val rt = df.select(
        Similarity.pqCode(cb, col("embedding")).as("c"),
        Similarity.pqUnpack(
          Similarity.pqPack(Similarity.pqCode(cb, col("embedding")), m, ks), m, ks).as("u"))
      .where(col("c") =!= col("u")).count()
    assert(rt == 0, "pqUnpack(pqPack(code)) must round-trip")
  }

  test("PQ/ADC: zero distortion on codebook members; trained beats stand-in") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val k = 8
    // cluster-major ids: the smallest-id codebooks see only cluster 0
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val rows = for (c <- 0 until k; j <- 0 until 30) yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      (c.toLong * 30 + j, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val query = centers(5).map(_ + 0.01)

    // exactness seat: when every row IS a codebook entry, ADC equals
    // the exact squared L2 distance (quantization error is zero)
    val members = rows.take(8).toDF("vec_id", "embedding")
    val mcb = Similarity.pqCodebooks(members, "vec_id", "embedding", m = 4, ks = 8)
    val adc = Similarity.pqAdcTopK(members, "vec_id", "embedding", query,
      k = 8, m = 4, ks = 8, codebooks = Some(mcb))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.take(8).foreach { case (id, v) =>
      val exact = v.indices.map { i => val t = v(i).toDouble - query(i); t * t }.sum
      assert(math.abs(adc(id) - exact) < 1e-6, s"vec $id: adc ${adc(id)} exact $exact")
    }

    // ADC cannot rank finer than the quantization cells (all 30
    // members of a cluster share a code and tie), so the honest
    // quality metrics are (a) CLUSTER recall — the ADC top-10 should
    // come from the query's true cluster (ids 150..179) — and (b)
    // quantization distortion, the quantity k-means actually
    // minimizes: mean ||v - reconstruct(code)||² over the corpus.
    def clusterHitRate(codebooks: Option[Similarity.PqCodebooks]): Double = {
      val approx = Similarity.pqAdcTopK(df, "vec_id", "embedding", query,
        k = 10, m = 4, ks = k, codebooks = codebooks)
        .collect().map(_.getLong(0))
      approx.count(id => id >= 150 && id < 180) / 10.0
    }
    def distortion(cb: Similarity.PqCodebooks): Double = {
      val dsub = cb(0)(0).length
      val err = cb.indices.map { mi =>
        least(cb(mi).zipWithIndex.map { case (c, j) =>
          struct(
            graft.functions.GraftFunctions.vec_l2sq_slice(
              col("embedding"), array(c.toIndexedSeq.map(lit): _*),
              lit(mi * dsub)).as("d"),
            lit(j).as("j"))
        }.toIndexedSeq: _*).getField("d")
      }.reduce(_ + _)
      df.select(avg(err)).collect()(0).getDouble(0)
    }
    val trained = Similarity.trainPqCodebooks(df, "vec_id", "embedding", m = 4, ks = k)
    val standIn = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = k)
    assert(clusterHitRate(Some(trained)) >= 0.9,
      s"trained cluster hit rate ${clusterHitRate(Some(trained))}")
    // all stand-in codebooks come from cluster 0, so its corpus-wide
    // reconstruction error is dominated by the 7 clusters it never
    // sampled; training must cut distortion by a wide margin
    val (dt, ds) = (distortion(trained), distortion(standIn))
    assert(dt < 0.5 * ds, s"trained distortion $dt vs stand-in $ds")
  }

  test("ivfPqTopK: results live in probed cells and carry ADC distances") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val dim = 16
    val rows = (0L until 120L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val query = Array.fill(dim)(0.5)
    val cents = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 8)
    val probed = Similarity.ivfProbed(cents, query, nprobe = 3).toSet
    val cb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = 8)
    val got = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
      k = 10, nlist = 8, nprobe = 3, m = 4, ks = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == 10)
    // every hit is in a probed cell...
    val cellOf = df.select(col("vec_id"),
        Similarity.ivfCell(cents, col("embedding")).as("cell"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (id, _) =>
      assert(probed.contains(cellOf(id)), s"vec $id ranked from unprobed cell ${cellOf(id)}")
    }
    // ...and its ADC distance matches the PQ-only path's for that id
    val adcAll = Similarity.pqAdcTopK(df, "vec_id", "embedding", query,
      k = 120, m = 4, ks = 8, codebooks = Some(cb))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, d) => assert(adcAll(id) == d, s"vec $id: $d vs ${adcAll(id)}") }
  }

  test("AnnIndex.append: file-additive append, probe equals the batch-encoded union") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val rows = (0L until 150L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = rows.filter(_._1 % 5 != 0).toDF("vec_id", "embedding")
    val incr = rows.filter(_._1 % 5 == 0).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    val out = java.nio.file.Files.createTempDirectory("graft_append_ivfpq")
      .resolve("layout").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, out)
    def dataFiles(): Set[String] = {
      val b = java.nio.file.Paths.get(out)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(b).iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => b.relativize(p).toString).toSet
    }
    val before = dataFiles()
    AnnIndex.open(spark, out, "vec_id").append(incr, "embedding", 0L)
    val after = dataFiles()
    // the append only ADDS files — every corpus file survives by name
    // (the corpus side is never read or rewritten)
    assert(before.subsetOf(after),
      s"append rewrote corpus files: ${(before -- after).mkString(",")}")
    assert((after -- before).nonEmpty, "append added no files")
    // the new files are the batch's own increment directory; merged
    // read = all 150 rows, and the at-rest probe lands on the ADC
    // ranking a from-scratch batch encode of the UNION produces
    assert((after -- before).forall(_.startsWith("_increments/ingest_batch=0/")),
      s"append wrote outside its increment: ${(after -- before).mkString(",")}")
    assert(spark.read.parquet(out).count() == 120)
    assert(indexRows(out, "vec_id").count() == 150)
    val query = Array.fill(dim)(0.5)
    val gotRest = annProbe(out, query, k = 10, nprobe = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val gotBatch = Similarity.ivfPqTopK(
      corpus.unionByName(incr), "vec_id", "embedding", query,
      k = 10, nlist = 8, nprobe = 3, m = 4, ks = 8,
      ivfCb = Some(ivfCb), pqCb = Some(pqCb))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(gotRest == gotBatch, s"at-rest $gotRest vs batch $gotBatch")
  }

  test("ivfPqResidualTopK: residual encoding beats raw-vector PQ on clustered data") {
    import spark.implicits._
    val dim = 16; val nCenters = 8
    def center(c: Int): Array[Double] = Array.tabulate(dim)(i =>
      (scala.util.hashing.MurmurHash3.productHash((c, i)) % 1000) / 500.0)
    val rnd = new scala.util.Random(5)
    val rows = (0L until 240L).map { id =>
      val c = (id % nCenters).toInt
      (id, Array.tabulate(dim)(i =>
        (center(c)(i) + rnd.nextGaussian() * 0.05).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val query = center(3).map(_ + 0.01)
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    def hits(got: Array[Long]): Int = got.count(exact)
    val raw = Similarity.ivfPqTopK(df, "vec_id", "embedding", query, k = 10,
      nlist = 8, nprobe = 3, m = 8, ks = 16).collect().map(_.getLong(0))
    val res = Similarity.ivfPqResidualTopK(df, "vec_id", "embedding", query,
      k = 10, nlist = 8, nprobe = 3, m = 8, ks = 16).collect().map(_.getLong(0))
    // raw PQ's 16-raw-vector codebook collapses a cluster's members
    // onto the same codes (degenerate within-cluster ranking);
    // residual codes describe the within-cluster structure — the
    // whole point of the encoding
    assert(hits(res) >= hits(raw),
      s"residual ${hits(res)}/10 worse than raw ${hits(raw)}/10")
    assert(hits(res) >= 6, s"residual recall ${hits(res)}/10")
  }

  test("residual codes at rest: write/append/probe parity with the in-flight encoder") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 16
    val rows = (0L until 150L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val full = rows.toDF("vec_id", "embedding")
    val corpus = rows.filter(_._1 % 5 != 0).toDF("vec_id", "embedding")
    val incr = rows.filter(_._1 % 5 == 0).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_res_atrest").toString
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    AnnIndex.open(spark, base, "vec_id").append(incr, "embedding", 0L)
    Similarity.writeIvfPqResidualPartitioned(full, "vec_id", "embedding",
      ivfCb, rcb, base + "/full")
    val query = Array.fill(dim)(0.5)
    def probe(p: String): Seq[(Long, Double)] =
      annProbe(p, query, k = 10, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // no-retrain append == full rewrite with the same codebooks, exactly
    assert(probe(base + "/gen0") == probe(base + "/full"))
    // at-rest residual ranking lands on the in-flight encoder's ids;
    // values agree to ulp-level (in-flight ADC associates in COMBINED
    // coordinates, at-rest in residual coordinates — the same real
    // number under two oracle-pinned IEEE associations)
    val inFlight = Similarity.ivfPqResidualTopK(full, "vec_id", "embedding",
      query, k = 10, nlist = 8, nprobe = 3, m = 4, ks = 8,
      ivfCb = Some(ivfCb), residualCb = Some(rcb))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val atRest = probe(base + "/full")
    assert(atRest.map(_._1) == inFlight.map(_._1),
      s"at-rest ${atRest.map(_._1)} vs in-flight ${inFlight.map(_._1)}")
    atRest.zip(inFlight).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    // compaction carries the rpq sidecar verbatim
    AnnIndex.open(spark, base, "vec_id").compact()
    assert(probe(base + "/gen1") == probe(base + "/gen0"))
  }

  test("tombstones: a retired id never resurfaces, even unfiltered on the corpus side") {
    import spark.implicits._
    // --- ANN side: drop the exact top-1 and probe the compacted gen
    val rnd = new scala.util.Random(31)
    val dim = 16
    val rows = (0L until 120L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_tombstone").toString
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    val query = Array.fill(dim)(0.5)
    val top1 = annProbe(base + "/gen0", query, k = 1, nprobe = 3).collect()(0).getLong(0)
    Layouts.swapGenerationPointer(spark, base, "gen0")
    AnnIndex.open(spark, base, "vec_id")
      .compact(dropIds = Some(Seq(top1).toDF("vec_id")))
    val after = annProbe(base + "/gen1", query, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    assert(!after.contains(top1), s"retired vec $top1 still ranked")
    assert(spark.read.parquet(base + "/gen1").count() == 119)
    // --- near-dup side: retire one half of a dup pair; the OTHER
    // half must take over dup_of, with the full corpus on the verify
    // side (candidates come only from stored rows)
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((0L, t0), (100L, t0), (7L, "something entirely different here"))
      .toDF("doc_id", "text")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    assert(Dedup.compactNearDupIndex(spark, base + "/idx",
      dropIds = Some(Seq(0L).toDF("doc_id"))) == base + "/idx/gen1")
    val pairs = Dedup.nearDupPairsFromIndex(base + "/idx", corpus,
      "doc_id", "text").select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a != 0L && b != 0L },
      s"retired doc 0 re-entered a pair: $pairs")
    val batch = Seq((200L, t0)).toDF("doc_id", "text")
    val dupOf = Dedup.incrementalNearDup(spark, base + "/idx", corpus, batch,
      "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(dupOf == Map(200L -> 100L), s"dup_of after retirement: $dupOf")
    // meta carried through the tombstone rewrite
    assert(Dedup.readNearDupIndexMeta(spark, base + "/idx/gen1")
      .contains((128, 32, 3)))
  }

  test("residual/raw layouts never cross: the kind tag fails fast both ways") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dim = 16
    val rows = (0L until 80L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = 8)
    val rcb = Similarity.residualPqCodebooks(df, "vec_id", "embedding",
      ivfCb, m = 4, ks = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_kind_tag").toString
    Similarity.writeIvfPqResidualPartitioned(df, "vec_id", "embedding",
      ivfCb, rcb, base + "/res")
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding",
      ivfCb, pqCb, base + "/raw")
    val query = Array.fill(dim)(0.5)
    // a raw probe of a residual layout would ADC residual codes
    // through raw tables — silent garbage; the handle reads the tag, so
    // each layout ranks through its own tables: the in-flight answer
    // of its own quantizer with the same codebooks
    def ranked(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val res = ranked(annProbe(base + "/res", query, k = 5))
    val resInFlight = ranked(Similarity.ivfPqResidualTopK(df, "vec_id",
      "embedding", query, k = 5, nlist = 4, m = 4, ks = 8,
      ivfCb = Some(ivfCb), residualCb = Some(rcb)))
    assert(res.map(_._1) == resInFlight.map(_._1), s"$res vs $resInFlight")
    // same real number under the two oracle-pinned IEEE associations
    res.zip(resInFlight).foreach { case ((_, a), (_, b)) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    val raw = ranked(annProbe(base + "/raw", query, k = 5))
    val rawInFlight = ranked(Similarity.ivfPqTopK(df, "vec_id", "embedding",
      query, k = 5, nlist = 4, m = 4, ks = 8,
      ivfCb = Some(ivfCb), pqCb = Some(pqCb)))
    assert(raw == rawInFlight, s"$raw vs $rawInFlight")
  }

  // a raw-PQ probe used to rank nothing at nprobe = 0 (an empty cell
  // list) while the residual one refused; the handle refuses both
  for ((kind, residual) <- Seq("pq" -> false, "rpq" -> true))
    test(s"AnnIndex.probe refuses nprobe = 0 on a '$kind' layout") {
      import spark.implicits._
      val df = (0L until 40L).map(i =>
        (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j)))).toDF("vec_id", "embedding")
      val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 4)
      val out = java.nio.file.Files.createTempDirectory("graft_nprobe").toString +
        "/layout"
      if (residual)
        Similarity.writeIvfPqResidualPartitioned(df, "vec_id", "embedding", ivfCb,
          Similarity.residualPqCodebooks(df, "vec_id", "embedding", ivfCb, m = 2, ks = 4),
          out)
      else
        Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding", ivfCb,
          Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, ks = 4), out)
      val index = AnnIndex.open(spark, out, "vec_id")
      assert(index.kind == kind)
      val query = Seq(0L -> Array.fill(8)(0.5))
      val e = intercept[IllegalArgumentException] {
        index.probe(query, k = 5, nprobe = 0)
      }
      assert(e.getMessage.contains("nprobe"), e.getMessage)
      assert(index.probe(query, k = 5, nprobe = 1).count() > 0)
    }

  test("AnnIndex.compact: one file per cell, rows preserved, sidecar carried") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val dim = 16
    val rows = (0L until 150L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val corpus = rows.filter(_._1 % 5 != 0).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    val index = AnnIndex.open(spark, base, "vec_id")
    // three daily appends -> small-file sprawl in the touched cells
    Seq(0, 1, 2).foreach { day =>
      val batch = rows.filter(t => t._1 % 5 == 0 && t._1 % 3 == day)
        .toDF("vec_id", "embedding")
      index.append(batch, "embedding", day.toLong)
    }
    index.compact()
    // files per cell directory name, over the base and (unless
    // `baseOnly`) every increment
    def filesPerCell(p: String, baseOnly: Boolean = false): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && f.toString.contains("cell="))
        .filterNot(f => baseOnly && f.toString.contains(Layouts.IncrementsDir))
        .toSeq.groupBy(_.getParent.getFileName.toString).map { case (k, v) => k -> v.size }
    }
    assert(filesPerCell(base + "/gen0").values.max > 1, "appends left no sprawl to compact")
    // the fold writes the base one file per cell and carries the newest
    // batch as its own directory
    assert(filesPerCell(base + "/gen1", baseOnly = true).values.max == 1,
      s"compaction left multiple files per cell: ${filesPerCell(base + "/gen1", baseOnly = true)}")
    assert(Layouts.incrementIds(spark, base + "/gen1") == Seq(2L))
    // rows preserved exactly (id -> cell set identical)
    def cells(gen: String) = indexRows(base + gen, "vec_id", "cell")
      .as[(Long, Long)].collect().sorted.toSeq
    val before = cells("/gen0")
    assert(before.length == 150)
    assert(before == cells("/gen1"))
    // sidecar carried: the self-contained probe works on gen1
    val q = Array.fill(dim)(0.5)
    val g1 = annProbe(base + "/gen1", q, k = 5, nprobe = 3)
      .collect().map(_.getLong(0)).toSeq
    val g0 = annProbe(base + "/gen0", q, k = 5, nprobe = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(g1 == g0, s"gen1 $g1 vs gen0 $g0")
  }

  test("IVF-PQ codebook sidecar: exact round-trip, self-contained probe, append guard") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val rows = (0L until 120L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 4, ks = 8)
    val out = java.nio.file.Files.createTempDirectory("graft_cb_sidecar")
      .resolve("layout").toString
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding", ivfCb, pqCb, out)
    // exact double round-trip: loaded codebooks reproduce the written
    val loaded = AnnIndex.open(spark, out, "vec_id")
    assert(loaded.kind == "pq")
    val (li, lp) = (loaded.ivf, loaded.pq)
    assert(li.length == ivfCb.length && li.zip(ivfCb).forall {
      case ((ia, va, na), (ib, vb, nb)) =>
        ia == ib && na == nb && va.sameElements(vb) })
    assert(lp.length == pqCb.length && lp.zip(pqCb).forall { case (ta, tb) =>
      ta.zip(tb).forall { case (ca, cb) => ca.sameElements(cb) } })
    // the sidecar must not leak into plain reads of the layout
    assert(spark.read.parquet(out).count() == 120)
    // self-contained probe == the explicit-codebook answer
    val query = Array.fill(dim)(0.5)
    val fromFiles = annProbe(out, query, k = 10, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val explicit = Similarity.ivfPqTopK(df, "vec_id", "embedding", query,
      k = 10, nlist = 8, nprobe = 3, m = 4, ks = 8,
      ivfCb = Some(ivfCb), pqCb = Some(pqCb))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fromFiles == explicit, s"$fromFiles vs $explicit")
    // the handle appends with the stored codebooks
    val batch = Seq((200L, Array.fill(dim)(0.1f))).toDF("vec_id", "embedding")
    loaded.append(batch, "embedding", 0L)
    assert(indexRows(out, "vec_id").count() == 121)
  }

  test("Quality.dataCard: one row per source, corpus-wide dup exposure") {
    import spark.implicits._
    val df = Seq(
      (0L, "A", "the quick brown fox is with that and of to"),
      (1L, "A", "the quick brown fox is with that and of to"),   // dup of 0, in A
      (2L, "B", "the quick brown fox is with that and of to"),   // dup of 0, in B
      (3L, "B", "der hund und die katze ist mit nicht das und")
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.Quality.dataCard(df, "doc_id", "text", "source")
      .orderBy(col("source"))
      .as[(String, Long, Long, Double, Long, String)].collect()
    assert(got.map(_._1).toSeq == Seq("A", "B"))
    val a = got(0); val b = got(1)
    assert(a._2 == 2 && a._3 == 20 && a._5 == 2, s"A row: $a")     // both A docs are corpus-wide dups
    assert(b._2 == 2 && b._3 == 20 && b._5 == 1, s"B row: $b")     // only B's copy of the shared text
    assert(a._6 == "en" && b._6 == "de", s"modal langs: ${a._6} ${b._6}")
  }

  test("Quality.dataCard: NULL source forms the '(unknown)' group, not a vanishing act") {
    import spark.implicits._
    val df = Seq(
      (0L, Option("A"), "the quick brown fox is with that and of to"),
      (1L, Option.empty[String], "the and of to is with that here now go"),
      (2L, Option.empty[String], "der hund und die katze ist mit nicht das und")
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.Quality.dataCard(df, "doc_id", "text", "source")
      .orderBy(col("source"))
      .as[(String, Long, Long, Double, Long, String)].collect()
    // previously the inner stats/top-lang join dropped null keys and
    // the two null-source docs vanished from the card entirely
    assert(got.map(_._1).toSeq == Seq("(unknown)", "A"), s"got ${got.toSeq}")
    val unk = got(0)
    assert(unk._2 == 2 && unk._3 == 20, s"(unknown) row: $unk")
  }

  test("exact embedding near-dup refuses corpora above exactMax") {
    import spark.implicits._
    val vecs = (0L until 5L).map(i => (i, Array(i.toFloat, 1.0f))).toDF("vec_id", "embedding")
    // under the bound: runs
    assert(Similarity.embeddingNearDupPairsExact(vecs, "vec_id", "embedding", 1.1, exactMax = 5).count() == 0)
    // over the bound: the guard trips before any O(n^2) join is planned
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupPairsExact(vecs, "vec_id", "embedding", 0.9, exactMax = 4)
    }
    assert(e.getMessage.contains("embeddingNearDupPairs"))
  }

  test("semDedup: within-cell components elect min-id survivors; cross-cell pairs are out of scope") {
    import spark.implicits._
    def ang(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat, 0f, 0f)
    // cell 0 (centroid e1): a 0°/20°/40°/44° chain — consecutive pairs
    // clear cos >= 0.9 but 0° vs 40° does not, so the survivor set
    // depends on CONNECTED components, not direct pairs
    // cell 1 (centroid e2): 46° (a near-dup of 44° ACROSS the cell
    // boundary — SemDeDup by construction does not see it) and an
    // e2-aligned dup pair; (0,0,1,0) ties both centroids -> cell 0
    val rows = Seq(
      0L -> ang(0), 1L -> ang(20), 2L -> ang(40), 3L -> ang(44),
      4L -> ang(46),
      5L -> Array(0f, 1f, 0f, 0f), 6L -> Array(0.02f, 0.9998f, 0f, 0f),
      7L -> Array(0f, 0f, 1f, 0f))
    val df = rows.toDF("vec_id", "embedding")
    val cb: Similarity.IvfCodebook = Array(
      (0L, Array(1.0, 0.0, 0.0, 0.0), 1.0), (1L, Array(0.0, 1.0, 0.0, 0.0), 1.0))
    val out = Similarity.semDedup(df, "vec_id", "embedding", cb, threshold = 0.9)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // {0,1,2,3} one chain-component -> 0 survives; 4 survives in cell 1
    // (its only near-dup, 3, sits across the boundary); {5,6} -> 5; 7 alone
    assert(out.toSeq == Seq((0L, 0L), (4L, 1L), (5L, 1L), (7L, 0L)))
  }

  test("text stats: token count, ratios, quality, lang guess") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox, and the lazy dog!")).toDF("id", "text")
    val r = df.select(
      TextStats.tokenCount(col("text")).as("tc"),
      round(TextStats.punctRatio(col("text")), 6).as("pr"),
      round(TextStats.stopwordRatio(col("text")), 6).as("sr"),
      TextStats.langGuess(col("text")).as("lang")).head()
    assert(r.getAs[Int]("tc") == 8)
    // 2 punct chars (, !) of 38
    assert(math.abs(r.getAs[Double]("pr") - 2.0 / 38) < 1e-6)
    // stopwords: the, and, the => 3 of 8 tokens
    assert(math.abs(r.getAs[Double]("sr") - 3.0 / 8) < 1e-6)
    assert(r.getAs[String]("lang") == "en")
  }

  test("word_shingles matches the declarative definition") {
    import spark.implicits._
    val df = Seq(Tuple1("a b c d a b c d")).toDF("text")
    val got = df.select(GraftFunctions.word_shingles(col("text"), 3)).head().getSeq[String](0)
    assert(got == Seq("a b c", "b c d", "c d a", "d a b"))
  }

  test("mainContent: length + link-density classification over blocks") {
    import spark.implicits._
    val body = Seq.fill(20)("lorem ipsum").mkString(" ") // 239 chars
    val html =
      "<html><head><title>Site</title><style>p{x}</style></head><body>" +
        "<script>if (a < b) { p('<p>'); }</p></script>" +
        "<nav><ul><li><a href='/a'>home</a></li>" +
        "<li><a href='/b'>about&nbsp;us</a></li></ul></nav>" +
        s"<p>$body see <a href='/m'>more info</a> here</p>" +
        "<div>" + ("read <a href='/x'>the docs</a> now " * 5) + "</div>" +
        "<p>short</p></body></html>"
    val r = Seq(Tuple1(html)).toDF("html")
      .select(Quality.mainContent(col("html"), 50, 0.2).as("mc"))
      .select("mc.*").head()
    // blocks: title, 2 nav lis (density 1.0), the content <p>, the
    // link-heavy <div> (40/89 = 0.449 > 0.2 at adequate length),
    // "short" — the empty <nav>/<ul> segments and the script (whose
    // body contains '<p>') are not blocks
    assert(r.getAs[Long]("n_blocks") == 6L)
    assert(r.getAs[Long]("n_content") == 1L)
    assert(r.getAs[Long]("content_len") == 258L)
    assert(r.getAs[String]("content_text") == body + " see more info here")
  }

  test("mainContent: all-chrome page yields empty content, not null") {
    import spark.implicits._
    val html = "<body><script>document.write('<p>fake');</script>" +
      "<li><a href='/'>only links</a></li></body>"
    val r = Seq(Tuple1(html)).toDF("html")
      .select(Quality.mainContent(col("html"), 50, 0.2).as("mc"))
      .select("mc.*").head()
    assert(r.getAs[Long]("n_blocks") == 1L)
    assert(r.getAs[Long]("n_content") == 0L)
    assert(r.getAs[Long]("content_len") == 0L)
    assert(r.getAs[String]("content_text") == "")
  }

  test("mainContent: link chars count the CLEANED anchor text") {
    import spark.implicits._
    // anchor text carries markup + an entity: cleaned it is
    // "bold&link" = 9 chars of a 60-char block => density 0.15
    val html = "<p>alpha beta <a href='/x'><b>bold&amp;link</b></a> tail " +
      "gamma delta epsilon zeta eta theta</p>"
    def run(maxD: Double) = Seq(Tuple1(html)).toDF("html")
      .select(Quality.mainContent(col("html"), 20, maxD).as("mc"))
      .select("mc.*").head()
    assert(run(0.2).getAs[Long]("n_content") == 1L)
    assert(run(0.1).getAs[Long]("n_content") == 0L)
  }

  test("mainContent: raw U+0001 bytes in the input do not split blocks (r12 ADVICE)") {
    import spark.implicits._
    val body = Seq.fill(10)("stray control bytes").mkString(" ")
    // a raw 0x01 in the middle of the paragraph must not create a
    // second block (the marker is ours alone, pre-stripped)
    val html = s"<p>${body.take(40)}${body.drop(40)}</p>"
    val clean = s"<p>$body</p>"
    def run(h: String) = Seq(Tuple1(h)).toDF("html")
      .select(Quality.mainContent(col("html"), 50, 0.2).as("mc"))
      .select("mc.*").head()
    val (got, want) = (run(html), run(clean))
    assert(got.getAs[Long]("n_blocks") == want.getAs[Long]("n_blocks"))
    assert(got.getAs[Long]("n_content") == want.getAs[Long]("n_content"))
    assert(got.getAs[String]("content_text") == want.getAs[String]("content_text"))
  }

  test("components: distributed label-prop agrees with driver union-find (q124 graph)") {
    import spark.implicits._
    // the q124 site subgraph: the permutation m -> (7m+1) mod 25,
    // whose components are its cycles — six 4-cycles + fixed point 4
    val pairs = (0 until 25).map(m => (m.toLong, ((7 * m + 1) % 25).toLong))
      .toDF("id_a", "id_b")
    def run(max: Long): Map[Long, Long] =
      Dedup.components(pairs, smallGraphMax = max).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val small = run(4000000L) // driver union-find regime
    val dist = run(1L)        // forces distributed label propagation
    assert(small == dist, "the two regimes must agree exactly")
    assert(small.size == 25)
    assert(small.values.toSet.size == 7, "six 4-cycles + the fixed point")
    assert(small(4L) == 4L) // 7*4+1 = 29 = 4 (mod 25): self-loop singleton
    // every label is the min id of its component
    small.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
  }

  test("FreqItems: exact on small-cardinality input through Spark partial aggregation") {
    import spark.implicits._
    // cardinality 3 <= k=8: no decrement and no merge truncation can
    // ever fire, so the sketch must equal the exact counts for ANY
    // partitioning — 7 partitions forces real partial/merge traffic
    val data = Seq.fill(60)("x") ++ Seq.fill(25)("y") ++ Seq.fill(15)("z")
    val sk = spark.createDataset(data).repartition(7)
      .select(graft.ops.FreqItems(8).toColumn.name("sk")).head()
    assert(sk == Map("x" -> 60L, "y" -> 25L, "z" -> 15L))
  }

  test("AsOf.join: nullable right value columns carry from the SAME matched row") {
    import spark.implicits._
    // matched right row (ts=10) has a=NULL: a per-column last(ignoreNulls)
    // would pull a="x" from the OLDER ts=5 row — mixing right rows
    val left = Seq((1L, 12L, 100L)).toDF("k", "ts", "eid")
    val right = Seq(
      (1L, 5L, Option("x"), Option.empty[String], 1L),
      (1L, 10L, Option.empty[String], Option("y"), 2L)
    ).toDF("k", "ts", "a", "b", "seq")
    val out = graft.ops.AsOf.join(left, right, "k", "ts",
        valueCols = Seq("a", "b"), tiebreak = "seq")
      .select("eid", "a", "b", "asof_ts").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 100L)
    assert(r.isNullAt(1), "a must be NULL — the matched ts=10 row's value, not ts=5's")
    assert(r.getString(2) == "y")
    assert(r.getLong(3) == 10L)
  }

  test("saltedCountSum: constant-valued hot key still splits across salts, totals exact") {
    import spark.implicits._
    // the common skew shape: one hot key whose value is CONSTANT — a
    // value-derived salt puts every row on one salt and never splits it
    val rows = (1 to 1000).map(_ => ("hot", 5.0)) ++
      (1 to 10).map(i => (s"cold_$i", i.toDouble))
    val df = rows.toDF("k", "v").repartition(4)
    val salted = graft.ops.Skew.saltedCountSum(df, "k", col("v"), salts = 16)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(salted("hot") == ((1000L, 5000.0)))
    (1 to 10).foreach(i => assert(salted(s"cold_$i") == ((1L, i.toDouble))))
    // the hot key's rows must actually land on >1 salt partition
    val hotSalts = df.where(col("k") === "hot")
      .withColumn("__salt", graft.ops.Skew.rowSalt(16))
      .select("__salt").distinct().count()
    assert(hotSalts > 1, s"hot key observed on $hotSalts salt(s) — not split")
  }

  test("components rejects non-integral id columns with a clear error") {
    import spark.implicits._
    val bad = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] { Dedup.components(bad) }
    assert(e.getMessage.contains("integral"))
  }

  test("token_count: \\x0B is NOT a token separator (oracle regex-dialect parity)") {
    import spark.implicits._
    // Java \s includes \x0B, RE2 (DuckDB) \s does not — the engine pins
    // the explicit class [ \t\n\r\f]+ so both engines agree
    val df = Seq(Tuple1("a\u000Bb c\td\ne")).toDF("text")
    val n = df.select(GraftFunctions.token_count(col("text")).as("n")).head().getInt(0)
    assert(n == 4, s"expected 4 tokens (a\\x0Bb is ONE token), got $n")
  }

  test("Quality.repetition: exact metrics on known documents, nulls for empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "a a b"),              // words 3, distinct 2, top word "a" 2/3, bigrams {a a, a b} top 1/2
      (2L, "x y z w"),            // no repetition
      (3L, "go go go go"),        // fully repeated
      (4L, "")                    // empty -> null metrics
    ).toDF("doc_id", "text")
    val m = graft.ops.Quality.repetition(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(1) == 3 && m(1L).getLong(2) == 2)
    assert(m(1L).getDouble(3) == 0.333333 && m(1L).getDouble(4) == 0.666667)
    assert(m(1L).getDouble(5) == 0.5)
    assert(m(2L).getDouble(3) == 0.0 && m(2L).getDouble(4) == 0.25)
    assert(m(3L).getDouble(3) == 0.75 && m(3L).getDouble(4) == 1.0)
    assert(m(3L).getDouble(5) == 1.0, "bigram 'go go' x3 of 3")
    assert(m(4L).isNullAt(1) && m(4L).isNullAt(3) && m(4L).isNullAt(5))
  }

  test("Quality.lmCrossEntropy: hand-checked bigram LM, backoff, null conventions") {
    import spark.implicits._
    // ref "a b a b": unigrams a:2 b:2 (V=2); bigrams (a,b):2 (b,a):1
    val ref = Seq((100L, "a b a b", "en")).toDF("doc_id", "text", "lang")
    val docs = Seq(
      (1L, "a b a", "en"), // P(b|a)=(2+1)/(2+2), P(a|b)=(1+1)/(2+2): -(ln .75 + ln .5)/2
      (2L, "c a", "en"),   // unseen w1 AND bigram: (0+1)/(0+2) -> -ln .5
      (3L, "a", "en"),     // <2 tokens -> 0 bigrams, null score
      (4L, "a b", "fr")    // lang absent from ref -> no statistics, null
    ).toDF("doc_id", "text", "lang")
    val m = graft.ops.Quality.lmCrossEntropy(ref, docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getLong(2) == 2 && m(1L).getDouble(3) == 0.490415)
    assert(m(2L).getLong(2) == 1 && m(2L).getDouble(3) == 0.693147)
    assert(m(3L).getLong(2) == 0 && m(3L).isNullAt(3))
    assert(m(4L).getLong(2) == 0 && m(4L).isNullAt(3))
  }

  test("Dedup.sharedSubstringPairs: verbatim runs found, short overlap and boilerplate not") {
    import spark.implicits._
    val quote = "four score and seven years ago our fathers"
    val boiler = "all rights reserved worldwide"
    // the maxDf boundary (maxDf = 4 below): a run in exactly maxDf docs
    // still pairs them, a run in maxDf + 1 docs pairs none, and a run
    // repeated inside one doc (df 1) never pairs
    val atCap = "pack my box with five dozen liquor jugs"
    val overCap = "sphinx of black quartz judge my vow"
    val docs = (Seq(
      (1L, s"Essay one quotes: $quote. And then diverges entirely, alpha beta."),
      (2L, s"A different text; '$quote' appears here too, gamma delta epsilon."),
      (3L, "Shares only the word the with everything, nothing verbatim here."),
      (4L, ""),
      (50L, "a lone run repeated, a lone run repeated, a lone run repeated")
    ) ++ (10L until 20L).map(i => (i, s"unique text $i $boiler"))
      ++ (30L until 34L).map(i => (i, s"m$i $atCap z$i"))
      ++ (40L until 45L).map(i => (i, s"n$i $overCap y$i"))).toDF("id", "text")
    val pairs = graft.ops.Dedup.sharedSubstringPairs(docs, "id", "text",
      k = 20, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capPairs = for (a <- 30L until 34L; b <- (a + 1) until 34L) yield (a, b)
    assert(pairs.keySet == Set((1L, 2L)) ++ capPairs,
      s"the quoting pair and the maxDf-doc run's pairs only, got ${pairs.keySet}")
    // expected count from first principles: distinct 20-char substrings
    // of the normalized texts, intersected
    def norm(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
    def grams20(s: String) = (0 to norm(s).length - 20).map(i => norm(s).substring(i, i + 20)).toSet
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = (grams20(texts(1L)) intersect grams20(texts(2L))).size.toLong
    assert(pairs((1L, 2L)) == want, s"expected $want shared grams, got ${pairs((1L, 2L))}")
    // with the df cap lifted, the 10 boilerplate docs pair up (45
    // pairs) and so do the maxDf + 1 docs (10 pairs)
    val lifted = graft.ops.Dedup.sharedSubstringPairs(docs, "id", "text",
      k = 20, maxDf = 64)
    assert(lifted.count() == 1 + 45 + capPairs.size + 10,
      "lifting maxDf admits the boilerplate clique and the maxDf + 1 run")
  }

  test("Sampling.dsirResample: selects target-like docs, deterministic, distributed top-k") {
    import spark.implicits._
    // two disjoint vocabularies; target speaks only vocab A
    val vocabA = Seq("cat", "dog", "fish", "bird", "horse")
    val vocabB = Seq("tensor", "matrix", "vector", "scalar", "graph")
    def doc(vocab: Seq[String], i: Int): String =
      (0 until 20).map(j => vocab((i + j * j) % vocab.size)).mkString(" ")
    val raw = ((0 until 100).map(i => (i.toLong, doc(vocabA, i))) ++
      (100 until 200).map(i => (i.toLong, doc(vocabB, i))) :+ (200L, ""))
      .toDF("id", "text")
    val target = (0 until 50).map(i => (1000L + i, doc(vocabA, i + 7))).toDF("id", "text")
    val sel = graft.ops.Sampling.dsirResample(target, raw, "id", "text",
      k = 60, buckets = 256, seed = 3L)
    val ids = sel.select("id").as[Long].collect().toSet
    assert(ids.size == 60)
    // Gumbel noise perturbs, but the A-docs' weights dominate
    assert(ids.count(_ < 100) >= 50, s"expected mostly vocab-A docs, got ${ids.count(_ < 100)}")
    assert(!ids.contains(200L), "the empty doc has no features and must never be selected")
    // reruns select the identical set (rand()-based sampling would not)
    assert(graft.ops.Sampling.dsirResample(target, raw, "id", "text",
      k = 60, buckets = 256, seed = 3L).select("id").as[Long].collect().toSet == ids)
    // a different seed re-draws the Gumbel noise: same dominant mass,
    // not necessarily the same marginal picks
    val other = graft.ops.Sampling.dsirResample(target, raw, "id", "text",
      k = 60, buckets = 256, seed = 4L).select("id").as[Long].collect().toSet
    assert(other.count(_ < 100) >= 50)
    // top-k must be TakeOrderedAndProject, never a 1-partition sort
    val plan = sel.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k in plan:\n$plan")
  }

  test("Sampling.stratified: exact deterministic selection per stratum") {
    import spark.implicits._
    val df = (0L until 10000L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "zh" else "fr"))
      .toDF("id", "lang")
    val rates = Map("en" -> 0.5, "zh" -> 0.25)
    val out = graft.ops.Sampling.stratified(df, "lang", "id", rates, defaultRate = 0.1)
    // the predicate is pure: membership is exactly id % 10000 < rate*10000
    val got = out.select("id").as[Long].collect().toSet
    val want = (0L until 10000L).filter { i =>
      val r = if (i % 3 == 0) 5000 else if (i % 3 == 1) 2500 else 1000
      i % 10000 < r
    }.toSet
    assert(got == want)
    // reruns select the same rows (rand()-based sampling would not)
    assert(out.select("id").as[Long].collect().toSet == got)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "stratified sampling must stay a narrow filter")
  }

  test("Sampling.domainCap: quota binds per domain, md5-elected, no window") {
    import spark.implicits._
    // domain sizes 2 / 5 / 30 against quota 3: under, over, far over
    val df = ((0L until 2L).map((_, "a")) ++ (10L until 15L).map((_, "b")) ++
      (100L until 130L).map((_, "c"))).toDF("doc_id", "source")
    val out = graft.ops.Sampling.domainCap(df, "source", "doc_id", quota = 3, seed = 42L)
    val got = out.as[(Long, String)].collect().toSet
    // reference: smallest md5("42:" + id) keys per domain, id tiebreak
    val want = df.as[(Long, String)].collect().groupBy(_._2).values.flatMap { rows =>
      rows.sortBy { case (id, _) =>
        (graft.functions.HashingHelper.md5lo62(s"42:$id"), id)
      }.take(3)
    }.toSet
    assert(got == want)
    assert(got.count(_._2 == "a") == 2 && got.count(_._2 == "b") == 3 &&
      got.count(_._2 == "c") == 3)
    // deterministic across runs
    assert(graft.ops.Sampling.domainCap(df, "source", "doc_id", 3, 42L)
      .as[(Long, String)].collect().toSet == got)
    // the scale property: the election is a bounded aggregation, not a
    // domain-partitioned full-row sort window
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Window"), s"domainCap must not plan a window:\n$exec")
  }

  test("Sampling.leakFreeSplit: near-dup clusters never straddle splits") {
    import spark.implicits._
    val out = graft.ops.Sampling.leakFreeSplit(docs(), "doc_id", "text",
      threshold = 0.5, seed = "13", trainPct = 80, valPct = 10)
    val got = out.select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    // {0,1,4} form one near-dup cluster labeled by min id 0; 2 and 3
    // are singletons labeled by themselves
    assert(got.map(r => r._1 -> r._2).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 0L))
    // the structural guarantee: one split per cluster
    got.groupBy(_._2).values.foreach { members =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster ${members.head._2} straddles splits: ${members.toSeq}")
    }
    // the split is the documented pure function of the CLUSTER id
    got.foreach { case (_, cluster, split) =>
      val bk = graft.functions.HashingHelper.md5lo62(s"13:$cluster") % 100
      val want = if (bk < 80) "train" else if (bk < 90) "val" else "test"
      assert(split == want, s"cluster $cluster: got $split want $want")
    }
    // deterministic across runs
    val again = graft.ops.Sampling.leakFreeSplit(docs(), "doc_id", "text",
      threshold = 0.5, seed = "13", trainPct = 80, valPct = 10)
      .select("doc_id", "cluster", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(again.sameElements(got))
  }

  test("Dedup.incrementalNearDup: batch dups resolve against the stored index") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely unrelated corpus text about distributed query engines"),
      (4L, "the quick brown fox jumps over the lazy dog again and again today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "novel text that matches nothing stored in the corpus index at all")
    ).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_incr_idx").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", out)
    // the index is band-partitioned (id, key) parquet — the 100 TB
    // artifact layout
    val idx = spark.read.parquet(out)
    assert(idx.columns.sorted.toSeq == Seq("band", "id", "key"))
    assert(idx.count() == 3 * 32)
    val got = graft.ops.Dedup.incrementalNearDup(spark, out, corpus, batch,
      "doc_id", "text", threshold = 0.8)
      .as[(Long, Long)].collect().toMap
    // doc 1 duplicates corpus docs 0 AND 4 -> smallest corpus id wins;
    // doc 3 matches nothing and must not appear
    assert(got == Map(1L -> 0L), s"got $got")
  }

  test("Dedup index lifecycle: appended increments are visible to later batches") {
    import spark.implicits._
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val t1 = "an entirely different document about distributed columnar engines"
    val corpus = Seq((0L, t0)).toDF("doc_id", "text")
    val day1 = Seq((10L, t1)).toDF("doc_id", "text")
    val day2 = Seq((20L, t0), (21L, t1)).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_idx_life").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", out)
    // day 1: no dup; its signatures APPEND into the at-rest index (the
    // daily lifecycle — the corpus is never recomputed)
    val d1 = graft.ops.Dedup.incrementalNearDup(spark, out, corpus, day1,
      "doc_id", "text").count()
    assert(d1 == 0)
    graft.ops.Dedup.appendNearDupIndex(day1, "doc_id", "text", out, 0L)
    // day 2: doc 20 dups the original corpus, doc 21 dups DAY 1 —
    // visible only because the append landed in the same layout
    val known = corpus.unionByName(day1)
    val d2 = graft.ops.Dedup.incrementalNearDup(spark, out, known, day2,
      "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(d2 == Map(20L -> 0L, 21L -> 10L), s"got $d2")
  }

  test("compactNearDupIndex: one file per band, identical increments, meta carried") {
    import spark.implicits._
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((0L, t0),
      (2L, "completely unrelated corpus text about distributed query engines"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft_idx_compact").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/gen0")
    // two daily appends -> one increment directory per day
    Seq(10L -> 0L, 20L -> 1L).foreach { case (id, batchId) =>
      graft.ops.Dedup.appendNearDupIndex(
        Seq((id, s"day $id text that matches nothing else at all today"))
          .toDF("doc_id", "text"), "doc_id", "text", base + "/gen0", batchId)
    }
    assert(Layouts.incrementIds(spark, base + "/gen0") == Seq(0L, 1L))
    Layouts.swapGenerationPointer(spark, base, "gen0")
    graft.ops.Dedup.compactNearDupIndex(spark, base)
    def filesPerBand(p: String): Map[String, Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && f.toString.contains("band="))
        .filterNot(_.toString.contains(Layouts.IncrementsDir))
        .toSeq.groupBy(_.getParent.getFileName.toString).map { case (k, v) => k -> v.size }
    }
    // gen1's base is one file per band; the newest day is carried as
    // its own directory (the store's fold rule), the older one folded
    assert(filesPerBand(base + "/gen1").values.max == 1,
      s"compaction left sprawl: ${filesPerBand(base + "/gen1")}")
    assert(Layouts.incrementIds(spark, base + "/gen1") == Seq(1L))
    assert(spark.read.parquet(base + "/gen1").select("id").distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 2L, 10L))
    // meta carried, rows identical, and an incremental query against
    // the compacted generation answers the same
    assert(graft.ops.Dedup.readNearDupIndexMeta(spark, base + "/gen1")
      .contains((128, 32, 3)))
    def sigs(gen: String) = indexRows(base + gen, "id", "band", "key")
      .as[(Long, Int, Long)].collect().sorted.toSeq
    val before = sigs("/gen0")
    assert(before.map(_._1).distinct == Seq(0L, 2L, 10L, 20L))
    assert(before == sigs("/gen1"))
    val known = corpus.unionByName(
      Seq((10L, s"day 10 text that matches nothing else at all today"),
        (20L, s"day 20 text that matches nothing else at all today"))
        .toDF("doc_id", "text"))
    val batch = Seq((100L, t0)).toDF("doc_id", "text")
    val got = graft.ops.Dedup.incrementalNearDup(spark, base + "/gen1",
      known, batch, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(got == Map(100L -> 0L), s"got $got")
  }

  test("near-dup index is self-describing: banding mismatches fail fast") {
    import spark.implicits._
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_idx_meta").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", out,
      numHashes = 128, bands = 32, shingleWidth = 3)
    assert(graft.ops.Dedup.readNearDupIndexMeta(spark, out)
      .contains((128, 32, 3)))
    // an append under different banding poisons the index — refused
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.appendNearDupIndex(corpus, "doc_id", "text", out, 0L,
        numHashes = 64, bands = 16)
    }
    assert(e1.getMessage.contains("appendNearDupIndex"), e1.getMessage)
    // an incremental query under different banding misses pairs — refused
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.incrementalNearDup(spark, out, corpus, corpus,
        "doc_id", "text", numHashes = 64, bands = 16)
    }
    assert(e2.getMessage.contains("incrementalNearDup"), e2.getMessage)
    // a verify stage at a different shingle width — refused
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Dedup.nearDupPairsFromIndex(out, corpus, "doc_id", "text",
        shingleWidth = 5)
    }
    assert(e3.getMessage.contains("shingles"), e3.getMessage)
  }

  test("a present-but-empty _meta sidecar is a curated failure, not a silent skip") {
    import spark.implicits._
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_idx_meta_empty").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", out)
    // simulate an interrupted sidecar write: the directory exists but
    // holds no parquet files — previously this read as "absent" and
    // silently skipped the banding validation (r14 ADVICE)
    val metaDir = java.nio.file.Paths.get(out, "_meta")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(metaDir).iterator().asScala.toSeq
      .foreach(java.nio.file.Files.delete)
    val e = intercept[IllegalStateException] {
      graft.ops.Dedup.readNearDupIndexMeta(spark, out)
    }
    assert(e.getMessage.contains("writeNearDupIndex"), e.getMessage)
    // and the validating callers hit the same curated failure
    val e2 = intercept[IllegalStateException] {
      graft.ops.Dedup.appendNearDupIndex(corpus, "doc_id", "text", out, 0L)
    }
    assert(e2.getMessage.contains("sidecar"), e2.getMessage)
  }

  test("a present-but-empty _codebooks sidecar is a curated failure, not a silent skip") {
    import spark.implicits._
    val df = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, ks = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_cb_empty").toString
    val out = root + "/gen0"
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding", ivfCb, pqCb, out)
    Layouts.swapGenerationPointer(spark, root, "gen0")
    val cbDir = java.nio.file.Paths.get(out, "_codebooks")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(cbDir).iterator().asScala.toSeq
      .foreach(java.nio.file.Files.delete)
    val e = intercept[IllegalStateException] {
      AnnIndex.open(spark, out, "vec_id")
    }
    assert(e.getMessage.contains("writeIvfPqPartitioned"), e.getMessage)
    // an append against the corrupt sidecar must FAIL (mis-celling
    // hazard), not skip validation as if the sidecar were absent
    val batch = Seq((200L, Array.fill(8)(0.1f))).toDF("vec_id", "embedding")
    intercept[IllegalStateException] {
      AnnIndex.open(spark, out, "vec_id").append(batch, "embedding", 0L)
    }
    // a compaction of the corrupt layout fails with the curated
    // message BEFORE any dst write — no partial generation left
    // behind (r15 ADVICE)
    val dst = root + "/gen1"
    intercept[IllegalStateException] {
      AnnIndex.open(spark, root, "vec_id").compact()
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dst)),
      "a failed compaction must not leave a partial dst generation")
    // a sidecar-LESS layout still reads as absent (pre-sidecar compat)
    java.nio.file.Files.delete(cbDir)
    assert(!Similarity.hasIvfPqCodebooks(spark, out))
  }

  test("Dedup.incrementalNearDup: broadcast and shuffle regimes compute identically") {
    import spark.implicits._
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq(
      (0L, t0),
      (2L, "completely unrelated corpus text about distributed query engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, t0),
      (3L, "novel text that matches nothing stored in the corpus index at all")
    ).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_incr_regime").toString
    graft.ops.Dedup.writeNearDupIndex(corpus, "doc_id", "text", out)
    def run(budget: Long): Map[Long, Long] =
      graft.ops.Dedup.incrementalNearDup(spark, out, corpus, batch,
        "doc_id", "text", threshold = 0.8, maxBroadcastSigRows = budget)
        .as[(Long, Long)].collect().toMap
    // budget 0 forces the shuffle regime (2 batch docs x 32 bands = 64
    // sig rows > 0); the default keeps the broadcast regime — same map
    val shuffled = run(0L)
    val broadcastd = run(4L << 20)
    assert(shuffled == broadcastd && shuffled == Map(1L -> 0L),
      s"shuffle $shuffled vs broadcast $broadcastd")
    // the regimes differ ONLY in join strategy: the broadcast regime
    // carries explicit hints in the analyzed plan, the shuffle regime
    // carries none (AQE then picks freely from runtime stats)
    def analyzed(budget: Long): String =
      graft.ops.Dedup.incrementalNearDup(spark, out, corpus, batch,
        "doc_id", "text", threshold = 0.8, maxBroadcastSigRows = budget)
        .queryExecution.analyzed.toString
    assert(analyzed(4L << 20).contains("ResolvedHint"),
      "broadcast regime lost its hints")
    assert(!analyzed(0L).contains("ResolvedHint"),
      s"shuffle regime still hints a broadcast:\n${analyzed(0L)}")
  }

  test("Dedup.nearDupPairsFromIndex / winners: identical to the from-text path") {
    import spark.implicits._
    val df = docs()
    val out = java.nio.file.Files.createTempDirectory("graft_pairs_idx").toString
    graft.ops.Dedup.writeNearDupIndex(df, "doc_id", "text", out)
    val fromText = graft.ops.Dedup.nearDupPairs(df, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val fromIndex = graft.ops.Dedup.nearDupPairsFromIndex(out, df, "doc_id", "text", 0.5)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(fromText.nonEmpty && fromText == fromIndex,
      s"text $fromText vs index $fromIndex")
    val wText = graft.ops.Dedup.nearDupWinnersVerified(df, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val wIndex = graft.ops.Dedup.nearDupWinnersVerifiedFromIndex(out, df, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(wText == wIndex, s"winners text $wText vs index $wIndex")
    // the split face reads the same index
    val sText = graft.ops.Sampling.leakFreeSplit(df, "doc_id", "text", threshold = 0.5)
      .select("doc_id", "cluster", "split").as[(Long, Long, String)]
      .collect().sorted.toSeq
    val sIndex = graft.ops.Sampling.leakFreeSplit(df, "doc_id", "text",
        threshold = 0.5, indexPath = Some(out))
      .select("doc_id", "cluster", "split").as[(Long, Long, String)]
      .collect().sorted.toSeq
    assert(sText == sIndex, s"split text $sText vs index $sIndex")
  }

  test("Cdc.snapshotDiff: presence by flag, NULL payloads classify by value") {
    import spark.implicits._
    val old = Seq((1L, Option("a")), (2L, Option.empty[String]),
      (3L, Option("c")), (4L, Option("d"))).toDF("id", "p")
    val cur = Seq((1L, Option("a")), (2L, Option("x")),
      (3L, Option.empty[String]), (5L, Option("e")),
      (6L, Option.empty[String])).toDF("id", "p")
    val got = graft.ops.Cdc.snapshotDiff(old, cur, "id", "p")
      .as[(Long, String)].collect().toMap
    // id 2: NULL -> 'x' is CHANGED (present in both), never 'added';
    // id 3: 'c' -> NULL likewise; id 6 arrives with a NULL payload and
    // is still 'added' (presence is the flag, not the hash)
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added", 6L -> "added"), s"got $got")
  }

  test("Cdc.incrementalRefresh: delta-only recompute, merged equals from-scratch") {
    import spark.implicits._
    val old = Seq((1L, "aaa"), (2L, "bbb"), (3L, "ccc")).toDF("id", "p")
    // 2 changed, 3 removed, 4 added, 1 unchanged
    val cur = Seq((1L, "aaa"), (2L, "xxx"), (4L, "ddd")).toDF("id", "p")
    def derive(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), upper(col("p")).as("u"))
    var deltaIds: Seq[Long] = Seq.empty
    val merged = graft.ops.Cdc.incrementalRefresh(
      old, cur, derive(old), "id", "p") { delta =>
      deltaIds = delta.select(col("id")).as[Long].collect().sorted.toSeq
      derive(delta)
    }
    val got = merged.as[(Long, String)].collect().sortBy(_._1).toSeq
    // only changed+added documents entered the recompute
    assert(deltaIds == Seq(2L, 4L), s"delta was $deltaIds")
    // the refreshed manifest equals deriving the current snapshot
    // from scratch: carried row for 1, recomputed 2 and 4, dropped 3
    assert(got == Seq((1L, "AAA"), (2L, "XXX"), (4L, "DDD")), s"got $got")
    assert(got == derive(cur).as[(Long, String)].collect().sortBy(_._1).toSeq)
  }

  test("Cdc.snapshotDiff: duplicate ids within a snapshot stay one row per id") {
    import spark.implicits._
    // id 1 appears twice in old with DIFFERENT payloads (malformed
    // manifest) — previously the full-outer join fanned it out 2x and
    // could classify it both changed and unchanged; the min-hash
    // reduction keeps the one-row contract
    val old = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "p")
    val cur = Seq((1L, "a"), (2L, "c"), (2L, "c")).toDF("id", "p")
    val rows = graft.ops.Cdc.snapshotDiff(old, cur, "id", "p")
      .as[(Long, String)].collect()
    assert(rows.length == 2, s"expected one row per id, got ${rows.toSeq}")
    val got = rows.toMap
    // id 1: min(md5 a, md5 b) vs md5 a — deterministic best effort;
    // id 2: identical duplicates reduce cleanly to unchanged
    val minH = Seq("a", "b").map(s => java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString).min
    val hA = java.security.MessageDigest.getInstance("MD5")
      .digest("a".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect1 = if (minH == hA) "unchanged" else "changed"
    assert(got == Map(1L -> expect1, 2L -> "unchanged"), s"got $got")
  }

  test("Sampling.leakFreeSplit survives a caller whose id column is named 'id'") {
    import spark.implicits._
    val df = docs().withColumnRenamed("doc_id", "id")
    val out = graft.ops.Sampling.leakFreeSplit(df, "id", "text", threshold = 0.5)
      .select("id", "cluster", "split")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._2).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 0L))
  }

  test("Sampling.tokenBudgetMix: budget admission follows the md5 order") {
    import spark.implicits._
    // source A totals 60 tokens (under a 100 budget -> all kept);
    // source B totals 150 (over -> md5-ordered prefix within 100)
    val rows = Seq(
      (0L, "A", "one two three four five six seven eight nine ten " * 2),          // 20
      (1L, "A", "a b c d e f g h i j " * 4),                                       // 40
      (2L, "B", ("w " * 50).trim),                                                 // 50
      (3L, "B", ("x " * 50).trim),                                                 // 50
      (4L, "B", ("y " * 50).trim)                                                  // 50
    ).toDF("doc_id", "source", "text")
    val got = graft.ops.Sampling.tokenBudgetMix(rows, "doc_id", "text", "source",
      budget = 100L, seed = "17")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    // under-budget source A passes through whole
    assert(got.filter(_._2 == "A").map(_._1).toSeq == Seq(0L, 1L))
    // over-budget source B keeps the md5(17:id)-ordered prefix whose
    // running total stays <= 100 — exactly two 50-token docs
    val bKept = got.filter(_._2 == "B").map(_._1).toSet
    val bOrder = Seq(2L, 3L, 4L)
      .sortBy(id => (graft.functions.HashingHelper.md5lo62(s"17:$id"), id))
    assert(bKept == bOrder.take(2).toSet, s"kept $bKept, order $bOrder")
    // per-source admitted totals respect the budget
    got.groupBy(_._2).foreach { case (src, members) =>
      assert(members.map(_._3).sum <= 100L, s"source $src exceeded the budget")
    }
  }

  test("Sampling.tokenBudgetMixCounted: NULL source is its own budget group") {
    import spark.implicits._
    // previously the totals equi-join dropped null keys and the two
    // null-source docs appeared in NEITHER branch; the null-safe join
    // gives them their own budget group (here over budget: keep one)
    val rows = Seq(
      (0L, Option("A"), 40L),
      (1L, Option.empty[String], 60L),
      (2L, Option.empty[String], 60L)
    ).toDF("doc_id", "source", "n_tokens")
    val got = graft.ops.Sampling.tokenBudgetMixCounted(rows, "doc_id",
      "n_tokens", "source", budget = 80L, seed = "17")
      .as[(Long, Option[String], Long)].collect().sortBy(_._1)
    assert(got.exists(_._2.isEmpty), s"null-source docs vanished: ${got.toSeq}")
    val nullKept = got.filter(_._2.isEmpty)
    assert(nullKept.length == 1 && nullKept.head._3 == 60L, s"got ${got.toSeq}")
    assert(got.filter(_._2.contains("A")).map(_._1).toSeq == Seq(0L))
  }

  test("Sampling.tokenBudgetMixWeighted: per-source budgets, default fill, NULL source") {
    import spark.implicits._
    val rows = Seq(
      (0L, Option("A"), 60L), (1L, Option("A"), 60L),   // A totals 120 > 100 -> window
      (2L, Option("B"), 60L), (3L, Option("B"), 60L),   // B totals 120 <= default 200 -> whole
      (4L, Option.empty[String], 60L),                  // null source -> default group
      (5L, Option.empty[String], 60L),
      (6L, Option.empty[String], 120L)                  // null totals 240 > 200 -> window
    ).toDF("doc_id", "source", "n_tokens")
    val got = graft.ops.Sampling.tokenBudgetMixWeighted(rows, "doc_id",
      "n_tokens", "source", budgets = Map("A" -> 100L), defaultBudget = 200L,
      seed = "17")
      .as[(Long, Option[String], Long)].collect().sortBy(_._1)
    // A: budget 100 admits exactly one 60-token doc
    assert(got.count(_._2.contains("A")) == 1, s"got ${got.toSeq}")
    // B: default 200 covers the whole source
    assert(got.filter(_._2.contains("B")).map(_._1).toSeq == Seq(2L, 3L))
    // NULL source forms its own default-budget group and pays the
    // window (240 > 200): admitted mass stays within 200
    val nul = got.filter(_._2.isEmpty)
    assert(nul.nonEmpty && nul.map(_._3).sum <= 200L, s"got ${got.toSeq}")
  }

  test("Sampling.leakFreeSplit: string id columns fail fast with a named require") {
    import spark.implicits._
    val df = Seq(("a", "some text here"), ("b", "other text there"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Sampling.leakFreeSplit(df, "doc_id", "text")
    }
    assert(e.getMessage.contains("leakFreeSplit") &&
      e.getMessage.contains("integral"), e.getMessage)
  }

  test("Quality.bm25: hand-checked Okapi scores, absent term scores zero") {
    import spark.implicits._
    val df = Seq(
      (0L, "spark join spark"),   // tf(spark)=2, tf(join)=1, dl=3
      (1L, "join and nothing"),   // tf(join)=1, dl=3
      (2L, "unrelated words here entirely")  // dl=4, no terms
    ).toDF("doc_id", "text")
    val out = graft.ops.Quality.bm25(df, "doc_id", "text", Seq("spark", "join"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val (k1, b) = (1.2, 0.75)
    val n = 3.0; val avgdl = 10.0 / 3.0
    def idf(dfT: Double) = math.log(1.0 + (n - dfT + 0.5) / (dfT + 0.5))
    def tfc(tf: Double, dl: Double) =
      tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val w0 = r6(0.0 + idf(1.0) * tfc(2.0, 3.0) + idf(2.0) * tfc(1.0, 3.0))
    val w1 = r6(0.0 + idf(1.0) * tfc(0.0, 3.0) + idf(2.0) * tfc(1.0, 3.0))
    assert(out(0) == ((0L, 3L, w0)))
    assert(out(1) == ((1L, 3L, w1)))
    assert(out(2) == ((2L, 4L, 0.0)))  // no query term present
    assert(out(0)._3 > out(1)._3, "rarer matched term must outrank")
  }

  test("Quality.gopherFilter: each rule trips on its designed offender, good doc keeps") {
    import spark.implicits._
    val good = ((1 to 52).map(i => f"word$i%02d") ++
      Seq("the", "a", "of", "and")).mkString(" ")             // 56 distinct words, stopwords, clean
    val short = "too short to keep"                           // r_words
    val symbols = ("the a " + "### ... " * 20).trim           // r_symbol (and words<50)
    val repeat = ("the a " + "word " * 60).trim               // r_dup: 62 words, 3 distinct
    val df = Seq((0L, good), (1L, short), (2L, symbols), (3L, repeat), (4L, ""))
      .toDF("doc_id", "text")
    val out = graft.ops.Quality.gopherFilter(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8)))
      .toMap
    // good: every rule green
    assert(out(0L) == ((56L, true, true, true, true, true, true, true)))
    assert(!out(1L)._2 && !out(1L)._8, "short doc fails r_words")
    assert(!out(2L)._6 && !out(2L)._8, "symbol-heavy doc fails r_symbol")
    assert(out(3L)._1 == 62L && !out(3L)._7 && !out(3L)._8, "repeated doc fails r_dup")
    // empty doc: division rules are false, not null
    assert(out(4L) == ((0L, false, false, false, false, false, false, false)))
    // the scale property: zero exchanges — the filter runs at scan speed
    val exec = graft.ops.Quality.gopherFilter(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange"), s"gopherFilter must stay narrow:\n$exec")
  }

  test("Quality.topNgrams: exact counts, lexicographic tiebreak, short docs skipped") {
    import spark.implicits._
    val df = Seq(
      (0L, "a b c a b c"),   // trigrams: "a b c" x2, "b c a", "c a b"
      (1L, "a b c"),         // "a b c" once more
      (2L, "x y")            // too short for a trigram
    ).toDF("doc_id", "text")
    val got = graft.ops.Quality.topNgrams(df, "text", n = 3, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b c", 3L), ("b c a", 1L), ("c a b", 1L)))
    // top-k must plan as TakeOrderedAndProject, not a global sort
    val exec = graft.ops.Quality.topNgrams(df, "text", 3, 3)
      .queryExecution.executedPlan.toString
    assert(exec.contains("TakeOrderedAndProject"), s"expected bounded top-k:\n$exec")
  }

  test("Packing.contiguous: equals the naive global prefix sum, never single-partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 500L).map(i => (i, 1 + rnd.nextInt(900))).toDF("id", "toks")
    val got = graft.ops.Packing.contiguous(docs, "id", "toks", budget = 1000)
      .select("id", "start_off", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // naive reference: exclusive prefix sum in id order on the driver
    var acc = 0L
    val want = docs.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).map {
      case (id, t) => val o = (id, acc, acc / 1000); acc += t; o
    }
    assert(got.toSeq == want.toSeq)
    // the scale property: no naive global window — nothing in the plan
    // may collapse to a single partition, and the running-sum phase is
    // genuinely partition-local: the only exchanges anywhere are the
    // range repartition (inside the cached relation) and the broadcast
    // of the numPartitions-row offset table — in particular no hash
    // exchange (a Window.partitionBy(pid) formulation would add one)
    val exec = graft.ops.Packing.contiguous(docs, "id", "toks", budget = 1000)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange SinglePartition"),
      s"global-window single-partition collapse:\n$exec")
    assert(!exec.contains("Exchange hashpartitioning"),
      s"running sum must be partition-local, not a pid-hash window:\n$exec")
  }

  test("Sampling.upsample: floor copies + stable fractional extras, 0-epoch rows vanish") {
    import spark.implicits._
    val docs = (0L until 200L).map(i =>
      (i, if (i < 100) "en" else if (i < 150) "zh" else "de")).toDF("id", "lang")
    val out = graft.ops.Sampling.upsample(docs, "lang", "id",
      epochs = Map("en" -> 2.3, "zh" -> 0.5), defaultEpochs = 1.0, denom = 100)
    val counts = out.groupBy("id").count().as[(Long, Long)].collect().toMap
    (0L until 200L).foreach { i =>
      val want =
        if (i < 100) 2L + (if (i % 100 < 30) 1L else 0L)  // en: 2.3 epochs
        else if (i < 150) (if (i % 100 < 50) 1L else 0L)  // zh: 0.5
        else 1L                                           // default
      assert(counts.getOrElse(i, 0L) == want, s"id $i")
    }
    // epoch numbering is 1..copies and reruns are identical
    assert(out.where(col("id") === 0).select("epoch").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(out.count() == out.count())
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"),
      "upsample must stay a narrow explode")
  }

  test("Packing.slidingWindows: coverage, overlap, short and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"), // len 10, W 5, S 3 -> starts 0,3,6
      (2L, "abc"),        // shorter than a window -> 1 chunk
      (3L, "")            // empty -> 1 empty chunk
    ).toDF("id", "text")
    val got = graft.ops.Packing.slidingWindows(docs, "id", "text", window = 5, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, "abcde"), (1L, 1L, "defgh"), (1L, 2L, "ghij"),
      (2L, 0L, "abc"),
      (3L, 0L, "")))
    // every char is covered: concatenating stride-prefixes rebuilds the doc
    val rebuilt = got.filter(_._1 == 1L).map { case (_, w, c) =>
      if (w < 2) c.take(3) else c  // last window keeps its full tail
    }.mkString
    assert(rebuilt == "abcdefghij")
  }

  test("Quality.stripBoilerplate: df-threshold lines removed, order kept, blanks immune") {
    import spark.implicits._
    // 13 docs share FOOTER (df=13 >= 10); "rare line" sits in only 2
    // docs (df=2, kept); blank lines are structure (kept); doc 99 is
    // ALL boilerplate (survives empty)
    val docs = ((0 until 12).map { i =>
      val mid = if (i < 2) "rare line" else s"mid $i"
      (i.toLong, s"unique $i\n\n$mid\nFOOTER")
    } :+ (99L, "FOOTER")).toDF("id", "text")
    val got = graft.ops.Quality.stripBoilerplate(docs, "id", "text", minDocs = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0 until 12).foreach { i =>
      val mid = if (i < 2) "rare line" else s"mid $i"
      assert(got(i.toLong) == s"unique $i\n\n$mid", s"doc $i")
    }
    assert(got(99L) == "")
    // document frequency, not occurrences: one doc repeating a line
    // 20 times does not cross minDocs
    val spam = Seq((1L, Seq.fill(20)("refrain").mkString("\n")), (2L, "other")).toDF("id", "text")
    val kept = graft.ops.Quality.stripBoilerplate(spam, "id", "text", minDocs = 10)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kept(1L).split("\n").count(_ == "refrain") == 20)
  }

  test("TextStats.scrubPii: typed placeholders, scrub order, short digit runs kept") {
    import spark.implicits._
    val got = Seq(
      "mail a.b+c@x-1.example.com now",
      "host 10.0.0.1, dial (555) 867-5309",
      "only 42 and 3.14 stay"
    ).toDF("text").select(graft.functions.TextStats.scrubPii(col("text"))).as[String].collect()
    assert(got(0) == "mail <EMAIL> now")
    assert(got(1) == "host <IP>, dial (<PHONE>")
    assert(got(2) == "only 42 and 3.14 stay")
  }

  test("AsOf.join: latest at-or-before match, tie to max tiebreak, no-match dropped") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L),  // after right ts 5 and 10 => matches ts=10
      (1L, 7L, 101L),   // between 5 and 10 => matches ts=5
      (1L, 3L, 102L),   // before all right rows => dropped (inner)
      (2L, 50L, 103L)   // user with no right rows => dropped
    ).toDF("user_id", "ts", "event_id")
    val right = Seq(
      (1L, 5L, 1.0),
      (1L, 10L, 2.0),   // tie on (user 1, ts 10):
      (1L, 10L, 7.0)    //   max tiebreak 7.0 wins
    ).toDF("user_id", "ts", "pv")
    val out = graft.ops.AsOf.join(left, right, "user_id", "ts",
        valueCols = Seq("pv"), tiebreak = "pv")
      .select("event_id", "pv", "asof_ts")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sorted
    assert(out.toSeq == Seq((100L, 7.0, 10L), (101L, 1.0, 5L)))
  }

  test("Dedup.nearDupWinnersVerified: min-id survives per verified component, transitively") {
    import spark.implicits._
    // chain: 1~2 (J=8/9) and 2~3 (J=9/10), 1~3 (J=8/10=0.8) — one
    // component either way; 4 shares nothing. Survivors = {1, 4}.
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett"
    val docs = Seq(
      (1L, base),
      (2L, base + " kilo"),
      (3L, base + " kilo lima"),
      (4L, "nova orbit pluto quark rover sigma tango umbra vesta wharf")
    ).toDF("doc_id", "text")
    val survivors = Dedup.nearDupWinnersVerified(docs, "doc_id", "text", threshold = 0.8)
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(1L, 4L))
    // raising the threshold past every pair's similarity keeps everyone
    val all = Dedup.nearDupWinnersVerified(docs, "doc_id", "text", threshold = 0.95)
      .select("doc_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("Bloom.bloomGate: no false negatives, deterministic keeps, scan-speed incoming plan") {
    import spark.implicits._
    val corpus = Seq("alpha doc text", "bravo doc text", "charlie doc text")
      .toDF("text")
    val incoming = Seq(
      10L -> "alpha doc text",   // exact corpus dup: MUST drop
      11L -> "bravo doc text",   // exact corpus dup: MUST drop
      12L -> "delta brand new",  // new: kept (FP odds ~1e-20 at m=2^20)
      13L -> "echo also new"     // new: kept
    ).toDF("doc_id", "text")
    val out = graft.ops.Bloom.bloomGate(corpus, incoming, "text")
    val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(12L, 13L),
      "corpus texts always probe all-set bits; new texts keep deterministically")
    // rerun is bit-identical (md5-derived positions, no RNG state)
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq == kept)
    // the incoming side is a pure narrow filter against the bitmap
    // literal — no exchange, no broadcast join in the executed plan
    val exec = out.queryExecution.executedPlan.toString
    assert(!exec.contains("Exchange") && !exec.contains("BroadcastHashJoin"),
      s"bloomGate incoming side must stay narrow:\n$exec")
    // bitmap aggregator: reduce sets bits, merge ORs word-wise
    val bm = graft.ops.Bloom.BloomBitmap(4)
    val a = bm.reduce(bm.zero, 0L); val b = bm.reduce(bm.zero, 65L)
    val m = bm.merge(a, b)
    assert(m(0) == 1L && m(1) == 2L && m(2) == 0L)
  }

  test("Sampling.deterministicShuffle: stable per seed, permutes, varies across seeds") {
    import spark.implicits._
    val df = (1L to 200L).toDF("id")
    def order(seed: Long): Seq[Long] =
      graft.ops.Sampling.deterministicShuffle(df, "id", seed).as[Long].collect().toSeq
    val a1 = order(7); val a2 = order(7); val b = order(8)
    assert(a1 == a2, "same seed must reproduce the same order")
    assert(a1.sorted == (1L to 200L) && b.sorted == (1L to 200L), "must be a permutation")
    assert(a1 != b, "different seeds must give different orders")
    assert(a1 != (1L to 200L).toSeq, "must actually shuffle")
  }

  test("Similarity sizing rules reproduce the measured ladder configs") {
    import graft.ops.Similarity
    // nlist ∝ n: the exact configs the scale ladder measured
    assert(Similarity.recommendedNlist(2000) == 16)
    assert(Similarity.recommendedNlist(20000) == 160)
    assert(Similarity.recommendedNlist(40000) == 320)
    // banding: 8x8 at the 2k corpus; the 20k/40k rungs land at 11-12
    // bits (the ladder measured the 12x12 step there: candidates ÷8.2
    // at 96% recall)
    assert(Similarity.recommendedBanding(2000) == ((8, 8)))
    assert(Similarity.recommendedBanding(20000) == ((11, 11)))
    assert(Similarity.recommendedBanding(40000) == ((12, 12)))
    // monotone, and capped where banding stops being the right tool
    assert(Similarity.recommendedBanding(10_000_000_000L) == ((16, 16)))
  }

  test("htmlToText: elision, entity order, whitespace — the q97 contract") {
    import spark.implicits._
    def x(html: String): String =
      Seq(Tuple1(html)).toDF("h")
        .select(graft.ops.Quality.htmlToText(col("h"))).head().getString(0)
    // script/style bodies (incl. a raw '<') vanish whole; comments too
    assert(x("<body><script>if (1 < 2) alert('x')</script>a<style>b{}</style>c<!-- d\n e -->f</body>")
      == "a c f")
    // case-insensitive block tags, attributes on the open tag
    assert(x("A<SCRIPT type=\"x\">s</ScRiPt>B") == "A B")
    // &amp; decodes LAST: '&amp;lt;' must NOT double-decode to '<'
    assert(x("&amp;lt; &lt; &nbsp;&#39;q&#39;") == "&lt; < 'q'")
    // tags become separators; whitespace collapses; ends trim
    assert(x(" <p>a</p>\n\t<p>b</p> ") == "a b")
    // plain text with no markup passes through trimmed
    assert(x("  just text  ") == "just text")
    // unterminated '<' tail is not a tag — the tag body needs the close
    assert(x("a <unclosed") == "a <unclosed")
  }

  test("htmlToText: quoted attributes and numeric references — the r10 hardening") {
    import spark.implicits._
    def x(html: String): String =
      Seq(Tuple1(html)).toDF("h")
        .select(graft.ops.Quality.htmlToText(col("h"))).head().getString(0)
    // a quoted attribute value containing '>' no longer leaks into text
    assert(x("""a <a href="x>y">L</a> b""") == "a L b")
    assert(x("""a <img src="u>v" alt='w>z'/> b""") == "a b")
    // ...including on script/style open tags
    assert(x("""A<script data-x="1>2">s</script>B""") == "A B")
    // numeric references decode: decimal, hex (both cases), astral
    assert(x("caf&#233; &#xE9; &#XE9; &#x1F600;") == "café é é 😀")
    // double-encoded decodes exactly once
    assert(x("&amp;#65; &amp;amp;") == "&#65; &amp;")
    // malformed / out-of-range / surrogate references survive verbatim
    assert(x("&#xZZ; &#2000000; &#xD800; &#; &unknown; a & b")
      == "&#xZZ; &#2000000; &#xD800; &#; &unknown; a & b")
    // &apos; joins the named set
    assert(x("&apos;q&apos;") == "'q'")
  }

  test("htmlToText: WHATWG named table + sloppy-tag cleanup — the r12 hardening") {
    import spark.implicits._
    def x(html: String): String =
      Seq(Tuple1(html)).toDF("h")
        .select(graft.ops.Quality.htmlToText(col("h"))).head().getString(0)
    // the full vendored table: accents, punctuation, symbols
    assert(x("caf&eacute; &mdash; A&hellip;B &copy;7 &Eacute;") == "café — A…B ©7 É")
    // the longest table name (31 chars) — the scan window must reach it
    assert(x("x&CounterClockwiseContourIntegral;y") == "x∳y")
    // two-code-point expansions (93 names do this)
    assert(x("&NotEqualTilde;") == "≂̸")
    // WHATWG names are case-sensitive: the unknown casing stays verbatim
    assert(x("&EACUTE;") == "&EACUTE;")
    // double-encoded NAMED reference decodes exactly once
    assert(x("&amp;eacute;") == "&eacute;")
    // nbsp decodes to a PLAIN space (pre-collapse convention), so it
    // collapses with its neighbors
    assert(x("a&nbsp; b") == "a b")
    // an unpaired-quote tag (bare apostrophe in an unquoted attribute)
    // is cleaned up by the second pass instead of leaking into text
    assert(x("a <p title=don't>x</p> b") == "a x b")
    assert(x("a <p title=don't>x</p> 'q' b") == "a x 'q' b")
  }

  test("codegen budget: an oversized inlined codebook refuses, naming the alternative") {
    import spark.implicits._
    val dim = 64
    // 8192 x 64 = 524288 double literals — past the 256k ceiling; the
    // guard fires BEFORE any Column is built (constructing the 8192-arm
    // argmax would already be the damage)
    val bigIvf: Similarity.IvfCodebook =
      Array.tabulate(8192)(i => (i.toLong, Array.fill(dim)(1.0), 1.0))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfCell(bigIvf, col("embedding"))
    }
    assert(e.getMessage.contains("codegen budget"), e.getMessage)
    assert(e.getMessage.contains("AnnIndex.probe"), e.getMessage)
    // under the ceiling nothing changes: the small-codebook path that
    // every existing suite drives still builds
    val smallIvf: Similarity.IvfCodebook =
      Array.tabulate(16)(i => (i.toLong, Array.fill(dim)(1.0), 1.0))
    Similarity.ivfCell(smallIvf, col("embedding"))
  }

  test("codegen cliff killed: residual probes stay codegen'd at production nprobe/ks") {
    import spark.implicits._
    val dim = 64
    // r17 REFUSED these parameters (nprobe=512 x m=16 x ks=64 per-cell
    // tables blew the inline-literal budget; unguarded they overflowed
    // Janino's 64 KB method limit and fell back to interpreted). The
    // tables now ride as codegen reference objects (AnnHelper), so the
    // same parameters must PLAN, COMPILE and ANSWER — asserted under
    // codegen.fallback=false + CODEGEN_ONLY, where any 64 KB overflow
    // or interpreted demotion is a hard failure instead of a log line.
    val rnd = new scala.util.Random(41)
    val ivfCb: Similarity.IvfCodebook = Array.tabulate(512) { i =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v, n)
    }
    val rcb: Similarity.PqCodebooks =
      Array.fill(16)(Array.tabulate(64)(j => Array.fill(4)(j * 0.01)))
    val df = (0 until 200).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "embedding")
    val query = Array.fill(dim)(0.1)
    val restore = Seq(
      "spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k2 => k2 -> spark.conf.getOption(k2))
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val inFlight = Similarity.ivfPqResidualTopK(df, "vec_id", "embedding",
        query, k = 5, nprobe = 512, ivfCb = Some(ivfCb), residualCb = Some(rcb))
        .collect()
      assert(inFlight.length == 5)
      // at rest: write a tiny residual layout, probe it wide
      val out = java.nio.file.Files.createTempDirectory("graft_codegen_resid")
        .toString + "/layout"
      Similarity.writeIvfPqResidualPartitioned(df, "vec_id", "embedding",
        ivfCb, rcb, out)
      val atRest = annProbe(out, query, k = 5, nprobe = 512)
        .collect()
      assert(atRest.length == 5)
      // both faces rank the same corpus through the same quantizer —
      // the at-rest path must land on the in-flight answer
      assert(atRest.map(_.getLong(0)).toSeq == inFlight.map(_.getLong(0)).toSeq)
    } finally restore.foreach {
      case (k2, Some(v)) => spark.conf.set(k2, v)
      case (k2, None) => spark.conf.unset(k2)
    }
  }

  test("hashedLinearQuality: trained classifier separates prose from web junk") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the story of the people in this city was a question of time " +
        "and the work of the school and the family"),
      (1L, "research on education and health policy is the result of " +
        "years of effort by the community and its members"),
      (2L, "buy cheap now click here free win prize discount offer buy " +
        "cheap now click here casino bonus deal"),
      (3L, "home about contact login register privacy cookie terms " +
        "sitemap search menu next previous page"),
      (4L, "xkcdq zzfrp qqwrtk bcdfgm nprstv wxzklm qrtpbd fgjklz"),
      (5L, "")).toDF("doc_id", "text")
    val out = Quality.hashedLinearQuality(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    // natural prose keeps, confidently
    assert(out(0L)._2 && out(0L)._1 > 0.8, s"prose: ${out(0L)}")
    assert(out(1L)._2 && out(1L)._1 > 0.8, s"prose: ${out(1L)}")
    // spam stuffing and nav chrome drop, confidently
    assert(!out(2L)._2 && out(2L)._1 < 0.1, s"spam: ${out(2L)}")
    assert(!out(3L)._2 && out(3L)._1 < 0.1, s"nav: ${out(3L)}")
    // gibberish drops (hashed buckets it never earned weight for)
    assert(!out(4L)._2, s"gibberish: ${out(4L)}")
    // a gramless document scores exactly sigmoid(bias)
    val (_, bias, _) = Quality.hashedLinearModel
    assert(math.abs(out(5L)._1 - 1.0 / (1.0 + math.exp(-bias))) < 1e-6)
  }

  test("ffdPack: whole-doc FFD — capacity respected, offsets consistent, partitioning-independent") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val docs = (0L until 400L).map(i => (i, 40L + rnd.nextInt(560))).toDF("doc_id", "n_chars")
    val out = graft.ops.Packing.ffdPack(docs, "doc_id", "n_chars",
      capacity = 1024, shards = 4)
    val rows = out.as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length == 400 && rows.map(_._1).distinct.length == 400)
    // bins never exceed capacity; bin_off is the exact running fill
    rows.groupBy(r => (r._3, r._4)).foreach { case (bin, members) =>
      val total = members.map(_._2).sum
      assert(total <= 1024, s"bin $bin overflows: $total")
      val byOff = members.sortBy(_._5)
      assert(byOff.head._5 == 0L, s"bin $bin does not start at 0")
      byOff.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5 + a._2 == b._5, s"bin $bin offsets not contiguous")
        case _ =>
      }
      assert(byOff.last._5 + byOff.last._2 == total)
    }
    // documents are never split: one row per doc, its whole size packed
    assert(rows.map(_._2).sum == docs.agg(sum("n_chars")).head.getLong(0))
    // shard = id mod shards — a semantic parameter, NOT spark
    // partitioning: any input layout computes the identical answer
    val re = graft.ops.Packing.ffdPack(docs.repartition(13), "doc_id",
      "n_chars", capacity = 1024, shards = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(re.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
    // no single-partition collapse anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // an oversize document refuses with a curated error — surfaced as
    // a plain IllegalArgumentException from the pre-exchange check
    // (NOT a SparkException wrapping task retries)
    val big = Seq((0L, 2000L)).toDF("doc_id", "n_chars")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Packing.ffdPack(big, "doc_id", "n_chars",
        capacity = 1024, shards = 2).collect()
    }
    assert(e.getMessage.contains("can never pack whole"), e.getMessage)
  }

  test("ffdPack: a computed tokens column skips the eager probe — plan stays lazy, in-task throw backstops") {
    import spark.implicits._
    // parquet-backed so the optimizer cannot fold the computed column
    // into a local relation (which would make the probe free anyway)
    val dir = java.nio.file.Files.createTempDirectory("graft_ffdlazy")
      .toString + "/docs"
    Seq((0L, "x" * 2000), (1L, "y" * 10)).toDF("doc_id", "text")
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
      .withColumn("n_chars", length(col("text")).cast("long"))
    // the call itself must NOT fail (and must not run the per-row
    // compute twice): the probe is skipped for computed columns, so
    // plan construction stays lazy even with an oversize row present
    val packed = graft.ops.Packing.ffdPack(docs, "doc_id", "n_chars",
      capacity = 1024, shards = 2)
    // the in-task backstop still carries the curated message
    val e = intercept[org.apache.spark.SparkException] { packed.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("can never pack whole")),
      messages(e).mkString(" | "))
    // and the happy path packs identically to a stored-column run
    val ok = graft.ops.Packing.ffdPack(
      docs.where(col("doc_id") === 1L), "doc_id", "n_chars",
      capacity = 1024, shards = 2)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(ok == Seq((1L, 10L, 1L, 0L, 0L)), s"$ok")
  }

  test("AnnIndex.maintain: in-distribution appends, drifted rebuilds, both layouts answer") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val dim = 16
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    def sample(n: Int, off: Double, base: Long) = (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3 + off))
    }
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val indist = sample(48, 0.0, 1000L).toDF("vec_id", "embedding")
    val drifted = sample(48, 25.0, 2000L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_maintain").toString
    // one pointered store root per scenario: a/, b/, r/
    def store(name: String): AnnIndex = {
      Layouts.swapGenerationPointer(spark, s"$base/$name", "gen0")
      AnnIndex.open(spark, s"$base/$name", "vec_id")
    }
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/a/gen0")
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/b/gen0")
    val q = Array.fill(dim)(1.0)
    // in-distribution: the stored tables describe the batch within the
    // threshold -> append in place; the layout then answers over
    // corpus ∪ batch exactly as the in-flight face with the SAME
    // (stored) codebooks
    val ra = store("a").maintain(corpus, indist, "embedding", 0L)
    assert(ra.action == "append", s"$ra")
    assert(ra.layout == base + "/a/gen0")
    assert(ra.storedErr <= 2.0 * ra.freshErr, s"$ra")
    val atRest = annProbe(base + "/a", q, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val inFlight = Similarity.ivfPqTopK(corpus.unionByName(indist),
      "vec_id", "embedding", q, k = 5, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(ivfCb), pqCb = Some(pqCb))
      .as[(Long, Double)].collect().toSeq
    assert(atRest == inFlight, s"$atRest vs $inFlight")
    // nothing was written at the rebuild target on the append path
    assert(!new java.io.File(base + "/a/gen1").exists())
    // drifted: the stored tables describe the batch ~1000x worse than
    // its own -> retrain on corpus ∪ batch into a NEW generation; the
    // rebuilt layout is self-contained and answers as the in-flight
    // face with codebooks derived from the union
    val rb = store("b").maintain(corpus, drifted, "embedding", 0L)
    assert(rb.action == "rebuild", s"$rb")
    assert(rb.layout == base + "/b/gen1")
    assert(rb.storedErr > 2.0 * rb.freshErr, s"$rb")
    val all = corpus.unionByName(drifted)
    val newIvf = Similarity.ivfCodebook(all, "vec_id", "embedding", nlist = 4)
    val newPq = Similarity.pqCodebooks(all, "vec_id", "embedding", m = 4, ks = 16)
    val atRest2 = annProbe(base + "/b/gen1", q, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val inFlight2 = Similarity.ivfPqTopK(all, "vec_id", "embedding", q,
      k = 5, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(newIvf), pqCb = Some(newPq))
      .as[(Long, Double)].collect().toSeq
    assert(atRest2 == inFlight2, s"$atRest2 vs $inFlight2")
    // the original generation is untouched by the rebuild, which only
    // moved the pointer
    assert(annProbe(base + "/b/gen0", q, k = 5, nprobe = 2).count() == 5)
    // KIND-AWARENESS: the same decisions on a RESIDUAL ('rpq') layout,
    // with residual scoring, residual appends and an 'rpq' rebuild
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 16)
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/r/gen0")
    val rIndex = store("r")
    val rr = rIndex.maintain(corpus, indist, "embedding", 0L)
    assert(rr.action == "append", s"$rr")
    val rAtRest = annProbe(base + "/r", q, k = 5, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val rInFlight = Similarity.ivfPqResidualTopK(corpus.unionByName(indist),
      "vec_id", "embedding", q, k = 5, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(ivfCb), residualCb = Some(rcb))
      .as[(Long, Double)].collect().toSeq
    assert(rAtRest == rInFlight, s"$rAtRest vs $rInFlight")
    val rd = rIndex.maintain(corpus, drifted, "embedding", 1L)
    assert(rd.action == "rebuild", s"$rd")
    // the rebuilt generation is an 'rpq' layout answering residual
    // probes — a raw rebuild here would poison every future probe
    assert(AnnIndex.open(spark, base + "/r", "vec_id").kind == "rpq")
    assert(annProbe(base + "/r", q, k = 5, nprobe = 2).count() == 5)
    // a trickle batch (<= ks rows) always appends: its own stand-in
    // codebooks memorize it (freshErr = 0) and the raw comparison
    // would spuriously retrain the whole corpus
    val trickle = sample(8, 25.0, 3000L).toDF("vec_id", "embedding")
    val rc = AnnIndex.open(spark, base + "/a", "vec_id")
      .maintain(corpus, trickle, "embedding", 1L)
    assert(rc.action == "append", s"$rc")
    assert(rc.freshErr == 0.0, s"$rc")
    // curated refusal: a sub-1.0 threshold rebuilds every batch
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.open(spark, base + "/a", "vec_id")
        .maintain(corpus, indist, "embedding", 2L, driftThreshold = 0.5)
    }
    assert(e1.getMessage.contains("below 1.0"), e1.getMessage)
  }

  test("ivfPqTopKBatchFromFiles: per-query parity with the single probe, one scan, disjoint probe sets masked") {
    import spark.implicits._
    val rnd = new scala.util.Random(131)
    val dim = 16
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(dim)(j => math.sin(i * 0.37 + j) + rnd.nextGaussian() * 0.1)))
      .toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(emb, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_batchprobe").toString
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding",
      ivfCb, pqCb, base + "/layout")
    val q1 = Array.fill(dim)(1.0)
    val q2 = Array.fill(dim)(-1.0)
    val q3 = Array.tabulate(dim)(j => if (j % 2 == 0) 1.5 else -0.5)
    val batch = AnnIndex.open(spark, base + "/layout", "vec_id")
      .probe(Seq(1L -> q1, 2L -> q2, 3L -> q3), k = 7, nprobe = 3)
    val got = batch.as[(Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).sortBy(r => (r._2, r._1)).toSeq).toMap
    // parity: each query's slice equals the single-query probe
    Seq(1L -> q1, 2L -> q2, 3L -> q3).foreach { case (qid, qv) =>
      val single = annProbe(base + "/layout", qv, k = 7, nprobe = 3)
        .as[(Long, Double)].collect().toSeq
      assert(got(qid) == single, s"query $qid: ${got(qid)} vs $single")
    }
    // one scan of the union of probed cells; the only exchange is the
    // per-query top-k window
    val plan = batch.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    // curated refusals
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.open(spark, base + "/layout", "vec_id").probe(Nil, k = 5)
    }
    assert(e1.getMessage.contains("at least one query"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.open(spark, base + "/layout", "vec_id").probe(Seq(1L -> q1, 1L -> q2), k = 5)
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
  }

  test("maintainFromDriftSeries: a drifting stream triggers exactly one rebuild, probes agree across the swap") {
    import spark.implicits._
    import graft.streaming.StreamingSimilarity
    val rnd = new scala.util.Random(117)
    val dim = 16
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    def sample(n: Int, off: Double, base: Long) = (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3 + off))
    }
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_driftseries").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    // the monitor tick: a fresh handle on the store root each run
    def monitor(driftOut: String, root: String, corpus: DataFrame) =
      AnnIndex.open(spark, root, "vec_id")
        .maintainFromDriftSeries(driftOut, corpus, "embedding", window = 2)
    val batches = Seq(
      sample(24, 0.0, 1000L), sample(24, 0.0, 2000L),   // in-distribution
      sample(24, 25.0, 3000L), sample(24, 25.0, 4000L)) // drifted
      .map(_.toDF("vec_id", "embedding"))
    def ingest(ids: Range): Unit = ids.foreach { i =>
      StreamingSimilarity.ingestBatch(batches(i), i.toLong, base,
        "vec_id", "embedding", Some(base + "/drift"))
    }
    // an in-distribution prefix (shorter than 2 windows) KEEPS — the
    // monitor never compares a series against itself
    ingest(0 until 2)
    val allSoFar = corpus.unionByName(batches(0)).unionByName(batches(1))
    val r1 = monitor(base + "/drift", base, allSoFar)
    assert(r1.action == "keep", s"$r1")
    assert(r1.layout == base + "/gen0")
    assert(r1.batches == 2)
    assert(!new java.io.File(base + "/gen1").exists(),
      "keep must not write the rebuild target")
    // the full drifted series REBUILDS: trailing median >> baseline
    ingest(2 until 4)
    val series = Similarity.readDriftSeries(spark, base + "/drift")
      .as[(Long, Double)].collect().toSeq
    assert(series.map(_._1) == Seq(0L, 1L, 2L, 3L), s"$series")
    assert(series(2)._2 > series(0)._2 * 100, s"$series")
    val all = batches.foldLeft(corpus)(_ unionByName _)
    val r2 = monitor(base + "/drift", base, all)
    assert(r2.action == "rebuild", s"$r2")
    assert(r2.layout == base + "/gen1")
    assert(r2.trailingErr > 2.0 * r2.baselineErr, s"$r2")
    // the quiesce marker is released after the retrain
    assert(!graft.ops.Layouts.exists(spark,
      base + "/gen0/" + graft.ops.Layouts.QuiesceMarker))
    // probes agree across the swap: the new generation answers exactly
    // the in-flight top-k over the full corpus with codebooks retrained
    // on it (the deterministic smallest-id rule, geometry preserved)
    val q = Array.fill(dim)(1.0)
    val newIvf = Similarity.ivfCodebook(all, "vec_id", "embedding", nlist = 4)
    val newPq = Similarity.pqCodebooks(all, "vec_id", "embedding", m = 4, ks = 16)
    val atRest = annProbe(base + "/gen1", q, k = 8, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    val inFlight = Similarity.ivfPqTopK(all, "vec_id", "embedding", q,
      k = 8, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(newIvf), pqCb = Some(newPq))
      .as[(Long, Double)].collect().toSeq
    assert(atRest == inFlight, s"$atRest vs $inFlight")
    // exactly ONE rebuild happened across both calls: gen1 was absent
    // until the drifted series demanded it (asserted above), and the
    // old generation is untouched (the rebuild only moved the pointer)
    assert(annProbe(base + "/gen0", q, k = 8, nprobe = 2).count() == 8)
    // the FENCE: the reports the rebuild consumed never re-fire it —
    // the immediate re-run (the recurring monitor's next tick) keeps,
    // with an empty post-fence series
    val r2b = monitor(base + "/drift", base, all)
    assert(r2b.action == "keep" && r2b.batches == 0, s"$r2b")
    assert(!new java.io.File(base + "/gen2").exists())
    // a fresh post-fence window CAN rebuild again — but never onto an
    // existing generation (the crashed-rebuild / live-generation guard:
    // here an unfenced gen2 a crashed rebuild left behind)
    Seq(sample(24, 0.0, 5000L), sample(24, 0.0, 6000L),
        sample(24, 25.0, 7000L), sample(24, 25.0, 8000L))
      .zipWithIndex.foreach { case (rows, i) =>
        StreamingSimilarity.ingestBatch(rows.toDF("vec_id", "embedding"),
          (4 + i).toLong, base, "vec_id", "embedding",
          Some(base + "/drift"))
      }
    assert(new java.io.File(base + "/gen2").mkdirs())
    val eExists = intercept[IllegalArgumentException] {
      monitor(base + "/drift", base, all)
    }
    assert(eExists.getMessage.contains("already exists"), eExists.getMessage)
    Layouts.delete(spark, base + "/gen2")
    // pruning drops exactly the consumed reports (<= fence): the
    // dashboard read then shows only live history, and the next
    // decision is unchanged
    assert(Similarity.pruneDriftSeries(spark, base + "/drift") == 4)
    assert(Similarity.readDriftSeries(spark, base + "/drift")
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(4L, 5L, 6L, 7L))
    val r4 = monitor(base + "/drift", base, all)
    assert(r4.action == "rebuild" && r4.batches == 4, s"$r4")
    // KIND-AWARENESS: an 'rpq' layout's monitor scores residual
    // distortion per batch and its rebuild writes an 'rpq' generation
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 16)
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/r/gen0")
    Layouts.swapGenerationPointer(spark, base + "/r", "gen0")
    Seq(sample(24, 0.0, 11000L), sample(24, 0.0, 12000L),
        sample(24, 25.0, 13000L), sample(24, 25.0, 14000L))
      .zipWithIndex.foreach { case (rows, i) =>
        StreamingSimilarity.ingestBatch(rows.toDF("vec_id", "embedding"),
          i.toLong, base + "/r", "vec_id", "embedding",
          Some(base + "/rdrift"))
      }
    val r5 = monitor(base + "/rdrift", base + "/r", all)
    assert(r5.action == "rebuild", s"$r5")
    assert(AnnIndex.open(spark, base + "/r/gen1", "vec_id").kind == "rpq")
    assert(annProbe(base + "/r/gen1", q, k = 8, nprobe = 2).count() == 8)
    // an in-distribution trailing window on the SAME layout keeps even
    // at full length (threshold respected, not just series length)
    val calm = base + "/calm_drift"
    (0 until 4).foreach { i =>
      StreamingSimilarity.ingestBatch(sample(24, 0.0, 9000L + 100 * i)
        .toDF("vec_id", "embedding"), i.toLong, base,
        "vec_id", "embedding", Some(calm))
    }
    val r3 = monitor(calm, base, all)
    assert(r3.action == "keep", s"$r3")
    // an unfenced series refuses the prune (nothing provably consumed)
    val ePrune = intercept[IllegalArgumentException] {
      Similarity.pruneDriftSeries(spark, calm)
    }
    assert(ePrune.getMessage.contains("fence"), ePrune.getMessage)
    // FORMAT-UPGRADE: a series mixing pre-round-18 batches (which also
    // embedded ingest_batch as a data column, equal to the directory
    // value by construction) with new directory-only batches reads
    // correctly — the partition column shadows the embedded copy
    Seq((0L, 0.5)).toDF("ingest_batch", "pq_err").write
      .parquet(base + "/mixed_drift/ingest_batch=0")
    Seq(0.9).toDF("pq_err").write
      .parquet(base + "/mixed_drift/ingest_batch=1")
    val mixed = Similarity.readDriftSeries(spark, base + "/mixed_drift")
      .as[(Long, Double)].collect().toSeq
    assert(mixed == Seq(0L -> 0.5, 1L -> 0.9), s"$mixed")
  }

  test("kind-aware streamed increments: an rpq layout gets residual codes, probe parity with the batch face") {
    import spark.implicits._
    val dim = 16
    def vecs(n: Int, b: Long) = (0 until n).map { i =>
      val id = b + i
      (id, Array.tabulate(dim)(j => math.sin(id * 0.9 + j * 1.7)))
    }
    val corpus = vecs(40, 0L).toDF("vec_id", "embedding")
    val b1 = vecs(10, 100L).toDF("vec_id", "embedding")
    val b2 = vecs(10, 200L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 8)
    val base = java.nio.file.Files.createTempDirectory("graft_rpq_incr").toString
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/streamed")
    assert(AnnIndex.open(spark, base + "/streamed", "vec_id").kind == "rpq")
    // the kind-agnostic increment append must pick the RESIDUAL encoder
    val streamedIndex = AnnIndex.open(spark, base + "/streamed", "vec_id")
    streamedIndex.append(b1, "embedding", 0L)
    streamedIndex.append(b2, "embedding", 1L)
    val query = Array.fill(dim)(0.5)
    val streamed = annProbe(base + "/streamed", query, k = 8, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    // batch-face parity: the residual layout writer over corpus ∪ both
    // batches, with the same codebooks, answers identically
    Similarity.writeIvfPqResidualPartitioned(
      corpus.unionByName(b1).unionByName(b2), "vec_id", "embedding",
      ivfCb, rcb, base + "/batched")
    val batched = annProbe(base + "/batched", query, k = 8, nprobe = 2)
      .as[(Long, Double)].collect().toSeq
    assert(streamed == batched, s"$streamed vs $batched")
    assert(streamed.exists(_._1 >= 100L), s"increments invisible: $streamed")
    // raw codes can never land in the rpq layout (and vice versa): the
    // raw-only refine refuses the layout by kind
    val e = intercept[IllegalStateException] {
      AnnIndex.open(spark, base + "/streamed", "vec_id")
        .refine(query, k = 3, "embedding")
    }
    assert(e.getMessage.contains("'pq'"), e.getMessage)
    // the handle's own refusal face: a sidecar-less path
    val e2 = intercept[IllegalArgumentException] {
      AnnIndex.open(spark, base + "/nowhere", "vec_id")
    }
    assert(e2.getMessage.contains("sidecar"), e2.getMessage)
  }

  test("ivfPqDistortion: drift rises off-distribution; residual beats raw on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val dim = 16
    // four well-separated clusters — the data shape IVF-PQ is for
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    def sample(n: Int, off: Double, base: Long) = (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j =>
        (c(j) + rnd.nextGaussian() * 0.3 + off).toFloat))
    }
    val corpus = sample(200, 0.0, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.trainIvfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 8)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 8)
    // an appended batch from the TRAINED distribution scores like the
    // corpus; a shifted batch scores measurably worse — the rebuild
    // signal AnnIndex.maintain gates on
    val inDist = sample(60, 0.0, 1000L).toDF("vec_id", "embedding")
    val shifted = sample(60, 3.0, 2000L).toDF("vec_id", "embedding")
    val dIn = Similarity.ivfPqDistortion(inDist, "embedding", ivfCb, pqCb,
      residual = false)
    val dShift = Similarity.ivfPqDistortion(shifted, "embedding", ivfCb, pqCb,
      residual = false)
    assert(dShift > dIn * 1.5, s"shifted $dShift vs in-dist $dIn")
    // residual quantization beats raw-vector PQ on clustered data:
    // with more clusters than ks samples, raw PQ pays the full
    // cluster separation for every uncovered cluster, while residuals
    // concentrate near the origin for ALL cells (same deterministic
    // ks-sample discipline for both codebooks; one coarse sample per
    // cluster, so residuals really are within-cluster noise)
    val cdim = 16; val nCenters = 16
    def ccenter(c: Int): Array[Double] = Array.tabulate(cdim)(i =>
      (scala.util.hashing.MurmurHash3.productHash((c, i)) % 1000) / 500.0)
    val crows = (0L until 320L).map { id =>
      val c = (id % nCenters).toInt
      (id, Array.tabulate(cdim)(i =>
        (ccenter(c)(i) + rnd.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val cIvf = Similarity.ivfCodebook(crows, "vec_id", "embedding", nlist = 16)
    val cPq = Similarity.pqCodebooks(crows, "vec_id", "embedding", m = 4, ks = 8)
    val cRcb = Similarity.residualPqCodebooks(crows, "vec_id", "embedding",
      cIvf, m = 4, ks = 8)
    val dRaw = Similarity.ivfPqDistortion(crows, "embedding", cIvf, cPq,
      residual = false)
    val dRes = Similarity.ivfPqDistortion(crows, "embedding", cIvf, cRcb,
      residual = true)
    assert(dRes < dRaw, s"residual $dRes vs raw $dRaw")
    // the report face splits the same numbers by cohort, both kinds
    val rep = Similarity.quantizationDrift(
      corpus.withColumn("cohort", lit("corpus"))
        .unionByName(shifted.withColumn("cohort", lit("batch"))),
      "embedding", "cohort", ivfCb, pqCb, rcb)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(rep("batch")._1 > rep("corpus")._1, s"raw drift not visible: $rep")
    assert(rep("batch")._2 > rep("corpus")._2, s"residual drift not visible: $rep")
    // the report's per-cohort mean is the scalar face's number
    val dCorpusRaw = Similarity.ivfPqDistortion(corpus, "embedding",
      ivfCb, pqCb, residual = false)
    assert(math.abs(rep("corpus")._1 - dCorpusRaw) < 1e-5)
  }

  test("snapshotDiff 'removed' drives both compactions end to end") {
    import spark.implicits._
    // the wiring the q149/q150 scaladocs call "the natural producer":
    // a takedown between two corpus snapshots classifies as removed,
    // and THAT class is the tombstone set for both at-rest families
    val t0 = "the quick brown fox jumps over the lazy dog again and again today"
    val oldCorpus = Seq((0L, t0), (100L, t0),
      (7L, "something entirely different here today")).toDF("doc_id", "text")
    val curCorpus = oldCorpus.where(col("doc_id") =!= 0L)
    val removed = graft.ops.Cdc.snapshotDiff(oldCorpus, curCorpus,
        "doc_id", "text")
      .where(col("change") === "removed").select("doc_id")
    assert(removed.as[Long].collect().toSeq == Seq(0L))
    val base = java.nio.file.Files.createTempDirectory("graft_diff_tomb").toString
    // near-dup family: the retired half's pair partner takes over
    Dedup.writeNearDupIndex(oldCorpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    Dedup.compactNearDupIndex(spark, base + "/idx", dropIds = Some(removed))
    val pairs = Dedup.nearDupPairsFromIndex(base + "/idx", curCorpus,
      "doc_id", "text").select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a != 0L && b != 0L })
    // ANN family: the retired id never ranks again
    val rnd = new scala.util.Random(41)
    val dim = 16
    val vecs = Seq(0L, 100L, 7L).map(i =>
      (i, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(vecs, "vec_id", "embedding", nlist = 2)
    val pqCb = Similarity.pqCodebooks(vecs, "vec_id", "embedding", m = 4, ks = 2)
    Similarity.writeIvfPqPartitioned(vecs, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    AnnIndex.open(spark, base, "vec_id")
      .compact(dropIds = Some(removed.toDF("vec_id")))
    val ranked = annProbe(base + "/gen1", Array.fill(dim)(0.5), k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(!ranked.contains(0L) && ranked == Set(100L, 7L))
  }

  test("a failed compaction data write leaves a DETECTABLE partial dst") {
    import spark.implicits._
    // sidecar-first ordering (r16 ADVICE): if the data rewrite dies,
    // dst must hold the sidecar — hasIvfPqCodebooks(dst) = true, so
    // appends against it still validate — never a data-only layout
    // masquerading as legitimately pre-sidecar
    val df = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, ks = 4)
    val base = java.nio.file.Files.createTempDirectory("graft_partial_dst").toString
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding", ivfCb, pqCb,
      base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    // a tombstone frame that throws at EXECUTION time fails the data
    // write job itself, after validation and the sidecar copy
    val boom = udf((id: Long) =>
      if (id >= 0) throw new RuntimeException("boom") else id)
    val badDrop = df.select(boom(col("vec_id")).as("vec_id"))
    intercept[org.apache.spark.SparkException] {
      AnnIndex.open(spark, base, "vec_id").compact(dropIds = Some(badDrop))
    }
    assert(Similarity.hasIvfPqCodebooks(spark, base + "/gen1"),
      "partial dst generation must carry the sidecar (detectable)")
    // same contract for the near-dup index's _meta sidecar
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", base + "/idx/gen0")
    Layouts.swapGenerationPointer(spark, base + "/idx", "gen0")
    val badDrop2 = corpus.select(boom(col("doc_id")).as("doc_id"))
    intercept[org.apache.spark.SparkException] {
      Dedup.compactNearDupIndex(spark, base + "/idx", dropIds = Some(badDrop2))
    }
    assert(Dedup.readNearDupIndexMeta(spark, base + "/idx/gen1")
      .contains((128, 32, 3)),
      "partial idx generation must carry _meta (detectable)")
    // and a rerun of the compaction clears the partial generation (the
    // failed run never moved the pointer)
    AnnIndex.open(spark, base, "vec_id").compact()
    assert(spark.read.parquet(base + "/gen1").count() == 40)
    Dedup.compactNearDupIndex(spark, base + "/idx")
    assert(Dedup.nearDupPairsFromIndex(base + "/idx", corpus,
      "doc_id", "text").count() == 0)
  }

  test("every corruption mode of a present _codebooks sidecar is IllegalStateException") {
    import spark.implicits._
    val df = (0L until 32L).map(i =>
      (i, Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f)))
      .toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(df, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(df, "vec_id", "embedding", m = 2, ks = 4)
    val out = java.nio.file.Files.createTempDirectory("graft_cb_noivf").toString + "/layout"
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding", ivfCb, pqCb, out)
    // hand-corrupt: strip the 'ivf' rows, keep the 'pq' tables — the
    // missing-ivf face must be the SAME exception type as the
    // missing-kind and unreadable-sidecar faces (one catch covers all)
    val kept = spark.read.parquet(out + "/_codebooks")
      .where(col("kind") =!= "ivf").collect()
    val schema = spark.read.parquet(out + "/_codebooks").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(kept.toSeq), schema)
      .coalesce(1).write.mode("overwrite").parquet(out + "/_codebooks")
    val e = intercept[IllegalStateException] {
      AnnIndex.open(spark, out, "vec_id")
    }
    assert(e.getMessage.contains("no 'ivf'"), e.getMessage)
    assert(e.getMessage.contains("kinds present: pq"), e.getMessage)
  }

  // shared drifted-cluster fixture for the pointer/trainer tests: four
  // well-separated centers, batches either in-distribution (off = 0)
  // or far off-distribution
  private def clusterSample(rnd: scala.util.Random, dim: Int)(
      n: Int, off: Double, base: Long): Seq[(Long, Array[Double])] = {
    val centers = Array.tabulate(4)(c =>
      Array.tabulate(dim)(j => if (j % 4 == c) 4.0 else 0.0))
    (0 until n).map { i =>
      val c = centers(i % 4)
      (base + i, Array.tabulate(dim)(j => c(j) + rnd.nextGaussian() * 0.3 + off))
    }
  }

  test("generation pointer: atomic swap, pointered maintain swaps inside the quiesce window, vacuum reclaims") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    val dim = 16
    def sample(n: Int, off: Double, base: Long) =
      clusterSample(rnd, dim)(n, off, base)
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val indist = sample(48, 0.0, 1000L).toDF("vec_id", "embedding")
    val drifted = sample(48, 25.0, 2000L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_genptr").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    // curated prerequisites: no pointing at a missing generation; a
    // pointered read of an unpointered root names the init move
    val eMiss = intercept[IllegalArgumentException] {
      Layouts.swapGenerationPointer(spark, root, "gen9")
    }
    assert(eMiss.getMessage.contains("no such"), eMiss.getMessage)
    val eNoPtr = intercept[IllegalArgumentException] {
      Layouts.currentGeneration(spark, root)
    }
    assert(eNoPtr.getMessage.contains("swapGenerationPointer"), eNoPtr.getMessage)
    Layouts.swapGenerationPointer(spark, root, "gen0")
    assert(Layouts.currentGeneration(spark, root) == root + "/gen0")
    // resolveLayout: a pointered root resolves through the pointer, a
    // plain layout path resolves to itself
    assert(Similarity.resolveLayout(spark, root) == root + "/gen0")
    assert(Similarity.resolveLayout(spark, root + "/gen0") == root + "/gen0")
    val q = Array.fill(dim)(1.0)
    assert(annProbe(root, q, k = 5, nprobe = 2).count() == 5)
    // in-distribution: append in place, pointer unmoved
    val ra = AnnIndex.open(spark, root, "vec_id")
      .maintain(corpus, indist, "embedding", 0L)
    assert(ra.action == "append" && ra.layout == root + "/gen0", s"$ra")
    assert(Layouts.currentGenerationName(spark, root) == "gen0")
    // drifted: rebuild into gen1 with the pointer swapped INSIDE the
    // quiesce window; marker released after; the ROOT probe answers
    // from the new generation with union-retrained codebooks
    val all = corpus.unionByName(indist).unionByName(drifted)
    val rb = AnnIndex.open(spark, root, "vec_id")
      .maintain(corpus.unionByName(indist), drifted, "embedding", 1L)
    assert(rb.action == "rebuild" && rb.layout == root + "/gen1", s"$rb")
    assert(Layouts.currentGenerationName(spark, root) == "gen1")
    assert(!Layouts.exists(spark, root + "/gen0/" + Layouts.QuiesceMarker))
    val newIvf = Similarity.ivfCodebook(all, "vec_id", "embedding", nlist = 4)
    val newPq = Similarity.pqCodebooks(all, "vec_id", "embedding", m = 4, ks = 16)
    val atRoot = annProbe(root, q, k = 8, nprobe = 2).as[(Long, Double)].collect().toSeq
    val inFlight = Similarity.ivfPqTopK(all, "vec_id", "embedding", q,
      k = 8, nlist = 4, nprobe = 2, m = 4, ks = 16,
      ivfCb = Some(newIvf), pqCb = Some(newPq))
      .as[(Long, Double)].collect().toSeq
    assert(atRoot == inFlight, s"$atRoot vs $inFlight")
    // a second drifted wave: gen2; vacuum keep=1 then reclaims gen0 +
    // gen1, spares the pointed-at generation, probes unaffected
    val drifted2 = sample(48, 50.0, 3000L).toDF("vec_id", "embedding")
    val rc = AnnIndex.open(spark, root, "vec_id")
      .maintain(all, drifted2, "embedding", 2L)
    assert(rc.action == "rebuild" && rc.layout == root + "/gen2", s"$rc")
    val gone = Layouts.vacuumGenerations(spark, root, keep = 1)
    assert(gone == Seq("gen0", "gen1"), s"$gone")
    assert(Layouts.currentGenerationName(spark, root) == "gen2")
    assert(annProbe(root, q, k = 5, nprobe = 2).count() == 5)
    // alsoKeep spares a named generation; keep must cover the live one
    assert(Layouts.vacuumGenerations(spark, root, keep = 1,
      alsoKeep = Seq("gen2")).isEmpty)
    val eKeep = intercept[IllegalArgumentException] {
      Layouts.vacuumGenerations(spark, root, keep = 0)
    }
    assert(eKeep.getMessage.contains("keep"), eKeep.getMessage)
    // a non-gen<k> generation name refuses the pointered lifecycle
    val side = root + "/side"
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, side)
    Layouts.swapGenerationPointer(spark, root, "side")
    val eName = intercept[IllegalArgumentException] {
      AnnIndex.open(spark, root, "vec_id").maintain(corpus, drifted, "embedding", 3L)
    }
    assert(eName.getMessage.contains("gen<k>"), eName.getMessage)
  }

  test("a stale AnnIndex handle refuses every lifecycle step; a plain layout refuses maintain and compact") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val dim = 16
    def sample(n: Int, off: Double, base: Long) =
      clusterSample(rnd, dim)(n, off, base)
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val batch = sample(24, 0.0, 1000L).toDF("vec_id", "embedding")
    val drifted = sample(48, 25.0, 2000L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_stale").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    // every file under a generation, hidden and underscore ones included
    def files(gen: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val dir = java.nio.file.Paths.get(root, gen)
      java.nio.file.Files.walk(dir).iterator().asScala
        .map(p => dir.relativize(p).toString).toSet
    }
    // a handle whose generation the pointer moved off refuses each step
    // curated, and writes nothing into the superseded generation
    def refusesStale(stale: AnnIndex, gen: String): Unit = {
      val before = files(gen)
      Seq[(String, () => Any)](
        "append" -> (() => stale.append(batch, "embedding", 0L)),
        "maintain" -> (() => stale.maintain(corpus, drifted, "embedding", 0L)),
        "maintainFromDriftSeries" -> (() =>
          stale.maintainFromDriftSeries(root + "/drift", corpus, "embedding")),
        "compact" -> (() => stale.compact())
      ).foreach { case (face, call) =>
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.startsWith(face) && e.getMessage.contains("moved off"),
          e.getMessage)
      }
      assert(files(gen) == before, s"a stale handle wrote into $gen")
    }
    // two handles on gen0: one compacts, the other is now stale
    val compactor = AnnIndex.open(spark, root, "vec_id")
    val staleAfterCompact = AnnIndex.open(spark, root, "vec_id")
    assert(compactor.compact() == root + "/gen1")
    refusesStale(staleAfterCompact, "gen0")
    // two handles on gen1: one maintains down the rebuild path
    val maintainer = AnnIndex.open(spark, root, "vec_id")
    val staleAfterRebuild = AnnIndex.open(spark, root, "vec_id")
    val r = maintainer.maintain(corpus, drifted, "embedding", 0L)
    assert(r.action == "rebuild" && r.layout == root + "/gen2", s"$r")
    refusesStale(staleAfterRebuild, "gen1")
    // a reopened handle follows the pointer and appends into gen2: the
    // rebuilt base plus the batch's own increment
    AnnIndex.open(spark, root, "vec_id").append(batch, "embedding", 0L)
    assert(spark.read.parquet(root + "/gen2").count() == 64 + 48)
    assert(Layouts.incrementIds(spark, root + "/gen2") == Seq(0L))
    assert(indexRows(root + "/gen2", "vec_id").count() == 64 + 48 + 24)
    // a plain (unpointered) layout appends, but has no next generation
    // to rebuild or compact into: the refusal names the pointer's init
    val plain = java.nio.file.Files.createTempDirectory("graft_plain").toString +
      "/layout"
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, plain)
    val p = AnnIndex.open(spark, plain, "vec_id")
    Seq[() => Any](() => p.maintain(corpus, drifted, "embedding", 0L),
        () => p.compact()).foreach { call =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("Layouts.swapGenerationPointer"), e.getMessage)
    }
    p.append(batch, "embedding", 0L)
    assert(spark.read.parquet(plain).count() == 64)
    assert(indexRows(plain, "vec_id").count() == 64 + 24)
  }

  test("a batch ANN append whose fence meets a fold retries idempotently under its batch id") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val dim = 16
    def sample(n: Int, base: Long) = clusterSample(rnd, dim)(n, 0.0, base)
    val corpus = sample(64, 0L).toDF("vec_id", "embedding")
    val batch = sample(24, 1000L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_basefence").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    // append's store write, with a compaction folding gen0 into gen1
    // after the batch's write and before its fence: the fence fails the
    // batch uncommitted
    val idx = AnnIndex.open(spark, root, "vec_id")
    val e = intercept[IllegalStateException] {
      idx.store.append("append", 5L, () => AnnIndex.open(spark, root, "vec_id").compact())(
        idx.encode(batch, "embedding", Nil, _))
    }
    assert(e.getMessage.startsWith("append") && e.getMessage.contains("moved off") &&
      e.getMessage.contains("same batch id"), e.getMessage)
    // the retry under the same id on a reopened handle rewrites its own
    // directory in the live generation: every id stored exactly once
    AnnIndex.open(spark, root, "vec_id").append(batch, "embedding", 5L)
    assert(Layouts.currentGenerationName(spark, root) == "gen1")
    val counts = indexRows(root + "/gen1", "vec_id").groupBy("vec_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.keySet == ((0L until 64L) ++ (1000L until 1024L)).toSet)
    assert(counts.values.forall(_ == 1L), s"ids stored twice: ${counts.filter(_._2 > 1)}")
    assert(Layouts.incrementIds(spark, root + "/gen1") == Seq(5L))
  }

  test("a batch near-dup append whose fence meets a fold retries idempotently under its batch id") {
    import spark.implicits._
    val corpus = Seq((0L, "the quick brown fox jumps over the lazy dog again today"),
      (1L, "completely unrelated corpus text about distributed query engines"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "a fresh batch document that matches nothing stored yet"),
      (11L, "another new document about columnar storage and compaction"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("graft_ndfence").toString
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    // appendNearDupIndex's store write, with a fold in its fence window
    val e = intercept[IllegalStateException] {
      Layouts.openStore(spark, root).append("appendNearDupIndex", 3L,
          () => Dedup.compactNearDupIndex(spark, root))(
        Dedup.writeIncrement(batch, "doc_id", "text", _, 128, 32, 3))
    }
    assert(e.getMessage.startsWith("appendNearDupIndex") &&
      e.getMessage.contains("moved off") && e.getMessage.contains("same batch id"),
      e.getMessage)
    Dedup.appendNearDupIndex(batch, "doc_id", "text", root, 3L)
    assert(Layouts.currentGenerationName(spark, root) == "gen1")
    // one (id, band) signature row per band per document, none twice
    val perBand = indexRows(root + "/gen1", "id", "band").groupBy("id", "band")
      .count().select("id", "count").as[(Long, Long)].collect()
    assert(perBand.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 10L, 11L))
    assert(perBand.length == 4 * 32 && perBand.forall(_._2 == 1L),
      s"signatures stored twice: ${perBand.filter(_._2 > 1).toSeq}")
    assert(Layouts.incrementIds(spark, root + "/gen1") == Seq(3L))
  }

  // a keep = Seq("grp") IVF-PQ root over ids 0-79 (grp = id % 3) and
  // the batches (grp kept) the two tests below append to it
  private def grpIndex(prefix: String, seed: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def sample(n: Int, base: Long) = clusterSample(rnd, 16)(n, 0.0, base)
      .map { case (id, v) => (id, v, (id % 3).toInt) }.toDF("vec_id", "embedding", "grp")
    val corpus = sample(80, 0L)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0", keep = Seq("grp"))
    Layouts.swapGenerationPointer(spark, root, "gen0")
    (root, sample _)
  }

  test("a filtered probe refuses an increment appended without a column it reads") {
    import spark.implicits._
    val (root, sample) = grpIndex("graft_keepcheck", 71)
    val b1 = sample(20, 100L)
    def idx() = AnnIndex.open(spark, root, "vec_id")
    idx().append(sample(20, 80L), "embedding", 0L, keep = Seq("grp"))
    idx().append(b1, "embedding", 1L)
    // every cell probed, k past the row count: the filter alone decides
    def probed() = idx().probe(Seq(0L -> Array.fill(16)(1.0)), k = 200, nprobe = 4,
      filter = Some(col("grp") === 1)).select("vec_id").as[Long].collect().toSet
    val e = intercept[IllegalStateException](probed())
    assert(e.getMessage.contains(Layouts.incrementDir(root + "/gen0", 1L)) &&
      e.getMessage.contains("'grp'") && e.getMessage.contains("keep"), e.getMessage)
    // re-appending the batch under its id with the column kept repairs it
    idx().append(b1, "embedding", 1L, keep = Seq("grp"))
    assert(probed() == (0L until 120L).filter(_ % 3 == 1).toSet)
  }

  test("an append under a batch id below the newest increment refuses before writing") {
    import spark.implicits._
    val (root, sample) = grpIndex("graft_oldid", 73)
    def idx() = AnnIndex.open(spark, root, "vec_id")
    val b1 = sample(20, 100L)
    idx().append(sample(20, 80L), "embedding", 0L)
    idx().append(b1, "embedding", 1L)
    val e = intercept[IllegalArgumentException](
      idx().append(sample(20, 120L), "embedding", 0L))
    assert(e.getMessage.startsWith("append: batch id 0 is below 1") &&
      e.getMessage.contains("nothing was written"), e.getMessage)
    def ids() = indexRows(root + "/gen0", "vec_id").as[Long].collect().sorted.toSeq
    assert(ids() == (0L until 120L))
    // the newest id is a retry, and stays allowed
    idx().append(b1, "embedding", 1L)
    assert(ids() == (0L until 120L))
  }

  test("a sidecar overwrite keeps the old sidecar until the new one is written") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = java.nio.file.Files.createTempDirectory("graft_sidecar_overwrite")
      .toString + "/_rebuilt"
    val schema = StructType(Seq(StructField("through_batch", LongType, nullable = false)))
    Layouts.writeSidecar(spark, dir, schema, Seq(Row(7L)))
    // a row that fails conversion fails the overwrite mid-encode: the
    // live sidecar must still read back its old rows
    intercept[ClassCastException] {
      Layouts.writeSidecar(spark, dir, schema, Seq(Row("not a long")))
    }
    assert(Layouts.collectSidecar(spark, dir, "test").map(_.getLong(0)).toSeq ==
      Seq(7L))
    // a good overwrite replaces the rows and leaves one part, no temp
    Layouts.writeSidecar(spark, dir, schema, Seq(Row(8L)))
    assert(Layouts.collectSidecar(spark, dir, "test").map(_.getLong(0)).toSeq ==
      Seq(8L))
    val names = new java.io.File(dir).list().filterNot(_.endsWith(".crc")).toSeq
    assert(names.length == 1 && names.head.startsWith("part-"), s"$names")
  }

  test("trained rebuilds beat the stand-in on distortion, both kinds") {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    val dim = 16
    def sample(n: Int, off: Double, base: Long) =
      clusterSample(rnd, dim)(n, off, base)
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val drifted = sample(48, 25.0, 2000L).toDF("vec_id", "embedding")
    val all = corpus.unionByName(drifted)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_trained").toString
    // one pointered store root per rebuild
    def store(tag: String): AnnIndex = {
      Layouts.swapGenerationPointer(spark, s"$base/$tag", "gen0")
      AnnIndex.open(spark, s"$base/$tag", "vec_id")
    }
    // RAW kind: one stand-in rebuild, one trained rebuild, same fixture
    Seq("s", "t").foreach { tag =>
      Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
        ivfCb, pqCb, base + s"/$tag/gen0")
    }
    val rs = store("s").maintain(corpus, drifted, "embedding", 0L)
    val rt = store("t").maintain(corpus, drifted, "embedding", 0L, trained = true)
    assert(rs.action == "rebuild" && rt.action == "rebuild", s"$rs $rt")
    def codebooks(p: String, kind: String) = {
      val idx = AnnIndex.open(spark, p, "vec_id")
      assert(idx.kind == kind, s"$p holds ${idx.kind}")
      (idx.ivf, idx.pq)
    }
    val (si, sp) = codebooks(base + "/s", "pq")
    val (ti, tp) = codebooks(base + "/t", "pq")
    val standinErr = Similarity.ivfPqDistortion(all, "embedding", si, sp,
      residual = false)
    val trainedErr = Similarity.ivfPqDistortion(all, "embedding", ti, tp,
      residual = false)
    assert(trainedErr < standinErr,
      s"trained $trainedErr !< stand-in $standinErr")
    // RESIDUAL kind: the trained rebuild fits k-means in residual
    // space and still wins
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 16)
    Seq("rs", "rt").foreach { tag =>
      Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
        ivfCb, rcb, base + s"/$tag/gen0")
    }
    val rrs = store("rs").maintain(corpus, drifted, "embedding", 0L)
    val rrt = store("rt").maintain(corpus, drifted, "embedding", 0L, trained = true)
    assert(rrs.action == "rebuild" && rrt.action == "rebuild", s"$rrs $rrt")
    val (rsi, rsp) = codebooks(base + "/rs", "rpq")
    val (rti, rtp) = codebooks(base + "/rt", "rpq")
    val rStandin = Similarity.ivfPqDistortion(all, "embedding", rsi, rsp,
      residual = true)
    val rTrained = Similarity.ivfPqDistortion(all, "embedding", rti, rtp,
      residual = true)
    assert(rTrained < rStandin, s"trained $rTrained !< stand-in $rStandin")
    // the trained generations are intact layouts: self-contained
    // probes answer k rows
    val q = Array.fill(dim)(1.0)
    assert(annProbe(base + "/t/gen1", q, k = 5, nprobe = 2).count() == 5)
    assert(annProbe(base + "/rt/gen1", q, k = 5, nprobe = 2).count() == 5)
  }

  test("batched probes: residual and increments parity with single probes, output globally ordered") {
    import spark.implicits._
    val rnd = new scala.util.Random(131)
    val dim = 16
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(dim)(j => math.sin(i * 0.37 + j) + rnd.nextGaussian() * 0.1)))
      .toDF("vec_id", "embedding")
    val corpus = emb.where(col("vec_id") % 4 =!= 0)
    val incr = emb.where(col("vec_id") % 4 === 0)
    val qs = Seq(
      1L -> Array.fill(dim)(1.0),
      2L -> Array.fill(dim)(-1.0),
      3L -> Array.tabulate(dim)(j => if (j % 2 == 0) 1.5 else -0.5))
    val base = java.nio.file.Files.createTempDirectory("graft_batchkinds").toString
    // RESIDUAL layout with a committed streamed increment
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val rcb = Similarity.residualPqCodebooks(corpus, "vec_id", "embedding",
      ivfCb, m = 4, ks = 16)
    Similarity.writeIvfPqResidualPartitioned(corpus, "vec_id", "embedding",
      ivfCb, rcb, base + "/rlayout")
    AnnIndex.open(spark, base + "/rlayout", "vec_id")
      .append(incr, "embedding", batchId = 0L)
    val rBatch = AnnIndex.open(spark, base + "/rlayout", "vec_id")
      .probe(qs, k = 7, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSeq
    // globally ordered as promised: (query_id, adc, id)
    assert(rBatch == rBatch.sortBy(r => (r._1, r._3, r._2)), s"$rBatch")
    qs.foreach { case (qid, qv) =>
      val single = annProbe(base + "/rlayout", qv, k = 7, nprobe = 3)
        .as[(Long, Double)].collect().toSeq
      val slice = rBatch.filter(_._1 == qid).map(r => (r._2, r._3))
      assert(slice == single, s"residual query $qid: $slice vs $single")
    }
    // base-only residual batch: same parity without increments
    val rBase = AnnIndex.open(spark, base + "/rlayout", "vec_id")
      .probe(qs, k = 7, nprobe = 3, excludeBatchId = Some(0L))
      .as[(Long, Long, Double)].collect().toSeq
    qs.foreach { case (qid, qv) =>
      val single = annProbe(base + "/rlayout", qv, k = 7, nprobe = 3,
        excludeBatchId = Some(0L))
        .as[(Long, Double)].collect().toSeq
      val slice = rBase.filter(_._1 == qid).map(r => (r._2, r._3))
      assert(slice == single, s"residual base query $qid: $slice vs $single")
    }
    // RAW layout with a committed streamed increment
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding",
      m = 4, ks = 16)
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/player")
    AnnIndex.open(spark, base + "/player", "vec_id")
      .append(incr, "embedding", batchId = 0L)
    val pBatch = AnnIndex.open(spark, base + "/player", "vec_id")
      .probe(qs, k = 7, nprobe = 3)
      .as[(Long, Long, Double)].collect().toSeq
    qs.foreach { case (qid, qv) =>
      val single = annProbe(base + "/player", qv, k = 7, nprobe = 3)
        .as[(Long, Double)].collect().toSeq
      val slice = pBatch.filter(_._1 == qid).map(r => (r._2, r._3))
      assert(slice == single, s"raw query $qid: $slice vs $single")
    }
    // the replay rule holds on the batched face too: excluding the
    // increment's own batch id answers base-only
    val excl = AnnIndex.open(spark, base + "/player", "vec_id")
      .probe(qs, k = 7, nprobe = 3, excludeBatchId = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    assert(excl.forall(_ % 4 != 0), s"excluded batch leaked: $excl")
  }

  test("annRecallAtK: exact matches score 1, misses score 0, zero-hit queries kept, recall monotone in nprobe") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("qid", "vec_id")
    val perfect = Similarity.annRecallAtK(exact, exact, "qid", "vec_id", k = 2)
      .as[(Long, Double)].collect().toMap
    assert(perfect == Map(1L -> 1.0, 2L -> 1.0), s"$perfect")
    // query 1 half-right, query 2 entirely absent from the approx side
    // — it must still appear, at 0.0
    val approx = Seq((1L, 10L), (1L, 99L)).toDF("qid", "vec_id")
    val partial = Similarity.annRecallAtK(exact, approx, "qid", "vec_id", k = 2)
      .as[(Long, Double)].collect().toMap
    assert(partial == Map(1L -> 0.5, 2L -> 0.0), s"$partial")
    // recall is only meaningful when the true neighbors are separable
    // at quantizer resolution — PQ cannot rank within-cluster noise
    // (recall@10 of a 50-member cluster's noise ordering is the
    // hypergeometric floor ~k²/cluster, not a bug). The realistic
    // retrieval shape: PLANT 10 near-duplicates of a query that sits
    // exactly between two cluster centers, so the ground truth
    // straddles cells — probe breadth then genuinely trades recall,
    // and the full probe must recover nearly everything (planted
    // distance << bulk distance >> quantization error).
    val rnd = new scala.util.Random(77)
    val bulk = clusterSample(rnd, 16)(200, 0.0, 0L)
    def ctr(c: Int, j: Int) = if (j % 4 == c) 4.0 else 0.0
    val q = Array.tabulate(16)(j => 0.5 * ctr(0, j) + 0.5 * ctr(1, j) + 0.001)
    val planted = (0 until 10).map(i =>
      (1000L + i, Array.tabulate(16)(j => q(j) + rnd.nextGaussian() * 0.3)))
    val emb = (bulk ++ planted).toDF("vec_id", "embedding")
    val ex = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
    assert(ex.select("vec_id").as[Long].collect().forall(_ >= 1000L),
      "the planted near-duplicates must BE the exact top-10")
    // TRAINED codebooks: the quality floor below is about the probe,
    // not about the smallest-id stand-in's (deliberately unfitted)
    // quantization error
    val ivfT = Similarity.trainIvfCodebook(emb, "vec_id", "embedding",
      nlist = 4, maxIters = 3)
    val pqT = Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
      m = 4, ks = 16, maxIters = 5)
    val recalls = Seq(1, 4).map { np =>
      val ap = Similarity.ivfPqTopK(emb, "vec_id", "embedding", q,
        k = 10, nlist = 4, nprobe = np, m = 4, ks = 16,
        ivfCb = Some(ivfT), pqCb = Some(pqT))
      np -> Similarity.annRecallAtK(
        ex.select(lit(1L).as("qid"), col("vec_id")),
        ap.select(lit(1L).as("qid"), col("vec_id")),
        "qid", "vec_id", k = 10)
        .as[(Long, Double)].head()._2
    }.toMap
    assert(recalls(1) <= recalls(4), s"$recalls")
    assert(recalls(4) >= 0.8, s"$recalls")
  }

  test("ivfPqTopKRefined: exact re-rank never loses to the plain ADC top-k; a corpus-wide shortlist IS exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(55)
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(16)(j => math.sin(i * 0.37 + j) + rnd.nextGaussian() * 0.1)))
      .toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(emb, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(emb, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_refine").toString
    Similarity.writeIvfPqPartitioned(emb, "vec_id", "embedding", ivfCb, pqCb,
      base + "/layout", keep = Seq("embedding"))
    val q = Array.fill(16)(1.0)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
    val exactIds = exact.select(lit(1L).as("qid"), col("vec_id"))
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.annRecallAtK(exactIds,
        df.select(lit(1L).as("qid"), col("vec_id")), "qid", "vec_id", 10)
        .as[(Long, Double)].head()._2
    // DOMINANCE (guaranteed, not statistical): every exact neighbor
    // the plain ADC top-10 found is still in the 50-shortlist, and the
    // exact re-rank always keeps it — so refined recall >= ADC recall
    val adc = annProbe(base + "/layout", q, k = 10, nprobe = 8)
    val index = AnnIndex.open(spark, base + "/layout", "vec_id")
    val refined = index.refine(q, k = 10, "embedding", shortlist = 50, nprobe = 8)
    assert(recallOf(refined) >= recallOf(adc),
      s"refined ${recallOf(refined)} vs adc ${recallOf(adc)}")
    // a shortlist covering every probed row with every cell probed is
    // EXACT search: identical to the brute-force top-k, values included
    val full = index.refine(q, k = 10, "embedding", shortlist = 200, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val truth = exact.as[(Long, Double)].collect().toSeq
    assert(full == truth, s"$full vs $truth")
    // curated refusal: a shortlist smaller than k cannot re-rank to k
    val e = intercept[IllegalArgumentException] {
      index.refine(q, k = 10, "embedding", shortlist = 5)
    }
    assert(e.getMessage.contains("shortlist"), e.getMessage)
  }

  test("refine reads what probe reads: a carried batch ranks, an increment without the vector refuses") {
    import spark.implicits._
    val emb = (0L until 200L).map(i =>
      (i, Array.tabulate(16)(j => math.sin(i * 0.37 + j) + math.cos(i * 0.11 * j))))
      .toDF("vec_id", "embedding")
    val corpus = emb.where(col("vec_id") % 4 =!= 0)
    val batch = emb.where(col("vec_id") % 4 === 0)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 8)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_refine_incr").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding", ivfCb, pqCb,
      root + "/gen0", keep = Seq("embedding"))
    Layouts.swapGenerationPointer(spark, root, "gen0")
    AnnIndex.open(spark, root, "vec_id").append(batch, "embedding", 0L,
      keep = Seq("embedding"))
    // the fold carries the (newest) batch as its own directory
    AnnIndex.open(spark, root, "vec_id").compact()
    assert(Layouts.incrementIds(spark, root + "/gen1") == Seq(0L))
    // the query IS batch row 100: every cell probed and a shortlist
    // covering every row make refine exact search over corpus ∪ batch
    val q = emb.where(col("vec_id") === 100L).select("embedding")
      .as[Array[Double]].head()
    def refined() = AnnIndex.open(spark, root, "vec_id")
      .refine(q, k = 10, "embedding", shortlist = 200, nprobe = 8)
      .as[(Long, Double)].collect().toSeq
    val truth = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    assert(truth.head._1 == 100L)
    assert(refined() == truth, s"${refined()} vs $truth")
    // an increment appended without the vector has nothing to re-rank:
    // curated refusal naming the directory; re-appending that batch
    // under the same id with the vector kept repairs it
    val more = (1000L until 1010L).map(i =>
      (i, Array.tabulate(16)(j => math.cos(i * 0.5 + j)))).toDF("vec_id", "embedding")
    AnnIndex.open(spark, root, "vec_id").append(more, "embedding", 1L)
    val e = intercept[IllegalStateException](refined())
    assert(e.getMessage.contains(Layouts.incrementDir(root + "/gen1", 1L)) &&
      e.getMessage.contains("keep"), e.getMessage)
    AnnIndex.open(spark, root, "vec_id").append(more, "embedding", 1L,
      keep = Seq("embedding"))
    assert(refined() == Similarity.cosineTopK(emb.unionByName(more), "vec_id",
      "embedding", q, 10).as[(Long, Double)].collect().toSeq)
  }

  test("a fully-pruned drift series reads empty; prune composes into the rebuild; the root _temporary probe refuses") {
    import spark.implicits._
    import graft.streaming.StreamingSimilarity
    val rnd = new scala.util.Random(117)
    val dim = 16
    def sample(n: Int, off: Double, base: Long) =
      clusterSample(rnd, dim)(n, off, base)
    val corpus = sample(64, 0.0, 0L).toDF("vec_id", "embedding")
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = 4)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 4, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft_prunedrift").toString
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, base + "/gen0")
    Layouts.swapGenerationPointer(spark, base, "gen0")
    val batches = Seq(
      sample(24, 0.0, 1000L), sample(24, 0.0, 2000L),
      sample(24, 25.0, 3000L), sample(24, 25.0, 4000L))
      .map(_.toDF("vec_id", "embedding"))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingSimilarity.ingestBatch(b, i.toLong, base,
        "vec_id", "embedding", Some(base + "/drift"))
    }
    val all = batches.foldLeft(corpus)(_ unionByName _)
    def monitor(driftOut: String, prune: Boolean = false) =
      AnnIndex.open(spark, base, "vec_id").maintainFromDriftSeries(driftOut,
        all, "embedding", window = 2, prune = prune)
    // prune = true: the rebuild fences AND prunes in one quiesce window
    val r = monitor(base + "/drift", prune = true)
    assert(r.action == "rebuild", s"$r")
    // the series is now fence-only: it reads EMPTY with the right
    // schema (the r19 ADVICE crash — an AnalysisException dressed as
    // 'drift series unreadable' — is exactly what this pins)
    val series = Similarity.readDriftSeries(spark, base + "/drift")
    assert(series.columns.toSeq == Seq("ingest_batch", "pq_err"))
    assert(series.count() == 0)
    // and the monitor's next tick keeps with batches = 0, not a crash
    val tick = monitor(base + "/drift")
    assert(tick.action == "keep" && tick.batches == 0, s"$tick")
    // a fresh post-prune report is visible again
    StreamingSimilarity.ingestBatch(sample(24, 0.0, 5000L)
      .toDF("vec_id", "embedding"), 4L, base,
      "vec_id", "embedding", Some(base + "/drift"))
    assert(Similarity.readDriftSeries(spark, base + "/drift")
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(4L))
    // an unfenced EMPTY series still refuses (nothing ever committed
    // is an ingest-wiring bug, not a steady state)
    val emptyDir = base + "/nothing"
    new java.io.File(emptyDir).mkdirs()
    val eEmpty = intercept[IllegalArgumentException] {
      monitor(emptyDir)
    }
    assert(eEmpty.getMessage.contains("no reports"), eEmpty.getMessage)
    // the quiesce handshake's second half now also covers the BATCH
    // append faces: an uncommitted write staging at the LAYOUT ROOT
    // (_temporary) of the live generation (gen1 since the rebuild)
    // refuses the compaction
    new java.io.File(base + "/gen1/_temporary").mkdirs()
    val eRoot = intercept[IllegalStateException] {
      AnnIndex.open(spark, base, "vec_id").compact()
    }
    assert(eRoot.getMessage.contains("layout root"), eRoot.getMessage)
    assert(!Layouts.exists(spark,
      base + "/gen1/" + Layouts.QuiesceMarker),
      "a refused compaction must release the marker")
    new java.io.File(base + "/gen1/_temporary").delete()
    assert(AnnIndex.open(spark, base, "vec_id").compact() == base + "/gen2")
    // base ∪ increments: the newest streamed batch is carried, not folded
    assert(Layouts.withIncrements(spark, spark.read.parquet(base + "/gen2"),
      base + "/gen2", Seq("vec_id"), None).count() == 64 + 24 * 5)
    assert(Layouts.incrementIds(spark, base + "/gen2") == Seq(4L))
  }

  test("fanOutByKey width estimate matches the planner (r22: no double planning)") {
    import org.apache.spark.sql.graft.ScanWidth
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scanwidth").toString
    // one tiny file and a multi-file table — both must agree with the
    // width physical planning would produce (df.rdd.getNumPartitions)
    (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(base + "/one")
    (0L until 3000L).map(i => (i, ("w" + i) * 40)).toDF("doc_id", "text")
      .repartition(5).write.parquet(base + "/many")
    for (p <- Seq(base + "/one", base + "/many")) {
      val scan = spark.read.parquet(p)
      val proj = scan.select(col("doc_id"), upper(col("text")).as("t"))
      val filt = scan.where(col("doc_id") % 2 === 0)
      assert(ScanWidth.estimate(scan).contains(scan.rdd.getNumPartitions), p)
      assert(ScanWidth.estimate(proj).contains(proj.rdd.getNumPartitions), s"$p projected")
      assert(ScanWidth.estimate(filt).contains(filt.rdd.getNumPartitions), s"$p filtered")
    }
    // exotic shapes (post-shuffle, local relation) must decline so the
    // caller falls back to the planning probe
    val shuffled = spark.read.parquet(base + "/one").repartition(3)
    assert(ScanWidth.estimate(shuffled).isEmpty)
    assert(ScanWidth.estimate(docs()).isEmpty)
    // the planner prunes a partitioned relation by its partition filter
    // and splits a bucketed one by bucket — the full-listing replay
    // models neither, so both must decline too
    (0L until 200L).map(i => (i, s"text $i", i % 4)).toDF("doc_id", "text", "part")
      .write.partitionBy("part").parquet(base + "/parted")
    val parted = spark.read.parquet(base + "/parted").where(col("part") === 1L)
    assert(ScanWidth.estimate(parted).isEmpty, "partition-filtered relation")
    val bucketed = s"graft_scanwidth_bucketed_${System.nanoTime()}"
    (0L until 200L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .write.option("path", base + "/bucketed").bucketBy(4, "doc_id")
      .saveAsTable(bucketed)
    try assert(ScanWidth.estimate(spark.table(bucketed)).isEmpty, "bucketed relation")
    finally spark.sql(s"DROP TABLE IF EXISTS $bucketed")
    // neither split conf is value-checked: at 0/0 FilePartition's
    // maxSplitBytes is 0, and the split math (which steps by it) must
    // decline instead of throwing
    val confs = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val saved = confs.map(c => c -> spark.conf.getOption(c))
    try {
      confs.foreach(spark.conf.set(_, "0"))
      assert(ScanWidth.estimate(spark.read.parquet(base + "/one")).isEmpty,
        "zero split size")
    } finally saved.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }
}
