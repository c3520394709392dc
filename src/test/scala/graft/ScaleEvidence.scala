package graft

import graft.ops.{AnnIndex, Dedup, Layouts, Sampling, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness for the dedup family (q18 minhash-LSH, q21
  * simhash, q44 jaccard-PPJoin, q57 decontamination): runs each
  * operator's CANDIDATE generator and full pipeline over a ladder of
  * corpus sizes and prints one JSON line per (corpus, op) with
  *
  *   n_docs, candidate pairs, all-pairs n(n-1)/2, candidate fraction,
  *   output pairs, seconds
  *
  * — the property under test is that candidate volume grows
  * sub-quadratically (the banding/prefix filter holds as the corpus
  * scales), which seconds alone cannot show.
  *
  * Corpora: the driver's sf dirs, plus generated extensions that
  * follow the same recipe (shared small vocabulary, ~300-char docs,
  * 5 langs, 10 sources, ~1% planted near-dups) at sizes the sandbox's
  * testdata does not provide. Generation is deterministic per doc_id
  * (pure function of the id), so corpora are reproducible and a
  * planted near-dup can copy its neighbor's text without reading it.
  *
  * Usage: Test/runMain graft.ScaleEvidence [sfdir|gen:N|genwide:N|realx<k>:sfdir]...
  * (default: /root/testdata/sf0.001 /root/testdata/sf0.1 gen:20000 gen:50000)
  */
object ScaleEvidence {

  /** The at-rest top-10 of one query over 4 probed cells, as (vec_id, adc). */
  private def annProbe(spark: SparkSession, path: String,
      query: Array[Double]): DataFrame =
    AnnIndex.open(spark, path, "vec_id").probe(Seq(0L -> query), k = 10, nprobe = 4)
      .drop("query_id")

  /** The testdata corpus's own ~30-word vocabulary — the adversarial
    * LOW-ENTROPY case: every doc shares most shingles and simhash
    * signatures concentrate.
    */
  private val Vocab: Array[String] =
    ("spark line column order small sort fast value scan query agg table hash key " +
      "group stream filter customer part batch vector slow big join window state " +
      "merge shuffle read write plan").split(" ")

  /** A realistic-entropy vocabulary (2000 distinct words — small for
    * real text, huge next to Vocab): isolates how much of a candidate
    * blow-up is signature entropy vs operator design.
    */
  private val WideVocab: Array[String] = Array.tabulate(2000)(i => f"word$i%04d")

  private def textOf(id: Long, words: Int, vocab: Array[String]): String = {
    val rnd = new java.util.Random(id * 2654435761L + 11)
    val n = 20 + rnd.nextInt(words)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(rnd.nextInt(vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Deterministic generated corpus, documents-table schema. Every
    * id with id % 100 == 7 is a planted near-dup of id-1 (one word
    * appended — shingle Jaccard ~0.95).
    */
  def genDocs(spark: SparkSession, n: Long, wide: Boolean): DataFrame = {
    import spark.implicits._
    val langs = Array("en", "de", "fr", "es", "zh")
    val vocab = if (wide) WideVocab else Vocab
    spark.range(n).map { id =>
      val base =
        if (id % 100 == 7 && id > 0) textOf(id - 1, 70, vocab) + " extra"
        else textOf(id, 70, vocab)
      (id, base, langs((id % 5).toInt), s"src${id % 10}", base.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** The sf1-sized rung anchored to REAL data: the corpus's documents
    * plus k-1 deterministically mutated replicas (each word rewritten
    * with p=0.4 to a replica-unique token, so a replica shares ~43%
    * Jaccard with its original — relatives stay within a family of k,
    * never across families). Real text statistics at 10x the rows:
    * candidate volume must grow ~linearly (with all-pairs up 100x),
    * or the banding/prefix-filter story does not hold.
    */
  def replicatedDocs(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .as[(Long, String, String, String)]
      .flatMap { case (id, text, lang, src) =>
        (0 until k).map { r =>
          if (r == 0) (id, text, lang, src, text.length.toLong)
          else {
            val rnd = new java.util.Random(id * 2654435761L + r)
            val mut = text.split(" ")
              .map(w => if (rnd.nextDouble() < 0.4) f"r$r%02dx${rnd.nextInt(100000)}" else w)
              .mkString(" ")
            (id + r.toLong * 100000000L, mut, lang, src, mut.length.toLong)
          }
        }
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Embeddings sibling of [[replicatedDocs]]: real vectors plus k-1
    * deterministic mixtures e' = 0.7·e + 0.3·(unit-matched gaussian) —
    * cos(e, e') ≈ 0.92 (a planted near-dup of the ORIGINAL only;
    * replica-replica ≈ 0.85 stays under a 0.9 threshold), so the true
    * pair set grows linearly with n while all-pairs grows n².
    */
  def replicatedEmbeddings(spark: SparkSession, dir: String, k: Int): DataFrame = {
    import spark.implicits._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .as[(Long, Array[Double])]
      .flatMap { case (id, e) =>
        (0 until k).map { r =>
          if (r == 0) (id, e)
          else {
            val rnd = new java.util.Random(id * 2654435761L + r)
            val g = Array.fill(e.length)(rnd.nextGaussian())
            val ne = math.sqrt(e.map(x => x * x).sum)
            val ng = math.sqrt(g.map(x => x * x).sum)
            val mixed = Array.tabulate(e.length)(i => 0.7 * e(i) + 0.3 * g(i) * ne / ng)
            (id + r.toLong * 100000000L, mixed)
          }
        }
      }.toDF("vec_id", "embedding")
  }

  /** Deterministic pair graph sized to force the distributed regime of
    * `Dedup.components` (> smallGraphMax = 4M edges): `nClusters`
    * 10-node clusters on an id stride of 16 — 9 edges per cluster, 90%
    * stars (diameter 2, the near-dup-clique shape) and 10% paths
    * (diameter 9, the worst case for min-label hop count). Every
    * node's true component label is analytically `id - id % 16`, so
    * correctness at any scale is one aggregation, never a collect.
    */
  def componentsGraph(spark: SparkSession, nClusters: Long): DataFrame = {
    import spark.implicits._
    spark.range(nClusters).flatMap { c =>
      val base = c * 16
      if (c % 10 == 0) (0 until 9).map(i => (base + i, base + i + 1)) // path
      else (1 to 9).map(i => (base, base + i)) // star
    }.toDF("id_a", "id_b")
  }

  /** The distributed-components rung (r9 verdict #2): run min-label
    * propagation at its REAL regime (> 4M edges), assert every label
    * against the analytic expectation plus union-find parity on a
    * 1000-cluster subgraph, and report iterations + wall.
    */
  private def componentsRung(spark: SparkSession, nClusters: Long): Unit = {
    val pairs = componentsGraph(spark, nClusters)
    val nEdges = nClusters * 9
    val p = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .toDF("id_a", "id_b").cache()
    val t0 = System.nanoTime()
    val (labels, iters) = Dedup.componentsDistributed(p)
    val lab = labels.cache()
    val nNodes = lab.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // full-graph analytic check: cluster == min id of the 16-stride block
    val wrong = lab.where(col("cluster") =!= col("id") - (col("id") % 16)).count()
    // parity with the driver union-find path on a 1000-cluster subgraph
    val subPairs = pairs.where(col("id_a") < 16 * 1000)
    val smallPath = Dedup.components(subPairs)
    val distSub = lab.where(col("id") < 16 * 1000)
    val parityDiff = smallPath.toDF("id", "cluster").exceptAll(distSub).count() +
      distSub.exceptAll(smallPath.toDF("id", "cluster")).count()
    p.unpersist(); lab.unpersist()
    println(f"""SCALE {"corpus":"cc:$nClusters","op":"q33_components_dist","n_nodes":$nNodes,"n_edges":$nEdges,"iterations":$iters,"wrong_labels":$wrong,"unionfind_parity_diff":$parityDiff,"secs":$secs%.1f}""")
  }

  /** Frontier-election rung (`frontier:<nUrls>`): the q112 per-host
    * top-k election at real URL counts, BOTH plans over the same
    * cached input — the `row_number <= k` window (shuffles + sorts
    * every URL of every host) and the bounded
    * [[graft.ops.TopKStrByScore]] aggregator (map-side partials cap
    * every partition at k pairs per host). Asserts the two plans
    * produce byte-identical frontiers, then reports wall for each —
    * the measured face of the q112 plan-guard's "no Window" rule.
    */
  private def frontierRung(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val hosts = 50
    val hostCol = concat(lit("h"), (col("id") % hosts).cast("string"),
      lit(".example.com"))
    val df = spark.range(n).select(
      hostCol.as("host"),
      concat(lit("http://"), hostCol, lit("/p"), col("id").cast("string"))
        .as("loc"),
      (((col("id") * 2654435761L) % 1000000L).cast("double") / 1e6).as("pri"))
      .cache()
    df.count()
    val t0 = System.nanoTime()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("host").orderBy(col("pri").desc, col("loc"))
    val winRes = df.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 2)
      .select(col("host"), col("rank").cast("long").as("rank"),
        col("loc"), col("pri"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val winSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val aggRes = df.as[(String, String, Double)].groupByKey(_._1)
      .agg(graft.ops.TopKStrByScore(2).toColumn.name("top"))
      .toDF("host", "top")
      .select(col("host"), posexplode(col("top")))
      .select(col("host"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("loc"), col("col._1").as("pri"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val aggSecs = (System.nanoTime() - t1) / 1e9
    require(winRes.sameElements(aggRes),
      s"frontier plans disagree: window ${winRes.length} vs agg ${aggRes.length} rows")
    df.unpersist()
    println(f"""SCALE {"corpus":"frontier:$n","op":"q112_election","n_urls":$n,"n_hosts":$hosts,"rows_out":${aggRes.length},"window_secs":$winSecs%.2f,"agg_secs":$aggSecs%.2f}""")
  }

  /** PQ rung (`pq:<nVecs>`): the ANN scan regimes at real vector
    * counts over one cached clustered corpus (32 well-separated
    * centers, deterministic noise) — (a) exact brute-force cosine
    * top-k (the q14 baseline: touches every float of every vector),
    * (b) flat PQ/ADC (q129: every vector, but only its 8 codes +
    * table lookups), (c) IVF-PQ (q132: codes of ~nprobe/nlist of the
    * corpus). Codebooks are TRAINED (bounded iterations) so the
    * measured scan is the production shape. Asserts the quantized
    * paths return rows from the query's true cluster (ADC cannot
    * out-rank its cells, so cluster membership — not exact-id recall
    * — is the correctness bar), and reports wall per regime plus the
    * at-rest compression factor (256 B fp32 -> 4 B packed codes).
    */
  /** The pq:/recall: rungs' shared clustered corpus: ±1 Rademacher
    * centers, seeded per (c, d) — shipped as LITERALS, so any
    * driver-side generator works: expected pairwise distance² =
    * 2 x dim >> the ±0.01 noise. (A sin(7c+13d) first draft aliased —
    * 7x9 ≈ 20π, so clusters 9 apart nearly coincided and quantization
    * folded them together; an affine parity formula collapsed mod 2.
    * Murmur-mixed bit because java.util.Random's FIRST draw correlates
    * across sequential seeds and produced near-identical centers.)
    */
  private def clusteredCorpus(spark: SparkSession, n: Long, nCenters: Int,
      dim: Int): (DataFrame, Array[Array[Double]]) = {
    val centers = Array.tabulate(nCenters, dim) { (c, d) =>
      if ((scala.util.hashing.MurmurHash3.productHash((c, d)) & 1) == 0) 1.0
      else -1.0
    }
    val centersLit = array(centers.map(c =>
      array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)
    val cIdx = (col("id") % nCenters).cast("int")
    val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
      (element_at(element_at(centersLit, cIdx + 1), d + 1) +
        (pmod(col("id") * lit(2654435761L) + d * lit(97L), lit(1000L))
          .cast("double") - lit(500.0)) / lit(50000.0)).cast("float"))
    (spark.range(n).select(col("id").as("vec_id"), vec.as("embedding")),
      centers)
  }

  private def pqRung(spark: SparkSession, n: Long): Unit = {
    val dim = 64
    // nCenters == ks: each subspace codebook CAN give every cluster
    // its own codeword (ks < clusters would fold clusters together in
    // every subspace — a capacity question, not a scan-shape one, and
    // this rung measures the scan)
    val nCenters = 16
    val (raw, centers) = clusteredCorpus(spark, n, nCenters, dim)
    val df = raw.cache()
    df.count()
    // the query sits (just off) cluster 5's center
    val query = centers(5).map(_ + 0.001)
    val trueCluster = 5L

    val t0 = System.nanoTime()
    val exact = Similarity.cosineTopK(df, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0))
    val bruteSecs = (System.nanoTime() - t0) / 1e9

    val pqCb = Similarity.trainPqCodebooks(df, "vec_id", "embedding",
      m = 8, ks = 16, maxIters = 5)
    val ivfCb = Similarity.trainIvfCodebook(df, "vec_id", "embedding",
      nlist = nCenters, maxIters = 3)
    // the at-rest artifact, built ONCE at ingest: (id, cell, code) —
    // queries read THIS, never the fp32 vectors
    val tEnc = System.nanoTime()
    val coded = df.select(col("vec_id"),
      Similarity.ivfCell(ivfCb, col("embedding")).as("cell"),
      Similarity.pqCode(pqCb, col("embedding")).as("code")).cache()
    coded.count()
    val encodeSecs = (System.nanoTime() - tEnc) / 1e9

    // at REST: codes partitioned by cell — a probe prunes the file
    // listing, so IVF-PQ reads ~nprobe/nlist of a codes-only column
    val layout = java.nio.file.Files.createTempDirectory("graft-pq-rung").toFile
    coded.write.mode("overwrite").partitionBy("cell")
      .parquet(layout.getAbsolutePath)
    coded.unpersist()
    val spark2 = df.sparkSession
    val t1 = System.nanoTime()
    val adc = Similarity.pqAdcTopKCoded(
      spark2.read.parquet(layout.getAbsolutePath), "vec_id", pqCb, query, 10)
      .collect().map(_.getLong(0))
    val adcSecs = (System.nanoTime() - t1) / 1e9

    val probed = Similarity.ivfProbed(ivfCb, query, nprobe = 4)
    val t2 = System.nanoTime()
    val ivfpq = Similarity.pqAdcTopKCoded(
      spark2.read.parquet(layout.getAbsolutePath)
        .where(col("cell").isin(probed: _*)),
      "vec_id", pqCb, query, 10)
      .collect().map(_.getLong(0))
    val ivfpqSecs = (System.nanoTime() - t2) / 1e9
    df.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(layout)

    def hits(ids: Array[Long]): Int = ids.count(_ % nCenters == trueCluster)
    require(hits(exact) == 10,
      s"exact top-10 must sit on the true cluster: ${exact.mkString(",")}")
    require(hits(adc) >= 9 && hits(ivfpq) >= 9,
      s"quantized paths left the true cluster: adc=${hits(adc)} ivfpq=${hits(ivfpq)}")
    println(f"""SCALE {"corpus":"pq:$n","op":"q129_q132_ann","n_vecs":$n,"brute_secs":$bruteSecs%.2f,"encode_once_secs":$encodeSecs%.2f,"adc_secs":$adcSecs%.2f,"ivfpq_secs":$ivfpqSecs%.2f,"cluster_hits":[${hits(exact)},${hits(adc)},${hits(ivfpq)}],"bytes_per_vec":[256,4]}""")
  }

  /** Recall rung (`recall:<nVecs>`): the q162 quality metric the way
    * ANN benchmarks (SIFT/GIST-style) measure it — recall@10 of the
    * at-rest IVF-PQ probe against exact cosine, averaged over 8
    * queries, across nprobe ∈ {1, 2, 4, 8, 16}, TRAINED codebooks,
    * over a DIFFUSE corpus (uniform per-dim noise). Diffuse is the
    * shape that makes the curve meaningful: a random query's true
    * neighbors are separated from the bulk by continuous margins
    * (cos ≈ sqrt(2 ln n / dim) vs ~0) yet scatter across cell
    * boundaries, so probe breadth genuinely trades recall for scan.
    * (Two designs that DON'T work, kept as negative results: recall
    * inside a tight cluster is the hypergeometric floor — PQ cannot
    * rank within-cluster noise; and a 10-point planted region earns no
    * trained codeword, so bulk code-collisions out-tie it and recall
    * can even FALL with nprobe. Both are properties of 4-bit
    * quantization the metric exists to expose.) Each setting is
    * answered through the BATCHED probe face (one scan for all 8
    * queries — the q160/q161 shape). Asserts the full probe beats the
    * single cell on average; the curve itself is the evidence.
    */
  private def recallRung(spark: SparkSession, n: Long): Unit = {
    import spark.implicits._
    val dim = 64
    // uniform[-1,1] per dim, deterministic per (id, d) — diffuse, no
    // cluster structure
    val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
      ((pmod(col("id") * lit(2654435761L) + d * lit(40503L), lit(2000L))
        .cast("double") - lit(1000.0)) / lit(1000.0)).cast("float"))
    val df = spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"))
      .cache()
    df.count()
    // 8 corpus-independent queries from the same generator family
    // (different multiplier salt)
    def queryOf(qi: Int): Array[Double] = Array.tabulate(dim)(d =>
      ((java.lang.Math.floorMod(
        (qi + 1) * 104729L * 2654435761L + d * 97L, 2000L)) - 1000.0) / 1000.0)
    val queries = (1 to 8).map(qi => qi.toLong -> queryOf(qi))
    val ivfCb = Similarity.trainIvfCodebook(df, "vec_id", "embedding",
      nlist = 16, maxIters = 3)
    val pqCb = Similarity.trainPqCodebooks(df, "vec_id", "embedding",
      m = 16, ks = 256, maxIters = 5)
    val layout = java.nio.file.Files.createTempDirectory("graft-recall-rung").toFile
    Similarity.writeIvfPqPartitioned(df, "vec_id", "embedding",
      ivfCb, pqCb, layout.getAbsolutePath)
    // exact ground truth per query (8 brute-force passes over the
    // cached corpus — the baseline the approximate side is judged by)
    val exact = queries.map { case (qid, qv) =>
      Similarity.cosineTopK(df, "vec_id", "embedding", qv, 10)
        .select(lit(qid).as("qid"), col("vec_id"))
    }.reduce(_ unionByName _).cache()
    exact.count()
    val curve = Seq(1, 2, 4, 8, 16).map { np =>
      val t0 = System.nanoTime()
      val ap = AnnIndex.open(spark, layout.getAbsolutePath, "vec_id")
        .probe(queries, k = 10, nprobe = np)
      val recall = Similarity.annRecallAtK(exact,
        ap.select(col("query_id").as("qid"), col("vec_id")),
        "qid", "vec_id", k = 10)
        .agg(avg("recall")).head().getDouble(0)
      (np, recall, (System.nanoTime() - t0) / 1e9)
    }
    exact.unpersist(); df.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(layout)
    val byNp = curve.map(c => c._1 -> c._2).toMap
    require(byNp(16) >= byNp(1),
      s"the full probe must beat one cell on 8-query average: $curve")
    val pts = curve.map { case (np, r, s) =>
      f"""{"nprobe":$np,"recall_at_10":$r%.3f,"batch8_probe_secs":$s%.2f}"""
    }.mkString("[", ",", "]")
    println(s"""SCALE {"corpus":"recall:$n","op":"q162_recall_curve","n_vecs":$n,"queries":8,"curve":$pts}""")
  }

  /** Incremental-dedup rung (`incr:<corpusN>:<batchN>`): the q131
    * claim measured — a daily increment against an AT-REST signature
    * index vs recomputing the corpus's signatures in-flight. Same
    * generator, same banding, byte-identical winners asserted; the
    * wall difference is exactly the corpus minhash pass the index
    * amortizes away (the 100 TB term).
    */
  private def incrRung(spark: SparkSession, corpusN: Long, batchN: Long): Unit = {
    // even ids = the corpus (corpusN docs), the first batchN odd ids =
    // the increment; a near-dup is planted at (id-1, id) for every
    // id % 100 == 7 — id-1 even, id odd — so each planted pair
    // straddles the split. Docs are ~500 words (realistic web-page
    // text mass): the quantity the index amortizes is the per-BYTE
    // minhash/shingle CPU, so short synthetic docs would understate
    // exactly the term that dominates a real corpus.
    import spark.implicits._
    val all = spark.range(corpusN * 2).map { id =>
      val base =
        if (id % 100 == 7 && id > 0) textOf(id - 1, 500, Vocab) + " extra"
        else textOf(id, 500, Vocab)
      (id, base)
    }.toDF("doc_id", "text").cache()
    val corpus = all.where(col("doc_id") % 2 === 0).cache()
    val batch = all.where(col("doc_id") % 2 === 1 &&
      col("doc_id") < batchN * 2).cache()
    val (nc, _) = timedCount(corpus)
    val (nb, _) = timedCount(batch)

    val idxDir = java.nio.file.Files.createTempDirectory("graft-incr-rung").toFile
    val tIdx0 = System.nanoTime()
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", idxDir.getAbsolutePath)
    val idxSecs = (System.nanoTime() - tIdx0) / 1e9

    val t0 = System.nanoTime()
    val incr = Dedup.incrementalNearDup(spark, idxDir.getAbsolutePath,
      corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val incrSecs = (System.nanoTime() - t0) / 1e9

    // the no-index strawman: recompute the corpus signatures in-flight
    val t1 = System.nanoTime()
    val corpusSig = Dedup.bandSignatures(corpus, "doc_id", "text")
      .select(col("id").as("__old_id"), col("band"), col("key"))
    val newSig = Dedup.bandSignatures(batch, "doc_id", "text")
      .withColumnRenamed("id", "__new_id")
    val cand = corpusSig.join(broadcast(newSig), Seq("band", "key"))
      .select(col("__old_id"), col("__new_id"))
      .dropDuplicates("__old_id", "__new_id")
    // same candidates-only shingling as the operator, so the measured
    // difference between the two paths is EXACTLY the corpus
    // signature recompute the index amortizes
    val oldSh = corpus
      .join(broadcast(cand.select(col("__old_id")).distinct()),
        col("doc_id") === col("__old_id"), "left_semi")
      .select(col("doc_id").as("__old_id"),
        Dedup.shingles(col("text"), 3).as("__sha"))
    val newSh = batch.select(col("doc_id").as("__new_id"),
      Dedup.shingles(col("text"), 3).as("__shb"))
    val fresh = cand.join(oldSh, Seq("__old_id")).join(newSh, Seq("__new_id"))
      .where(round(Dedup.jaccard(col("__sha"), col("__shb")), 6) >= 0.8)
      .groupBy(col("__new_id").as("doc_id"))
      .agg(min(col("__old_id")).as("dup_of"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val freshSecs = (System.nanoTime() - t1) / 1e9
    all.unpersist(); corpus.unpersist(); batch.unpersist()
    org.apache.commons.io.FileUtils.deleteQuietly(idxDir)

    require(incr.sameElements(fresh),
      s"index path disagrees with recompute: ${incr.length} vs ${fresh.length} rows")
    println(f"""SCALE {"corpus":"incr:$corpusN:$batchN","op":"q131_incremental","corpus_docs":$nc,"batch_docs":$nb,"dups_found":${incr.length},"index_build_secs":$idxSecs%.1f,"incr_secs":$incrSecs%.1f,"recompute_secs":$freshSecs%.1f}""")
  }

  /** Maintain rung (`maintain:<corpusN>:<batchN>`): the q156
    * steady-state claim measured at vector scale — an
    * in-distribution batch costs the APPEND pass (batch encode +
    * file-additive write + two batch-only distortion scans), while
    * the corpus-wide retrain runs ONLY when the drift signal demands
    * it. Reports the base ingest wall, the append-path wall and the
    * rebuild-path wall; asserts the decisions land on the designed
    * regimes (append for same-distribution, rebuild for a +8.0
    * shift).
    */
  private def maintainRung(spark: SparkSession, corpusN: Long, batchN: Long): Unit = {
    val dim = 64
    val nCenters = 16
    val centers = Array.tabulate(nCenters, dim) { (c, d) =>
      if ((scala.util.hashing.MurmurHash3.productHash((c, d)) & 1) == 0) 1.0
      else -1.0
    }
    val centersLit = array(centers.map(c =>
      array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)
    def vecsOf(n: Long, idBase: Long, off: Double): DataFrame = {
      val cIdx = (col("id") % nCenters).cast("int")
      val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
        element_at(element_at(centersLit, cIdx + 1), d + 1) + lit(off) +
          (pmod(col("id") * lit(2654435761L) + d * lit(97L), lit(1000L))
            .cast("double") - lit(500.0)) / lit(50000.0))
      spark.range(n).select((col("id") + idBase).as("vec_id"), vec.as("embedding"))
    }
    val corpus = vecsOf(corpusN, 0L, 0.0)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = nCenters)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft-maintain-rung").toFile
    val root = base.getAbsolutePath
    val tW = System.nanoTime()
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, root + "/gen0")
    Layouts.swapGenerationPointer(spark, root, "gen0")
    val writeSecs = (System.nanoTime() - tW) / 1e9
    val index = AnnIndex.open(spark, root, "vec_id")
    // in-distribution batch: the steady-state path — no corpus read
    val tA = System.nanoTime()
    val ra = index.maintain(corpus, vecsOf(batchN, 10000000L, 0.0), "embedding", 0L)
    val appendSecs = (System.nanoTime() - tA) / 1e9
    require(ra.action == "append", s"in-distribution batch must append: $ra")
    // drifted batch: the retrain the drift signal demanded
    val tR = System.nanoTime()
    val rb = index.maintain(corpus, vecsOf(batchN, 20000000L, 8.0), "embedding", 1L)
    val rebuildSecs = (System.nanoTime() - tR) / 1e9
    require(rb.action == "rebuild", s"drifted batch must rebuild: $rb")
    val nFinal = spark.read.parquet(base.getAbsolutePath + "/gen1").count()
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    require(nFinal == corpusN + batchN,
      s"rebuilt generation must hold corpus+batch: $nFinal")
    println(f"""SCALE {"corpus":"maintain:$corpusN:$batchN","op":"q156_maintain","corpus_vecs":$corpusN,"batch_vecs":$batchN,"base_ingest_secs":$writeSecs%.1f,"append_path_secs":$appendSecs%.1f,"rebuild_path_secs":$rebuildSecs%.1f,"stored_vs_fresh":[${ra.storedErr / ra.freshErr}%.2f,${rb.storedErr / rb.freshErr}%.2f]}""")
  }

  /** ANN LSM rung (`annlsm:<corpusN>:<nBatches>`): the small-files
    * tax measured — a probe over base + `nBatches` streamed increment
    * directories vs the same probe after [[AnnIndex.compact]]
    * folds them into one generation. Identical answers asserted; the
    * wall gap is the per-probe listing/open cost a year of daily
    * ingest accumulates and one compaction pays down.
    */
  private def annLsmRung(spark: SparkSession, corpusN: Long, nBatches: Int): Unit = {
    val dim = 64
    val nCenters = 16
    val centers = Array.tabulate(nCenters, dim) { (c, d) =>
      if ((scala.util.hashing.MurmurHash3.productHash((c, d)) & 1) == 0) 1.0
      else -1.0
    }
    val centersLit = array(centers.map(c =>
      array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)
    def vecsOf(n: Long, idBase: Long): DataFrame = {
      val cIdx = (col("id") % nCenters).cast("int")
      val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
        element_at(element_at(centersLit, cIdx + 1), d + 1) +
          (pmod(col("id") * lit(2654435761L) + d * lit(97L), lit(1000L))
            .cast("double") - lit(500.0)) / lit(50000.0))
      spark.range(n).select((col("id") + idBase).as("vec_id"), vec.as("embedding"))
    }
    val corpus = vecsOf(corpusN, 0L)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = nCenters)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft-annlsm-rung").toFile
    val layout = base.getAbsolutePath + "/gen0"
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, layout)
    Layouts.swapGenerationPointer(spark, base.getAbsolutePath, "gen0")
    val index = AnnIndex.open(spark, base.getAbsolutePath, "vec_id")
    val batchN = math.max(64L, corpusN / 50)
    (0 until nBatches).foreach { b =>
      index.append(vecsOf(batchN, 10000000L + b * batchN),
        "embedding", b.toLong)
    }
    val query = centers(5).map(_ + 0.001)
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (viaIncr, incrSecs) = timed {
      annProbe(spark, layout, query)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val (_, compactSecs) = timed { index.compact() }
    val (viaCompacted, compactedSecs) = timed {
      annProbe(spark, base.getAbsolutePath + "/gen1", query)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    require(viaIncr == viaCompacted,
      s"compaction changed the probe answer: $viaIncr vs $viaCompacted")
    println(f"""SCALE {"corpus":"annlsm:$corpusN:$nBatches","op":"ann_lsm_compaction","corpus_vecs":$corpusN,"batches":$nBatches,"batch_vecs":$batchN,"probe_with_increments_secs":$incrSecs%.2f,"compact_secs":$compactSecs%.2f,"probe_compacted_secs":$compactedSecs%.2f}""")
  }

  /** Monitor rung (`monitor:<corpusN>:<nBatches>`): the composed
    * maintenance loop's cost split measured
    * ([[AnnIndex.maintainFromDriftSeries]], q159). KEEP path: reads
    * one KB-sized drift row per batch ever ingested — never the data;
    * its wall cost must stay flat in corpus size. REBUILD path: the
    * corpus-wide retrain + rewrite, paid exactly once, when the
    * trailing drift median demands it. Probe parity across the swap
    * asserted.
    */
  private def monitorRung(spark: SparkSession, corpusN: Long, nBatches: Int): Unit = {
    val dim = 64
    val nCenters = 16
    val centers = Array.tabulate(nCenters, dim) { (c, d) =>
      if ((scala.util.hashing.MurmurHash3.productHash((c, d)) & 1) == 0) 1.0
      else -1.0
    }
    val centersLit = array(centers.map(c =>
      array(c.toIndexedSeq.map(lit): _*)).toIndexedSeq: _*)
    def vecsOf(n: Long, idBase: Long, off: Double): DataFrame = {
      val cIdx = (col("id") % nCenters).cast("int")
      val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
        element_at(element_at(centersLit, cIdx + 1), d + 1) + lit(off) +
          (pmod(col("id") * lit(2654435761L) + d * lit(97L), lit(1000L))
            .cast("double") - lit(500.0)) / lit(50000.0))
      spark.range(n).select((col("id") + idBase).as("vec_id"), vec.as("embedding"))
    }
    val corpus = vecsOf(corpusN, 0L, 0.0)
    val ivfCb = Similarity.ivfCodebook(corpus, "vec_id", "embedding", nlist = nCenters)
    val pqCb = Similarity.pqCodebooks(corpus, "vec_id", "embedding", m = 8, ks = 16)
    val base = java.nio.file.Files.createTempDirectory("graft-monitor-rung").toFile
    val layout = base.getAbsolutePath
    val drift = base.getAbsolutePath + "/drift"
    Similarity.writeIvfPqPartitioned(corpus, "vec_id", "embedding",
      ivfCb, pqCb, layout + "/gen0")
    Layouts.swapGenerationPointer(spark, layout, "gen0")
    val batchN = math.max(64L, corpusN / 50)
    (0 until nBatches).foreach { b =>
      graft.streaming.StreamingSimilarity.ingestBatch(
        vecsOf(batchN, 10000000L + b * batchN, 0.0), b.toLong,
        layout, "vec_id", "embedding", Some(drift))
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // keep path: an in-distribution series — the monitor's steady state
    val (rKeep, keepSecs) = timed {
      AnnIndex.open(spark, layout, "vec_id")
        .maintainFromDriftSeries(drift, corpus, "embedding", window = 3)
    }
    require(rKeep.action == "keep", s"expected keep, got $rKeep")
    // three drifted batches fill the trailing window -> one rebuild
    (0 until 3).foreach { b =>
      graft.streaming.StreamingSimilarity.ingestBatch(
        vecsOf(batchN, 20000000L + b * batchN, 8.0), (nBatches + b).toLong,
        layout, "vec_id", "embedding", Some(drift))
    }
    val all = corpus // the retrain corpus: pre-drift vectors (system of record)
    val (rReb, rebSecs) = timed {
      AnnIndex.open(spark, layout, "vec_id")
        .maintainFromDriftSeries(drift, all, "embedding", window = 3)
    }
    require(rReb.action == "rebuild", s"expected rebuild, got $rReb")
    // probe parity across the swap: gen1 answers for the corpus it
    // re-encoded (same deterministic codebooks -> same top-k as the
    // corpus ranked in flight through gen0's codebooks; gen0's own
    // probe would also read its streamed increments)
    val query = centers(5).map(_ + 0.001)
    val viaNew = annProbe(spark, base.getAbsolutePath + "/gen1", query)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaOldBase = Similarity.ivfPqTopK(corpus, "vec_id", "embedding",
        query, k = 10, nprobe = 4, ivfCb = Some(ivfCb), pqCb = Some(pqCb))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    require(viaNew == viaOldBase,
      s"the rebuilt generation answers differently: $viaNew vs $viaOldBase")
    println(f"""SCALE {"corpus":"monitor:$corpusN:$nBatches","op":"q159_drift_monitor","corpus_vecs":$corpusN,"batches":$nBatches,"batch_vecs":$batchN,"keep_path_secs":$keepSecs%.2f,"rebuild_path_secs":$rebSecs%.2f,"keep_err_ratio":${rKeep.trailingErr / rKeep.baselineErr}%.2f,"rebuild_err_ratio":${rReb.trailingErr / rReb.baselineErr}%.2f}""")
  }

  /** Split-from-index rung (`split:<corpusN>`): the q141 claim
    * measured — [[Sampling.leakFreeSplit]] reading the at-rest
    * signature index vs re-minhashing the corpus in-flight. Same
    * generator and banding as the incr: rung (planted near-dup at
    * (id-1, id) for id % 100 == 7; ~500-word docs so the per-byte
    * signature CPU dominates, the term the index eliminates).
    * Identical (doc, cluster, split) output asserted via distributed
    * checksum — nothing is collected.
    *
    * The corpus is DISK-RESIDENT parquet, not a cached DataFrame: the
    * quantity the index eliminates is reading + re-hashing the text
    * bytes, and a RAM-cached generator hides exactly that term (the
    * mix: rung's lesson — local walls mislead when input never leaves
    * memory).
    */
  private def splitRung(spark: SparkSession, corpusN: Long): Unit = {
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("graft-split-data").toFile
    spark.range(corpusN).map { id =>
      val base =
        if (id % 100 == 7 && id > 0) textOf(id - 1, 500, Vocab) + " extra"
        else textOf(id, 500, Vocab)
      (id, base)
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dataDir.getAbsolutePath)
    val docs = spark.read.parquet(dataDir.getAbsolutePath)
    val (n, _) = timedCount(docs)

    val idxDir = java.nio.file.Files.createTempDirectory("graft-split-rung").toFile
    val tIdx0 = System.nanoTime()
    Dedup.writeNearDupIndex(docs, "doc_id", "text", idxDir.getAbsolutePath)
    val idxSecs = (System.nanoTime() - tIdx0) / 1e9

    // ANSI: sum(xxhash64) overflows — fold through pmod per row
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.select(count(lit(1)),
        sum(pmod(xxhash64(col("doc_id"), col("cluster"), col("split")),
          lit(1000000007L)))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val t0 = System.nanoTime()
    val viaIndex = checksum(Sampling.leakFreeSplit(docs, "doc_id", "text",
      indexPath = Some(idxDir.getAbsolutePath)))
    val idxPathSecs = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val viaText = checksum(Sampling.leakFreeSplit(docs, "doc_id", "text"))
    val textSecs = (System.nanoTime() - t1) / 1e9
    org.apache.commons.io.FileUtils.deleteQuietly(idxDir)
    org.apache.commons.io.FileUtils.deleteQuietly(dataDir)
    require(viaIndex == viaText,
      s"index-read split disagrees with recompute: $viaIndex vs $viaText")
    println(f"""SCALE {"corpus":"split:$corpusN","op":"q141_split_from_index","docs":$n,"index_build_secs":$idxSecs%.1f,"from_index_secs":$idxPathSecs%.1f,"recompute_secs":$textSecs%.1f}""")
  }

  /** Token-budget-mix rung (`mix:<nDocs>`): the q130 two-regime claim
    * measured — 1000 sources, 10% of them token-heavy (over budget),
    * BOTH plans over the same cached counted input: the two-regime
    * split (only over-budget sources' rows cross the window exchange)
    * vs the window-everything strawman (semantically identical here —
    * an under-budget source's running sum never exceeds its total).
    * Asserts identical admitted sets via distributed checksums and
    * reports wall for each — the measured face of the q130 plan
    * guard's "window only the over-budget branch" rule.
    */
  private def mixRung(spark: SparkSession, n: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions.md5_long62
    val sources = 1000
    val heavy = 100
    require(n >= sources,
      s"mix rung needs n >= $sources docs (got $n): the budget is derived per source")
    val df = spark.range(n).select(
      col("id"),
      concat(lit("s"), (col("id") % sources).cast("string")).as("source"),
      (when(col("id") % sources < heavy, 1000L).otherwise(100L) +
        pmod(col("id") * 2654435761L, lit(37L))).as("n_tokens"))
      .cache()
    df.count()
    val budget = (n / sources) * 550 // heavy ~1018/doc -> over; light ~118 -> under

    def checksum(r: DataFrame): (Long, Long, Long) = {
      // id-set fingerprint summed under a modulus (raw xxhash64 sums
      // overflow ANSI long addition at these row counts)
      val row = r.agg(count(lit(1)), sum(col("n_tokens")),
        sum(pmod(xxhash64(col("id")), lit(1000000007L)))).collect()(0)
      (row.getLong(0), row.getLong(1), row.getLong(2))
    }
    // shuffle bytes are THE quantity that scales: a fully-cached
    // single node pays almost nothing to re-scan RAM, so walls here
    // understate what a 1000-executor cluster pays to move rows
    class ShuffleBytes extends org.apache.spark.scheduler.SparkListener {
      val bytes = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def measured(body: => (Long, Long, Long)): ((Long, Long, Long), Double, Long) = {
      val l = new ShuffleBytes
      spark.sparkContext.addSparkListener(l)
      val t = System.nanoTime()
      val r = body
      val secs = (System.nanoTime() - t) / 1e9
      Thread.sleep(500) // drain the listener bus (private API in 4.x)
      spark.sparkContext.removeSparkListener(l)
      (r, secs, l.bytes.get())
    }

    val (twoRegime, splitSecs, splitBytes) = measured(checksum(
      Sampling.tokenBudgetMixCounted(df, "id", "n_tokens", "source", budget)))

    val w = Window.partitionBy(col("source")).orderBy(col("__pr"), col("id"))
    val (straw, windowSecs, windowBytes) = measured(checksum(df
      .withColumn("__pr",
        md5_long62(concat(lit("17"), lit(":"), col("id").cast("string"))))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .where(col("__cum") <= budget)
      .select(col("id"), col("source"), col("n_tokens"))))
    df.unpersist()
    require(twoRegime == straw,
      s"mix plans disagree: two-regime $twoRegime vs window $straw")
    println(f"""SCALE {"corpus":"mix:$n","op":"q130_token_budget","n_docs":$n,"n_sources":$sources,"over_budget_sources":$heavy,"rows_kept":${twoRegime._1},"split_secs":$splitSecs%.2f,"split_shuffle_mb":${splitBytes / 1048576},"window_all_secs":$windowSecs%.2f,"window_shuffle_mb":${windowBytes / 1048576}}""")
  }

  /** 7z rung (`sevenz:<MB>`): the sixth container family at a real
    * size, measuring BOTH spool regimes on the same archive — the
    * in-memory channel (archive below `sevenZMemSpoolMax`) and the
    * forced task-local temp-file spill (`sevenZMemSpoolMax = 1`).
    * Members are deterministic pseudo-random (incompressible) 256 KiB
    * blocks stored with the COPY method so the build is fast and the
    * measured cost is the SPOOL + walk, not LZMA2 codec throughput
    * (q91 pins the LZMA2 decode path). Asserts row-count parity
    * across regimes and zero leaked spool temp files.
    */
  private def sevenZRung(spark: SparkSession, mb: Int): Unit = {
    import org.apache.commons.compress.archivers.sevenz.{SevenZArchiveEntry, SevenZMethod, SevenZOutputFile}
    val dir = java.nio.file.Files.createTempDirectory("graft-7z-rung").toFile
    val f = new java.io.File(dir, s"rung-$mb.7z")
    val out = new SevenZOutputFile(f)
    out.setContentMethods(java.util.List.of(
      new org.apache.commons.compress.archivers.sevenz.SevenZMethodConfiguration(SevenZMethod.COPY)))
    val rnd = new java.util.Random(42)
    val members = mb * 4
    val buf = new Array[Byte](256 * 1024)
    (0 until members).foreach { i =>
      rnd.nextBytes(buf)
      val e = new SevenZArchiveEntry()
      e.setName(f"blocks/m$i%05d.bin")
      out.putArchiveEntry(e); out.write(buf); out.closeArchiveEntry()
    }
    out.close()
    def spoolFiles(): Set[String] = {
      val t = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(t.list()).getOrElse(Array.empty[String]).filter(_.startsWith("graft-7z-spool-")).toSet
    }
    val before = spoolFiles()
    def walkOnce(o: graft.core.ConvertOptions): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = graft.convert.ArchiveConverter
        .entries(spark, Seq(f.getAbsolutePath), o).toDF().count()
      (n, (System.nanoTime() - t0) / 1e9)
    }
    // JIT warm-up pass (discarded) so the two measured regimes are
    // compared like-for-like, not cold-vs-warm
    walkOnce(graft.core.ConvertOptions(
      sevenZMemSpoolMax = 1L << 30, materializeContent = false))
    val (nMem, sMem) = walkOnce(graft.core.ConvertOptions(
      sevenZMemSpoolMax = 1L << 30, materializeContent = false))
    val (nFile, sFile) = walkOnce(graft.core.ConvertOptions(
      sevenZMemSpoolMax = 1L, materializeContent = false))
    val leaked = (spoolFiles() -- before).size
    require(nMem == members && nFile == members,
      s"7z rung row mismatch: mem=$nMem file=$nFile expected=$members")
    require(leaked == 0, s"7z rung leaked $leaked spool files")
    val totMb = mb.toDouble
    println(f"""SCALE {"corpus":"sevenz:$mb","op":"walk_sevenz","members":$members,"mb":$totMb%.0f,"mem_secs":$sMem%.2f,"mem_mbps":${totMb / sMem}%.1f,"file_secs":$sFile%.2f,"file_mbps":${totMb / sFile}%.1f,"leaked_spools":$leaked}""")
  }

  /** CDC rung (`cdc:<mb>`): chunk `mb` MiB of splitmix64-generated
    * binary docs (4 MiB each, generated in parallel, 1 in 4 docs a
    * byte-identical copy of its neighbor) through
    * [[graft.ops.Cdc.chunkTable]] + [[graft.ops.Cdc.dedupStats]].
    * Properties measured: (a) chunking throughput at full width —
    * it is a narrow codegen'd projection, so this IS the scan-speed
    * claim; (b) the accounting detects exactly the planted 25%
    * duplicate bytes; (c) mean chunk size lands near the 8 KiB
    * target (the mask calibration check).
    */
  private def cdcRung(spark: SparkSession, mb: Int): Unit = {
    import spark.implicits._
    val docBytes = 4 << 20
    // a multiple of 4 docs, so the id%4==3 planting is exactly 25% of
    // bytes and the ratio require below is well-defined for any mb
    val nDocs = math.max(4, mb / 4 / 4 * 4)
    val docs = spark.range(nDocs.toLong).map { id =>
      val src: Long = if (id % 4 == 3) id - 1 else id // planted byte-identical copy
      val out = new Array[Byte](docBytes)
      var w = 0
      while (w < docBytes / 8) {
        var v = graft.functions.CdcHelper.mix64(src * 0x9E3779B97F4A7C15L + w)
        var b = 0
        while (b < 8) { out(w * 8 + b) = v.toByte; v >>>= 8; b += 1 }
        w += 1
      }
      (id, out)
    }.toDF("doc_id", "content").cache()
    docs.count() // materialize: measure chunking, not generation
    val chunked = graft.ops.Cdc.chunkTable(docs, "doc_id", "content")
    val (warmChunks, _) = timedCount(chunked) // JIT warm-up, discarded
    val (nChunks, cSecs) = timedCount(chunked)
    val t0 = System.nanoTime()
    val stats = graft.ops.Cdc.dedupStats(chunked).collect().head
    val sSecs = (System.nanoTime() - t0) / 1e9
    val totMb = nDocs.toDouble * 4
    val ratio = stats.getAs[Double]("dedup_ratio")
    val meanChunk = stats.getAs[Long]("total_bytes").toDouble / nChunks
    require(warmChunks == nChunks, "cdc rung nondeterminism")
    require(ratio > 0.70 && ratio < 0.80,
      s"planted 25% duplicate bytes must surface in dedup_ratio, got $ratio")
    docs.unpersist()
    println(f"""SCALE {"corpus":"cdc:$mb","op":"q95_cdc_chunks","n_docs":$nDocs,"mb":$totMb%.0f,"chunks":$nChunks,"mean_chunk_bytes":$meanChunk%.0f,"chunk_secs":$cSecs%.2f,"chunk_mbps":${totMb / cSecs}%.1f,"stats_secs":$sSecs%.2f,"dedup_ratio":$ratio%.4f}""")
  }

  /** Composed web-pipeline rung (`webpipe:<k>:<sfdir>`, r10 verdict
    * #7): the production cleaning composition with the round-11 URL
    * primitives chained in, over the realx-k corpus —
    *
    *   HTML extract → NFC → length gate → url_normalize →
    *   registered_domain → exact-dedup winner election (clean text) →
    *   per-domain quota cap → deterministic 30% sample
    *
    * Every doc gets a synthesized page (q98's shape) and a q96/q99-
    * style URL whose spelling is obfuscated on odd ids (mixed case,
    * explicit default port, fragment, percent-encoded path) — the
    * pipeline must (a) collapse spelling variants onto one canonical
    * key, (b) stay within its exchange budget: ONE hash exchange for
    * the dedup election (AQE broadcasts the winner side back), one
    * aggregation exchange + broadcast semi-join for the domain cap.
    * Reported: stage row counts, exchange count from the FINAL plan,
    * wall seconds.
    */
  private def webPipeRung(spark: SparkSession, dir: String, k: Int): Unit = {
    import graft.functions.GraftFunctions
    import graft.ops.{Dedup, Quality, Sampling}
    val docs = replicatedDocs(spark, dir, k).cache()
    val nIn = docs.count()
    val did = col("doc_id")
    val v1 = did % 2 === 1
    // all content-bearing URL selectors key on the PAIR id (doc_id with
    // parity dropped): an odd id's URL is the obfuscated spelling of
    // its even neighbor's, so canonicalization must halve the key space
    val pid = did - (did % 2)
    val html = concat(
      lit("<html><body><h1>D"), did.cast("string"),
      lit("</h1><p>"), col("text"),
      lit(" &amp; caf&#233;</p><!-- c --><a href=\"x>y\">L</a></body></html>"))
    val tld = element_at(
      array(lit("com"), lit("org"), lit("co.uk"), lit("com.au"), lit("github.io")),
      (pid % 5 + 1).cast("int"))
    val hostLabel = concat(lit("site"), (pid % 20).cast("string"))
    val rawUrl = concat(
      when(v1, lit("HTTP")).otherwise(lit("http")), lit("://"),
      when(v1, upper(hostLabel)).otherwise(hostLabel),
      lit("."), tld,
      when(v1, lit(":80")).otherwise(lit("")),
      lit("/d/"), when(v1, lit("%64oc/")).otherwise(lit("doc/")),
      (pid % 1000).cast("string"),
      when(v1, lit("#frag")).otherwise(lit("")))
    val t0 = System.nanoTime()
    val cleaned = docs
      .select(did.as("doc_id"), rawUrl.as("url"),
        GraftFunctions.nfc_normalize(Quality.htmlToText(html)).as("clean"))
      .where(length(col("clean")) >= 50)
      .withColumn("url_norm", GraftFunctions.url_normalize(col("url")))
      .withColumn("domain", GraftFunctions.registered_domain(
        GraftFunctions.url_parts(col("url_norm")).getField("host")))
    val unique = Dedup.exactWinners(cleaned, "doc_id", "clean")
    val capped = Sampling.domainCap(unique, "domain", "doc_id", quota = 500, seed = 42L)
    val sampled = capped.where(GraftFunctions.md5_long62(
      concat(lit("s:"), col("doc_id").cast("string"))) % 10 < 3)
    val nOut = sampled.count()
    val secs = (System.nanoTime() - t0) / 1e9
    // AQE-final exchange count: run THIS frame (count() above planned a
    // separate query) and keep only the final-plan section
    sampled.collect()
    val finalPlan = sampled.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val nExFinal = "(?m)^\\s*(?:[+:][- ]*)*Exchange ".r.findAllIn(finalPlan).size
    val nClean = cleaned.count()
    val nUnique = unique.count()
    val nCapped = capped.count()
    val nDomains = capped.select(col("domain")).distinct().count()
    // planned (pre-AQE) exchange count: ONLY the '== Initial Plan =='
    // section — the full AdaptiveSparkPlan string holds final+initial
    // and counting both inflated the figure (r11 ADVICE)
    val planStr = sampled.queryExecution.executedPlan.toString
    val initialPlan = planStr.split("== Initial Plan ==").lift(1).getOrElse(planStr)
    val nEx = "(?m)^\\s*(?:[+:][- ]*)*Exchange ".r.findAllIn(initialPlan).size
    // canonicalization must collapse the odd-id spellings: the URL-norm
    // key space is the EVEN-id key space (url depends on doc_id%1000,
    // source, doc_id%5 — parity only via spelling)
    val nKeys = cleaned.select(col("url_norm")).distinct().count()
    val nKeysEven = cleaned.where(did % 2 === 0).select(col("url_norm")).distinct().count()
    require(nKeys == nKeysEven,
      s"url_normalize failed to collapse spelling variants: $nKeys keys vs $nKeysEven even-id keys")
    docs.unpersist()
    println(f"""SCALE {"corpus":"webpipe-realx$k","op":"web_pipeline","n_in":$nIn,"n_clean":$nClean,"n_unique":$nUnique,"n_capped":$nCapped,"n_domains":$nDomains,"n_out":$nOut,"url_keys":$nKeys,"exchanges_planned":$nEx,"exchanges_final":$nExFinal,"secs":$secs%.1f}""")
  }

  /** WARC-fed web-pipeline rung (`warcpipe:<files>:<recs>`, r11
    * verdict #6): the [[webPipeRung]] composition fed from REAL WARC
    * ingestion instead of a pre-built DataFrame —
    *
    *   .warc.gz corpus (CommonCrawl layout: per-record gzip members,
    *   one file per task) → converter walk → http_payload (status
    *   gate, chunked/gzip reversal) → charset decode → main-content
    *   block extraction (nav/footer chrome dropped by the jusText
    *   length + link-density rule) → NFC → length gate →
    *   url_normalize → registered_domain → exact-dedup winner
    *   election → per-domain quota cap → deterministic 30% sample
    *
    * Record mix per id: 5%% requests (must fall to the status gate),
    * and responses alternating plain / gzip Content-Encoding /
    * chunked transfer framing; every page carries link-dense nav +
    * footer chrome that [[graft.ops.Quality.mainContent]] must drop
    * (zero-leak `require`d). Page text and URL key on the PAIR id
    * (odd id = obfuscated spelling + identical content of its even
    * neighbor), so the pipeline must collapse both the URL key space
    * and the dedup winner set to exactly the pair count — checked
    * with `require`, not just reported. Exchange counts (planned =
    * pre-AQE initial plan, final = AQE) reported like the webpipe
    * rung; the walk itself is task-per-input fan-out with zero
    * exchanges.
    */
  private def warcPipeRung(spark: SparkSession, files: Int, recs: Int): Unit = {
    import spark.implicits._
    import graft.functions.GraftFunctions
    import graft.ops.{Dedup, Quality, Sampling}
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-rung").toFile
    val dirPath = dir.getAbsolutePath
    val nIds = files.toLong * recs
    // corpus generation IS a Spark job: one task per output file, the
    // same fan-out shape the converter uses to read it back
    val paths = spark.range(files.toLong).map { f =>
      val file = new java.io.File(dirPath, f"part-$f%05d.warc.gz")
      val fos = new java.io.BufferedOutputStream(new java.io.FileOutputStream(file), 1 << 16)
      var id = f * recs
      val end = (f + 1) * recs
      while (id < end) {
        val pid = id - (id % 2)
        val v1 = id % 2 == 1
        // ~50 distinct REGISTERED domains (multi-label + private-section
        // suffixes included), so the quota-cap stage caps real groups
        val tld = Array("com", "org", "co.uk", "com.au", "github.io").apply((pid % 5).toInt)
        val host = s"site${pid % 50}.$tld"
        val uri =
          if (v1) s"HTTP://${host.toUpperCase}:80/d/$pid#f"
          else s"http://$host/d/$pid"
        val (warcType, body) =
          if (id % 20 == 13)
            ("request", s"GET /d/$pid HTTP/1.1\r\nHost: $host\r\n\r\n".getBytes("UTF-8"))
          else {
            val text = textOf(pid, 70, Vocab)
            // realistic page chrome (keyed on the PAIR id so the
            // pair-collapse invariants are untouched): a nav whose
            // <li>s are 100% link text and a 128-char footer carrying
            // 36 link chars (density 0.28125) — mainContent must drop
            // both and keep only the article <p>
            val nav = s"<nav><ul><li><a href=\"/h\">home</a></li>" +
              s"<li><a href=\"/s${pid % 7}\">section ${pid % 7}</a></li></ul></nav>"
            val foot = "<footer>" +
              ("copyright <a href=\"/l\">example corp</a> all rights reserved " * 3) +
              "</footer>"
            val payload =
              (s"<html><body>$nav<h1>D$pid</h1><p>$text &amp; caf&#233; &mdash;</p>" +
                s"<!-- c --><a href=\"x>y\">L</a>$foot</body></html>").getBytes("UTF-8")
            val msg = (id % 4) match {
              case 1 | 3 => // gzip content coding (all odd non-request ids)
                val bo = new java.io.ByteArrayOutputStream()
                val g = new java.util.zip.GZIPOutputStream(bo)
                g.write(payload); g.close()
                ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Encoding: gzip\r\n\r\n"
                  .getBytes("ISO-8859-1")) ++ bo.toByteArray
              case 2 => // chunked transfer framing, two chunks
                val bo = new java.io.ByteArrayOutputStream()
                val (c1, c2) = payload.splitAt(payload.length / 2)
                bo.write(f"${c1.length}%x\r\n".getBytes("ISO-8859-1"))
                bo.write(c1); bo.write("\r\n".getBytes("ISO-8859-1"))
                bo.write(f"${c2.length}%x\r\n".getBytes("ISO-8859-1"))
                bo.write(c2); bo.write("\r\n0\r\n\r\n".getBytes("ISO-8859-1"))
                ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nTransfer-Encoding: chunked\r\n\r\n"
                  .getBytes("ISO-8859-1")) ++ bo.toByteArray
              case _ =>
                ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                  .getBytes("ISO-8859-1")) ++ payload
            }
            ("response", msg)
          }
        val rec = (s"WARC/1.0\r\nWARC-Type: $warcType\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n").getBytes("ISO-8859-1") ++
          body ++ "\r\n\r\n".getBytes("ISO-8859-1")
        // one gzip member per record — the CommonCrawl .warc.gz layout
        val gz = new java.util.zip.GZIPOutputStream(fos)
        gz.write(rec); gz.finish()
        id += 1
      }
      fos.close()
      file.getAbsolutePath
    }.collect().toSeq
    val totalMb = paths.map(p => new java.io.File(p).length()).sum / 1e6

    val t0 = System.nanoTime()
    val entries = graft.convert.ArchiveConverter
      .entries(spark, paths, graft.core.ConvertOptions()).toDF()
    val projected = entries
      .select(col("path").as("url"), GraftFunctions.http_payload(col("content")).as("h"))
      .where(col("h.status") === 200)
    val cleaned = projected
      .select(col("url"),
        GraftFunctions.nfc_normalize(Quality.mainContent(
          GraftFunctions.charset_decode(col("h.payload"), col("h.content_type")),
          minLen = 50, maxLinkDensity = 0.2).getField("content_text"))
          .as("clean"))
      .where(length(col("clean")) >= 50)
      .withColumn("url_norm", GraftFunctions.url_normalize(col("url")))
      .withColumn("domain", GraftFunctions.registered_domain(
        GraftFunctions.url_parts(col("url_norm")).getField("host")))
      // the numeric record id the dedup/cap/sample stages key on — a
      // real crawl pipeline's synthetic id, derived from the RAW url
      // (unique per record; the NORMALIZED url is the dedup key space)
      .withColumn("rec_id", GraftFunctions.md5_long62(col("url")))
    val unique = Dedup.exactWinners(cleaned, "rec_id", "clean")
    val capped = Sampling.domainCap(unique, "domain", "rec_id", quota = 500, seed = 42L)
    val sampled = capped.where(GraftFunctions.md5_long62(
      concat(lit("s:"), col("rec_id").cast("string"))) % 10 < 3)
    val nOut = sampled.count()
    val secs = (System.nanoTime() - t0) / 1e9
    sampled.collect()
    val planStr = sampled.queryExecution.executedPlan.toString
    val finalPlan = planStr.split("== Initial Plan ==")(0)
    val nExFinal = "(?m)^\\s*(?:[+:][- ]*)*Exchange ".r.findAllIn(finalPlan).size
    val initialPlan = planStr.split("== Initial Plan ==").lift(1).getOrElse(planStr)
    val nEx = "(?m)^\\s*(?:[+:][- ]*)*Exchange ".r.findAllIn(initialPlan).size
    val nWalked = entries.count()
    val nResp = projected.count()
    val nClean = cleaned.count()
    val nUnique = unique.count()
    val nCapped = capped.count()
    val nDomains = capped.select(col("domain")).distinct().count()
    val nKeys = cleaned.select(col("url_norm")).distinct().count()
    // every pair has an even-id response carrying the pair's content,
    // so BOTH the URL key space and the winner set must be exactly
    // the pair count — canonicalization and payload decode at once
    val nPairs = nIds / 2
    require(nWalked == nIds, s"warc walk lost records: $nWalked != $nIds")
    require(nKeys == nPairs,
      s"url_normalize failed to collapse WARC spelling variants: $nKeys keys vs $nPairs pairs")
    require(nUnique == nPairs,
      s"payload decode broke dedup keys: $nUnique winners vs $nPairs pairs")
    // main-content classification must drop the nav/footer chrome at
    // every scale — no boilerplate fragment may reach the clean text
    val nLeaked = cleaned.where(col("clean").contains("all rights reserved")
      .or(col("clean").contains("section "))).count()
    require(nLeaked == 0, s"mainContent leaked chrome into $nLeaked rows")
    Option(dir.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    dir.delete()
    println(f"""SCALE {"corpus":"warcpipe:$files:$recs","op":"warc_pipeline","n_recs":$nWalked,"mb_gz":$totalMb%.1f,"n_resp":$nResp,"n_clean":$nClean,"n_unique":$nUnique,"n_capped":$nCapped,"n_domains":$nDomains,"url_keys":$nKeys,"n_out":$nOut,"exchanges_planned":$nEx,"exchanges_final":$nExFinal,"secs":$secs%.1f,"mbps_gz":${totalMb / secs}%.1f}""")
  }

  /** Builds `df` and counts it. The build is inside the timer: an
    * operator that runs eager work while its frame is built (a
    * checkpoint) would otherwise read faster than it is.
    */
  private def timedCount(df: => DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    val c = df.count()
    (c, (System.nanoTime() - t0) / 1e9)
  }

  /** FFD packing rung (`ffd:<nDocs>:<shards>`): whole-document
    * first-fit-decreasing at corpus scale. The properties that
    * seconds alone cannot show: no bin ever exceeds capacity, the
    * mean fill stays near 1 (FFD earning its keep over naive
    * round-robin), and per-shard state stays bounded (docs/shard —
    * the caller's dial; the rung prints it so the "raise shards,
    * never this code" scaling claim has a measured anchor).
    */
  private def ffdRung(spark: SparkSession, n: Long, shards: Int): Unit = {
    // deterministic id-hashed sizes over the documents table's range
    // (44..577 chars) — same shape, any scale
    val docs = spark.range(n).select(col("id").as("doc_id"),
      (pmod(xxhash64(col("id")), lit(534L)) + 44L).as("n_chars"))
    val t0 = System.nanoTime()
    val out = graft.ops.Packing.ffdPack(docs, "doc_id", "n_chars",
      capacity = 2048, shards = shards)
    val fills = out.groupBy(col("shard"), col("bin"))
      .agg(sum(col("tokens")).as("fill"))
    val r = fills.agg(
      count(lit(1)).as("bins"),
      max(col("fill")).as("max_fill"),
      avg(col("fill")).as("avg_fill")).head()
    val secs = (System.nanoTime() - t0) / 1e9
    val bins = r.getLong(0); val maxFill = r.getLong(1)
    val frac = r.getDouble(2) / 2048.0
    require(maxFill <= 2048, s"bin overflow at scale: $maxFill")
    println(f"""{"rung":"ffd","n_docs":$n,"shards":$shards,""" +
      f""""docs_per_shard":${n / shards},"bins":$bins,""" +
      f""""max_fill":$maxFill,"fill_frac":$frac%.4f,"secs":$secs%.1f}""")
  }

  def main(args: Array[String]): Unit = {
    val corpora =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1", "gen:20000", "gen:50000")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName("graft-scale-evidence")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (ccArgs, rest0) = corpora.partition(_.startsWith("cc:"))
    ccArgs.foreach(a => componentsRung(spark, a.drop(3).toLong))
    val (szArgs, rest1) = rest0.partition(_.startsWith("sevenz:"))
    szArgs.foreach(a => sevenZRung(spark, a.drop(7).toInt))
    val (cdcArgs, rest2a) = rest1.partition(_.startsWith("cdc:"))
    cdcArgs.foreach(a => cdcRung(spark, a.drop(4).toInt))
    val (frArgs, rest2) = rest2a.partition(_.startsWith("frontier:"))
    frArgs.foreach(a => frontierRung(spark, a.drop(9).toLong))
    val WebPipe = "webpipe:(\\d+):(.*)".r
    val (wpArgs, rest3) = rest2.partition(_.startsWith("webpipe:"))
    wpArgs.foreach { case WebPipe(k, dir) => webPipeRung(spark, dir, k.toInt) }
    val WarcPipe = "warcpipe:(\\d+):(\\d+)".r
    val (wcArgs, rest4) = rest3.partition(_.startsWith("warcpipe:"))
    wcArgs.foreach { case WarcPipe(f, r) => warcPipeRung(spark, f.toInt, r.toInt) }
    val (pqArgs, rest4b0) = rest4.partition(_.startsWith("pq:"))
    pqArgs.foreach(a => pqRung(spark, a.drop(3).toLong))
    val (rcArgs, rest4b) = rest4b0.partition(_.startsWith("recall:"))
    rcArgs.foreach(a => recallRung(spark, a.drop(7).toLong))
    val (mixArgs, rest5) = rest4b.partition(_.startsWith("mix:"))
    mixArgs.foreach(a => mixRung(spark, a.drop(4).toLong))
    val Incr = "incr:(\\d+):(\\d+)".r
    val (inArgs, rest6a) = rest5.partition(_.startsWith("incr:"))
    inArgs.foreach { case Incr(c, b) => incrRung(spark, c.toLong, b.toLong) }
    val Maintain = "maintain:(\\d+):(\\d+)".r
    val (mtArgs, rest6b) = rest6a.partition(_.startsWith("maintain:"))
    mtArgs.foreach { case Maintain(c, b) => maintainRung(spark, c.toLong, b.toLong) }
    val AnnLsm = "annlsm:(\\d+):(\\d+)".r
    val (alArgs, rest6) = rest6b.partition(_.startsWith("annlsm:"))
    alArgs.foreach { case AnnLsm(c, b) => annLsmRung(spark, c.toLong, b.toInt) }
    val Monitor = "monitor:(\\d+):(\\d+)".r
    val (moArgs, rest6c) = rest6.partition(_.startsWith("monitor:"))
    moArgs.foreach { case Monitor(c, b) => monitorRung(spark, c.toLong, b.toInt) }
    val (spArgs, rest7) = rest6c.partition(_.startsWith("split:"))
    spArgs.foreach(a => splitRung(spark, a.drop(6).toLong))
    val Ffd = "ffd:(\\d+):(\\d+)".r
    val (ffdArgs, docCorpora) = rest7.partition(_.startsWith("ffd:"))
    ffdArgs.foreach { case Ffd(nd, sh) => ffdRung(spark, nd.toLong, sh.toInt) }

    docCorpora.foreach { c =>
      val RealX = "realx(\\d+):(.*)".r
      val docs = (c match {
        case s if s.startsWith("genwide:") => genDocs(spark, s.drop(8).toLong, wide = true)
        case s if s.startsWith("gen:") => genDocs(spark, s.drop(4).toLong, wide = false)
        case RealX(k, dir) => replicatedDocs(spark, dir, k.toInt)
        case dir => spark.read.parquet(s"$dir/documents.parquet")
      }).cache()
      val n = docs.count()
      val allPairs = n * (n - 1) / 2
      val ref = docs.where(col("source").isin("src0", "src1"))
      val train = docs.where(!col("source").isin("src0", "src1"))

      val ops: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
        ("q18_minhash_lsh",
          () => Dedup.nearDupCandidates(docs, "doc_id", "text"),
          () => Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8)),
        ("q21_simhash",
          () => Dedup.simhashCandidates(docs, "doc_id", "text"),
          () => Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = 3)),
        ("q44_jaccard_ppjoin",
          () => Dedup.jaccardNearDupCandidates(docs, "doc_id", "text", threshold = 0.7),
          () => Dedup.jaccardNearDupPairs(docs, "doc_id", "text", threshold = 0.7)),
        ("q57_decontaminate",
          () => Dedup.decontaminationCandidates(train, ref, "doc_id", "text"),
          () => Dedup.decontaminate(train, ref, "doc_id", "text", threshold = 0.8)),
        ("q80_substring",
          () => Dedup.sharedSubstringCandidates(docs, "doc_id", "text", k = 24, maxDf = 64),
          () => Dedup.sharedSubstringPairs(docs, "doc_id", "text", k = 24, maxDf = 64))) ++
        // the winnowing SCALE KNOB at the big rungs: window=8 keeps
        // ~2/9 of the gram stream, detection threshold 24 -> 31 chars
        (if (n > 10000) Seq(("q80_substring_w8",
          () => Dedup.sharedSubstringCandidates(docs, "doc_id", "text", k = 24, maxDf = 64, window = 8),
          () => Dedup.sharedSubstringPairs(docs, "doc_id", "text", k = 24, maxDf = 64, window = 8)))
         else Seq.empty)

      ops.foreach { case (name, cand, full) =>
        val (nc, ct) = timedCount(cand())
        val (no, ot) = timedCount(full())
        println(f"""SCALE {"corpus":"$c","op":"$name","n_docs":$n,"candidates":$nc,"all_pairs":$allPairs,"cand_frac":${nc.toDouble / math.max(allPairs, 1)}%.6f,"output":$no,"cand_secs":$ct%.1f,"full_secs":$ot%.1f}""")
      }

      // q88 bloom gate: the property is NOT candidate growth (there
      // are no candidates) but (a) zero false negatives at every n,
      // (b) measured FP drops tracking the textbook (1-e^{-kn/m})^k,
      // (c) build cost one corpus scan + constant-size merge.
      {
        val mBits = 1 << 20; val k = 4
        // re-keyed corpus texts (must ALL drop) + guaranteed-novel texts
        val dups = docs.where(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 2000000000L).as("doc_id"), col("text"))
        val fresh = docs.where(col("doc_id") % 10 === 4)
          .select(col("doc_id"),
            concat(col("text"), lit(" zz-novel-"), col("doc_id")).as("text"))
        val incoming = dups.unionAll(fresh).cache()
        val nDup = dups.count(); val nFresh = fresh.count()
        val t0 = System.nanoTime()
        val gated = graft.ops.Bloom.bloomGate(
          docs.select(col("text")), incoming, "text", mBits, k)
        val buildSecs = (System.nanoTime() - t0) / 1e9 // bitmap agg runs here
        val (kept, gateSecs) = timedCount(gated)
        val keptDups = gated.where(col("doc_id") >= 2000000000L).count()
        val fpDropped = nFresh - (kept - keptDups)
        val pBit = 1.0 - math.exp(-k.toDouble * n / mBits)
        val fpExpected = math.pow(pBit, k) * nFresh
        println(f"""SCALE {"corpus":"$c","op":"q88_bloom_gate","n_docs":$n,"dups_in":$nDup,"dups_kept":$keptDups,"fresh_in":$nFresh,"fp_dropped":$fpDropped,"fp_expected":$fpExpected%.1f,"build_secs":$buildSecs%.1f,"gate_secs":$gateSecs%.1f}""")
        incoming.unpersist()
      }
      docs.unpersist()

      // similarity/ANN family ladder over the embeddings table (only
      // for corpora that have one: sf dirs and their realx replicas).
      // The scale properties: (a) q31's multi-table banding candidate
      // fraction falls as n grows, (b) q77's within-cell pair volume
      // stays ~1/nlist of all-pairs when nlist ∝ corpus (the SemDeDup
      // sizing rule), (c) q37's probe re-ranks only the nprobe cells'
      // population.
      val embOpt = c match {
        case RealX(k, dir) => Some(graft.ops.Similarity -> replicatedEmbeddings(spark, dir, k.toInt))
        case dir if !dir.contains(":") =>
          Some(graft.ops.Similarity -> spark.read.parquet(s"$dir/embeddings.parquet")
            .select(col("vec_id"),
              transform(col("embedding"), x => x.cast("double")).as("embedding")))
        case _ => None
      }
      embOpt.foreach { case (sim, embRaw) =>
        val emb = embRaw.cache()
        val ne = emb.count()
        val embPairs = ne * (ne - 1) / 2
        val (nc, ct) = timedCount(
          sim.embeddingNearDupCandidates(emb, "vec_id", "embedding", dim = 64))
        val (no, ot) = timedCount(
          sim.embeddingNearDupPairs(emb, "vec_id", "embedding", threshold = 0.9, dim = 64))
        println(f"""SCALE {"corpus":"$c","op":"q31_embedding_lsh","n_docs":$ne,"candidates":$nc,"all_pairs":$embPairs,"cand_frac":${nc.toDouble / math.max(embPairs, 1)}%.6f,"output":$no,"cand_secs":$ct%.1f,"full_secs":$ot%.1f}""")
        // the banding SCALE KNOB: fixed (tables, bits) collides a
        // constant fraction of random pairs, so large corpora widen
        // the codes (and add tables to hold recall) exactly as
        // SemDeDup grows nlist — demonstrate at 12x12 vs the 8x8 base
        if (ne > 10000) {
          val (nc12, ct12) = timedCount(sim.embeddingNearDupCandidates(
            emb, "vec_id", "embedding", dim = 64, tables = 12, bitsPerTable = 12))
          val (no12, ot12) = timedCount(sim.embeddingNearDupPairs(
            emb, "vec_id", "embedding", threshold = 0.9, dim = 64,
            tables = 12, bitsPerTable = 12))
          println(f"""SCALE {"corpus":"$c","op":"q31_embedding_lsh_12x12","n_docs":$ne,"candidates":$nc12,"all_pairs":$embPairs,"cand_frac":${nc12.toDouble / math.max(embPairs, 1)}%.6f,"output":$no12,"cand_secs":$ct12%.1f,"full_secs":$ot12%.1f}""")
        }

        val nlist = math.max(16L, ne / 125).toInt
        val cb = sim.ivfCodebook(emb, "vec_id", "embedding", nlist)
        val cellPairs = emb
          .select(sim.ivfCell(cb, col("embedding")).as("cell"))
          .groupBy("cell").count()
          .agg(sum(expr("count * (count - 1) div 2")).as("cp"))
          .head().getLong(0)
        val t0 = System.nanoTime()
        val survivors = sim.semDedup(emb, "vec_id", "embedding", cb, threshold = 0.9).count()
        val sdSecs = (System.nanoTime() - t0) / 1e9
        println(f"""SCALE {"corpus":"$c","op":"q77_semdedup","n_docs":$ne,"nlist":$nlist,"candidates":$cellPairs,"all_pairs":$embPairs,"cand_frac":${cellPairs.toDouble / math.max(embPairs, 1)}%.6f,"survivors":$survivors,"full_secs":$sdSecs%.1f}""")

        val probedCells = sim.ivfProbed(cb, Array.fill(64)(1.0), nprobe = 4)
        val probedRows = emb
          .where(sim.ivfCell(cb, col("embedding")).isin(probedCells: _*)).count()
        println(f"""SCALE {"corpus":"$c","op":"q37_ivf_probe","n_docs":$ne,"nlist":$nlist,"probed_rows":$probedRows,"probe_frac":${probedRows.toDouble / ne}%.6f}""")
        emb.unpersist()
      }
    }
    spark.stop()
  }
}
