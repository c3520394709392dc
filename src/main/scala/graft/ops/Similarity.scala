package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths:
  *   - [[cosineTopK]] — brute-force scan vs one query vector. Fully
  *     codegen'd (built-in `aggregate`/`zip_with` compositions, no
  *     UDFs); a single narrow pass + a k-row `orderBy.limit` (Spark
  *     plans TakeOrderedAndProject — no global sort materialization).
  *     This is the exact baseline and is linear in corpus size: fine
  *     at 100 TB *per query* only if queries are rare.
  *   - [[annLshTopK]] — random-hyperplane (sign) LSH: bucket by the
  *     h-bit sign pattern, probe only buckets within `probeHamming`
  *     of the query's code, re-rank exactly inside the probed buckets.
  *     The scan touches ~(sum_{d<=probeHamming} C(h,d))/2^h of the
  *     corpus — with h=16, probe<=2, that's ~137/65536 ≈ 0.2%.
  */
object Similarity {

  /** Deterministic Rademacher (±1) hyperplanes, entry (i, j) derived
    * from the md5-based hash of "hp_i_j" — identical on every executor
    * and every run, and (unlike seeded gaussians) reproducible inside
    * an ANSI-SQL oracle, where the plane literals can be regenerated or
    * inlined. ±1 random projections preserve angles like gaussian ones
    * (Achlioptas, "Database-friendly random projections", PODS'01).
    */
  private[ops] def hyperplanes(dim: Int, h: Int): Array[Array[Double]] =
    Array.tabulate(h)(i => Array.tabulate(dim)(j =>
      if ((graft.functions.HashingHelper.md5lo62(s"hp_${i}_${j}") & 1L) == 1L) 1.0 else -1.0))

  /** ±1 entries of the fixed LSH hyperplanes, for oracle-SQL literal
    * generation (the oracle inlines them as constants — they are part
    * of the operator's fixed definition, not data-derived).
    */
  def planeSigns(dim: Int, h: Int): Array[Array[Int]] =
    hyperplanes(dim, h).map(_.map(_.toInt))

  /** The h-bit sign-LSH code of a fixed query vector (driver-side). */
  def queryCode(query: Array[Double], dim: Int, h: Int): Long =
    hyperplanes(dim, h).zipWithIndex.map { case (p, i) =>
      var dot = 0.0
      var j = 0
      while (j < dim) { dot += p(j) * query(j); j += 1 }
      if (dot >= 0) 1L << i else 0L
    }.reduce(_ | _)

  private def vecLit(v: Array[Double]): Column = array(v.toIndexedSeq.map(lit): _*)

  /** Ceiling on double literals inlined into one projection (2 MB of
    * constants). Janino compiles inlined literals into the generated
    * method — past a few MB the stage silently falls back to
    * interpreted (or dies on the 64 KB method limit even with
    * constant-pool splitting). The PQ encode/ADC/distortion surfaces
    * sidestep the cliff entirely by carrying their tables as codegen
    * REFERENCE OBJECTS ([[graft.functions.AnnHelper]] — one helper
    * call per row at any m/ks/nprobe); [[ivfCell]] keeps the inlined
    * argmax form (its NaN/tie ordering is pinned by the oracle SQL),
    * so the coarse codebook remains the one guarded surface. The
    * guard turns that cliff into a plan-build-time refusal naming the
    * layout that does NOT inline (partition-pruned at-rest probes).
    */
  private[ops] val MaxInlinedDoubles: Long = 256L * 1024

  private def requireInlineBudget(doubles: Long, what: String,
      alternative: String): Unit =
    require(doubles <= MaxInlinedDoubles,
      s"$what would inline $doubles double literals into one projection " +
        s"(codegen budget: $MaxInlinedDoubles, ~2 MB of constants) — " +
        s"past it the generated stage degrades or fails; $alternative")

  /** Cosine of each row's vector vs a constant query vector. */
  def cosineTo(vec: Column, query: Array[Double]): Column =
    GraftFunctions.cosine_similarity(vec, vecLit(query))

  /** Exact top-k by cosine similarity vs a constant query vector.
    * Output: (idCol, cos) ordered desc, ties broken by id.
    */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int): DataFrame =
    df.select(col(idCol), round(cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** h-bit sign-LSH code of a vector column vs the fixed hyperplanes:
    * bit i = sign(v . plane_i). Pure built-ins, codegen-friendly.
    */
  def lshCode(vec: Column, dim: Int, h: Int = 16): Column = {
    val planes = hyperplanes(dim, h)
    planes.zipWithIndex.map { case (p, i) =>
      when(GraftFunctions.vec_dot(vec, vecLit(p)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Approximate top-k: probe buckets whose code is within
    * `probeHamming` bits of the query's code, exact re-rank inside.
    * At scale the bucket column should be a partition/bucketing key of
    * the stored corpus so probing prunes file scans.
    */
  def annLshTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int,
      h: Int = 16, probeHamming: Int = 2): DataFrame = {
    val qCode = queryCode(query, dim, h)
    val coded = df.select(col(idCol), col(vecCol), lshCode(col(vecCol), dim, h).as("__code"))
    coded
      .where(bit_count(col("__code").bitwiseXOR(lit(qCode))) <= probeHamming)
      .select(col(idCol), round(cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** IVF (inverted-file) ANN top-k: a coarse quantizer partitions the
    * corpus into `nlist` cells (assignment = nearest centroid by
    * cosine, ties to the smaller centroid id); a query searches only
    * the `nprobe` cells whose centroids are nearest the query vector,
    * re-ranking those exactly. Centroids here are the `nlist`
    * smallest-id vectors — a deterministic, oracle-reproducible
    * stand-in for an offline k-means codebook (the IVF plumbing, not
    * the codebook training, is the operator under test).
    *
    * Scale: the codebook is driver-collected and inlined — a k-means
    * codebook is KB-to-MB even for a 100 TB corpus — so cell
    * assignment is a narrow, fully-codegen projection: no shuffle, no
    * per-row join, one pass. At rest the corpus would be written
    * `partitionBy(cell)` so a probe prunes the file listing to
    * ~nprobe/nlist of the data; the probed fraction is re-ranked with
    * exact cosine like [[annLshTopK]].
    */
  /** (centroid id, vector, L2 norm) codebook entries. */
  type IvfCodebook = Array[(Long, Array[Double], Double)]

  // sequential left-fold dot — the exact IEEE add sequence VecDot
  // and the oracle's list_sum comprehension perform
  private def seqDot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { acc += a(j) * b(j); j += 1 }
    acc
  }

  /** The SemDeDup/IVF sizing rule, programmatic: nlist grows with the
    * corpus so cells stay ~`targetCell` rows and within-cell pair
    * volume stays ~targetCell/2 per row regardless of n (measured on
    * the scale ladder: cell-pair fraction 6.3e-2 → 6.4e-3 → 3.3e-3 at
    * n = 2k/20k/40k with this rule; see PLANS_r09 §3b).
    */
  def recommendedNlist(n: Long, targetCell: Int = 125): Int =
    math.max(16L, n / targetCell).toInt

  /** The sign-LSH banding sizing rule, programmatic: per-table random
    * collision is ~2^-bits, so total candidates ≈ tables·n²/2·2^-bits;
    * widen codes until candidates ≈ `candidatesPerRow`·n, growing
    * tables with bits to hold recall (the measured 8×8 → 12×12 step
    * kept 96% of output while cutting candidates 8.2x). Capped at 16
    * bits — beyond that per-pair recall at cos 0.9 decays, which is
    * the regime where IVF cells ([[semDedup]], [[recommendedNlist]])
    * are the right candidate generator instead.
    *
    * @return (tables, bitsPerTable)
    */
  def recommendedBanding(n: Long, candidatesPerRow: Int = 64): (Int, Int) = {
    var bits = 8
    while (bits < 16 && bits.toDouble * n / 2 * math.pow(2.0, -bits) > candidatesPerRow)
      bits += 1
    (bits, bits)
  }

  /** Deterministic IVF codebook: the `nlist` smallest-id vectors — an
    * oracle-reproducible stand-in for an offline k-means codebook.
    * Bounded driver collect (nlist rows), like a real codebook load.
    */
  def ivfCodebook(df: DataFrame, idCol: String, vecCol: String, nlist: Int): IvfCodebook =
    df.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long"), transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), v, math.sqrt(seqDot(v, v)))
      }

  /** TRAINED IVF codebook: bounded-iteration distributed spherical
    * k-means (Lloyd's) under the cosine metric [[ivfCell]] assigns by.
    *
    * Shape per iteration — the canonical scalable k-means layout:
    *   - centroids broadcast read-only (nlist x dim doubles, KB-MB
    *     even for production codebooks — never data-sized);
    *   - one narrow pass assigns each vector to its nearest centroid
    *     (max cosine, ties to the smaller index, mirroring
    *     [[ivfCell]]) and partial-aggregates per-centroid (sum, count)
    *     inside each partition (`treeAggregate`): the only bytes that
    *     leave an executor per iteration are nlist x dim partial sums,
    *     NEVER rows;
    *   - the driver re-normalizes means into unit centroids (spherical
    *     update); an emptied cell keeps its previous centroid.
    *
    * Init is a deterministic hash-ordered sample (`nlist` smallest
    * `xxhash64(id)` — id-order would seed all centroids from one
    * corner of the corpus, which is exactly the stand-in's weakness).
    * Stops early when no centroid moves more than `tol` in cosine.
    * Centroid ids are 0..nlist-1; vectors are unit-norm (norm field
    * 1.0), so the returned codebook drops into [[ivfCell]] /
    * [[ivfProbed]] / [[ivfTopK]] unchanged.
    */
  // top-level (not nested in trainIvfCodebook): a nested def would pull
  // the whole method scope — including the non-serializable DataFrame —
  // into the RDD closure below
  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(seqDot(v, v))
    if (n == 0) v else v.map(_ / n)
  }

  def trainIvfCodebook(df: DataFrame, idCol: String, vecCol: String, nlist: Int,
      maxIters: Int = 10, tol: Double = 1e-6): IvfCodebook = {
    require(nlist > 0 && maxIters > 0, "nlist and maxIters must be positive")
    val projected = df.select(
      col(idCol).cast("long"),
      transform(col(vecCol), x => x.cast("double")))
    // unit vectors once, cached: every iteration re-reads them
    val data = projected.rdd
      .map(r => unit(r.getSeq[Double](1).toArray))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Array[Array[Double]] = projected
        .orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(nlist)
        .collect()
        .map(r => unit(r.getSeq[Double](1).toArray))
      require(cents.nonEmpty, "cannot train a codebook on an empty corpus")
      val dim = cents(0).length
      val sc = df.sparkSession.sparkContext
      var iter = 0
      var moved = true
      while (iter < maxIters && moved) {
        val bc = sc.broadcast(cents)
        val k = cents.length
        val (sums, counts) = data.treeAggregate(
          (Array.fill(k)(new Array[Double](dim)), new Array[Long](k)))(
          seqOp = { case ((s, c), v) =>
            val cb = bc.value
            var best = 0; var bestDot = seqDot(cb(0), v)
            var j = 1
            while (j < k) {
              val d = seqDot(cb(j), v)
              if (d > bestDot) { best = j; bestDot = d }
              j += 1
            }
            var i = 0
            while (i < dim) { s(best)(i) += v(i); i += 1 }
            c(best) += 1
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var j = 0
            while (j < k) {
              var i = 0
              while (i < dim) { s1(j)(i) += s2(j)(i); i += 1 }
              c1(j) += c2(j); j += 1
            }
            (s1, c1)
          })
        bc.destroy()
        val next = Array.tabulate(k) { j =>
          if (counts(j) == 0) cents(j) // emptied cell keeps its centroid
          else unit(sums(j))
        }
        moved = cents.zip(next).exists { case (a, b) => 1.0 - seqDot(a, b) > tol }
        cents = next
        iter += 1
      }
      cents.zipWithIndex.map { case (v, j) => (j.toLong, v, 1.0) }
    } finally data.unpersist(blocking = false)
  }

  /** Cell assignment vs an inlined codebook: nearest centroid by
    * cosine, ties to the smaller centroid id. A narrow, fully-codegen
    * projection (argmax via an orderable struct: max (cos, -cent_id))
    * — no shuffle, no join. Write the corpus `partitionBy(thisColumn)`
    * so probes prune the file listing (asserted in BucketingSpec).
    */
  def ivfCell(codebook: IvfCodebook, vec: Column): Column = {
    requireInlineBudget(
      codebook.length.toLong * (if (codebook.isEmpty) 0 else codebook(0)._2.length),
      s"ivfCell (nlist=${codebook.length})",
      "assign-and-write once with a smaller nlist per pass, or restate " +
        "the assignment as a broadcast join against the codebook rows " +
        "— at-rest probes (AnnIndex.probe) never inline the codebook " +
        "at query time, they prune cell directories by file listing")
    val vnorm = sqrt(GraftFunctions.vec_dot(vec, vec))
    -greatest(codebook.toIndexedSeq.map { case (id, v, n) =>
      struct(
        (GraftFunctions.vec_dot(vec, vecLit(v)) / (vnorm * lit(n))).as("c"),
        lit(-id).as("nid"))
    }: _*).getField("nid")
  }

  /** The `nprobe` cells whose centroids are nearest the query
    * (driver-side, same arithmetic and tie order as the in-SQL oracle).
    */
  def ivfProbed(codebook: IvfCodebook, query: Array[Double], nprobe: Int): Seq[Long] = {
    val qnorm = math.sqrt(seqDot(query, query))
    codebook
      .map { case (id, v, n) => (seqDot(v, query) / (qnorm * n), id) }
      .sortBy { case (cos, id) => (-cos, id) }
      .take(nprobe).map(_._2).toSeq
  }

  /** `codebook` defaults to the deterministic smallest-id stand-in
    * (oracle-reproducible); pass [[trainIvfCodebook]]'s output for
    * real recall.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 4,
      codebook: Option[IvfCodebook] = None): DataFrame = {
    val cents = codebook.getOrElse(ivfCodebook(df, idCol, vecCol, nlist))
    val probed = ivfProbed(cents, query, nprobe)
    df.where(ivfCell(cents, col(vecCol)).isin(probed: _*))
      .select(col(idCol), round(cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** The IVF at-rest layout: write the corpus `partitionBy` its cell
    * assignment so probes prune the FILE LISTING to ~nprobe/nlist of
    * the data (Hive-style partition pruning — proven in BucketingSpec:
    * a 2-of-8-cell probe plans exactly 2 partition directories). The
    * cell column is a narrow codegen'd projection of an inlined
    * codebook; the write shuffles nothing beyond the writer's own
    * file-per-cell fan-out.
    */
  def writeIvfPartitioned(df: DataFrame, vecCol: String,
      codebook: IvfCodebook, out: String): Unit =
    df.withColumn(AnnIndex.Cell, ivfCell(codebook, col(vecCol)))
      .write.mode("overwrite").partitionBy(AnnIndex.Cell).parquet(out)

  /** ANN top-k over a [[writeIvfPartitioned]] layout: filter on the
    * partition column (file-listing prune, no data read outside the
    * probed cells), exact cosine re-rank inside. The codebook must be
    * the one the layout was written with.
    */
  def ivfTopKAtRest(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String, vecCol: String, codebook: IvfCodebook,
      query: Array[Double], k: Int, nprobe: Int = 4): DataFrame = {
    val probed = ivfProbed(codebook, query, nprobe)
    FooterSchema.read(spark, path)
      .where(col(AnnIndex.Cell).isin(probed: _*))
      .select(col(idCol), round(cosineTo(col(vecCol), query), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ) — the compression half of the IVF-PQ
  // architecture (Jégou, Douze, Schmid, "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011). A d-dim vector is split
  // into `m` subvectors; each subvector is quantized to its nearest
  // of `ks` per-subspace centroids; the stored code is m small ints
  // (ks=16 -> 4 bits each, so a 64-dim float vector compresses
  // 256 bytes -> 4 bytes). Queries never decode: ADC (asymmetric
  // distance computation) precomputes the m x ks table of
  // query-to-centroid subspace distances once per query, and each
  // row's approximate distance is m table lookups summed — the scan
  // shape that makes 100 TB of embeddings searchable from RAM-sized
  // state.
  // ---------------------------------------------------------------

  /** Per-subspace centroid tables: entry (m)(j) is the j-th centroid
    * of subspace m (length d/m each).
    */
  type PqCodebooks = Array[Array[Array[Double]]]

  /** Deterministic PQ codebooks: subspace slices of the `ks`
    * smallest-id vectors — the [[ivfCodebook]] rule applied per
    * subspace, oracle-reproducible. Bounded driver collect (ks rows).
    */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int): PqCodebooks = {
    val rows = df.orderBy(col(idCol)).limit(ks)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    pqFromRows(rows, m)
  }

  private def pqFromRows(rows: Array[Array[Double]], m: Int): PqCodebooks = {
    require(rows.nonEmpty, "cannot build PQ codebooks from an empty corpus")
    val dim = rows(0).length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    Array.tabulate(m)(mi => rows.map(_.slice(mi * dsub, (mi + 1) * dsub)))
  }

  /** [[ivfCodebook]] + [[pqCodebooks]] from ONE bounded collect — both
    * deterministic stand-ins derive from the `max(nlist, ks)`
    * smallest-id vectors, so composing a layout previously paid two
    * identical TakeOrdered jobs for one row set (r21: one job per
    * composed ANN fixture saved). Identical codebooks to the separate
    * faces by construction (same ordering, same prefixes).
    */
  def ivfAndPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, m: Int, ks: Int): (IvfCodebook, PqCodebooks) = {
    val rows = df.orderBy(col(idCol)).limit(math.max(nlist, ks))
      .select(col(idCol).cast("long"), transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val ivf: IvfCodebook = rows.take(nlist).map { case (id, v) =>
      (id, v, math.sqrt(seqDot(v, v)))
    }
    (ivf, pqFromRows(rows.take(ks).map(_._2), m))
  }

  /** TRAINED PQ codebooks: bounded-iteration L2 k-means in EVERY
    * subspace, all m subspaces in ONE distributed pass per iteration
    * (the [[trainIvfCodebook]] layout: centroids broadcast, per-row
    * assignment + partial (sum, count) aggregation inside each
    * partition, only m x ks x dsub doubles of partials ever leave an
    * executor — never rows). Init per subspace is the deterministic
    * hash-ordered sample ([[trainIvfCodebook]]'s rule); an emptied
    * cell keeps its previous centroid; stops early when no centroid
    * moves more than `tol` in squared L2.
    */
  def trainPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, maxIters: Int = 10, tol: Double = 1e-9): PqCodebooks = {
    require(m > 0 && ks > 0 && maxIters > 0, "m, ks, maxIters must be positive")
    val projected = df.select(
      col(idCol).cast("long"),
      transform(col(vecCol), x => x.cast("double")))
    val data = projected.rdd
      .map(_.getSeq[Double](1).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = projected
        .orderBy(xxhash64(col(idCol)), col(idCol))
        .limit(ks)
        .collect()
        .map(_.getSeq[Double](1).toArray)
      require(init.nonEmpty, "cannot train PQ codebooks on an empty corpus")
      val dim = init(0).length
      require(dim % m == 0, s"m=$m must divide dim=$dim")
      val dsub = dim / m
      var cents: PqCodebooks =
        Array.tabulate(m)(mi => init.map(_.slice(mi * dsub, (mi + 1) * dsub)))
      val sc = df.sparkSession.sparkContext
      var iter = 0
      var moved = true
      while (iter < maxIters && moved) {
        val bc = sc.broadcast(cents)
        val (sums, counts) = data.treeAggregate(
          (Array.fill(m, ks)(new Array[Double](dsub)), Array.fill(m, ks)(0L)))(
          seqOp = { case ((s, c), v) =>
            val cb = bc.value
            var mi = 0
            while (mi < m) {
              val off = mi * dsub
              var best = 0; var bestD = Double.MaxValue
              var j = 0
              while (j < ks) {
                val cent = cb(mi)(j)
                var d = 0.0; var i = 0
                while (i < dsub) { val t = v(off + i) - cent(i); d += t * t; i += 1 }
                if (d < bestD) { best = j; bestD = d }
                j += 1
              }
              var i = 0
              while (i < dsub) { s(mi)(best)(i) += v(off + i); i += 1 }
              c(mi)(best) += 1
              mi += 1
            }
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var mi = 0
            while (mi < m) {
              var j = 0
              while (j < ks) {
                var i = 0
                while (i < dsub) { s1(mi)(j)(i) += s2(mi)(j)(i); i += 1 }
                c1(mi)(j) += c2(mi)(j); j += 1
              }
              mi += 1
            }
            (s1, c1)
          })
        bc.destroy()
        val next = Array.tabulate(m, ks) { (mi, j) =>
          if (counts(mi)(j) == 0) cents(mi)(j)
          else sums(mi)(j).map(_ / counts(mi)(j))
        }
        moved = (0 until m).exists(mi => (0 until ks).exists { j =>
          var d = 0.0; var i = 0
          while (i < dsub) { val t = cents(mi)(j)(i) - next(mi)(j)(i); d += t * t; i += 1 }
          d > tol
        })
        cents = next
        iter += 1
      }
      cents
    } finally data.unpersist(blocking = false)
  }

  /** PQ code of a vector column: `array<int>` of length m, entry mi =
    * argmin_j ||v[mi*dsub ..] - cb(mi)(j)||² (ties to the smaller j).
    * A narrow, fully-codegen projection — per subspace the argmin is
    * `min (dist, j)` over inlined centroid literals via
    * [[GraftFunctions.vec_l2sq_slice]]; no shuffle, no join, one pass.
    */
  def pqCode(cb: PqCodebooks, vec: Column): Column =
    GraftFunctions.pq_encode(vec, cb)

  /** The m 4/8-bit codes packed into one BIGINT — the at-rest column
    * (ks <= 16 -> 4 bits per code, m <= 16 subspaces in one long).
    */
  def pqPack(code: Column, m: Int, ks: Int): Column = {
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros((ks - 1).toLong))
    require(m * bits <= 64, s"m=$m codes of $bits bits exceed one long")
    (0 until m).map(mi => shiftleft(element_at(code, mi + 1).cast("long"), mi * bits))
      .reduceLeft(_.bitwiseOR(_))
  }

  /** Inverse of [[pqPack]]. */
  def pqUnpack(packed: Column, m: Int, ks: Int): Column = {
    val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros((ks - 1).toLong))
    array((0 until m).map(mi =>
      shiftright(packed, mi * bits).bitwiseAND(lit((1L << bits) - 1)).cast("int")): _*)
  }

  /** The per-query ADC lookup table: entry (mi)(j) = squared L2
    * distance from the query's mi-th subvector to centroid (mi)(j).
    * Driver-side, m x ks doubles — broadcast-inlined into the scan.
    */
  def pqAdcTable(cb: PqCodebooks, query: Array[Double]): Array[Array[Double]] = {
    val dsub = cb(0)(0).length
    Array.tabulate(cb.length)(mi => cb(mi).map { c =>
      var d = 0.0; var i = 0
      while (i < dsub) { val t = query(mi * dsub + i) - c(i); d += t * t; i += 1 }
      d
    })
  }

  /** Approximate top-k by PQ/ADC: encode each row (or reuse a stored
    * code column), then its distance to the query is m lookups into
    * the inlined ADC table, summed left-to-right — a narrow
    * whole-stage-codegen scan + a k-row `orderBy.limit`
    * (TakeOrderedAndProject), zero exchanges. `codebooks` defaults to
    * the deterministic smallest-id stand-in (oracle-reproducible);
    * pass [[trainPqCodebooks]]'s output for real recall. Output:
    * (idCol, adc) ordered ascending (it is a distance), ties by id.
    */
  /** The ADC column: the code's m table lookups summed left-to-right
    * (the fixed IEEE add chain the oracle's `list(ld ORDER BY m)`
    * fold reproduces).
    */
  private def adcColumn(lut: Array[Array[Double]], code: Column): Column =
    GraftFunctions.pq_adc(code, lut)

  def pqAdcTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, m: Int = 8, ks: Int = 16,
      codebooks: Option[PqCodebooks] = None): DataFrame = {
    val cb = codebooks.getOrElse(pqCodebooks(df, idCol, vecCol, m, ks))
    val lut = pqAdcTable(cb, query)
    df.select(col(idCol), pqCode(cb, col(vecCol)).as("__code"))
      .select(col(idCol), round(adcColumn(lut, col("__code")), 6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** ADC top-k over PRE-ENCODED codes — the at-rest query shape: the
    * corpus stores only its `array<int>` codes in a `code` column
    * ([[pqCode]], or [[pqUnpack]] of the packed long, the layout
    * writers' column name), encoding cost was paid once at
    * ingest, and a query is m lookups + sum per row over a
    * codes-only scan (~4 bytes/vector read instead of 256).
    * [[pqAdcTopK]] is the encode-in-flight convenience face; THIS is
    * what a production scan runs.
    */
  def pqAdcTopKCoded(df: DataFrame, idCol: String,
      cb: PqCodebooks, query: Array[Double], k: Int): DataFrame = {
    val lut = pqAdcTable(cb, query)
    df.select(col(idCol), round(adcColumn(lut, col(AnnIndex.Code)), 6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** IVF-PQ top-k — the composed architecture a 100 TB vector store
    * actually runs (FAISS's IndexIVFPQ): the coarse IVF quantizer
    * prunes the scan to the `nprobe` cells nearest the query
    * ([[ivfTopK]]'s probe — at rest, `partitionBy(cell)` file
    * pruning), and rows inside the probed cells rank by PQ/ADC
    * ([[pqAdcTopK]]) without ever touching full-precision vectors —
    * at rest only the packed codes ([[pqPack]]) need reading, ~4
    * bytes/vector. Both stages stay narrow codegen'd projections of
    * inlined codebooks: no shuffle, no join, one pass over the probed
    * fraction, TakeOrderedAndProject for the k rows.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ks: Int = 16,
      ivfCb: Option[IvfCodebook] = None,
      pqCb: Option[PqCodebooks] = None): DataFrame = {
    val cents = ivfCb.getOrElse(ivfCodebook(df, idCol, vecCol, nlist))
    val probed = ivfProbed(cents, query, nprobe)
    val cb = pqCb.getOrElse(pqCodebooks(df, idCol, vecCol, m, ks))
    val lut = pqAdcTable(cb, query)
    df.where(ivfCell(cents, col(vecCol)).isin(probed: _*))
      .select(col(idCol), pqCode(cb, col(vecCol)).as("__code"))
      .select(col(idCol), round(adcColumn(lut, col("__code")), 6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** Driver-side replica of [[ivfCell]]'s assignment (same dot/norm
    * arithmetic in the same order, ties to the smaller centroid id) —
    * for deriving residuals of the bounded codebook sample rows.
    */
  private def assignCell(cents: IvfCodebook, v: Array[Double]): Long = {
    val vn = math.sqrt(seqDot(v, v))
    cents.map { case (id, c, n) => (seqDot(v, c) / (vn * n), id) }
      .maxBy { case (cos, id) => (cos, -id) }._2
  }

  /** Deterministic RESIDUAL PQ codebooks: subspace slices of the
    * residuals (vector minus its assigned coarse centroid) of the
    * `ks` smallest-id vectors — [[pqCodebooks]]' rule applied in
    * residual space. Residual encoding is what FAISS's IndexIVFPQ
    * actually quantizes: residuals concentrate near the origin across
    * ALL cells, so one shared table spends its codes on the
    * within-cell structure instead of re-describing the coarse
    * centroid every cell already pins down. Bounded driver collect
    * (ks rows).
    */
  def residualPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      cents: IvfCodebook, m: Int, ks: Int): PqCodebooks = {
    val rows = df.orderBy(col(idCol)).limit(ks)
      .select(transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "cannot build PQ codebooks from an empty corpus")
    val dim = rows(0).length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val centOf = cents.map(c => c._1 -> c._2).toMap
    val residuals = rows.map { v =>
      val cent = centOf(assignCell(cents, v))
      Array.tabulate(dim)(i => v(i) - cent(i))
    }
    Array.tabulate(m)(mi => residuals.map(_.slice(mi * dsub, (mi + 1) * dsub)))
  }

  /** TRAINED residual PQ codebooks: [[trainPqCodebooks]]' distributed
    * per-subspace k-means run in RESIDUAL space — the residual
    * `v - centroid(cell(v))` is materialized once per row (one narrow
    * codegen'd projection of the inlined coarse codebook, the
    * [[ivfPqDistortion]] discipline) and the trainer iterates over
    * that frame exactly as over raw vectors. This is what FAISS's
    * IndexIVFPQ `train` actually fits; [[residualPqCodebooks]] is the
    * deterministic oracle-reproducible stand-in.
    */
  def trainResidualPqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      cents: IvfCodebook, m: Int, ks: Int,
      maxIters: Int = 10, tol: Double = 1e-9): PqCodebooks = {
    val res = df
      .select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("__v"),
        ivfCell(cents, col(vecCol)).as("__cell"))
      .withColumn("__res",
        zip_with(col("__v"), cellCentroid(cents, col("__cell")), (a, b) => a - b))
      .select(col(idCol), col("__res"))
    trainPqCodebooks(res, idCol, "__res", m, ks, maxIters, tol)
  }

  /** RESIDUAL-encoded IVF-PQ top-k — the full FAISS IndexIVFPQ
    * algorithm ([[ivfPqTopK]] quantizes raw vectors; real IVFPQ
    * quantizes `v - centroid(cell(v))`): the coarse probe prunes as
    * before, and inside each probed cell both encoding and ADC run in
    * COMBINED coordinates — per cell c, codebook entry (m)(j) becomes
    * `centroid_c[m-slice] + rcb[m][j]`, so `||residual - rcb_j||`
    * computes as `||v - combined_j||` directly on the raw vector (the
    * driver pre-adds the KB-sized tables once; the per-row arithmetic
    * is the same [[pqCode]]/ADC chain, restated exactly by the
    * oracle). Residuals concentrate near the origin, so the shared
    * `ks` codes describe within-cell structure — measurably lower
    * quantization error than raw-vector PQ on clustered data
    * (OpsSpec asserts it).
    *
    * Scale shape: unchanged from [[ivfPqTopK]] — narrow codegen'd
    * projections, zero exchanges, into TakeOrderedAndProject. The
    * per-cell combined tables (nprobe x m x ks subvectors — the one
    * constant volume that multiplies by nprobe) travel as ONE codegen
    * reference object per expression ([[graft.functions.AnnHelper]]),
    * so the generated method is a single call per row at any
    * nprobe/m/ks — no 64 KB-method cliff, no interpreted fallback.
    */
  def ivfPqResidualTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, nlist: Int = 16, nprobe: Int = 4,
      m: Int = 8, ks: Int = 16,
      ivfCb: Option[IvfCodebook] = None,
      residualCb: Option[PqCodebooks] = None): DataFrame = {
    require(nprobe >= 1,
      "nprobe must be >= 1 (the probe needs at least one cell)")
    val cents = ivfCb.getOrElse(ivfCodebook(df, idCol, vecCol, nlist))
    val probed = ivfProbed(cents, query, nprobe)
    val rcb = residualCb.getOrElse(
      residualPqCodebooks(df, idCol, vecCol, cents, m, ks))
    val centOf = cents.map(c => c._1 -> c._2).toMap
    val dsub = rcb(0)(0).length
    // per-probed-cell COMBINED tables (centroid + residual entry) ride
    // along as ONE codegen reference object — the generated method is a
    // single helper call per row at any nprobe/m/ks, never the unrolled
    // nprobe x m x ks expression chain that overflowed Janino's 64 KB
    // method limit and silently demoted the probe stage to interpreted
    def combined(cell: Long): PqCodebooks = {
      val cent = centOf(cell)
      Array.tabulate(rcb.length)(mi => rcb(mi).map { c =>
        Array.tabulate(dsub)(i => cent(mi * dsub + i) + c(i))
      })
    }
    val cellIds = probed.toArray
    val cbs = cellIds.map(combined)
    // reuse the already-built combined tables: rebuilding them inside
    // the LUT derivation doubles the driver-side nprobe x m x ks x dsub
    // construction at production parameters
    val luts = cbs.map(cb => pqAdcTable(cb, query))
    df.withColumn("__cell", ivfCell(cents, col(vecCol)))
      .where(col("__cell").isin(probed: _*))
      .withColumn("__code",
        GraftFunctions.pq_encode_by_cell(col("__cell"), col(vecCol), cellIds, cbs))
      .select(col(idCol),
        round(GraftFunctions.pq_adc_by_cell(col("__cell"), col("__code"), cellIds, luts),
          6).as("adc"))
      .orderBy(col("adc"), col(idCol))
      .limit(k)
  }

  /** The centroid VECTOR of a cell-id column: a CASE chain over the
    * inlined codebook (nlist x dim literals — KB-sized, the
    * [[ivfCell]] inlining budget, NOT nlist x m x ks combined tables,
    * which is what keeps residual encoding writable at production
    * nlist).
    */
  private def cellCentroid(ivfCb: IvfCodebook, cell: Column): Column =
    ivfCb.tail.foldLeft(
      when(cell === ivfCb.head._1, vecLit(ivfCb.head._2))) {
      (acc, c) => acc.when(cell === c._1, vecLit(c._2))
    }

  /** The (id, cell, code) projection shared by the IVF-PQ layout
    * writers and appends: one narrow codegen'd pass of two inlined
    * codebooks — no shuffle, no join, nothing driver-side.
    *
    * Residual codes (`residual = true`, `cb` the residual tables): the
    * residual `v - centroid(cell(v))` is materialized as its own
    * projection (an expensive multi-reference alias, so Catalyst keeps
    * it a separate Project — evaluated once per row, not once per
    * centroid-distance term), and the SHARED residual codebook
    * quantizes it through the same [[pqCode]] argmin chain raw
    * encoding uses. Arithmetic is residual-coordinate
    * (`(v[i] - cent[i]) - r[i]`), restated exactly by the q148
    * oracle; [[ivfPqResidualTopK]]'s combined-coordinate form is the
    * same real number with a different (equally oracle-pinned) IEEE
    * association.
    */
  private[ops] def coded(df: DataFrame, idCol: String, vecCol: String,
      ivfCb: IvfCodebook, cb: PqCodebooks, residual: Boolean,
      keep: Seq[String]): DataFrame = {
    val ids = col(idCol) +: keep.map(col)
    val cell = ivfCell(ivfCb, col(vecCol)).as(AnnIndex.Cell)
    if (!residual)
      df.select(ids ++ Seq(cell, pqCode(cb, col(vecCol)).as(AnnIndex.Code)): _*)
    else
      df.select(ids ++ Seq(
          transform(col(vecCol), x => x.cast("double")).as("__v"), cell): _*)
        .withColumn("__res", zip_with(col("__v"),
          cellCentroid(ivfCb, col(AnnIndex.Cell)), (a, b) => a - b))
        .select(ids ++ Seq(col(AnnIndex.Cell),
          pqCode(cb, col("__res")).as(AnnIndex.Code)): _*)
  }

  /** Write a coded frame as an IVF-PQ layout: `partitionBy(cell)`. */
  private[ops] def writeCoded(df: DataFrame, mode: String, out: String): Unit =
    df.write.mode(mode).partitionBy(AnnIndex.Cell).parquet(out)

  /** Write the IVF-PQ AT-REST layout: (id, cell, code) rows
    * `partitionBy(cell)` — PQ codes only, never fp32 vectors, so a
    * probe reads ~4 bytes/vector from ~nprobe/nlist of the files
    * ([[writeIvfPartitioned]]'s pruning with [[pqAdcTopKCoded]]'s
    * scan). Overwrite clears the whole layout (any prior appends
    * included) — the full-rebuild face; daily ingest uses
    * [[AnnIndex.append]].
    *
    * `keep` carries extra METADATA columns (language, source, license
    * tier, ...) into the layout, making filtered search possible at
    * rest: [[AnnIndex.probe]]'s `filter` predicate over a kept
    * column is pushed into the parquet scan, so "top-k among docs
    * with lang = en" reads codes from probed cells with the predicate
    * evaluated at scan speed — never a post-rank re-query.
    */
  def writeIvfPqPartitioned(df: DataFrame, idCol: String, vecCol: String,
      ivfCb: IvfCodebook, pqCb: PqCodebooks, out: String,
      keep: Seq[String] = Nil): Unit = {
    writeCoded(coded(df, idCol, vecCol, ivfCb, pqCb, residual = false, keep),
      "overwrite", out)
    writeIvfPqCodebooks(df.sparkSession, out, ivfCb, pqCb)
  }

  /** Persist the codebooks INSIDE the layout (an `_codebooks` parquet
    * sidecar — underscore-prefixed, so plain reads of the layout skip
    * it, the `_SUCCESS` convention). A layout that carries its own
    * codebooks is SELF-CONTAINED: a fresh session probes it from the
    * files alone ([[AnnIndex.open]]) — no retraining, no
    * out-of-band codebook hand-off — and every append encodes with the
    * stored codebooks instead of trusting a caller's. KB-sized: nlist x dim + m x ks x dsub doubles.
    *
    * `pqKind` tags the quantizer the codes were produced by — `"pq"`
    * (raw-vector PQ, [[writeIvfPqPartitioned]]) or `"rpq"`
    * (residual PQ, [[writeIvfPqResidualPartitioned]]) — so a reader
    * can never ADC-rank codes through the wrong table class.
    */
  def writeIvfPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      layout: String, ivfCb: IvfCodebook, pqCb: PqCodebooks,
      pqKind: String = "pq"): Unit = {
    import org.apache.spark.sql.Row
    val ivfRows = ivfCb.zipWithIndex.map { case ((id, v, n), i) =>
      Row("ivf", i, id, v.toSeq, n)
    }.toSeq
    val pqRows = pqCb.zipWithIndex.flatMap { case (tbl, m) =>
      tbl.zipWithIndex.map { case (c, j) => Row(pqKind, m, j.toLong, c.toSeq, 0.0) }
    }.toSeq
    // driver-side sidecar write (nlist + m*ks KB-sized rows the driver
    // already holds): no Spark job, no committer — see Layouts.writeSidecar
    Layouts.writeSidecar(spark, layout + "/_codebooks", CodebooksSchema,
      ivfRows ++ pqRows)
  }

  /** Schema of the `_codebooks` sidecar (matches the previous
    * `Seq((String, Int, Long, Seq[Double], Double)).toDF` output).
    */
  private val CodebooksSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("i", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(DoubleType, containsNull = false),
        nullable = true),
      StructField("norm", DoubleType, nullable = false)))
  }

  /** True iff `layout` carries a `_codebooks` sidecar — an explicit
    * filesystem check, so a present-but-corrupt sidecar can never
    * masquerade as absence and skip validation (r14 ADVICE).
    */
  def hasIvfPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      layout: String): Boolean =
    Layouts.exists(spark, layout + "/_codebooks")

  /** Kind-aware retrain + new-generation write shared by every
    * rebuild path: geometry (nlist, m, ks) comes from the superseded
    * generation, codebooks from the deterministic smallest-id rule
    * (`trained = false`, oracle-reproducible) or the distributed
    * k-means trainers (`trained = true` —
    * [[trainIvfCodebook]]/[[trainPqCodebooks]]/
    * [[trainResidualPqCodebooks]], strictly lower distortion on
    * drifted corpora, spec-pinned).
    */
  private[ops] def retrainGeneration(residual: Boolean,
      nlist: Int, m: Int, ks: Int, all: DataFrame,
      idCol: String, vecCol: String, out: String,
      trained: Boolean): Unit = {
    val newIvf =
      if (trained) trainIvfCodebook(all, idCol, vecCol, nlist)
      else ivfCodebook(all, idCol, vecCol, nlist)
    if (residual) {
      val newRcb =
        if (trained) trainResidualPqCodebooks(all, idCol, vecCol, newIvf, m, ks)
        else residualPqCodebooks(all, idCol, vecCol, newIvf, m, ks)
      writeIvfPqResidualPartitioned(all, idCol, vecCol, newIvf, newRcb, out)
    } else {
      val newPq =
        if (trained) trainPqCodebooks(all, idCol, vecCol, m, ks)
        else pqCodebooks(all, idCol, vecCol, m, ks)
      writeIvfPqPartitioned(all, idCol, vecCol, newIvf, newPq, out)
    }
  }

  /** The drift series a [[graft.streaming.StreamingSimilarity]] ingest
    * loop writes (`driftOut` — one row per micro-batch: the batch's
    * mean ADC reconstruction error under the layout's STORED
    * codebooks), read back as (ingest_batch, pq_err) ordered by batch.
    * One row per batch, never data-proportional.
    *
    * FORMAT-UPGRADE SAFE (spec-verified): batches written before
    * round 18's fix embedded `ingest_batch` as a DATA column as well;
    * Spark's partition discovery lets the directory-derived partition
    * column shadow the embedded copy — which held the identical value
    * by construction — so a driftOut mixing old and new batch
    * directories reads correctly with no migration. A series that
    * fails ANALYSIS (empty/unschematizable directory) fails here with
    * a curated message; execution-time corruption (a torn part file)
    * surfaces when the returned frame is consumed —
    * [[AnnIndex.maintainFromDriftSeries]] wraps its collect with the curated
    * recovery hint (delete the torn batch directory; its replay
    * rewrites it).
    */
  def readDriftSeries(spark: org.apache.spark.sql.SparkSession,
      driftOut: String): DataFrame = {
    require(Layouts.exists(spark, driftOut),
      s"no drift series at $driftOut — point the ingest stream's " +
        "driftOut here first (StreamingSimilarity.incrementalAnnStream)")
    // a series whose every report was pruned ([[pruneDriftSeries]]
    // right after a rebuild, before any post-fence batch lands) holds
    // only underscore entries (the _rebuilt fence): that is a VALID
    // empty series — the steady state between generations — not the
    // unreadable-directory corruption the catch below curates. One
    // namenode listing; parquet read skipped entirely when empty.
    if (Layouts.ownedBatchIds(spark, driftOut).isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ingest_batch",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("pq_err",
            org.apache.spark.sql.types.DoubleType))))
    val raw =
      try FooterSchema.read(spark, driftOut)
        .select(col("ingest_batch").cast("long").as("ingest_batch"),
          col("pq_err"))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"the drift series at $driftOut is unreadable — expected " +
              "per-batch ingest_batch=<id> directories each holding a " +
              "one-row (pq_err) parquet file, as written by " +
              "StreamingSimilarity.incrementalAnnStream's driftOut", e)
      }
    raw.orderBy(col("ingest_batch"))
  }

  /** The drift series' fence record: (max consumed ingest_batch, the
    * generation the rebuild produced — None for fences written before
    * the pointered lifecycle existed).
    */
  private[ops] def readFence(spark: org.apache.spark.sql.SparkSession,
      driftOut: String): Option[(Long, Option[String])] = {
    val fencePath = s"$driftOut/$RebuiltFence"
    if (!Layouts.exists(spark, fencePath)) None
    else {
      // cached per fence generation (the sidecar-cache discipline): a
      // recurring monitor tick reads the fence 2-3 times — recovery
      // check, empty-series check, threshold filter — and without the
      // cache each is a driver-side parquet read of the same KB file
      val r = Layouts.collectSidecarCached(spark, fencePath,
        "maintainFromDriftSeries (the fence is written by its rebuild " +
          "path)")(0)
      val gen =
        if (r.schema.fieldNames.contains("generation"))
          Option(r.getAs[String]("generation"))
        else None
      Some((r.getAs[Long]("through_batch"), gen))
    }
  }

  /** The drift series' rebuild fence (`driftOut/_rebuilt`): one row —
    * the max ingest_batch an [[AnnIndex.maintainFromDriftSeries]] rebuild
    * consumed. Underscore-prefixed, so [[readDriftSeries]]' root read
    * (the dashboard face, full history) never sees it; the monitor
    * thresholds only batches past it.
    */
  val RebuiltFence = "_rebuilt"

  /** Schema of the drift series' `_rebuilt` fence sidecar. */
  private[ops] val RebuiltFenceSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("through_batch", LongType, nullable = false),
      StructField("generation", StringType, nullable = true)))
  }

  /** Drop the drift reports a rebuild already CONSUMED — the series'
    * own small-files pay-down (the [[AnnIndex.compact]] play for
    * the monitoring data): a year of per-batch report directories is
    * a listing tax on every monitor tick and dashboard read, and
    * everything at or before the fence can never influence a decision
    * again. Deletes every `ingest_batch=<id>` directory with
    * `id <= fence`; refuses curated when no fence exists (an unfenced
    * series has consumed nothing — pruning it would erase live
    * evidence). The fence itself stays: replays of pruned batches
    * (crash-recovery of a long-stopped stream) rewrite their report
    * directories, and the fence keeps them out of future decisions.
    * Returns the number of directories pruned.
    */
  def pruneDriftSeries(spark: org.apache.spark.sql.SparkSession,
      driftOut: String): Long = {
    val through = readFence(spark, driftOut).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"pruneDriftSeries: no $RebuiltFence fence under $driftOut — the " +
          "series has not been consumed by a rebuild; pruning would erase " +
          "live evidence (run AnnIndex.maintainFromDriftSeries first)"))
    val pruned = Layouts.ownedBatchIds(spark, driftOut).filter(_ <= through)
    pruned.foreach(id => Layouts.delete(spark, Layouts.ownedBatchDir(driftOut, id)))
    pruned.length.toLong
  }

  /** Write the RESIDUAL-encoded IVF-PQ at-rest layout — the
    * [[ivfPqResidualTopK]] encoder persisted (the strictly better
    * quantizer: residuals concentrate near the origin, so the shared
    * `ks` codes describe within-cell structure; recall-dominance over
    * raw-vector PQ is spec-proven in OpsSpec). Same file shape as
    * [[writeIvfPqPartitioned]] — (id, cell, code) `partitionBy(cell)`,
    * codes only, ~4 B/vector — with the `_codebooks` sidecar tagging
    * its PQ tables `kind='rpq'` so a probe can never rank residual
    * codes through raw tables or vice versa.
    *
    * Scale: the encode is one narrow codegen'd pass — cell assignment
    * (inlined nlist x dim centroids), a once-per-row residual
    * projection, and the SHARED m x ks residual argmin. The inlined
    * constant volume is nlist x dim + m x ks x dsub doubles (KB) —
    * NOT the per-cell combined tables (nlist x m x ks x dsub), which
    * is what keeps residual encoding writable at production nlist.
    */
  def writeIvfPqResidualPartitioned(df: DataFrame, idCol: String,
      vecCol: String, ivfCb: IvfCodebook, rcb: PqCodebooks, out: String,
      keep: Seq[String] = Nil): Unit = {
    writeCoded(coded(df, idCol, vecCol, ivfCb, rcb, residual = true, keep),
      "overwrite", out)
    writeIvfPqCodebooks(df.sparkSession, out, ivfCb, rcb, pqKind = "rpq")
  }

  /** Per-row PQ quantization error: the squared L2 distance between
    * the vector and its nearest codebook entry, summed across the m
    * subspaces in order — the ADC reconstruction error of the code
    * [[pqCode]] would assign (the argmin distance IS the error, so no
    * code round-trip is needed). A narrow fully-codegen projection of
    * the inlined tables, like the encode itself.
    */
  private def pqDistortionCol(vec: Column, cb: PqCodebooks): Column =
    GraftFunctions.pq_min_dist(vec, cb)

  /** Mean ADC reconstruction error of a corpus under a quantizer —
    * THE number behind [[AnnIndex.maintain]]'s append-or-rebuild
    * decision: quantization error drifts upward as the ingested
    * distribution leaves the trained one, and this metric is how the
    * re-train threshold is set (FAISS's `IndexIVFPQ` exposes the same diagnostic as
    * imbalance/quantization-error stats).
    *
    * `residual = false` scores raw-vector PQ codes ([[pqCode]] under
    * `cb`); `residual = true` scores residual codes (`v -
    * centroid(cell(v))` under the residual tables — the
    * [[writeIvfPqResidualPartitioned]] encoder). Cost: ONE narrow
    * codegen'd pass + a map-side partial average — only (sum, count)
    * partials leave an executor, never rows (the [[trainIvfCodebook]]
    * aggregation discipline in its DataFrame form).
    */
  def ivfPqDistortion(df: DataFrame, vecCol: String,
      ivfCb: IvfCodebook, cb: PqCodebooks, residual: Boolean): Double = {
    val err =
      if (!residual) pqDistortionCol(col(vecCol), cb)
      else {
        // the residual projection is materialized once per row (the
        // residual-coding discipline of the layout writers), then scored
        pqDistortionCol(col("__res"), cb)
      }
    val projected =
      if (!residual) df.select(err.as("__e"))
      else df
        .select(transform(col(vecCol), x => x.cast("double")).as("__v"),
          ivfCell(ivfCb, col(vecCol)).as("__cell"))
        .withColumn("__res",
          zip_with(col("__v"), cellCentroid(ivfCb, col("__cell")), (a, b) => a - b))
        .select(err.as("__e"))
    projected.agg(avg("__e")).head().getDouble(0)
  }

  /** The DRIFT REPORT — [[ivfPqDistortion]] for BOTH quantizer kinds,
    * split by a cohort column (trained corpus vs appended batch): one
    * row per cohort with the mean raw-PQ and residual-PQ
    * reconstruction errors. An appended cohort whose errors sit well
    * above the corpus cohort's is the rebuild signal; `rpq_err <
    * pq_err` on clustered data is the residual quantizer earning its
    * keep (both inequalities spec-asserted).
    *
    * One narrow codegen'd pass over the union of both kinds' error
    * projections + a tiny hash aggregate (cohort cardinality rows):
    * no join, no window, nothing driver-side.
    */
  def quantizationDrift(df: DataFrame, vecCol: String, cohortCol: String,
      ivfCb: IvfCodebook, pqCb: PqCodebooks, rcb: PqCodebooks): DataFrame =
    df.select(col(cohortCol).as("cohort"),
        transform(col(vecCol), x => x.cast("double")).as("__v"),
        ivfCell(ivfCb, col(vecCol)).as("__cell"))
      .withColumn("__res",
        zip_with(col("__v"), cellCentroid(ivfCb, col("__cell")), (a, b) => a - b))
      .select(col("cohort"),
        pqDistortionCol(col("__v"), pqCb).as("__epq"),
        pqDistortionCol(col("__res"), rcb).as("__erpq"))
      .groupBy("cohort")
      .agg(round(avg("__epq"), 6).as("pq_err"),
        round(avg("__erpq"), 6).as("rpq_err"))

  /** recall@k of an approximate per-query result against the exact
    * one — THE quality number of an ANN configuration (the standard
    * FAISS benchmark axis, and the missing half of the drift story:
    * [[ivfPqDistortion]] says the codes stopped describing the data,
    * recall@k says what that costs a query): per query,
    * `|exact ∩ approx| / k`. Both inputs are (queryCol, idCol) frames
    * holding each query's top-k — the exact side from [[cosineTopK]]
    * (tagged with its query id) or any ground-truth list, the
    * approximate side from any probe face. Output: one row per
    * distinct exact-side query, (queryCol, recall), recall in [0, 1]
    * rounded to 6 — a query with NO approximate hits scores 0, never
    * drops out.
    *
    * Scale: both sides are k rows per query by construction, so the
    * join input is Q·k rows a side — AQE broadcasts it; nothing here
    * is ever corpus-sized.
    */
  def annRecallAtK(exact: DataFrame, approx: DataFrame,
      queryCol: String, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val hits = exact.select(col(queryCol), col(idCol))
      .join(approx.select(col(queryCol), col(idCol)), Seq(queryCol, idCol))
      .groupBy(queryCol).agg(count(lit(1)).as("__hits"))
    exact.select(col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left")
      .select(col(queryCol),
        round(coalesce(col("__hits"), lit(0L)).cast("double") / k, 6)
          .as("recall"))
  }

  /** One m x ks residual ADC table PER PROBED CELL — the query's
    * residual against each probed centroid (the same double arithmetic
    * order the oracle restates: `q[i] - cvec[i]`), held as codegen
    * reference objects (one helper call per row at any nprobe/ks; see
    * [[graft.functions.AnnHelper]] for why not a CASE chain).
    */
  private[ops] def residualCellLuts(ivfCb: IvfCodebook, rcb: PqCodebooks,
      query: Array[Double], nprobe: Int):
      (Seq[Long], Array[Long], Array[Array[Array[Double]]]) = {
    val probed = ivfProbed(ivfCb, query, nprobe)
    val centOf = ivfCb.map(c => c._1 -> c._2).toMap
    val cellIds = probed.toArray
    val luts = cellIds.map { c =>
      val cent = centOf(c)
      val qres = Array.tabulate(query.length)(i => query(i) - cent(i))
      pqAdcTable(rcb, qres)
    }
    (probed, cellIds, luts)
  }

  /** Resolve a layout argument through its generation pointer: a
    * STORE ROOT carrying [[Layouts.GenerationPointer]] resolves to the
    * pointed generation directory; a plain layout path resolves to
    * itself. One existence probe. Every store and index reader
    * resolves through this, so after a fold or rebuild swaps
    * `_current`, probes, monitors and the next micro-batch answer from
    * the new generation with no coordination beyond one atomic rename.
    */
  def resolveLayout(spark: org.apache.spark.sql.SparkSession,
      path: String): String =
    if (Layouts.hasGenerationPointer(spark, path))
      Layouts.currentGeneration(spark, path)
    else path

  /** Per-row (double vector, L2 norm) projection — computed ONCE per
    * row before a pairwise join. Folding the norm into the per-pair
    * cosine would re-evaluate it per candidate (higher-order array
    * functions are interpreted, not codegen'd — the recomputation
    * dominates pairwise stages).
    */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String,
      id: String, v: String, nrm: String): DataFrame =
    df.select(
      col(idCol).as(id),
      transform(col(vecCol), x => x.cast("double")).as(v),
      sqrt(GraftFunctions.vec_dot(col(vecCol), col(vecCol))).as(nrm))

  private def pairCos(va: String, vb: String, na: String, nb: String): Column =
    round(GraftFunctions.vec_dot(col(va), col(vb)) / (col(na) * col(nb)), 6)

  /** All pairs of vectors with cosine >= `threshold` that collide in
    * at least one LSH band (embedding near-dup detection, the scale
    * path). Multi-table banding: `tables` independent sign-LSH codes of
    * `bitsPerTable` bits each — a pair is a candidate if ANY table's
    * code matches (recall for a pair at angle θ is
    * 1-(1-(1-θ/π)^r)^L, e.g. ~93% at cos 0.9 with r=8, L=8, vs ~0.1%
    * for one 16-bit table). Exact cosine verifies every candidate, so
    * the output is exactly {bucketed candidates} ∩ {cos >= t} —
    * deterministic and ANSI-SQL-reproducible (the oracle recomputes the
    * same codes from the inlined ±1 planes).
    *
    * Scale: the banding explode shuffles (id, band, code) keys only —
    * `tables` rows/vector; vectors+norms join in per candidate id.
    * Candidate volume at 8×8-bit: measured 3.6% of all pairs on the
    * random test corpus; on real corpora near-dup clusters dominate.
    *
    * @return (id_a, id_b, cos) with id_a < id_b
    */
  /** The multi-table-banded CANDIDATE pairs of
    * [[embeddingNearDupPairs]] BEFORE the exact-cosine verify —
    * exposed for scale instrumentation like [[Dedup.nearDupCandidates]].
    */
  def embeddingNearDupCandidates(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, tables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    val planes = hyperplanes(dim, tables * bitsPerTable)
    def codeOf(vec: Column, t: Int): Column =
      (0 until bitsPerTable).map { b =>
        when(GraftFunctions.vec_dot(vec, vecLit(planes(t * bitsPerTable + b))) >= 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    // fan out before the code projection: tables x bits dot products
    // per row is the CPU here (identity at scale — Layouts.fanOutByKey)
    val banded = Layouts.fanOutByKey(
        df.select(col(idCol).as("__id"), col(vecCol).as("__nd_vec")), "__id")
      .select(
        col("__id"),
        posexplode(array((0 until tables).map(t => codeOf(col("__nd_vec"), t)): _*)))
      .withColumnRenamed("pos", "__band")
      .withColumnRenamed("col", "__code")
    banded.select(col("__id").as("id_a"), col("__band"), col("__code"))
      .join(banded.select(col("__id").as("id_b"), col("__band"), col("__code")),
        Seq("__band", "__code"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, dim: Int, tables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    val cand = embeddingNearDupCandidates(df, idCol, vecCol, dim, tables, bitsPerTable)
    val sides = withNorm(df, idCol, vecCol, "__sid", "__v", "__n")
    cand
      .join(sides.select(col("__sid").as("id_a"), col("__v").as("__va"), col("__n").as("__na")), Seq("id_a"))
      .join(sides.select(col("__sid").as("id_b"), col("__v").as("__vb"), col("__n").as("__nb")), Seq("id_b"))
      .withColumn("cos", pairCos("__va", "__vb", "__na", "__nb"))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embedding space
    * with a k-means codebook, compare pairs only WITHIN a cluster
    * (exact cosine), and keep one representative per connected group
    * of semantic duplicates. The survivor election is the
    * deterministic min-id representative over the within-cell
    * duplicate graph's connected components ([[Dedup.components]], the
    * same election as `nearDupWinnersVerified`) — the paper's
    * keep-lowest-centroid-similarity choice is a heuristic the caller
    * can swap in by re-ranking survivors; min-id keeps the survivor
    * set a pure function of the duplicate graph, reproducible by any
    * engine.
    *
    * Scale shape: the clustering bounds candidate generation exactly
    * like LSH banding — the only exchange before the verify carries
    * (cell, id, vector) and is keyed on the CELL, and pair enumeration
    * is quadratic only in the cell population, which the codebook size
    * controls (the paper runs k=50k clusters on LAION; size nlist
    * ∝ corpus so cells stay ~constant). Cells are also exactly the
    * [[writeIvfPartitioned]] layout, so at rest the pair join reads
    * co-partitioned files with no shuffle at all. A degenerate giant
    * cell (mass near one centroid) degrades gracefully: compose with
    * [[embeddingNearDupPairs]] INSIDE the cell — same verify, banded
    * candidates.
    *
    * Returns the surviving rows of `df` with the cell assignment
    * appended as `cell`.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      codebook: IvfCodebook, threshold: Double): DataFrame = {
    // fan out before the nlist-dot-products-per-row cell assignment
    // (identity at scale — Layouts.fanOutByKey); the survivors keep
    // the fanned frame's rows, which downstream consumers re-order
    val celled = Layouts.fanOutByKey(df, idCol)
      .withColumn(AnnIndex.Cell, ivfCell(codebook, col(vecCol)))
    val sides = celled.select(
      col(idCol).as("__sid"), col(AnnIndex.Cell).as("__scell"),
      transform(col(vecCol), x => x.cast("double")).as("__v"),
      sqrt(GraftFunctions.vec_dot(col(vecCol), col(vecCol))).as("__n"))
    val pairs = sides
      .select(col("__sid").as("id_a"), col("__scell").as("__cell"),
        col("__v").as("__va"), col("__n").as("__na"))
      .join(sides.select(col("__sid").as("id_b"), col("__scell").as("__cell"),
        col("__v").as("__vb"), col("__n").as("__nb")), Seq("__cell"))
      .where(col("id_a") < col("id_b"))
      .where(pairCos("__va", "__vb", "__na", "__nb") >= threshold)
      .select("id_a", "id_b")
    val losers = Dedup.components(pairs)
      .where(col("cluster") < col("id"))
      .select(col("id").as("__loser"))
    celled.join(losers, celled(idCol) === col("__loser"), "left_anti")
  }

  /** Exact all-pairs variant (for small corpora / oracle checks): a
    * broadcast self-join. O(n²) — NOT the scale path; see
    * [[embeddingNearDupPairs]].
    *
    * Guarded: the corpus must have at most `exactMax` rows. The guard
    * is one bounded CollectLimit job (the [[Dedup.components]] probe
    * pattern — `limit(max+1)` never scans past max+1 rows), so a user
    * cannot silently launch an O(n²) broadcast join over a 100 TB
    * corpus; the refusal message points at the banded scale path.
    */
  def embeddingNearDupPairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exactMax: Long = 100000L): DataFrame = {
    require(exactMax > 0 && exactMax < Int.MaxValue, "exactMax must fit an Int limit")
    val probed = df.select(col(idCol)).limit(exactMax.toInt + 1).count()
    require(probed <= exactMax,
      s"embeddingNearDupPairsExact is O(n^2) and gated at exactMax=$exactMax rows " +
        s"(corpus has at least $probed rows); use embeddingNearDupPairs (banded LSH + exact " +
        "verify) for large corpora, or raise exactMax deliberately")
    // spread the O(n²) probe work across the cluster: the corpus
    // typically arrives as one scan partition (a single small file),
    // and a broadcast NL join does ALL pair work inside the stream
    // side's tasks — one partition = one core doing n²/2 dot products.
    // An explicit hash repartition (explicit n, so AQE cannot coalesce
    // the tiny byte size back to one task — it sees bytes, not the n×
    // pair blow-up behind each row) makes the pair stage as wide as
    // the cluster. The cosine predicate moves INTO the join condition:
    // a BNL join evaluates its condition per pair and only MATERIALIZES
    // survivors, so the ~(1-selectivity) non-pairs never allocate an
    // output row carrying two vectors (measured 2.6 s -> 0.3 s at
    // sf0.1; identical result — conjunction of the same predicates).
    val par = math.max(df.sparkSession.sparkContext.defaultParallelism, 1)
    val a = withNorm(df, idCol, vecCol, "id_a", "__va", "__na")
      .repartition(par, col("id_a"))
    val b = withNorm(df, idCol, vecCol, "id_b", "__vb", "__nb")
    a.join(broadcast(b),
        col("id_a") < col("id_b") &&
          pairCos("__va", "__vb", "__na", "__nb") >= threshold)
      .withColumn("cos", pairCos("__va", "__vb", "__na", "__nb"))
      .select("id_a", "id_b", "cos")
  }
}
