package graft

import graft.ops.{Packing, Quality, Sampling}
import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property fuzz of the round-6 pipeline operators against direct
  * Scala reference computations — same discipline as
  * [[QualityPropertySpec]]: random inputs with adversarial shapes
  * (empty texts, tiny alphabets forcing line collisions, fractional
  * epoch edges), fixed seed for determinism.
  */
class OpsPropertySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("OpsPropertySpec")
    .getOrCreate()

  private def check(prop: Prop, n: Int = 30): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  // ---- stripBoilerplate ------------------------------------------------

  // tiny line alphabet => real cross-document collisions
  private val lineGen: Gen[String] =
    Gen.oneOf("alpha", "beta", "gamma", "delta", "", " ", "x y", "zz")
  private val docGen: Gen[String] =
    Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))

  private def naiveStrip(docs: Seq[(Long, String)], minDocs: Int): Map[Long, String] = {
    val df = docs
      .flatMap { case (id, t) => t.split("\n", -1).filter(_.trim.nonEmpty).distinct.map(id -> _) }
      .groupBy(_._2).map { case (l, occ) => l -> occ.size }
    val boiler = df.collect { case (l, c) if c >= minDocs => l }.toSet
    docs.map { case (id, t) =>
      id -> t.split("\n", -1).filterNot(boiler).mkString("\n")
    }.toMap
  }

  // ---- FreqItems (Misra–Gries) ----------------------------------------

  // zipf-ish item weights so heavy hitters genuinely exist
  private val mgStreamGen: Gen[List[String]] =
    Gen.chooseNum(0, 400).flatMap(n => Gen.listOfN(n, Gen.frequency(
      (50, Gen.const("a")), (17, Gen.const("b")), (8, Gen.const("c")),
      (5, Gen.const("d")), (4, Gen.const("e")), (4, Gen.const("f")),
      (3, Gen.const("g")), (3, Gen.const("h")), (3, Gen.const("i")),
      (3, Gen.const("j")))))

  test("FreqItems: MG guarantees hold for any chunking and merge order") {
    val k = 4
    val agg = graft.ops.FreqItems(k)
    val prop = Prop.forAll(mgStreamGen, Gen.chooseNum(1, 8), Gen.long) {
      (stream, nChunks, seed) =>
        val rnd = new scala.util.Random(seed)
        val chunks = stream.groupBy(_ => rnd.nextInt(nChunks)).values.toList
        val partials = chunks.map(_.foldLeft(agg.zero)(agg.reduce))
        val sk = rnd.shuffle(partials).foldLeft(agg.zero)(agg.merge)
        val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val n = stream.size.toLong
        val bound = n / (k + 1)
        sk.size <= k &&
          exact.forall { case (t, c) =>
            val est = sk.getOrElse(t, 0L)
            est <= c && c - est <= bound
          } &&
          exact.collect { case (t, c) if c * k > n => t }.forall(sk.contains)
    }
    check(prop, 60)
  }

  test("stripBoilerplate equals the direct computation on colliding corpora") {
    check(Prop.forAll(Gen.listOfN(10, docGen)) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Quality.stripBoilerplate(docs.toDF("id", "text"), "id", "text", minDocs = 3)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == naiveStrip(docs, minDocs = 3)
    })
  }

  // ---- upsample --------------------------------------------------------

  test("upsample counts equal the floor+remainder formula for any epochs") {
    val epochGen = Gen.chooseNum(0, 37).map(_ / 10.0) // 0.0 .. 3.7 in 0.1 steps
    check(Prop.forAll(epochGen, epochGen) { (eA, eB) =>
      import spark.implicits._
      val docs = (0L until 120L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "s")
      val out = Sampling.upsample(docs, "s", "id", Map("a" -> eA, "b" -> eB), denom = 100)
        .groupBy("id").count().as[(Long, Long)].collect().toMap
      (0L until 120L).forall { i =>
        val e = if (i % 2 == 0) eA else eB
        val want = math.floor(e).toLong +
          (if (i % 100 < math.round((e - math.floor(e)) * 100)) 1L else 0L)
        out.getOrElse(i, 0L) == want
      }
    })
  }

  // ---- tokenBudgetMixWeighted -------------------------------------------

  test("tokenBudgetMixWeighted: per-source admitted mass never exceeds its budget") {
    // random token masses and random straddling budgets: every
    // source's admitted total stays within ITS budget, an under-budget
    // source keeps every row, and the admitted set equals the direct
    // md5-ordered prefix computation
    val rowsGen = Gen.listOfN(40,
      Gen.zip(Gen.chooseNum(0, 3).map(s => s"s$s"), Gen.chooseNum(1L, 50L)))
    val budGen = Gen.mapOf(Gen.zip(
      Gen.chooseNum(0, 3).map(s => s"s$s"), Gen.chooseNum(20L, 400L)))
    check(Prop.forAll(rowsGen, budGen, Gen.chooseNum(100L, 300L)) {
      (rows, budgets, dflt) =>
        import spark.implicits._
        val df = rows.zipWithIndex
          .map { case ((s, n), i) => (i.toLong, s, n) }
          .toDF("id", "source", "n_tokens")
        val got = Sampling.tokenBudgetMixWeighted(df, "id", "n_tokens",
            "source", budgets, defaultBudget = dflt, seed = "7")
          .as[(Long, String, Long)].collect()
        // direct reference computation
        val bySrc = rows.zipWithIndex
          .map { case ((s, n), i) => (i.toLong, s, n) }.groupBy(_._2)
        val want = bySrc.flatMap { case (src, ms) =>
          val bud = budgets.getOrElse(src, dflt)
          if (ms.map(_._3).sum <= bud) ms
          else {
            val ordered = ms.sortBy(m =>
              (graft.functions.HashingHelper.md5lo62(s"7:${m._1}"), m._1))
            var cum = 0L
            ordered.takeWhile { m => cum += m._3; cum <= bud }
          }
        }.toSet
        got.toSet == want &&
          got.groupBy(_._2).forall { case (src, ms) =>
            ms.map(_._3).sum <= budgets.getOrElse(src, dflt) }
    }, n = 20)
  }

  // ---- slidingWindows --------------------------------------------------

  test("slidingWindows: every chunk is the exact substring; full coverage") {
    val textGen = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
    val cfgGen = for {
      w <- Gen.chooseNum(1, 12)
      s <- Gen.chooseNum(1, w)
    } yield (w, s)
    check(Prop.forAll(Gen.listOfN(6, textGen), cfgGen) { case (texts, (w, s)) =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val got = Packing.slidingWindows(docs.toDF("id", "text"), "id", "text", w, s)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3).toSeq }
      docs.forall { case (id, t) =>
        val n = if (t.length <= w) 1 else math.ceil((t.length - w).toDouble / s).toInt + 1
        val want = (0 until n).map(i => t.slice(i * s, i * s + w))
        got(id) == want &&
          // coverage: the final window reaches the end of the text
          (t.isEmpty || (n - 1) * s + w >= t.length)
      }
    })
  }

  // ---- PQ codes (driver-side arithmetic, no Spark needed) -------------

  test("PQ: pack/unpack round-trips and ADC sums the right table cells") {
    import graft.ops.Similarity
    val dimGen = Gen.oneOf(8, 16, 32)
    val prop = Prop.forAll(dimGen, Gen.chooseNum(0L, 1L << 40)) { (dim, seed) =>
      val rnd = new scala.util.Random(seed)
      val m = dim / 8 max 1
      val ks = 1 << (1 + rnd.nextInt(4)) // 2, 4, 8, 16
      val cb: Similarity.PqCodebooks = Array.tabulate(m, ks) { (mi, j) =>
        Array.fill(dim / m)(rnd.nextGaussian())
      }
      val query = Array.fill(dim)(rnd.nextGaussian())
      val lut = Similarity.pqAdcTable(cb, query)
      // the table cell (mi)(j) is exactly the subspace L2² by definition
      val cellsOk = (0 until m).forall { mi =>
        (0 until ks).forall { j =>
          val dsub = dim / m
          val want = (0 until dsub).map { i =>
            val t = query(mi * dsub + i) - cb(mi)(j)(i); t * t
          }.sum
          math.abs(lut(mi)(j) - want) < 1e-12
        }
      }
      // driver-side pack/unpack round-trip over random codes
      val bits = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros((ks - 1).toLong))
      val codes = Array.fill(m)(rnd.nextInt(ks))
      val packed = codes.zipWithIndex
        .map { case (c, mi) => c.toLong << (mi * bits) }.reduce(_ | _)
      val unpacked = (0 until m)
        .map(mi => ((packed >> (mi * bits)) & ((1L << bits) - 1)).toInt)
      cellsOk && unpacked == codes.toSeq
    }
    check(prop, n = 50)
  }

  // ---- fused quality expressions (r22) ---------------------------------

  // adversarial text shapes for the one-pass TokenCount /
  // QualityScoreRaw expressions: every class edge the composed
  // regex/split tree distinguishes — \x0B (token char, NOT whitespace),
  // \f (whitespace), leading/trailing spaces vs tabs (trim strips
  // spaces only), non-ASCII letters and supplementary code points
  // (punct, one code point each), stopwords in mixed case, 4-char
  // boundary words, digit tokens, empty and whitespace-only strings
  private val qtextGen: Gen[String] = {
    val piece = Gen.oneOf(
      Gen.oneOf("the", "a", "an", "with", "that", "are", "THE", "This", "aRe"),
      Gen.oneOf("thee", "witha", "ab3", "42", "x", "zzzzz", "be4", "ofof"),
      Gen.oneOf(" ", "  ", "\t", "\n", "\r", "\f", "", " \t "),
      Gen.oneOf("é", "中文", "🎉", "…", ",", "!!", "@#", "a,b", "é"),
      Gen.alphaNumStr.map(_.take(12)))
    for {
      n <- Gen.chooseNum(0, 24)
      ps <- Gen.listOfN(n, piece)
      lead <- Gen.oneOf("", " ", "  ", "\t", "\f")
      trail <- Gen.oneOf("", " ", "\t", "\n", " x")
    } yield lead + ps.mkString + trail
  }

  test("fused TokenCount/QualityScoreRaw equal the composed regex tree bit-for-bit") {
    import graft.functions.TextStats
    import org.apache.spark.sql.functions.col
    // legacy (non-ANSI) division for the COMPOSED reference: on a
    // zero-length text ANSI punctRatio raises DIVIDE_BY_ZERO, while
    // the legacy tree folds the null through least() to the pure
    // token-count score — the fused expression implements the legacy
    // (total) semantics; no corpus document is empty, so every
    // declared query's values are unchanged (oracle re-verified r22)
    val ansiBefore = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    val prop = Prop.forAll(Gen.listOfN(16, qtextGen)) { docs0 =>
      // always include the fixed nasty cases alongside the random batch
      val docs = docs0 ++ Seq("", " ", "   ", "\t", "", "the", " the ",
        "No stop words here xyzq 99", "🎉🎉🎉", "a", "A  A\tA\nA")
      import spark.implicits._
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rows = df.select(
        TextStats.tokenCount(col("text")).as("tc_fused"),
        TextStats.tokenCountComposed(col("text")).as("tc_ref"),
        TextStats.qualityScore(col("text")).as("q_fused"),
        TextStats.qualityScoreComposed(col("text")).as("q_ref"),
        col("text")).collect()
      rows.forall { r =>
        val ok = r.getInt(0) == r.getInt(1) &&
          java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
            java.lang.Double.doubleToLongBits(r.getDouble(3))
        if (!ok) println(s"MISMATCH on ${r.getString(4).map(c => f"\\u${c.toInt}%04x").mkString} " +
          s"tc ${r.getInt(0)} vs ${r.getInt(1)}, q ${r.getDouble(2)} vs ${r.getDouble(3)}")
        ok
      }
    }
    try check(prop, n = 40)
    finally ansiBefore match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
    // the one divergence from the ANSI composed tree, pinned: an empty
    // text scores the legacy pure-token-count value instead of raising
    locally {
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val r = Seq((1L, "")).toDF("doc_id", "text")
        .select(graft.functions.TextStats.qualityScore(col("text"))).head()
      assert(r.getDouble(0) == 0.004)
    }
  }

  test("fused quality expressions: null text stays null") {
    import graft.functions.TextStats
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq((1L, null: String), (2L, "ok")).toDF("doc_id", "text")
    val r = df.select(TextStats.tokenCount(col("text")),
      TextStats.qualityScore(col("text"))).collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(!r(1).isNullAt(0) && !r(1).isNullAt(1))
  }
}
