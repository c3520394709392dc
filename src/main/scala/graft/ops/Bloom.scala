package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{ShiftRight => CatShiftRight}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftShims.{column, expression}

/** Incremental exact-dedup gate: filter an incoming shard against an
  * existing corpus through a Bloom bitmap, without ever joining the
  * corpus (the standard Bloom-filter construction, Bloom CACM 1970;
  * the incremental-ingestion pattern every large corpus pipeline
  * needs once the historical corpus dwarfs each new shard).
  *
  * 100 TB scale story — the corpus REDUCES instead of shuffling:
  *   - each partition folds its documents into a local m-bit bitmap
  *     (the typed [[BloomBitmap]] aggregator's map-side partial), so
  *     the only corpus-side exchange is one m/64-long word array per
  *     partition, OR-merged to a single row — a 100 TB corpus moves
  *     m/8 bytes per partition (128 KiB at the default m = 2^20),
  *     not content, not even (hash, id) pairs;
  *   - the merged bitmap is collected to the driver (BOUNDED: m/8
  *     bytes by construction — same discipline as the IVF codebook
  *     collect, [[Similarity]]) and re-enters the plan as a literal,
  *     so the incoming side filters at scan speed with zero
  *     exchanges and no broadcast join;
  *   - false-positive semantics are DECLARED and deterministic: the
  *     k probe positions are md5-derived ([[GraftFunctions.md5_long62]]
  *     over `"i:" ++ text`), so engine and oracle compute the same
  *     drop set bit-for-bit — no false negatives ever (a text present
  *     in the corpus always probes all-set positions), and the FP
  *     rate is the textbook (1 - e^{-kn/m})^k, ~1e-4 per doc at
  *     n = 10M docs/bitmap-shard, m = 2^27, k = 4. Size m to the
  *     corpus shard; a whole-corpus gate at 100 TB shards the bitmap
  *     by hash prefix and unions the per-shard keeps.
  */
object Bloom {

  /** One m-bit Bloom bitmap as a typed aggregation over bit
    * POSITIONS: `reduce` sets a bit in the partition-local word
    * array, `merge` ORs arrays. Buffer = m/64 longs (128 KiB at
    * m = 2^20) per partition — bounded, spill-free, and the shuffle
    * carries exactly one buffer per partition.
    */
  final case class BloomBitmap(words: Int)
      extends Aggregator[Long, Array[Long], Array[Long]] {
    require(words > 0, "words must be positive")
    override def zero: Array[Long] = new Array[Long](words)
    override def reduce(b: Array[Long], p: Long): Array[Long] = {
      b((p >>> 6).toInt) |= 1L << (p & 63L)
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < words) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** The k md5-derived probe positions of a text value in an m-bit
    * bitmap (m a power of two). Position i = md5lo62("i:" ++ text)
    * mod m — reproducible in ANSI SQL via `md5_number_lower`, which
    * is what makes the gate's exact drop set oracle-checkable.
    */
  private[ops] def positions(text: Column, mBits: Int, k: Int): Seq[Column] =
    (0 until k).map { i =>
      pmod(GraftFunctions.md5_long62(concat(lit(s"$i:"), text)), lit(mBits.toLong))
    }

  /** `word >> bits` with a COLUMN shift amount (the functions API only
    * takes literal shifts); the underlying Catalyst expression is
    * codegen'd like any built-in.
    */
  private def shiftRightDyn(word: Column, bits: Column): Column =
    column(CatShiftRight(expression(word), expression(bits)))

  /** Keep the incoming rows whose text is DEFINITELY NOT in `corpus`
    * (some probe bit unset). Returns `incoming` filtered; rows whose
    * k positions are all set — every actual duplicate, plus the
    * declared-deterministic false positives — are dropped.
    *
    * @param mBits bitmap size in bits, power of two (default 2^20:
    *              128 KiB, sized for ~10^5-doc corpus shards at k=4)
    * @param k     probe hashes (default 4)
    */
  def bloomGate(corpus: DataFrame, incoming: DataFrame, textCol: String,
      mBits: Int = 1 << 20, k: Int = 4): DataFrame = {
    val words = bitmapOf(corpus, textCol, mBits, k)
    incoming.where(!bloomMember(col(textCol), mBits, k, words))
  }

  /** The corpus' m-bit bitmap as a driver-side word array — the
    * map-side-reducing aggregation [[bloomGate]]'s scaladoc walks
    * through, exposed for the at-rest index faces. Bounded collect:
    * exactly one row of m/64 longs.
    */
  private[graft] def bitmapOf(corpus: DataFrame, textCol: String,
      mBits: Int, k: Int): Array[Long] = {
    require(mBits > 64 && (mBits & (mBits - 1)) == 0, "mBits must be a power of two > 64")
    require(k >= 1 && k <= 16, "k must be in [1, 16]")
    import corpus.sparkSession.implicits._
    val posDs = corpus
      .select(explode(array(positions(col(textCol), mBits, k): _*)).as("p"))
      .as[Long]
    posDs.select(BloomBitmap(mBits >>> 6).toColumn.name("bm")).head()
  }

  /** The membership predicate of a text column against a bitmap
    * literal: all k probe bits set. Pure built-ins over the inlined
    * word array — evaluated at scan speed, zero exchanges.
    */
  def bloomMember(text: Column, mBits: Int, k: Int,
      words: Array[Long]): Column = {
    val wordsLit = lit(words)
    positions(text, mBits, k)
      .map { p =>
        val word = element_at(wordsLit, (shiftright(p, 6) + lit(1)).cast("int"))
        shiftRightDyn(word, p.bitwiseAND(lit(63L)).cast("int"))
          .bitwiseAND(lit(1L)) === lit(1L)
      }
      .reduce(_ && _)
  }

  /** Persist the corpus bitmap as an AT-REST BLOOM INDEX — one
    * self-describing row (m_bits, k, words) — so the incremental gate
    * never recomputes the historical corpus' bitmap: a year of ingest
    * reads one KB-to-MB row (plus one per committed batch) instead of
    * re-folding 100 TB of history. The streaming loop
    * ([[graft.streaming.StreamingBloomGate]]) appends each batch's own
    * bitmap under `_increments/ingest_batch=<id>` (the
    * [[Layouts.IncrementsDir]] idempotence discipline), and
    * [[readBloomIndex]] OR-merges base + committed increments.
    */
  def writeBloomIndex(corpus: DataFrame, textCol: String, out: String,
      mBits: Int = 1 << 20, k: Int = 4): Unit =
    writeBitmapRow(corpus.sparkSession,
      bitmapOf(corpus, textCol, mBits, k), mBits, k, out)

  /** Schema of a bitmap row directory (base index and per-batch
    * increments alike; matches the previous `toDF` encoder output).
    */
  private[graft] val BitmapRowSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("m_bits", IntegerType, nullable = false),
      StructField("k", IntegerType, nullable = false),
      StructField("words", ArrayType(LongType, containsNull = false),
        nullable = true)))
  }

  private[graft] def writeBitmapRow(
      spark: org.apache.spark.sql.SparkSession, words: Array[Long],
      mBits: Int, k: Int, dir: String): Unit = {
    // driver-side sidecar write: the bitmap is already a driver array
    // (one m/64-long row) — see Layouts.writeSidecar
    Layouts.writeSidecar(spark, dir, BitmapRowSchema,
      Seq(org.apache.spark.sql.Row(mBits, k, words.toSeq)))
  }

  /** Load a [[writeBloomIndex]] layout's bitmap, OR-merged with its
    * committed per-batch increments. `path` is a layout or a pointered
    * store root (resolved through [[Similarity.resolveLayout]]).
    * `excludeBatchId` drops that batch's own increment — the replay
    * rule every family shares ([[Layouts.withIncrements]]): the store
    * refuses an append below its newest batch, so the history a batch
    * judges against is every other batch's bits, on its first attempt
    * and on its replay alike. The geometry (m_bits, k) must agree
    * across every row — a mixed-m OR is garbage, so it fails curated.
    * DRIVER-SIDE read (the Layouts.collectSidecar path), bounded by
    * one m/64-long array per committed batch, never corpus rows: a
    * spark.read + collect would pay a full Spark job per gate
    * evaluation — per MICRO-BATCH in the streaming gate.
    */
  def readBloomIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, excludeBatchId: Option[Long] = None): (Int, Int, Array[Long]) = {
    val layout = Similarity.resolveLayout(spark, path)
    val dirs = layout +: Layouts.incrementIds(spark, layout)
      .filterNot(excludeBatchId.contains).map(Layouts.incrementDir(layout, _))
    val rows = dirs.flatMap(Layouts.collectSidecar(spark, _, "writeBloomIndex"))
    require(rows.nonEmpty,
      s"the Bloom index at $layout holds no bitmap row — rebuild it with " +
        "writeBloomIndex")
    val geoms = rows.map(r => (r.getAs[Int]("m_bits"), r.getAs[Int]("k"))).distinct
    if (geoms.length != 1)
      throw new IllegalStateException(
        s"the Bloom index at $layout mixes bitmap geometries " +
          s"(${geoms.sorted.mkString(", ")} as (m_bits, k)) — OR-merging " +
          "different-m bitmaps is garbage; rebuild the index and its " +
          "increments with one geometry")
    val (m, k) = geoms(0)
    val acc = new Array[Long](m >>> 6)
    rows.foreach { r =>
      val w = r.getAs[Seq[Long]]("words")
      var i = 0
      while (i < acc.length) { acc(i) |= w(i); i += 1 }
    }
    (m, k, acc)
  }

  /** Fold a Bloom index's committed increments into one base row — the
    * [[AnnIndex.compact]] play for the gate's history (a year of
    * per-batch rows is a listing tax on every tick). This is the
    * store's fold ([[Layouts.GenerationStore.fold]]) of the pointered
    * root `root` into `gen<k+1>`, returned: the OR of the base and
    * EVERY committed increment. Folding a batch's own bits would make
    * its replay judge against itself, so the fold records the newest
    * batch it folded and that batch's replay writes nothing: the gate
    * writes its admitted rows before its bitmap, so they are complete.
    */
  def compactBloomIndex(spark: org.apache.spark.sql.SparkSession,
      root: String): String = {
    val store = Layouts.openStore(spark, root)
    store.fold("compactBloomIndex") { dst =>
      val (m, k, words) = readBloomIndex(spark, store.layout)
      writeBitmapRow(spark, words, m, k, dst)
    }
  }
}
