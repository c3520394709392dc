package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom scalar Catalyst expressions for the reference-derived
  * operators that Spark lacks. All participate in whole-stage codegen
  * by delegating to static helpers (no interpreted UDF overhead in the
  * hot converter filter path).
  */

/** `is_utf8(binary) -> boolean` — the reference's text/binary content
  * filter predicate (reference: src/batch.rs:157-180).
  */
case class IsUtf8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "is_utf8"
  override protected def nullSafeEval(input: Any): Any =
    Utf8.isValid(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Utf8.isValid($c)")
  override protected def withNewChildInternal(newChild: Expression): IsUtf8 = copy(child = newChild)
}

/** Task-local direct-mapped cache of 32-byte digests: 2^16 slots of
  * 32 bytes (2 MiB), the slot picked by the digest's first two bytes.
  * [[admit]] is false only when the slot already holds the same 32
  * bytes; otherwise the digest overwrites the slot and is admitted.
  * A false answer therefore always means "seen before in this task",
  * while a true one may be a duplicate that a colliding digest
  * evicted: the cache can only fail to drop, never drop a new digest.
  */
final class DigestCache {
  private val slots = new Array[Byte](DigestCache.Slots * DigestCache.Width)
  // an empty slot is zeros, and only a digest starting 0x0000 maps to
  // slot 0; one non-zero byte there keeps the all-zero digest a miss
  slots(0) = 1

  def admit(d: Array[Byte]): Boolean = {
    if (d == null || d.length != DigestCache.Width) return true
    val at = ((d(0) & 0xff) << 8 | (d(1) & 0xff)) * DigestCache.Width
    if (java.util.Arrays.equals(slots, at, at + DigestCache.Width, d, 0, DigestCache.Width)) false
    else {
      System.arraycopy(d, 0, slots, at, DigestCache.Width)
      true
    }
  }
}

object DigestCache {
  final val Width = 32
  final val Slots = 1 << 16
}

/** The previous row's key in a task, copied, for [[RunStart]]: [[starts]]
  * is true when `k` differs from it (the first row always starts a
  * run; null equals null).
  */
final class RunKey {
  private var seen = false
  private var prev: Array[Byte] = null

  def starts(k: Array[Byte]): Boolean =
    if (seen && java.util.Arrays.equals(prev, k)) false
    else {
      seen = true
      prev = if (k == null) null else k.clone()
      true
    }
}

/** A boolean filter over a binary key whose answer depends on the rows
  * the task saw before: the state object is allocated at partition
  * init (codegen'd and interpreted alike) and `test` asks it. The key
  * must be binary.
  *
  * `CodegenFallback` only keeps a `Filter` on it out of whole-stage
  * codegen: a whole-stage `Filter` rebuilds every row it keeps into a
  * new `UnsafeRow` (content included), while `FilterExec`'s own path
  * passes the input row through. The predicate is still compiled:
  * `GeneratePredicate` uses the `doGenCode` below.
  */
sealed abstract class TaskKeyFilter[S <: AnyRef](stateClass: Class[S], method: String)
    extends UnaryExpression with Nondeterministic with CodegenFallback with Serializable {
  protected def newState(): S
  protected def test(state: S, key: Array[Byte]): Boolean
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  @transient private[this] var state: S = _
  override protected def initializeInternal(partitionIndex: Int): Unit = state = newState()
  override protected def evalInternal(input: InternalRow): Any =
    test(state, child.eval(input).asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = stateClass.getName
    val st = ctx.addMutableState(cls, "keyFilterState", forceInline = true)
    ctx.addPartitionInitializationStatement(s"$st = new $cls();")
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${c.code}
      boolean ${ev.value} = $st.$method(${c.isNull} ? null : ${c.value});""")
  }
}

/** `digest_cache_miss(binary) -> boolean` — the map-side half of the
  * converter's `unique` dedup: false only for a digest this task has
  * already seen and still caches ([[DigestCache]]), so a filter on it
  * drops repeats before the hash exchange. A null or non-32-byte value
  * is always kept.
  */
case class DigestCacheMiss(child: Expression)
    extends TaskKeyFilter(classOf[DigestCache], "admit") {
  override def prettyName: String = "digest_cache_miss"
  override protected def newState(): DigestCache = new DigestCache
  override protected def test(c: DigestCache, key: Array[Byte]): Boolean = c.admit(key)
  override protected def withNewChildInternal(newChild: Expression): DigestCacheMiss =
    copy(child = newChild)
}

/** `run_start(binary) -> boolean` — the reduce-side half of the
  * converter's `unique` dedup: true when the key differs from the
  * previous row's key in the task ([[RunKey]]; null counts as one
  * value). Over rows sorted by the key within a partition that holds
  * every copy of it, a filter on it keeps exactly one row per key.
  */
case class RunStart(child: Expression) extends TaskKeyFilter(classOf[RunKey], "starts") {
  override def prettyName: String = "run_start"
  override protected def newState(): RunKey = new RunKey
  override protected def test(r: RunKey, key: Array[Byte]): Boolean = r.starts(key)
  override protected def withNewChildInternal(newChild: Expression): RunStart =
    copy(child = newChild)
}

/** `format_kind(binary) -> string` — two-stage magic-byte sniff of a
  * content value (reference: src/anyreader/compression.rs:34-75 +
  * src/anyreader/format.rs:14-52). Returns one of
  * gzip|zstd|bzip2|xz|zip|tar|executable|unknown.
  */
case class FormatKindOf(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "format_kind"
  override protected def nullSafeEval(input: Any): Any =
    FormatKindHelper.kindName(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.FormatKindHelper.kindName($c)")
  override protected def withNewChildInternal(newChild: Expression): FormatKindOf =
    copy(child = newChild)
}

/** `extract_strings(binary, minLen) -> array<string>` — ASCII-run
  * string extraction (reference: crates/extract-strings/src/ascii.rs).
  */
case class ExtractStrings(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_strings"
  override protected def nullSafeEval(bytes: Any, minLen: Any): Any =
    StringsHelper.extract(bytes.asInstanceOf[Array[Byte]], minLen.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, m) => s"graft.functions.StringsHelper.extract($b, $m)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ExtractStrings =
    copy(left = l, right = r)
}

/** `minhash_signature(text, numHashes, shingleWidth) -> array<bigint>` —
  * deterministic MinHash signature over word shingles; the scale path
  * for near-duplicate detection (LSH banding happens in the DataFrame
  * layer, see [[graft.ops.Dedup]]).
  */
case class MinHashSignature(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(text: Any, n: Any, w: Any): Any =
    HashingHelper.minHashSignature(
      text.asInstanceOf[UTF8String], n.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n, w) =>
      s"graft.functions.HashingHelper.minHashSignature($t, $n, $w)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): MinHashSignature =
    copy(first = f, second = s, third = t)
}

/** `word_shingles(text, w) -> array<string>` — distinct space-joined
  * `w`-word shingles, single tokenization pass (see
  * [[HashingHelper.wordShingles]]).
  */
case class WordShingles(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(text: Any, w: Any): Any =
    HashingHelper.wordShingles(text.asInstanceOf[UTF8String], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w) => s"graft.functions.HashingHelper.wordShingles($t, $w)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WordShingles =
    copy(left = l, right = r)
}

/** `hashed_grams(text, buckets) -> array<bigint>` — per-occurrence
  * hashed unigram+bigram feature buckets (DSIR importance-resampling
  * features, Xie et al. NeurIPS 2023; see
  * [[HashingHelper.dsirBuckets]]). Codegen'd single pass.
  */
case class HashedGrams(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_grams"
  override protected def nullSafeEval(text: Any, b: Any): Any =
    HashingHelper.dsirBuckets(text.asInstanceOf[UTF8String], b.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, b) => s"graft.functions.HashingHelper.dsirBuckets($t, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HashedGrams =
    copy(left = l, right = r)
}

/** `hashed_linear_z(text, weights, bias) -> double` — the fastText-
  * style classifier logit over [[HashingHelper.dsirBuckets]] features,
  * fused into one codegen'd pass ([[HashingHelper.hashedLinearZ]]):
  * tokenize, hash, weight lookup and mean pooling never leave the
  * generated code, so a quality gate in a cleaning pipeline stays
  * inside whole-stage codegen (a lambda-HOF formulation would demote
  * the enclosing projection/filter to interpreted).
  */
case class HashedLinearZ(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hashed_linear_z"

  /** The SQL registration reaches here with arbitrary arguments, so the
    * guards the Column face applies (`weights.nonEmpty`) move into
    * analysis: an empty weight table would throw `% 0` per row deep in
    * executor tasks, and a NULL weight element would silently
    * contribute 0.0 through primitive unboxing.
    */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (first.dataType, second.dataType, third.dataType) match {
      // NULL literals are legal anywhere (nullIntolerant: null in ->
      // null out); only concretely-typed mismatches fail analysis
      case (StringType | NullType, NullType, DoubleType | NullType) =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType | NullType, ArrayType(DoubleType, containsNull),
          DoubleType | NullType) =>
        if (containsNull)
          TypeCheckResult.TypeCheckFailure(
            "hashed_linear_z weights must be array<double> without null " +
              "elements (a null weight would silently score as 0.0)")
        else if (second.foldable &&
            Option(second.eval(null)).forall(
              _.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
                .numElements() == 0))
          TypeCheckResult.TypeCheckFailure(
            "hashed_linear_z weights must be a non-empty array (an empty " +
              "table has no buckets to hash into)")
        else TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        s"hashed_linear_z expects (string, array<double>, double), got ($f, $s, $t)")
    }
  }
  override protected def nullSafeEval(text: Any, w: Any, b: Any): Any =
    HashingHelper.hashedLinearZ(text.asInstanceOf[UTF8String],
      w.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, w, b) =>
      s"graft.functions.HashingHelper.hashedLinearZ($t, $w, $b)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HashedLinearZ =
    copy(first = f, second = s, third = t)
}

/** `md5_long62(text) -> bigint` — the engine's oracle-shared 62-bit
  * md5 hash ([[HashingHelper.md5lo62]]) as a column function; equals
  * DuckDB `md5_number_lower(s) % 2^62`. The deterministic-noise
  * primitive for sampling surfaces (Gumbel keys, tie-free orderings).
  */
case class Md5Long62(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_long62"
  override protected def nullSafeEval(input: Any): Any =
    HashingHelper.md5Long62(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingHelper.md5Long62($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Long62 =
    copy(child = newChild)
}

/** `char_entropy(text) -> double` — natural-log Shannon entropy of the
  * character (code point) distribution; the classic reference-free
  * quality signal (near-0 = degenerate repetition, high = encrypted /
  * compressed / random junk — both tails are cut in web-corpus
  * cleaning). Single codegen'd pass; codepoint-ordered accumulation
  * makes the double bit-reproducible against an ANSI oracle (see
  * [[EntropyHelper.charEntropy]]).
  */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_entropy"
  override protected def nullSafeEval(input: Any): Any =
    EntropyHelper.charEntropy(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.EntropyHelper.charEntropy($c)")
  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

/** `nfc_normalize(text) -> string` — Unicode NFC normalization
  * (UAX #15): the canonical-composition pass a pipeline runs before
  * hashing/dedup so composed and decomposed spellings of the same
  * text collide. Semantics = DuckDB `nfc_normalize` (golden-tested).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"
  override protected def nullSafeEval(input: Any): Any =
    NormalizeHelper.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeHelper.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** `decode_html_entities(text) -> string` — single-pass HTML character
  * -reference decode (see [[HtmlEntityHelper]]): six named entities +
  * decimal/hex numeric references, double-encoded input decodes
  * exactly once, malformed references copied verbatim.
  */
case class DecodeHtmlEntities(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "decode_html_entities"
  override protected def nullSafeEval(input: Any): Any =
    HtmlEntityHelper.decode(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlEntityHelper.decode($c)")
  override protected def withNewChildInternal(newChild: Expression): DecodeHtmlEntities =
    copy(child = newChild)
}

/** `strip_accents(text) -> string` — diacritic removal (NFD → drop
  * Mn/Mc/Me marks → NFC recompose, utf8proc's STRIPMARK semantics =
  * DuckDB `strip_accents`, golden-tested incl. Hangul recomposition).
  * The accent-folding pass before language-ID / fuzzy matching.
  */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "strip_accents"
  override protected def nullSafeEval(input: Any): Any =
    NormalizeHelper.stripAccents(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NormalizeHelper.stripAccents($c)")
  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
}

/** Unicode-script composition of a text — the multilingual routing
  * signal next to [[LangIdHelper]]'s function-word guess: script
  * fractions are cheap, alphabet-level evidence (a Cyrillic page is
  * never English, whatever the function words say) and the standard
  * first-stage corpus router before a per-language pipeline.
  */
object ScriptHelper {

  /** Letter fractions by script over `Character.UnicodeScript`
    * (code-point iteration — supplementary-plane CJK counts
    * correctly): latin, cyrillic, cjk (Han + Hiragana + Katakana +
    * Hangul), arabic, greek, other; plus the letter count. Non-letters
    * are ignored; an all-non-letter text has all-zero fractions.
    * Never throws.
    */
  def ratios(text: UTF8String): InternalRow = {
    if (text == null) return null
    val s = text.toString
    var latin = 0L; var cyr = 0L; var cjk = 0L
    var arab = 0L; var greek = 0L; var other = 0L
    var total = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if (Character.isLetter(cp)) {
        total += 1
        val sc =
          try Character.UnicodeScript.of(cp)
          catch { case _: IllegalArgumentException =>
            Character.UnicodeScript.UNKNOWN }
        sc match {
          case Character.UnicodeScript.LATIN => latin += 1
          case Character.UnicodeScript.CYRILLIC => cyr += 1
          case Character.UnicodeScript.HAN | Character.UnicodeScript.HIRAGANA |
               Character.UnicodeScript.KATAKANA |
               Character.UnicodeScript.HANGUL => cjk += 1
          case Character.UnicodeScript.ARABIC => arab += 1
          case Character.UnicodeScript.GREEK => greek += 1
          case _ => other += 1
        }
      }
    }
    val d = if (total == 0) 1.0 else total.toDouble
    InternalRow(latin / d, cyr / d, cjk / d, arab / d, greek / d,
      other / d, total)
  }
}

/** `script_ratios(text) -> struct<latin, cyrillic, cjk, arabic, greek,
  * other, n_letters>` — Unicode-script letter fractions (see
  * [[ScriptHelper.ratios]]). Codegen'd single pass.
  */
case class ScriptRatios(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("latin", DoubleType, nullable = false),
    StructField("cyrillic", DoubleType, nullable = false),
    StructField("cjk", DoubleType, nullable = false),
    StructField("arabic", DoubleType, nullable = false),
    StructField("greek", DoubleType, nullable = false),
    StructField("other", DoubleType, nullable = false),
    StructField("n_letters", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "script_ratios"
  override protected def nullSafeEval(input: Any): Any =
    ScriptHelper.ratios(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ScriptHelper.ratios($c)")
  override protected def withNewChildInternal(newChild: Expression): ScriptRatios =
    copy(child = newChild)
}

/** `lang_guess(text) -> string` — function-word language-ID heuristic
  * (see [[LangIdHelper]]). Codegen'd single pass.
  */
case class LangGuess(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lang_guess"
  override protected def nullSafeEval(input: Any): Any =
    LangIdHelper.guess(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdHelper.guess($c)")
  override protected def withNewChildInternal(newChild: Expression): LangGuess =
    copy(child = newChild)
}

/** `token_count(text) -> int` — one-pass equivalent of
  * `size(split(trim(text), "[ \t\n\r\f]+"))` (see
  * [[QualityHelper.tokenCount]]; property-pinned value-identical in
  * OpsPropertySpec). The composed form allocated a token-string array
  * per row just to take its size.
  */
case class TokenCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_count"
  override protected def nullSafeEval(input: Any): Any =
    QualityHelper.tokenCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.QualityHelper.tokenCount($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

/** `quality_score_raw(text) -> double` — the pre-round
  * [[graft.functions.TextStats.qualityScore]] composite in ONE pass
  * (see [[QualityHelper.rawScore]]; property-pinned value-identical
  * in OpsPropertySpec). Replaces three regex passes, two `split`
  * array materializations and an interpreted higher-order `filter`
  * per row with a single allocation-free byte scan.
  */
case class QualityScoreRaw(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quality_score_raw"
  override protected def nullSafeEval(input: Any): Any =
    QualityHelper.rawScore(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.QualityHelper.rawScore($c)")
  override protected def withNewChildInternal(newChild: Expression): QualityScoreRaw =
    copy(child = newChild)
}

/** `vec_dot(array<float|double>, array<float|double>) -> double` —
  * sequential double-precision dot product (see [[VecHelper.dot]]).
  * Codegen'd native loop; the equivalent `aggregate(zip_with(...))`
  * composition is interpreted and allocates a zipped array per row.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_dot"
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecHelper.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VecHelper.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** `fix_mojibake(text) -> string` — undo UTF-8-read-as-Latin-1/CP1252
  * corruption, whole-string and at most 3 passes (see
  * [[MojibakeHelper]]). Codegen'd; never throws; non-mojibake text
  * (pure ASCII, genuine legacy chars whose re-encoding is invalid
  * UTF-8, unmappable chars) passes through unchanged.
  */
case class FixMojibake(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fix_mojibake"
  override protected def nullSafeEval(input: Any): Any =
    MojibakeHelper.fix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MojibakeHelper.fix($c)")
  override protected def withNewChildInternal(newChild: Expression): FixMojibake =
    copy(child = newChild)
}

/** `vec_l2sq_slice(vec, cent, start) -> double` — squared L2 distance
  * between the subvector `vec[start .. start+len(cent))` and `cent`:
  * the product-quantization subspace distance (see
  * [[VecHelper.l2sqSlice]]). Codegen'd native loop like [[VecDot]];
  * `start` is a literal in every planned use, so the whole PQ
  * encode/ADC projection stays inside whole-stage codegen.
  */
case class VecL2SqSlice(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_l2sq_slice"
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(v: Any, c: Any, s: Any): Any =
    VecHelper.l2sqSlice(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      // SATURATE a long start, never truncate: 2^31 would wrap
      // negative, clamp to 0 in the helper, and silently score the
      // vector head instead of past-the-end (= 0.0)
      math.min(s.asInstanceOf[Number].longValue, Int.MaxValue.toLong).toInt,
      isFloat(first), isFloat(second))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, c, s) =>
      s"graft.functions.VecHelper.l2sqSlice($v, $c, " +
        s"(int)java.lang.Math.min((long)($s), (long)java.lang.Integer.MAX_VALUE), " +
        s"${isFloat(first)}, ${isFloat(second)})")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecL2SqSlice =
    copy(first = f, second = s, third = t)
}

/** `simhash64(text) -> bigint` — 64-bit SimHash; near-dup via hamming
  * distance (`bit_count(a ^ b)`).
  */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    HashingHelper.simHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashingHelper.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `fingerprint(text, k, window) -> array<bigint>` — winnowing document
  * fingerprint (rolling k-gram hashes, per-window minima).
  */
case class Fingerprint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "fingerprint"
  override protected def nullSafeEval(text: Any, k: Any, w: Any): Any =
    HashingHelper.winnow(text.asInstanceOf[UTF8String], k.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) => s"graft.functions.HashingHelper.winnow($t, $k, $w)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Fingerprint =
    copy(first = f, second = s, third = t)
}

/** `explode_archive(content) -> rows(path, size, hash, content)` — the
  * recursive archive walk (SURVEY.md §2.2 W1-W6) exposed to SQL as a
  * Generator: `SELECT f.source, a.* FROM files f LATERAL VIEW
  * explode_archive(f.content) a`. Walks the binary value in memory;
  * for whole-file streaming conversion use
  * [[graft.convert.ArchiveConverter]] instead.
  */
case class ExplodeArchive(child: Expression)
    extends UnaryExpression with Generator with codegen.CodegenFallback {
  override def prettyName: String = "explode_archive"
  override def elementSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("hash", BinaryType, nullable = false),
    StructField("content", BinaryType, nullable = false)
  ))
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    if (bytes == null) Iterator.empty
    else {
      val opts = graft.core.ConvertOptions()
      graft.walk.ArchiveWalker
        .walk("", new java.io.ByteArrayInputStream(bytes), bytes.length.toLong, opts)
        .map { e =>
          InternalRow(UTF8String.fromString(e.path), e.size, e.hash, e.content)
        }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): ExplodeArchive =
    copy(child = newChild)
}
