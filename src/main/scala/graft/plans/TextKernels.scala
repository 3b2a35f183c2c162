package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-at-a-time text kernels behind the shingle / gram-digest expressions.
  *
  * Spark's higher-order functions (`transform`, `filter`) are interpreted —
  * no whole-stage codegen, no common-subexpression elimination — so the
  * sliding-window shingle tree paid per-position interpreted `slice` +
  * `concat_ws` evaluation with boxing on every row of every text pass. One
  * static method that walks the word array once replaces the whole tree and
  * is callable from generated code, so the projection fuses back into the
  * surrounding WholeStageCodegen span.
  *
  * Semantics are pinned to the Column trees they replace (DedupSpec /
  * TextAnalysisSpec / the DuckDB oracle): identical outputs bit for bit.
  */
object TextKernels {

  private val EmptyArray = new GenericArrayData(Array.empty[Any])

  /** Shared empty result — null/short inputs produce an EMPTY array (the
    * `when`-guarded trees evaluated to a filtered-to-empty array, never
    * null).
    */
  def emptyArray(): ArrayData = EmptyArray

  private val Space = UTF8String.fromString(" ")

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Distinct word k-shingles in first-occurrence order, each the
    * space-join of k consecutive words. Twin of the
    * `array_distinct(filter(transform(sequence(...), slice/concat_ws)))`
    * tree in [[graft.operators.Dedup.shingles]]: fewer than k words (or a
    * null split) yields an empty array.
    */
  def shingles(words: ArrayData, k: Int): ArrayData = {
    val m = words.numElements()
    if (m < k) return EmptyArray
    val ws = new Array[UTF8String](m)
    var i = 0
    while (i < m) { ws(i) = words.getUTF8String(i); i += 1 }
    // distinct preserving first occurrence — array_distinct semantics
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i <= m - k) {
      val parts = java.util.Arrays.copyOfRange(ws, i, i + k)
      seen.add(UTF8String.concatWs(Space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Tag bit marking a bigram digest in [[uniBiDigests]] output. Digests
    * are 60-bit, so bit 62 is always clear on a unigram; `kg >= BiTag`
    * classifies, `kg - BiTag` restores the exact bigram digest.
    */
  val BiTag: Long = 1L << 62

  private def digest60(md: MessageDigest, ws: Array[Array[Byte]], from: Int, n: Int): Long = {
    md.reset()
    var j = from
    while (j < from + n) {
      if (j > from) md.update(' '.toByte)
      md.update(ws(j))
      j += 1
    }
    val d = md.digest()
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }

  /** Unigram and bigram digests of ONE text pass, in one array: m unigram
    * digests followed by (m-1) bigram digests tagged with [[BiTag]].
    * Exploding this array yields exactly the multiset union of exploded
    * `gramDigests(words, 1)` and `BiTag | gramDigests(words, 2)` — the LM
    * trainer counts both tables from a single scan + a single shuffle.
    */
  def uniBiDigests(words: ArrayData): ArrayData = {
    val ws = nonEmptyWordBytes(words)
    val m = ws.length
    if (m == 0) return EmptyArray
    val out = new Array[Long](m + (if (m >= 2) m - 1 else 0))
    val md = md5Local.get()
    var i = 0
    while (i < m) { out(i) = digest60(md, ws, i, 1); i += 1 }
    i = 0
    while (i < m - 1) { out(m + i) = BiTag | digest60(md, ws, i, 2); i += 1 }
    new GenericArrayData(out)
  }

  /** Per-position LM token stream: struct(w, prev, pair) where w is the
    * position's unigram digest, prev the previous position's (null at
    * position 1), pair the bigram digest ending here (null at position 1).
    * Twin of the interpreted bindOnce(wordGrams 1, wordGrams 2) + transform
    * tree in [[graft.operators.TextAnalysis.scoreWithLm]].
    */
  def lmTokenStream(words: ArrayData): ArrayData = {
    val ws = nonEmptyWordBytes(words)
    val m = ws.length
    if (m == 0) return EmptyArray
    val md = md5Local.get()
    val uni = new Array[Long](m)
    var i = 0
    while (i < m) { uni(i) = digest60(md, ws, i, 1); i += 1 }
    val rows = new Array[Any](m)
    i = 0
    while (i < m) {
      val prev: Any = if (i > 0) java.lang.Long.valueOf(uni(i - 1)) else null
      val pair: Any = if (i > 0) java.lang.Long.valueOf(digest60(md, ws, i - 1, 2)) else null
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](uni(i), prev, pair))
      i += 1
    }
    new GenericArrayData(rows)
  }

  /** A null or empty element — what `length(t) > 0` does not keep
    * (`length(null)` is null, which `filter` drops like false).
    */
  private def dropped(w: UTF8String): Boolean = w == null || w.numBytes() == 0

  /** filter(arr, t => length(t) > 0) over UTF8Strings — the tokenizer tail
    * of `ftsTokens` and friends: drops null and empty elements, and
    * returns the input untouched when there are none (the common case).
    * A null ARRAY is the expression's concern (standard null propagation,
    * unlike the shingle kernels' empty-array guard).
    */
  def nonEmptyStrings(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    var drops = 0
    var i = 0
    while (i < m) { if (dropped(arr.getUTF8String(i))) drops += 1; i += 1 }
    if (drops == 0) return arr
    val out = new Array[AnyRef](m - drops)
    var o = 0
    i = 0
    while (i < m) {
      val w = arr.getUTF8String(i)
      if (!dropped(w)) { out(o) = w; o += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** filter(w, t => length(t) > 0), bytes extracted once: null and empty
    * words are dropped, as in the HOF trees.
    */
  private def nonEmptyWordBytes(words: ArrayData): Array[Array[Byte]] = {
    val m0 = words.numElements()
    val ws = new Array[Array[Byte]](m0)
    var m = 0
    var i = 0
    while (i < m0) {
      val w = words.getUTF8String(i)
      if (!dropped(w)) { ws(m) = w.getBytes; m += 1 }
      i += 1
    }
    if (m == m0) ws else java.util.Arrays.copyOf(ws, m)
  }

  /** Per-position 60-bit md5 digests of word n-grams (duplicates kept),
    * after dropping empty words. Twin of the
    * `transform(sequence(...), conv(substring(md5(array_join(slice(...))),
    * 1, 15), 16, 10) :: long)` tree in
    * [[graft.operators.TextAnalysis.wordGrams]]: the digest is the first
    * 15 hex nibbles of the md5 of the space-joined gram — i.e. the top 60
    * bits of the digest, `(first 8 bytes big-endian) >>> 4`.
    */
  def gramDigests(words: ArrayData, n: Int): ArrayData = gramDigests(words, n, 0)

  /** [[gramDigests]] with an optional modulo: `mod > 0` reduces each
    * digest `% mod` in the same pass (digests are non-negative, so `%`
    * is a true bucket index) — the DSIR bucketed-grams path without the
    * interpreted `transform` wrapper.
    */
  def gramDigests(words: ArrayData, n: Int, mod: Int): ArrayData = {
    val ws = nonEmptyWordBytes(words)
    val m = ws.length
    if (m < n) return EmptyArray
    val out = new Array[Long](m - n + 1)
    val md = md5Local.get()
    var i = 0
    while (i <= m - n) {
      val d = digest60(md, ws, i, n)
      out(i) = if (mod > 0) d % mod else d
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Base for the two unary array-of-words kernels: null-safe (null input →
  * empty array, matching the `size(null) = -1` guard semantics of the HOF
  * trees), non-nullable output, real codegen via a static kernel call.
  */
abstract class TextKernelExpression extends UnaryExpression {

  /** Java source of a call to the static kernel, given the child value. */
  protected def kernelCall(childValue: String): String

  protected def kernel(words: ArrayData): ArrayData

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"${prettyName} expects ARRAY<STRING> input, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TextKernels.emptyArray()
    else kernel(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
         |${c.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull}
         |  ? graft.plans.TextKernels.emptyArray()
         |  : ${kernelCall(c.value.code)};
       """.stripMargin
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }
}

/** `shingles(split_words, k)` — see [[TextKernels.shingles]]. */
case class WordShingles(child: Expression, k: Int) extends TextKernelExpression {
  require(k >= 1, s"need k >= 1, got $k")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def kernel(words: ArrayData): ArrayData = TextKernels.shingles(words, k)
  override protected def kernelCall(childValue: String): String =
    s"graft.plans.TextKernels.shingles($childValue, $k)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `gram_digests(split_words, n [, mod])` — see [[TextKernels.gramDigests]]. */
case class WordGramDigests(child: Expression, n: Int, mod: Int = 0) extends TextKernelExpression {
  require(n >= 1, s"need n >= 1, got $n")
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def kernel(words: ArrayData): ArrayData =
    TextKernels.gramDigests(words, n, mod)
  override protected def kernelCall(childValue: String): String =
    s"graft.plans.TextKernels.gramDigests($childValue, $n, $mod)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `uni_bi_digests(split_words)` — see [[TextKernels.uniBiDigests]]. */
case class UniBiGramDigests(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def kernel(words: ArrayData): ArrayData = TextKernels.uniBiDigests(words)
  override protected def kernelCall(childValue: String): String =
    s"graft.plans.TextKernels.uniBiDigests($childValue)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `non_empty_strings(arr)` — drop empty strings, standard null
  * propagation (null in → null out, exactly like the `filter` HOF).
  */
case class NonEmptyStrings(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"non_empty_strings expects ARRAY<STRING> input, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    TextKernels.nonEmptyStrings(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.TextKernels.nonEmptyStrings($v);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `lm_token_stream(split_words)` — see [[TextKernels.lmTokenStream]]. */
case class LmTokenStream(child: Expression) extends TextKernelExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w", LongType),
      StructField("prev", LongType),
      StructField("pair", LongType))),
    containsNull = true)
  override protected def kernel(words: ArrayData): ArrayData = TextKernels.lmTokenStream(words)
  override protected def kernelCall(childValue: String): String =
    s"graft.plans.TextKernels.lmTokenStream($childValue)"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
