package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Vector similarity kernels as native Catalyst expressions with full
  * codegen, so distance evaluation stays inside the whole-stage-codegen'd
  * loop of a scan — the hot path of brute-force top-k vector search
  * (the role LanceDB's native Rust kNN plays in the reference,
  * reference: src/load/lancedb_store.py:127-152). A Scala UDF here would
  * box both arrays per row; at 10^9+ vectors that is the difference
  * between a scan-bound and a GC-bound job.
  */
object VectorFunctions {

  /** dot(a,b) / (|a| * |b|) over two array<float|double> columns, computed
    * in double. Null if either side is null; 0.0 if either norm is zero.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    private def isDoubleArr(e: Expression): Boolean = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorFunctions.cosine(
        l.asInstanceOf[ArrayData],
        r.asInstanceOf[ArrayData],
        isDoubleArr(left),
        isDoubleArr(right)
      )

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(
        ctx,
        ev,
        (a, b) =>
          s"${ev.value} = graft.functions.VectorFunctions.cosine(" +
            s"$a, $b, ${isDoubleArr(left)}, ${isDoubleArr(right)});"
      )

    override protected def withNewChildrenInternal(
        newLeft: Expression,
        newRight: Expression
    ): Expression = copy(left = newLeft, right = newRight)
  }

  /** Shared kernel, called from both interpreted and generated code. */
  def cosine(a: ArrayData, b: ArrayData, aDouble: Boolean, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Pure dot product — the fast scoring path when BOTH sides are unit
    * vectors (then dot == cosine, at a third of the flops). The default
    * embedder L2-normalizes, so retrieval uses this; use
    * [[CosineSimilarity]] when normalization isn't guaranteed.
    */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true

    private def isDoubleArr(e: Expression): Boolean = e.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorFunctions.dot(
        l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
        isDoubleArr(left), isDoubleArr(right)
      )

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorFunctions.dot($a, $b, ${isDoubleArr(left)}, ${isDoubleArr(right)});")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def dot(a: ArrayData, b: ArrayData, aDouble: Boolean, bDouble: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = if (aDouble) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bDouble) b.getDouble(i) else b.getFloat(i).toDouble
      d += x * y
      i += 1
    }
    d
  }

  /** Column API: cosine similarity of two array<float> / array<double> columns. */
  /** Integer dot product over two array<bigint> columns — the codegen'd
    * kernel behind the fixed-point similarity paths (semdedup pair
    * scoring, MMR twins). Exact BIGINT arithmetic, bit-identical to the
    * `aggregate(zip_with(...))` fold it replaces (long addition is
    * associative), but a tight generated loop instead of an interpreted
    * higher-order lambda per element.
    *
    * Caller contract: inputs are QUANTIZED vectors (|v| <= ~2e4 at the
    * standard scales), so products are far from Long range. Unlike the
    * ANSI fold, this raw-Java kernel would wrap silently on overflow —
    * keep it on quantized inputs, never raw counters.
    */
  case class LongDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorFunctions.longDot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorFunctions.longDot($a, $b);")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def longDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Integer squared L2 distance over two array<bigint> columns — the
    * codegen'd kernel behind the fixed-point k-means assignment.
    */
  case class LongSqDist(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def nullSafeEval(l: Any, r: Any): Any =
      VectorFunctions.longSqDist(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorFunctions.longSqDist($a, $b);")

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  def longSqDist(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { val d = a.getLong(i) - b.getLong(i); s += d * d; i += 1 }
    s
  }

  /** SplitMix64-derived pseudo-gaussian plane component — the ONE
    * definition shared by the driver-side probe signer
    * ([[graft.operators.VectorSearch.SimHashLsh.signatureOf]]) and the
    * codegen'd corpus signer below; uniform in [-1, 1).
    */
  def simhashPlane(seed: Long, j: Int, i: Int): Double = {
    var z = seed + (j.toLong << 32) + i.toLong
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    z.toDouble / Long.MaxValue.toDouble
  }

  /** The (nBits x dim) plane matrix of one signer. Row-independent: each
    * holder ([[SimHashSignature]], [[graft.operators.VectorSearch.SimHashLsh]])
    * derives it once and keeps it for its own lifetime, instead of 3
    * xor-mults per component per ROW (what the old per-row UDF paid on
    * every corpus signing pass). No JVM-wide memo: a banded index signs
    * with L seeds in one job, and a shared memo either grows with every
    * key a long-lived JVM ever signed with or thrashes between the legs.
    */
  def simhashPlanes(nBits: Int, dim: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nBits, dim)((j, i) => simhashPlane(seed, j, i))

  /** Shared signing kernel over an array<float> row: sign-projection onto
    * the signer's planes, i-ascending double accumulation — bit-identical
    * to the Seq[Float] UDF it replaces (same fold order, same widening).
    */
  def simhashSig(vec: ArrayData, planes: Array[Array[Double]], dim: Int): Long = {
    val n = math.min(dim, vec.numElements())
    var sig = 0L
    var j = 0
    while (j < planes.length) {
      val row = planes(j)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += vec.getFloat(i) * row(i); i += 1 }
      if (dot >= 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** `simhash_sig(vec)` as a codegen'd expression: the corpus signing pass
    * of every SimHash-LSH index build (single-table, banded, persisted)
    * ran a Scala UDF — ArrayData deserialized to Seq[Float], boxed per
    * element, planes re-derived per row. This stays inside whole-stage
    * codegen and reads floats primitively.
    */
  case class SimHashSignature(child: Expression, nBits: Int, dim: Int, seed: Long)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash_sig expects ARRAY<FLOAT>, got ${other.sql}")
      }

    /** This signer's planes: derived once per expression instance and
      * handed to the generated code as a reference object.
      */
    @transient private[graft] lazy val planes: Array[Array[Double]] =
      VectorFunctions.simhashPlanes(nBits, dim, seed)

    override def nullSafeEval(v: Any): Any =
      VectorFunctions.simhashSig(v.asInstanceOf[ArrayData], planes, dim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val p = ctx.addReferenceObj("simhashPlanes", planes, "double[][]")
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.VectorFunctions.simhashSig($v, $p, $dim);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API: SimHash signature of an array<float> column. */
  def simhashSigCol(vec: Column, nBits: Int, dim: Int, seed: Long): Column =
    graftbridge.column(SimHashSignature(graftbridge.expression(vec), nBits, dim, seed))

  /** Column API: integer dot over array<bigint>. */
  def longDotCol(a: Column, b: Column): Column =
    graftbridge.column(LongDot(graftbridge.expression(a), graftbridge.expression(b)))

  /** Column API: integer squared L2 distance over array<bigint>. */
  def longSqDistCol(a: Column, b: Column): Column =
    graftbridge.column(LongSqDist(graftbridge.expression(a), graftbridge.expression(b)))

  def cosineSim(a: Column, b: Column): Column =
    graftbridge.column(
      CosineSimilarity(graftbridge.expression(a), graftbridge.expression(b))
    )

  /** Column API: dot product (== cosine for unit vectors). */
  def dotProduct(a: Column, b: Column): Column =
    graftbridge.column(
      DotProduct(graftbridge.expression(a), graftbridge.expression(b))
    )

}
