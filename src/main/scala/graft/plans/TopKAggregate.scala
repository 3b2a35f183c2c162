package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge
import org.apache.spark.sql.types._

/** Grouped top-k as a native aggregate: `top_k_by(score, id, k)` keeps a
  * bounded min-heap per group and emits the k highest-scoring ids ordered
  * (score desc, id asc).
  *
  * Why a custom `TypedImperativeAggregate`: the stock way to take the
  * top-k rows per group is `row_number().over(partitionBy(g).orderBy(s))`
  * + filter, which shuffles and SORTS every row of every group. This
  * aggregate is algebraic — partial heaps combine — so the shuffle carries
  * at most k entries per (partition, group) and nothing is ever globally
  * sorted. At 100 TB that's the difference between a top-k and a
  * sort-the-world job. (The window form remains in SparkEntry as the
  * oracle-checked W1 operator; this is the scale path.)
  */
case class TopKBy(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[mutable.PriorityQueue[(Double, Long)]] {

  require(k > 0, "top_k_by: k must be positive")

  // fail at analysis, not with executor ClassCastExceptions: the eval
  // path casts to Double/Long (builders insert Casts for other numerics)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (score.dataType != DoubleType)
      TypeCheckFailure(s"top_k_by: score must be DOUBLE (cast it), got ${score.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckFailure(s"top_k_by: id must be BIGINT (cast it), got ${id.dataType.sql}")
    else TypeCheckSuccess
  }

  // "better" = higher score, ties -> smaller id. Under this ordering the
  // best entry is the SMALLEST, so the PriorityQueue (a max-heap) keeps
  // the worst retained entry at `head` — the one to test for eviction.
  private val ord: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  override def createAggregationBuffer(): mutable.PriorityQueue[(Double, Long)] =
    mutable.PriorityQueue.empty[(Double, Long)](ord)

  override def update(
      buf: mutable.PriorityQueue[(Double, Long)],
      input: InternalRow
  ): mutable.PriorityQueue[(Double, Long)] = {
    val s = score.eval(input)
    val i = id.eval(input)
    if (s != null && i != null) {
      val entry = (s.asInstanceOf[Double], i.asInstanceOf[Long])
      if (buf.size < k) buf.enqueue(entry)
      else if (ord.lt(entry, buf.head)) { buf.dequeue(); buf.enqueue(entry) }
    }
    buf
  }

  override def merge(
      a: mutable.PriorityQueue[(Double, Long)],
      b: mutable.PriorityQueue[(Double, Long)]
  ): mutable.PriorityQueue[(Double, Long)] = {
    b.foreach { entry =>
      if (a.size < k) a.enqueue(entry)
      else if (ord.lt(entry, a.head)) { a.dequeue(); a.enqueue(entry) }
    }
    a
  }

  override def eval(buf: mutable.PriorityQueue[(Double, Long)]): Any = {
    val sorted = buf.toSeq.sortBy { case (s, i) => (-s, i) }
    new GenericArrayData(sorted.map { case (s, i) =>
      InternalRow(s, i)
    })
  }

  override def serialize(buf: mutable.PriorityQueue[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    (0 until n).foreach { _ => buf.enqueue((in.readDouble(), in.readLong())) }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType), StructField("id", LongType)))
  )
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(score, id)
  override def withNewMutableAggBufferOffset(offset: Int): TopKBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
}

object TopKBy {

  /** Column API: numeric score/id columns are cast to double/long. */
  def topKBy(score: Column, id: Column, k: Int): Column =
    graftbridge.column(
      TopKBy(
        graftbridge.expression(score.cast("double")),
        graftbridge.expression(id.cast("long")),
        k
      ).toAggregateExpression()
    )

  /** SQL builder for `top_k_by(score, id, k)` with a literal k, for
    * [[graft.GraftExtensions]].
    */
  def sqlBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"top_k_by(score, id, k) takes 3 args, got ${children.length}")
    if (!children(2).foldable)
      throw new IllegalArgumentException("top_k_by: k must be an integer literal")
    val k = children(2).eval(null) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(s"top_k_by: k must be an integer literal, got $other")
    }
    import org.apache.spark.sql.catalyst.expressions.Cast
    TopKBy(Cast(children(0), DoubleType), Cast(children(1), LongType), k)
      .toAggregateExpression()
  }

}
