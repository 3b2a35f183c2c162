package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ChunkingConfig
import graft.operators.Chunker

/** `chunk_text(text)` as a Catalyst table-generating function (UDTF), so
  * the chunker is usable from SQL via LATERAL VIEW — the SQL twin of the
  * typed `Dataset.flatMap` path (SURVEY §2.12 U4+U5):
  *
  * {{{
  * SELECT d.doc_id, c.chunk_index, c.chunk_text
  * FROM docs d LATERAL VIEW chunk_text(d.text) c
  * }}}
  *
  * A Generator is the right Catalyst surface for a one-row -> many-rows
  * scalar op: it composes with column pruning and stays inside the normal
  * Generate physical operator (no join, no shuffle).
  */
case class ChunkText(child: Expression, chunkSize: Int, chunkOverlap: Int)
    extends UnaryExpression
    with Generator
    with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("total_chunks", IntegerType, nullable = false),
    StructField("is_section_start", BooleanType, nullable = false),
    StructField("token_count", IntegerType, nullable = false),
    StructField("section_h1", StringType),
    StructField("chunk_text", StringType, nullable = false)
  ))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val text = v.asInstanceOf[UTF8String].toString
      Chunker.chunk(text, ChunkingConfig(chunkSize = chunkSize, chunkOverlap = chunkOverlap)).iterator.map { c =>
        InternalRow(
          c.chunkIndex,
          c.totalChunks,
          c.isSectionStart,
          c.tokenCount,
          c.h1.map(UTF8String.fromString).orNull,
          UTF8String.fromString(c.text)
        )
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ChunkText {

  /** Arity dispatch shared by the per-session registration and the
    * [[graft.GraftExtensions]] installer. Size/overlap must be foldable
    * integer literals; anything else gets a descriptive error instead of
    * an internal eval failure.
    */
  def builder(cfg: ChunkingConfig): Seq[Expression] => Expression = {
    def intLit(e: Expression, argName: String): Int = {
      if (!e.foldable)
        throw new IllegalArgumentException(s"chunk_text: $argName must be an integer literal")
      e.eval(null) match {
        case n: Number => n.intValue()
        case other =>
          throw new IllegalArgumentException(
            s"chunk_text: $argName must be an integer literal, got $other"
          )
      }
    }
    {
      case Seq(text) => ChunkText(text, cfg.chunkSize, cfg.chunkOverlap)
      case Seq(text, size, overlap) =>
        ChunkText(text, intLit(size, "chunk_size"), intLit(overlap, "chunk_overlap"))
      case other =>
        throw new IllegalArgumentException(s"chunk_text takes 1 or 3 args, got ${other.length}")
    }
  }

}
