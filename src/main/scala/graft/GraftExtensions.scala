package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VectorFunctions
import graft.plans.{ChunkText, TopKBy}

/** SparkSessionExtensions installer: makes graft's custom Catalyst
  * functions available in every session of a cluster via
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`),
  * instead of per-session registry calls — the deployment story for the
  * SQL surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions(ChunkingConfig()).foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Every graft SQL function; `chunk_text`'s 1-arg form chunks with
    * `chunking`.
    */
  private def functions(chunking: ChunkingConfig): Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def fn(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    Seq(
      fn("cosine_sim", classOf[VectorFunctions.CosineSimilarity],
        c => VectorFunctions.CosineSimilarity(c(0), c(1))),
      fn("long_dot", classOf[VectorFunctions.LongDot], c => VectorFunctions.LongDot(c(0), c(1))),
      fn("long_sq_dist", classOf[VectorFunctions.LongSqDist], c => VectorFunctions.LongSqDist(c(0), c(1))),
      fn("top_k_by", classOf[TopKBy], TopKBy.sqlBuilder),
      fn("chunk_text", classOf[ChunkText], ChunkText.builder(chunking)),
      fn("zorder2", graft.operators.Layout.getClass, c => graft.operators.Layout.zorder2Expr(c(0), c(1))))
  }

  /** Register [[functions]] on one session (a session built without the
    * extension, e.g. `GraftSession.getOrCreate` or the CLI's).
    */
  def register(spark: SparkSession, chunking: ChunkingConfig = ChunkingConfig()): Unit =
    functions(chunking).foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
