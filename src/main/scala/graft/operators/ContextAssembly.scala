package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** LLM-context assembly: cumulative token-budget selection over
  * score-ordered search hits, plus source-attribution formatting
  * (reference: src/retrieve/hybrid_retriever.py:167-206).
  *
  * The running sum is a single window over the (tiny, <= overfetch k)
  * result list. The budget semantics match the reference loop: a result is
  * kept iff the cumulative tokens *including it* stay within `maxTokens`
  * — and iteration stops at the first overflow (`break`, not `continue`),
  * so selection is the longest prefix that fits.
  */
object ContextAssembly {

  /** Filter `results` (with a `text` column) to the longest score-ordered
    * prefix whose cumulative `words*1.3` token estimate stays <= maxTokens.
    */
  def selectWithinBudget(
      results: DataFrame,
      scoreCol: String,
      tieBreak: String,
      maxTokens: Double
  ): DataFrame = {
    // Deliberately single-partition: the input is a bounded
    // (<= overfetch-k) hit list, not an unbounded table.
    val w = Window
      .orderBy(desc(scoreCol), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // reference accumulates the *float* estimate words*1.3
    // (hybrid_retriever.py:192), not the int-truncated X4 form
    val withCum = results
      .withColumn("est_tokens", TextFunctions.wordCount(col("text")).cast("double") * 1.3)
      .withColumn("cum_tokens", sum(col("est_tokens")).over(w))
    // longest prefix: stop at first overflow
    withCum
      .withColumn("overflowed", max(when(col("cum_tokens") > maxTokens, 1).otherwise(0)).over(w))
      .where(col("overflowed") === 0)
      .drop("overflowed")
  }

  /** Format selected results into the reference's context string:
    * "[Source: title]\ntext" blocks joined by "\n\n---\n\n", headed by the
    * distinct document list.
    */
  def formatContext(selected: Array[Row], titleField: String, textField: String): String = {
    val parts = selected.map { r =>
      s"[Source: ${r.getAs[String](titleField)}]\n${r.getAs[String](textField)}"
    }
    val docs = selected.map(_.getAs[String](titleField)).distinct
    val docList = docs.map(d => s"- $d").mkString("\n")
    s"Documents referenced:\n$docList\n\n---\n\n${parts.mkString("\n\n---\n\n")}"
  }
}
