package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities. AQE's skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default in
  * [[graft.GraftSession]]) handles sort-merge skew at runtime; explicit
  * salting remains the tool for pathological hot keys in aggregations.
  */
object Skew {

  /** Deterministic salt in [0, salt) from the full row content. Salting
    * must be a pure function of the row: partition-id / monotonic-id
    * schemes reassign salts when a task is recomputed after a fetch
    * failure, and reducers that already fetched the first attempt's
    * blocks then see some rows twice and others never (the SPARK-23207
    * class of silent corruption). Content-hashing keys identical rows to
    * the same bucket — any FIXED assignment preserves exactness of
    * downstream sum/count.
    *
    * CAVEAT (the near-unique-row assumption): byte-identical rows all
    * land in ONE salt bucket, so a hot key whose rows are duplicates —
    * e.g. a key-only or key+constant projection — gets ZERO spread: the
    * skew the salt exists to fix silently survives. No deterministic
    * function of the row can spread identical rows, so the fix is on the
    * INPUT side: carry a distinguishing column (an id, a file offset)
    * through the projection you aggregate — it is hashed into the salt
    * automatically (all input columns are) and never reaches the output,
    * which is shaped by the grouping keys alone.
    */
  private def rowSalt(df: DataFrame, salt: Int): Column =
    pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(salt)).cast("int")

  /** Salted sum+count: the general hot-key aggregation. Phase 1 spreads
    * each group over `salt` reducers (partial sum/count per (keys, salt)),
    * phase 2 combines the <= salt partials per key — so the heaviest key
    * costs 1/salt of a reducer instead of one whole reducer. The value is
    * summed as decimal(28,4): decimal addition is exact and associative,
    * so the result is bit-identical to the unsalted `groupBy(keys).agg`
    * regardless of how rows land in salt buckets.
    */
  def saltedSumCount(
      df: DataFrame,
      keys: Seq[String],
      value: Column,
      salt: Int = 16
  ): DataFrame = {
    require(salt >= 2, s"salt must be >= 2, got $salt")
    val keyCols = keys.map(col)
    df.withColumn("_salt", rowSalt(df, salt))
      .groupBy(keyCols :+ col("_salt"): _*)
      .agg(
        sum(value.cast("decimal(28,4)")).as("_psum"),
        count(lit(1)).as("_pcnt")
      )
      .groupBy(keyCols: _*)
      .agg(
        sum("_psum").cast("double").as("value_sum"),
        sum("_pcnt").as("n")
      )
  }
}
