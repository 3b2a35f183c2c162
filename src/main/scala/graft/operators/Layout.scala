package graft.operators

import org.apache.spark.sql.{catalyst, Column}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) key — the clustering key for multi-dimensional
  * scan locality, the engine-side analog of Delta/Iceberg `OPTIMIZE
  * ZORDER BY`.
  *
  * Interleaving the bits of two sort dimensions gives a 1-D key whose
  * ranges are (approximately) 2-D rectangles: range-partitioning and
  * sorting parquet by the z-value means a predicate on EITHER dimension
  * prunes most files via min/max statistics, instead of only the primary
  * sort column. At 100 TB this is the difference between "filters on the
  * secondary key read everything" and "both keys prune ~sqrt(files)".
  *
  * The bit-spread is the classic magic-mask ladder, expressed as plain
  * BIGINT shift/mask column algebra — fully codegen'd, no UDF, and
  * bit-for-bit reproducible in any SQL engine (the DuckDB oracle twin
  * runs the same five-step ladder).
  */
object Layout {

  /** Spread the low 16 bits of `c` so bit i lands at position 2i. */
  def spread16(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
    x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton code of (a, b): a's bits at even positions, b's at odd.
    * Each input contributes its low 16 bits (mask wider values first if
    * the full domain matters; for layout, low bits of a hash/bucketed key
    * are the normal input).
    */
  def zorder2(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** [[zorder2]] as a raw Catalyst expression tree (the same magic-mask
    * ladder over BitwiseAnd/BitwiseOr/ShiftLeft nodes), for SQL-surface
    * registration: `SELECT zorder2(a, b)` — every node is a builtin
    * codegen'd expression, so the SQL path compiles into the same
    * whole-stage-codegen arithmetic as the Column API.
    */
  def zorder2Expr(a: catalyst.expressions.Expression,
                  b: catalyst.expressions.Expression): catalyst.expressions.Expression = {
    import catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    def spread(e: Expression): Expression = {
      def step(x: Expression, sh: Int, mask: Long): Expression =
        BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(sh))), Literal(mask))
      val x0 = BitwiseAnd(Cast(e, LongType), Literal(0xFFFFL))
      step(step(step(step(x0, 8, 0x00FF00FFL), 4, 0x0F0F0F0FL), 2, 0x33333333L), 1, 0x55555555L)
    }
    BitwiseOr(spread(a), ShiftLeft(spread(b), Literal(1)))
  }

}
