package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 2-D Hilbert curve index (Hilbert 1891; the
  * xy→d walk is the standard public formulation, e.g. Hamilton & Rau-
  * Chaplin "Compact Hilbert indices" TR-2006, and the classic bit-twiddle
  * loop). The Hilbert order is the locality-superior alternative to the
  * Morton/Z-order key ([[graft.operators.Layout.zorderKey]]): every
  * consecutive pair of cells is GRID-ADJACENT (the Z-curve jumps across
  * half the grid at quadrant seams), so per-file min/max boxes along the
  * curve are tighter and box predicates touch fewer files.
  *
  * Why a custom Expression: each of the `bits` rounds conditionally
  * reflects and swaps (x, y) — iterated symbolically as Column arithmetic
  * the tree doubles per round (x and y each reference both priors), an
  * O(2^bits) expression the Morton key's independent shift-masks never
  * hit. The kernel is a 16-step loop of longs, codegen'd as one static
  * call inside WholeStageCodegen.
  *
  * Semantics: inputs masked to the low `bits` bits; null if either input
  * is null. The reflection uses n−1−x with n = 2^bits: future rounds read
  * only bits below the current s, where n−1−x and the in-quadrant
  * s−1−(x mod s) agree — so one constant serves every round (and the SQL
  * replay mirrors it verbatim).
  */
case class HilbertXY(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_xy"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertXY.compute(x.asInstanceOf[Long], y.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.HilbertXY.compute($x, $y, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertXY =
    copy(left = newLeft, right = newRight)
}

object HilbertXY {
  /** The xy→d walk; called from interpreted and generated code. */
  def compute(x0: Long, y0: Long, bits: Int): Long = {
    val n = 1L << bits
    var x = x0 & (n - 1)
    var y = y0 & (n - 1)
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      // rotate the quadrant so the sub-curve orientation matches
      if (ry == 0) {
        if (rx == 1) { x = n - 1 - x; y = n - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** DuckDB CTE chain replaying [[compute]] over a relation `h0(key, x,
    * y, d)` (d = 0): one chained CTE per round carrying the rotated
    * (x, y) and accumulated d as COLUMNS (per-round state in rows keeps
    * the replay linear where a symbolic expression would double per
    * round). Ends at `h$bits(key, x, y, d)`. */
  def roundsCtesSql(bits: Int): String = {
    val nm1 = (1L << bits) - 1
    (1 to bits).map { r =>
      val s = 1L << (bits - r)
      val ss = s * s
      s"""h$r AS MATERIALIZED (
            SELECT key,
                   d + $ss * xor(3 * rx, ry) AS d,
                   CASE WHEN ry = 0
                        THEN (CASE WHEN rx = 1 THEN $nm1 - y ELSE y END)
                        ELSE x END AS x,
                   CASE WHEN ry = 0
                        THEN (CASE WHEN rx = 1 THEN $nm1 - x ELSE x END)
                        ELSE y END AS y
            FROM (SELECT key, x, y, d,
                         CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                         CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
                  FROM h${r - 1}))"""
    }.mkString(",\n")
  }
}
