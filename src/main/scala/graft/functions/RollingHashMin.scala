package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: minimum polynomial rolling hash over all
  * `n`-byte windows of a string — a winnowing-style content fingerprint.
  *
  * Why a custom Expression: the md5-per-shingle fingerprint used by the
  * oracle-checked dedup queries costs O(len·n) hashing per document; the
  * rolling form is O(len) with zero allocation, and `doGenCode` keeps it
  * inside WholeStageCodegen (one static call per row, no boxing). At 100 TB
  * this is the difference between the fingerprint pass being free vs being
  * the bottleneck.
  *
  * Semantics: null input → null; length < n → hash of the whole string.
  * Hash: Rabin-Karp base-257 over unsigned bytes with 64-bit wraparound.
  */
case class RollingHashMin(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash_min"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashMin.compute(input.asInstanceOf[UTF8String].getBytes, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHashMin.compute($c.getBytes(), $n)")

  override protected def withNewChildInternal(newChild: Expression): RollingHashMin =
    copy(child = newChild)
}

object RollingHashMin {
  final val Base = 257L

  /** O(len) rolling min-hash; called from both interpreted and generated
    * code paths. */
  def compute(bytes: Array[Byte], n: Int): Long = {
    val len = bytes.length
    if (len == 0) return 0L
    val w = math.min(n, len)
    // B^(w-1) for the roll-out term
    var pow = 1L
    var i = 1
    while (i < w) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    var min = h
    i = w
    while (i < len) {
      h = (h - (bytes(i - w) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
      if (h < min) min = h
      i += 1
    }
    min
  }
}
