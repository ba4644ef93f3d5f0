package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the `bits`-bit SimHash of a document in ONE
  * pass over its whitespace tokens — no token explode, no distinct, no
  * groupBy; the whole signature stage becomes a scan-side projection.
  * (Replaces the explode+distinct+60-aggregate pipeline that shuffled the
  * tokenized corpus — at 100 TB that shuffle IS the job; this is free.)
  *
  * Semantics are bit-for-bit the classic Charikar construction the DuckDB
  * oracle mirrors:
  *   - tokens: maximal runs of non-whitespace (same token set as Java's
  *     `split("\\s+")` with empties dropped; whitespace = [ \t\n\x0B\f\r]);
  *     callers pass ALREADY-LOWERCASED text so case folding stays Spark's
  *     `lower()`.
  *   - each DISTINCT token votes once: its hash is the first `bits/4` hex
  *     chars of md5(token) read as an integer (exactly DuckDB's
  *     `CAST('0x' || substr(md5(w), 1, bits/4) AS BIGINT)`), and bit b of
  *     the hash votes +1/-1 on result bit b.
  *   - result bit b is set iff its vote sum is positive.
  *
  * A document with no tokens (empty/all-whitespace) has no votes and
  * returns 0; callers that need "no tokens → no row" semantics filter
  * `rlike("\\S")` first (cheap, scan-side).
  */
case class SimHashSig(child: Expression, bits: Int) extends UnaryExpression {
  require(bits > 0 && bits <= 60 && bits % 4 == 0,
    "bits must be in (0, 60] and divisible by 4 (hex-nibble aligned for the oracle)")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    SimHashSig.compute(input.asInstanceOf[UTF8String].getBytes, bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHashSig.compute($c.getBytes(), $bits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  // MessageDigest is stateful; one per task thread, reset per token.
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Java regex `\s` (default flags): space, tab, LF, VT, FF, CR. All are
    * single ASCII bytes, so byte-level scanning is exact even in UTF-8. */
  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** One pass: tokenize, dedupe, vote, assemble. */
  def compute(bytes: Array[Byte], bits: Int): Long = {
    val votes = new Array[Int](bits)
    // Distinctness is on the token STRING (as in the oracle's SELECT
    // DISTINCT doc_id, w), not on its hash.
    val seen = new java.util.HashSet[String]()
    val digest = md5.get()
    val len = bytes.length
    var i = 0
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      val start = i
      while (i < len && !isSpace(bytes(i))) i += 1
      if (i > start) {
        val tok = new String(bytes, start, i - start, java.nio.charset.StandardCharsets.UTF_8)
        if (seen.add(tok)) {
          digest.reset()
          digest.update(bytes, start, i - start)
          val d = digest.digest()
          // First bits/4 hex chars of the md5 as an integer: nibble j is
          // the high (even j) or low (odd j) half of byte j/2.
          var h = 0L
          var j = 0
          val nibbles = bits / 4
          while (j < nibbles) {
            val nib = if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
            h = (h << 4) | nib
            j += 1
          }
          var b = 0
          while (b < bits) {
            votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
      }
    }
    var sim = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) sim |= 1L << b
      b += 1
    }
    sim
  }
}
