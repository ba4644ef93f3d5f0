package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all `k` MinHash signature minima over the
  * WORD `n`-gram shingles of a document in one pass — the word-gram
  * sibling of [[MinHashSigs]]. The shingle universe is the same as
  * `concat_ws(' ', tok_i..tok_{i+n-1})` over `split(lower(text), '\\s+')`
  * with empty tokens dropped; the base hash is a Horner fold
  * `h = (h·131 + byte) mod 2^61` over the shingle's lowercased bytes
  * (space-joined), and signature j is `min (h·A_j) mod 2^61` with the
  * shared [[MinHashSigs.Scrambles]] multipliers. All steps are exact
  * integer arithmetic the DuckDB oracle reproduces via
  * `list_reduce` + HUGEINT (per-step mod composes: 2^61 divides 2^64, so
  * Java's wraparound + low-61-bit mask equals the true mod).
  *
  * Returns NULL for null input AND for documents with fewer than `n`
  * tokens (no shingles — mirrors the SQL pipeline's `size(toks) >= n`
  * filter).
  *
  * Scale: word-ngram MinHash becomes a scan-side projection — the
  * (doc, shingle) multiset is never exploded, distinct'd, or shuffled;
  * only band keys and candidate pairs move.
  */
case class WordMinHashSigs(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "word_minhash_sigs"

  override protected def nullSafeEval(input: Any): Any =
    WordMinHashSigs.compute(input.asInstanceOf[UTF8String].getBytes, n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WordMinHashSigs.compute($c.getBytes(), $n, $k);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): WordMinHashSigs =
    copy(child = newChild)
}

object WordMinHashSigs {
  import MinHashSigs.{Mask61, Scrambles}
  final val Base = 131L

  private def isSpace(b: Byte): Boolean = b match {
    case ' ' | '\t' | '\n' | '\r' | 0x0b | '\f' => true
    case _ => false
  }

  private def lower(b: Byte): Long =
    (if (b >= 'A' && b <= 'Z') b + 32 else b) & 0xffL

  /** One pass: tokenize, then for each n-token window Horner-hash the
    * space-joined lowercased bytes and fold the k scrambled minima.
    * Null when fewer than n tokens. */
  def compute(bytes: Array[Byte], n: Int, k: Int): ArrayData = {
    val len = bytes.length
    // token boundaries
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isSpace(bytes(i))) i += 1
      if (i < len) {
        starts.add(i)
        while (i < len && !isSpace(bytes(i))) i += 1
        ends.add(i)
      }
    }
    val t = starts.size()
    if (t < n) return null
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var w = 0
    while (w <= t - n) {
      var h = 0L
      var tok = w
      while (tok < w + n) {
        if (tok > w) h = (h * Base + ' ') & Mask61
        var p = starts.get(tok)
        val e = ends.get(tok)
        while (p < e) { h = (h * Base + lower(bytes(p))) & Mask61; p += 1 }
        tok += 1
      }
      var j = 0
      while (j < k) {
        val v = (h * Scrambles(j)) & Mask61
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }
}
