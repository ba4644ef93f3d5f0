package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all `k` MinHash signature minima of a
  * document in ONE O(len·k) pass over its char `n`-gram shingles — no
  * shingle explode, no distinct, no shuffle, no per-shingle md5.
  *
  * How: a Rabin–Karp rolling polynomial (base 131, exact — the window
  * value stays < 2^58, no wraparound) produces each shingle's base hash
  * h; signature i is `min over shingles of (h · A_i) mod 2^61` where the
  * `A_i` are fixed odd multipliers (odd ⇒ bijective mod 2^61, so each
  * multiplier induces an independent pseudo-random ordering of the
  * shingle universe). Min over the window *multiset* equals min over the
  * shingle *set*, so the result is identical to the explode+distinct
  * formulation.
  *
  * Everything is exact integer arithmetic expressible in the DuckDB
  * oracle: the polynomial via `unicode(substr(...))·131^j` (the corpus is
  * ASCII, so bytes == codepoints) and the scramble via
  * `(CAST(h AS HUGEINT) · A_i) % 2^61` — Java's 64-bit wraparound times
  * a low-61-bit mask computes the same value because 2^61 divides 2^64.
  *
  * Scale: signatures become a per-row scan-side computation; the only
  * shuffled data in MinHash-LSH dedup is then (doc, band_key) rows and
  * the candidate pairs — not the full shingle multiset of the corpus.
  *
  * Null input → null; documents shorter than `n` hash their whole text as
  * a single shingle (callers filter them out to match set semantics).
  */
case class MinHashSigs(child: Expression, n: Int, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sigs"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigs.compute(input.asInstanceOf[UTF8String].getBytes, n, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSigs.compute($c.getBytes(), $n, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
    copy(child = newChild)
}

/** Native scalar: `(h · Scrambles(idx)) mod 2^61` with Java wraparound —
  * the MinHash scramble as a standalone expression for shingle shapes
  * built in SQL (e.g. word n-grams). ANSI mode forbids the overflowing
  * multiply in Column arithmetic; raw JVM arithmetic here is exact mod
  * 2^64, and the low-61-bit mask turns it into mod 2^61 (2^61 | 2^64). */
case class Scramble61(child: Expression, idx: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "scramble61"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigs.scramble(input.asInstanceOf[Long], idx)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSigs.scramble($c, $idx)")

  override protected def withNewChildInternal(newChild: Expression): Scramble61 =
    copy(child = newChild)
}

object MinHashSigs {
  final val Base = 131L
  final val Mask61 = (1L << 61) - 1

  /** Fixed odd 61-bit multipliers; the oracle SQL embeds the same values
    * (deterministic seed — never regenerate with a different one). */
  val Scrambles: Array[Long] = {
    val r = new scala.util.Random(20260812L)
    Array.fill(64)((r.nextLong() & Mask61) | 1L)
  }

  /** The signature scramble: mod-2^61 of the wrapped product. */
  def scramble(h: Long, idx: Int): Long = (h * Scrambles(idx)) & Mask61

  /** One pass over all n-byte windows; returns the k signature minima. */
  def compute(bytes: Array[Byte], n: Int, k: Int): ArrayData = {
    val len = bytes.length
    val w = math.max(1, math.min(n, len))
    var pow = 1L
    var i = 1
    while (i < w) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    val mins = new Array[Long](k)
    var j = 0
    while (j < k) { mins(j) = (h * Scrambles(j)) & Mask61; j += 1 }
    i = w
    while (i < len) {
      h = (h - (bytes(i - w) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
      j = 0
      while (j < k) {
        val v = (h * Scrambles(j)) & Mask61
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
