package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: winnowing fingerprint selection (Schleimer,
  * Wilkerson & Aiken, "Winnowing: local algorithms for document
  * fingerprinting", SIGMOD 2003 — public methodology). Over the document's
  * k-gram rolling hashes (same base-257 / 64-bit-wraparound polynomial as
  * [[RollingHashMin]]), slide a window of `w` consecutive hashes and select
  * each window's minimum — determinized to the LEFTMOST minimum (the paper
  * picks rightmost; any fixed rule preserves the guarantee, and leftmost is
  * the rule a SQL oracle reproduces as `min(pos) where h = min(h)`).
  * Selections are deduplicated by position (selected positions are
  * non-decreasing as the window slides, so consecutive-dedup suffices).
  *
  * Guarantee: any shared substring of length ≥ w + k − 1 yields at least
  * one shared fingerprint — the document-overlap detection bound MOSS-style
  * pipelines rely on, with fingerprint density ~2/(w+1) instead of every
  * gram.
  *
  * Why a custom Expression: selection needs a monotonic deque over the
  * rolling hash stream — O(len) single pass, zero boxing, inside
  * WholeStageCodegen via one static call. A DataFrame formulation explodes
  * len·w rows per document through a shuffle first; at 100 TB the scan-side
  * kernel IS the operator.
  *
  * Semantics: null → null; len < k+w−1 → the single leftmost-min gram hash
  * (one degenerate window), empty string → empty array.
  */
case class Winnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override protected def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[UTF8String].getBytes, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Winnow.compute($c.getBytes(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  final val Base = 257L

  /** O(len) winnowing pass; called from interpreted and generated code. */
  def compute(bytes: Array[Byte], k: Int, w: Int): ArrayData = {
    val len = bytes.length
    if (len == 0) return new GenericArrayData(Array.emptyLongArray)
    val kk = math.min(k, len)
    val m = len - kk + 1 // number of k-gram hashes
    // rolling hash state
    var pow = 1L
    var i = 1
    while (i < kk) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < kk) { h = h * Base + (bytes(i) & 0xffL); i += 1 }
    if (m <= w) {
      // one (possibly short) window: leftmost global min
      var min = h
      i = kk
      while (i < len) {
        h = (h - (bytes(i - kk) & 0xffL) * pow) * Base + (bytes(i) & 0xffL)
        if (h < min) min = h
        i += 1
      }
      return new GenericArrayData(Array(min))
    }
    // monotonic deque over (pos, hash): back-pop strictly greater values so
    // the front is the LEFTMOST minimum of the current window
    val dqPos = new Array[Int](m)
    val dqHash = new Array[Long](m)
    var head = 0
    var tail = 0 // exclusive
    val out = new Array[Long](m - w + 1) // ≤ one selection per window
    var nOut = 0
    var lastSel = -1
    var p = 0 // hash position of the current h
    while (p < m) {
      if (p > 0) {
        val j = p + kk - 1 // incoming byte index
        h = (h - (bytes(j - kk) & 0xffL) * pow) * Base + (bytes(j) & 0xffL)
      }
      while (tail > head && dqHash(tail - 1) > h) tail -= 1
      dqPos(tail) = p; dqHash(tail) = h; tail += 1
      val j0 = p - w + 1 // window start once p ≥ w-1
      if (j0 >= 0) {
        while (dqPos(head) < j0) head += 1
        if (dqPos(head) != lastSel) {
          lastSel = dqPos(head)
          out(nOut) = dqHash(head); nOut += 1
        }
      }
      p += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nOut))
  }

  /** DuckDB CTE chain replaying [[compute]] for `documents`: per-position
    * signed base-257 k-gram hashes (polynomial powers taken MOD 2^64 as
    * literals so the HUGEINT accumulation never overflows int128 — the
    * wrapped powers are exactly what the Scala kernel's Long arithmetic
    * uses), windows of `w` consecutive hash positions, per-window min
    * with LEFTMOST tie. Ends at `selq(doc_id, j, q, h)` — one row per
    * (window, selection); consumers dedup to their grain (positions for
    * the per-doc card, hashes for cross-doc pairs). Docs shorter than one
    * full window (len < k+w−1) are excluded, mirroring the query-side
    * filter. */
  def fpCtesSql(k: Int, w: Int): String = {
    val two64 = BigInt(2).pow(64)
    val two63 = BigInt(2).pow(63)
    val poly = (1 to k).map { j =>
      val powMod = BigInt(257).pow(k - j).mod(two64)
      s"CAST(unicode(substr(text, CAST(i AS INT) + ${j - 1}, 1)) AS HUGEINT) * $powMod"
    }.mkString(" + ")
    s"""d AS (
        SELECT doc_id, text, length(text) AS len
        FROM documents WHERE length(text) >= ${k + w - 1}),
      p AS (
        SELECT doc_id, text, unnest(generate_series(1, len - ${k - 1})) AS i
        FROM d),
      hh AS (
        SELECT doc_id, i,
               CASE WHEN hu >= $two63 THEN CAST(hu - $two64 AS BIGINT)
                    ELSE CAST(hu AS BIGINT) END AS h
        FROM (SELECT doc_id, i, ($poly) % $two64 AS hu FROM p)),
      w AS (
        SELECT doc_id, unnest(generate_series(1, len - ${k + w - 2})) AS j
        FROM d),
      win AS (
        SELECT w.doc_id, w.j, hh.i AS q, hh.h
        FROM w JOIN hh ON hh.doc_id = w.doc_id
                      AND hh.i BETWEEN w.j AND w.j + ${w - 1}),
      sel AS (SELECT doc_id, j, min(h) AS mh FROM win GROUP BY doc_id, j),
      selq AS (
        SELECT win.doc_id, win.j, sel.mh AS h, min(win.q) AS q
        FROM win JOIN sel ON sel.doc_id = win.doc_id AND sel.j = win.j
                         AND win.h = sel.mh
        GROUP BY win.doc_id, win.j, sel.mh)"""
  }
}
