package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{HilbertXY, MinHashSigs, RollingHashMin, Scramble61, SimHashSig, VecDot, Winnow, WordMinHashSigs}

/** Spark extensions entry point: makes every graft native expression
  * available in ANY session via configuration —
  * `--conf spark.sql.extensions=graft.GraftExtensions` — with no code
  * changes, the idiomatic way to ship Catalyst extensions in a library.
  * (In-process callers can keep using `GraftSession.tune`, which registers
  * the same [[GraftExtensions.functions]] imperatively.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** Every graft native SQL function, declared once. Literal arguments are
    * checked here, at analysis time: a non-positive `winnow` k/w or an
    * out-of-range `hilbert_xy` bits would otherwise reach the kernels and
    * index arrays out of bounds on the executors, mid-query. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn[VecDot]("vec_dot(a, b)")(a => VecDot(a(0), a(1))),
    fn[RollingHashMin]("rolling_hash_min(str, n)")(a =>
      RollingHashMin(a(0), int(a(1), "n"))),
    fn[MinHashSigs]("minhash_sigs(str, n, k)")(a =>
      MinHashSigs(a(0), int(a(1), "n"), int(a(2), "k"))),
    fn[Scramble61]("scramble61(h, idx)")(a => Scramble61(a(0), int(a(1), "idx"))),
    fn[WordMinHashSigs]("word_minhash_sigs(str, n, k)")(a =>
      WordMinHashSigs(a(0), int(a(1), "n"), int(a(2), "k"))),
    fn[SimHashSig]("simhash_sig(str, bits)")(a => SimHashSig(a(0), int(a(1), "bits"))),
    fn[Winnow]("winnow(str, k, w)") { a =>
      val (k, w) = (int(a(1), "k"), int(a(2), "w"))
      require(k >= 1 && w >= 1, s"winnow(str, k, w): need k >= 1 and w >= 1, got k=$k w=$w")
      Winnow(a(0), k, w)
    },
    fn[HilbertXY]("hilbert_xy(x, y, bits)") { a =>
      val b = int(a(2), "bits")
      require(b >= 1 && b <= 31, s"bits must be in [1, 31], got $b")
      HilbertXY(a(0), a(1), b)
    })

  /** One table entry; `usage` is `name(arg, ...)`, whose argument list
    * fixes the arity. */
  private def fn[E: ClassTag](usage: String)(build: Builder) = {
    val name = usage.takeWhile(_ != '(')
    val arity = usage.count(_ == ',') + 1
    val checked: Builder = exprs => {
      require(exprs.size == arity, usage)
      build(exprs)
    }
    (FunctionIdentifier(name), new ExpressionInfo(classTag[E].runtimeClass.getName, name), checked)
  }

  private def int(e: Expression, what: String): Int = e match {
    case f if f.foldable => f.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }
}
