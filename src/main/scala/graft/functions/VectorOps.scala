package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns using higher-order
  * functions — fully codegen'd, no UDFs, no driver round-trips.
  *
  * Precision contract: elements are cast to double BEFORE multiplication so
  * each product is exact (float×float in double) and the left-fold sum is
  * reproducible — the DuckDB oracle mirrors this with
  * `list_dot_product(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))`.
  */
object VectorOps {

  private def asDouble(a: Column): Column = a.cast("array<double>")

  /** Sequential-fold dot product in double precision — the native
    * codegen'd [[VecDot]] expression (identical fold order to the
    * `aggregate(zip_with(...))` HOF formulation it replaced, which is
    * CodegenFallback and pays interpreted dispatch per row). Requires
    * `vec_dot` registered ([[graft.GraftExtensions.functions]]). */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", asDouble(a), asDouble(b))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity: dot/(|a|·|b|), the exact formula the oracle uses. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine rounded for cross-engine comparison / stable ordering. */
  def cosineRounded(a: Column, b: Column, scale: Int = 6): Column =
    round(cosine(a, b), scale)

  /** SQL fragment mirroring [[cosine]] for the DuckDB oracle. */
  def cosineSql(a: String, b: String): String =
    s"""list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))))"""
      .stripMargin.replace("\n", " ")
}
