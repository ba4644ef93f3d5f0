package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Dev-only main driven by ExtensionsSpec in a clean JVM: proves that
  * `spark.sql.extensions=graft.GraftExtensions` alone (no imperative
  * registration) provides every native function. */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val missing = GraftExtensions.functions.map(_._1.funcName)
      .filterNot(spark.catalog.functionExists)
    require(missing.isEmpty, s"not resolvable: ${missing.mkString(", ")}")
    val dot = spark.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0)
    require(dot == 11.0, s"vec_dot: $dot")
    val rh = spark.sql("SELECT rolling_hash_min('abcdefghij', 8)").head().getLong(0)
    require(rh == graft.functions.RollingHashMin.compute("abcdefghij".getBytes, 8),
      s"rolling_hash_min: $rh")
    val k = spark.sql("SELECT minhash_sigs('abcdefghij', 8, 4)").head()
      .getSeq[Long](0).length
    require(k == 4, s"minhash_sigs arity: $k")
    // the two the library itself calls through `expr` (Dedup, Layout, MiscQueries)
    val h = spark.sql("SELECT hilbert_xy(5L, 3L, 4)").head().getLong(0)
    require(h == graft.functions.HilbertXY.compute(5, 3, 4), s"hilbert_xy: $h")
    val fp = spark.sql("SELECT winnow('abcdefghijklmnop', 4, 3)").head().getSeq[Long](0)
    require(fp.nonEmpty, "winnow: no fingerprints")
    println("EXTOK")
    spark.stop()
  }
}
