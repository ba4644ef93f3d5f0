package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Harness-contract sanity: every query runs at sf0.001 and returns rows;
  * oracle keys are a subset of query keys; names collide nowhere. */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("no name collisions across query slices") {
    val maps = Seq(
      graft.queries.IngestQueries.defs,
      graft.queries.RelationalQueries.defs,
      graft.queries.TpchDeepQueries.defs,
      graft.queries.TextQueries.defs,
      graft.queries.DedupQueries.defs,
      graft.queries.SimilarityQueries.defs,
      graft.queries.MiscQueries.defs)
    val total = maps.map(_.size).sum
    assert(Registry.all.size == total, "duplicate query names across slices")
  }

  test("oracleSql keys are a subset of queries keys, with aligned names") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("quality_percentile_binned leaves no cached plan once its result is released") {
    spark.catalog.clearCache()
    val r = SparkEntry.queries("quality_percentile_binned")(spark, TestSpark.sf("sf0.001"))
    assert(r.collect().nonEmpty)
    r.unpersist()
    assert(org.apache.spark.sql.CacheStateProbe.cacheIsEmpty(spark),
      "the scoring persist outlived the query's result")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"query $name runs at sf0.001 and returns rows") {
      assert(fn(spark, TestSpark.sf("sf0.001")).count() > 0)
    }
  }
}
