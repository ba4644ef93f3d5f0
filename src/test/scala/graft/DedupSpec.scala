package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** Unit coverage for the dedup building blocks that the DuckDB oracle
  * can't isolate: connected-components cluster assignment over a pair
  * relation. (The LSH pipelines themselves are oracle-checked end-to-end
  * by the harness queries.) */
class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Run both strategies: the driver union-find (small side of the size
    * gate) and the distributed propagation (localThreshold = 0) must
    * agree on the identical fixpoint. */
  private def cc(pairs: (Long, Long)*): Map[Long, Long] = {
    val df = pairs.toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(df)
      .as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(df, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == dist, "local union-find and distributed propagation disagree")
    local
  }

  test("chain: transitive closure collapses to the smallest id") {
    // 1-2, 2-3, 3-4: near-dup transitivity — all one cluster keyed by 1
    assert(cc((1L, 2L), (2L, 3L), (3L, 4L)) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("star and disjoint components keep separate labels") {
    val got = cc((10L, 11L), (10L, 12L), (10L, 13L), // star around 10
      (20L, 21L), // separate pair
      (31L, 30L)) // reversed order: min must still win
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L))
  }

  test("long chain needs diameter rounds and still converges") {
    // 50-node path graph: worst case for min-label propagation
    val edges = (1L until 50L).map(i => (i, i + 1))
    val got = cc(edges: _*)
    assert(got.size == 50 && got.values.forall(_ == 1L))
  }

  test("incremental minhash equals the full pairs that touch the delta") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(TestSpark.sf("sf0.01") + "/documents.parquet")
    val expected = Dedup.minHashLshPairs(docs, 0.8)
      .where(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
    assert(expected.count() > 0, "fixture produced no delta-touching pairs")
    val history = docs.where(col("doc_id") % 2 === 0)
    val delta = docs.where(col("doc_id") % 2 === 1)
    val incr = Dedup.minHashLshPairsIncremental(history, delta, 0.8)
    assert(incr.exceptAll(expected).isEmpty && expected.exceptAll(incr).isEmpty)
    // the production path — precomputed history signatures/bands — must
    // give the identical result
    val sigsH = Dedup.minHashSignatures(history)
    val incr2 = Dedup.minHashLshPairsIncremental(history, delta, 0.8,
      historySigs = Some(sigsH), historyBands = Some(Dedup.bandKeys(sigsH)))
    assert(incr2.exceptAll(expected).isEmpty && expected.exceptAll(incr2).isEmpty)
  }

  test("incremental simhash equals the full pairs that touch the delta") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(TestSpark.sf("sf0.01") + "/documents.parquet")
    val expected = Dedup.simHashPairs(docs, 3)
      .where(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
    assert(expected.count() > 0, "fixture produced no delta-touching pairs")
    val history = docs.where(col("doc_id") % 2 === 0)
    val delta = docs.where(col("doc_id") % 2 === 1)
    val incr = Dedup.simHashPairsIncremental(history, delta, 3)
    assert(incr.exceptAll(expected).isEmpty && expected.exceptAll(incr).isEmpty)
    // precomputed history band table gives the identical result
    val incr2 = Dedup.simHashPairsIncremental(history, delta, 3,
      historyBands = Some(Dedup.simHashBands(history)))
    assert(incr2.exceptAll(expected).isEmpty && expected.exceptAll(incr2).isEmpty)
  }

  test("every incremental pipeline is a no-op on an empty delta") {
    import org.apache.spark.sql.functions.col
    // an empty micro-batch / no-new-data poll is the common case at
    // ingest — every delta-vs-history form must return empty without
    // throwing (seed selection, banding, and stats derivations all see
    // zero rows)
    val docs = spark.read.parquet(TestSpark.sf("sf0.001") + "/documents.parquet")
    val emptyDocs = docs.limit(0)
    assert(Dedup.minHashLshPairsIncremental(docs, emptyDocs, 0.8).isEmpty)
    assert(Dedup.ngramContainmentPairsIncremental(docs, emptyDocs, 0.6).isEmpty)
    assert(Dedup.simHashPairsIncremental(docs, emptyDocs).isEmpty)
    assert(Dedup.exactDeltaNew(docs, emptyDocs).isEmpty)
    assert(Dedup.duplicatedSpanStatsIncremental(docs, emptyDocs).isEmpty)
    val emb = spark.read.parquet(TestSpark.sf("sf0.001") + "/embeddings.parquet")
    assert(graft.sim.CosineLsh.nearDupPairsIncremental(
      emb, emb.limit(0), 0.45, Some(6)).isEmpty)
    val media = graft.mm.Multimodal.mediaTable(docs)
    assert(graft.mm.Multimodal.phashNearDupPairsIncremental(
      spark, media, media.limit(0), maxHamming = 2).isEmpty)
  }

  test("empty pair relation yields an empty clustering") {
    assert(cc() == Map.empty[Long, Long])
  }

  test("non-convergence within maxRounds raises instead of returning junk") {
    val pairs = (1L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    assertThrows[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxRounds = 2, localThreshold = 0)
        .collect()
    }
    // the throw must not strand the persisted edge relation or any round's
    // label checkpoint
    assert(org.apache.spark.sql.CacheStateProbe.cacheIsEmpty(spark),
      "connectedComponents left its edge relation cached after the throw")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
      "connectedComponents left label checkpoints behind after the throw")
  }

  test("duplicated-span stats: cross-doc, within-doc, clean, and short docs") {
    // doc 1/2 share a 10-token prefix (8-gram windows at starts 1..3 →
    // one merged island covering tokens 1..10); doc 3 repeats its own
    // 8-gram block (two disjoint islands); doc 4 is clean; doc 5 is too
    // short to form a single 8-gram.
    val p = (1 to 10).map("p" + _).mkString(" ")
    val x = (1 to 8).map("x" + _).mkString(" ")
    val docs = Seq(
      (1L, p + " u1 u2 u3"),
      (2L, p + " v1 v2 v3"),
      (3L, x + " f1 f2 f3 f4 f5 " + x),
      (4L, (1 to 12).map("q" + _).mkString(" ")),
      (5L, "s1 s2 s3")).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpanStats(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 13L, 1L, 10L, 0.769231),
      (2L, 13L, 1L, 10L, 0.769231),
      (3L, 21L, 2L, 16L, 0.761905),
      (4L, 12L, 0L, 0L, 0.0),
      (5L, 3L, 0L, 0L, 0.0)))

    // Removal pass on the same corpus: every island token is dropped and
    // the doc is reassembled from the survivors in position order.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val clean = Dedup.removeDuplicatedSpans(docs)
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(clean == Seq(
      (1L, 13L, 3L, md5hex("u1 u2 u3")),
      (2L, 13L, 3L, md5hex("v1 v2 v3")),
      (3L, 21L, 5L, md5hex("f1 f2 f3 f4 f5")),
      (4L, 12L, 12L, md5hex((1 to 12).map("q" + _).mkString(" "))),
      (5L, 3L, 3L, md5hex("s1 s2 s3"))))

    // A fully-duplicated doc pair survives as the empty string.
    val full = Seq((1L, x), (2L, x)).toDF("doc_id", "text")
    val gone = Dedup.removeDuplicatedSpans(full)
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(gone == Seq(
      (1L, 8L, 0L, md5hex("")), (2L, 8L, 0L, md5hex(""))))
  }

  test("incremental span stats equal the full run filtered to the delta") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(TestSpark.sf("sf0.01") + "/documents.parquet")
    val expected = Dedup.duplicatedSpanStats(docs)
      .where(col("doc_id") % 2 === 1)
    assert(expected.where(col("n_spans") > 0).count() > 0,
      "fixture produced no duplicated spans in the delta")
    val history = docs.where(col("doc_id") % 2 === 0)
    val delta = docs.where(col("doc_id") % 2 === 1)
    val incr = Dedup.duplicatedSpanStatsIncremental(history, delta)
    assert(incr.exceptAll(expected).isEmpty && expected.exceptAll(incr).isEmpty)
    // the persisted (gh, hc) index table gives the identical result
    val incr2 = Dedup.duplicatedSpanStatsIncremental(history, delta,
      historyGramCounts = Some(Dedup.spanGramCounts(history)))
    assert(incr2.exceptAll(expected).isEmpty && expected.exceptAll(incr2).isEmpty)
  }

  test("pair builders release their checkpointed intermediates deterministically") {
    // r14: the pair pipelines localCheckpoint (or persist) their
    // multi-consumer intermediates (plan truncation — see
    // Dedup.ngramJaccardPairs) and must release them through their
    // Blocks.scope once the result is materialized, NOT wait for the
    // ContextCleaner: a long-running driver (the streaming admission sinks)
    // would otherwise accrete blocks per batch. After a builder returns,
    // the only persistent RDDs beyond the baseline are the result's own
    // cache blocks (<= 1 entry).
    import org.apache.spark.sql.functions.col
    import graft.mm.Multimodal
    import graft.sim.CosineLsh
    val docs = spark.read.parquet(TestSpark.sf("sf0.01") + "/documents.parquet")
    val even = docs.where(col("doc_id") % 2 === 0)
    val odd = docs.where(col("doc_id") % 2 === 1)
    val emb = spark.read.parquet(TestSpark.sf("sf0.001") + "/embeddings.parquet")
    val media = Multimodal.mediaTable(
      spark.read.parquet(TestSpark.sf("sf0.001") + "/documents.parquet"))
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val builders = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("minHashLshPairs", () => Dedup.minHashLshPairs(docs, 0.8)),
      ("ngramJaccardPairs", () => Dedup.ngramJaccardPairs(docs)),
      ("winnowPairs", () => Dedup.winnowPairs(docs)),
      ("simHashPairs", () => Dedup.simHashPairs(docs)),
      ("minHashLshPairsIncremental", () => Dedup.minHashLshPairsIncremental(
        even, odd, 0.8)),
      ("ngramContainmentPairs", () => Dedup.ngramContainmentPairs(docs)),
      ("ngramContainmentPairsIncremental", () =>
        Dedup.ngramContainmentPairsIncremental(even, odd)),
      ("simHashPairsIncremental", () => Dedup.simHashPairsIncremental(even, odd)),
      ("winnowPairsIncremental", () =>
        Dedup.winnowPairsIncremental(docs, _ % 2 === 1)),
      ("CosineLsh.nearDupPairs", () => CosineLsh.nearDupPairs(emb, 0.45, Some(6))),
      ("CosineLsh.nearDupPairsIncremental", () => CosineLsh.nearDupPairsIncremental(
        emb.where(col("vec_id") % 2 === 0), emb.where(col("vec_id") % 2 === 1),
        0.45, Some(6))),
      ("Multimodal.phashNearDupPairs", () =>
        Multimodal.phashNearDupPairs(spark, media, maxHamming = 2)),
      ("Multimodal.phashNearDupPairsIncremental", () =>
        Multimodal.phashNearDupPairsIncremental(spark,
          media.where(col("media_id") % 2 === 0), media.where(col("media_id") % 2 === 1),
          maxHamming = 2)))
    builders.foreach { case (name, build) =>
      val result = build()
      val extra = spark.sparkContext.getPersistentRDDs.keySet -- baseline
      assert(extra.size <= 1,
        s"$name left ${extra.size} persistent RDDs beyond its result cache")
      result.unpersist(true)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
        s"$name result unpersist did not clear the last block")
    }
  }
}
