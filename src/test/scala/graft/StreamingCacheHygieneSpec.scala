package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Pins the round-13 pinned-pairs release (r12 advice) plus the round-15
  * deterministic checkpoint release: the pair-building admission sinks
  * call builders whose results come back internally persist+count'ed, and
  * a long-running stream must not accrete one cached pair relation OR one
  * per-batch localCheckpoint per micro-batch. Each per-batch pipeline that
  * pins frames runs three micro-batches; after every batch it must have
  * released EVERYTHING it owns — its pinned batch, the builder's pair
  * relation and its own checkpoint (all through its Blocks.scope) — so the
  * persistent-RDD map returns exactly to its pre-test baseline. The zero
  * bound is deliberately GC-independent: the old "≤ 2 extras" form encoded
  * ContextCleaner timing and was green or red depending on the host (r14
  * driver gate). A batch that THROWS must release just as much.
  */
class StreamingCacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs three micro-batches against fresh `tables`, asserting after
    * each that nothing is left pinned. */
  private def runBatches(db: String, tables: Seq[String])(
      batch: Int => Unit): Unit = {
    spark.catalog.clearCache()
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $db.$t"))
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    try {
      (1 to 3).foreach { i =>
        batch(i)
        assertReleased(baseline, s"$db batch $i")
      }
    } finally spark.sql(s"DROP DATABASE $db CASCADE")
  }

  private def assertReleased(baseline: collection.Set[Int], what: String): Unit = {
    // the strong claim: the CacheManager holds NO cached plan after a
    // batch — the pinned batch and the builders' internally-persisted pair
    // relations must all have been released by the sink (localCheckpoint
    // blocks live in the RDD map, not the CacheManager, so this is exact)
    assert(org.apache.spark.sql.CacheStateProbe.cacheIsEmpty(spark),
      s"$what left cached plans behind — pair cache leak")
    val extra = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    // the sink's scope releases its own checkpoint deterministically and
    // unpersists the builder's pair relation, so NOTHING may linger — an
    // exact bound, not a ContextCleaner race
    assert(extra.isEmpty,
      s"$what left ${extra.size} persistent RDDs " +
        s"(${extra.mkString(",")}) — per-batch cache/checkpoint leak")
  }

  /** A batch whose main-table write fails (the pre-created `db.docs` has a
    * column the batch lacks) must propagate the error AND release
    * everything it pinned on the way. */
  private def failingBatch(db: String)(batch: => Unit): Unit = {
    spark.catalog.clearCache()
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"CREATE TABLE $db.docs (doc_id BIGINT, text STRING, " +
      "missing_col STRING, dl_ingest_date STRING) USING parquet " +
      "PARTITIONED BY (dl_ingest_date)")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    try {
      intercept[org.apache.spark.sql.AnalysisException](batch)
      assertReleased(baseline, s"$db failing batch")
    } finally spark.sql(s"DROP DATABASE $db CASCADE")
  }

  test("minhash admission releases its pair cache every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_minhash", Seq("docs", "docs_minhash_sigs")) { i =>
      val b = Seq(
        (i * 10L + 1, s"unique topic $i alpha beta gamma delta epsilon", "en"),
        (i * 10L + 2, s"another document for batch $i zeta eta theta", "en"))
        .toDF("doc_id", "text", "lang")
      StreamingIngest.admitBatch(b, "hygiene_minhash", "docs", 0.8,
        tag = f"t_b$i%05d")
    }
  }

  test("containment admission releases its pair cache every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_contain", Seq("docs", "docs_wordminhash_sigs")) { i =>
      val b = Seq(
        (i * 10L + 1, s"containment batch $i words one two three four five six", "en"),
        (i * 10L + 2, s"other text in batch $i seven eight nine ten eleven", "en"))
        .toDF("doc_id", "text", "lang")
      StreamingIngest.admitContainmentBatch(b, "hygiene_contain", "docs", 0.8,
        tag = f"t_b$i%05d")
    }
  }

  test("embedding admission releases its pair cache every micro-batch") {
    import spark.implicits._
    def vec(hot: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(hot % 64) = 1.0f; a
    }
    runBatches("hygiene_emb", Seq("vecs", "vecs_emb_buckets")) { i =>
      val b = Seq((i * 10L + 1, vec(2 * i)), (i * 10L + 2, vec(2 * i + 1)))
        .toDF("vec_id", "embedding")
      StreamingIngest.admitEmbeddingBatch(b, "hygiene_emb", "vecs", 0.9,
        bits = 16, tag = f"t_b$i%05d")
    }
  }

  test("phash admission releases its hash pins every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_phash", Seq("media", "media_phash")) { i =>
      val b = graft.mm.Multimodal.mediaTable(Seq(
        (i * 10L + 1, s"media payload $i " * 20, "en"),
        (i * 10L + 2, s"other bytes ${i * 7} " * 20, "en"))
        .toDF("doc_id", "text", "lang"))
      StreamingIngest.admitPhashBatch(b, "hygiene_phash", "media", 2,
        tag = f"t_b$i%05d")
    }
  }

  test("span annotation releases its batch pin and checkpoint every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_span", Seq("docs", "docs_span_grams")) { i =>
      val b = Seq(
        (i * 10L + 1, s"span batch $i one two three four five six seven eight"),
        (i * 10L + 2, s"span batch $i one two three four five six seven nine"))
        .toDF("doc_id", "text")
      StreamingIngest.annotateSpanBatch(b, "hygiene_span", "docs", tag = f"t_b$i%05d")
    }
  }

  test("novelty scoring releases its batch pin and checkpoint every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_nov", Seq("docs", "docs_novelty_grams")) { i =>
      val b = Seq(
        (i * 10L + 1, s"novelty batch $i with a few plain words"),
        (i * 10L + 2, s"novelty batch $i with a few other words"))
        .toDF("doc_id", "text")
      StreamingIngest.scoreNoveltyBatch(b, "hygiene_nov", "docs", tag = f"t_b$i%05d")
    }
  }

  test("a failing minhash admission batch releases everything it pinned") {
    import spark.implicits._
    val b = Seq((1L, "a failing batch with enough words to sign it"))
      .toDF("doc_id", "text")
    failingBatch("hygiene_fail_minhash") {
      StreamingIngest.admitBatch(b, "hygiene_fail_minhash", "docs", 0.8,
        tag = "t_b00000")
    }
  }

  test("a failing curation batch releases everything it pinned") {
    import spark.implicits._
    val b = Seq((1L,
      "long enough quality text for the failing batch with many plain words " +
        "that pass the gate because they look like real sentences " * 2))
      .toDF("doc_id", "text")
    failingBatch("hygiene_fail_cur") {
      StreamingIngest.admitCurationBatch(b, "hygiene_fail_cur", "docs",
        minQuality = 0.2, threshold = 0.8, tag = "t_b00000")
    }
  }

  test("curation admission releases its pair cache every micro-batch") {
    import spark.implicits._
    runBatches("hygiene_cur", Seq("docs", "docs_fps", "docs_minhash_sigs")) { i =>
      val b = Seq(
        (i * 10L + 1,
          s"long enough quality text for batch $i with many plain words " +
            "that pass the gate because they look like real sentences " * 2),
        (i * 10L + 2,
          s"a second acceptable document in batch $i that also reads " +
            "like genuine prose with ordinary words and punctuation " * 2))
        .toDF("doc_id", "text")
      StreamingIngest.admitCurationBatch(b, "hygiene_cur", "docs",
        minQuality = 0.2, threshold = 0.8, tag = f"t_b$i%05d")
    }
  }
}
