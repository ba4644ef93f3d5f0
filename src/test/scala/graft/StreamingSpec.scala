package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingIngest

/** Structured-Streaming analog of incremental append: file-source deltas,
  * event-time windows with watermark, streaming dedup. Driven synchronously
  * via memory sinks + processAllAvailable. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val staticEvents = {
    GraftSession.tune(spark)
    spark.read.parquet(TestSpark.sf("sf0.001") + "/events.parquet")
  }

  /** Publish a batch into a watched directory ATOMICALLY. A plain
    * `df.write.parquet(watched/bN)` lands part-files one by one while the
    * query's triggers keep firing, so one logical batch can split across
    * micro-batches — admission sinks with in-batch tie-breaks (smaller id
    * wins) then see the "later" doc as history and the assertion flakes.
    * Writing to a staging dir and renaming it in makes all files appear in
    * a single listing. */
  private def publishBatch(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
    val stage = Files.createTempDirectory("graft-stage").toString + "/d"
    df.write.mode("overwrite").parquet(stage)
    Files.move(java.nio.file.Paths.get(stage), java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  test("windowed counts over a file stream match the batch equivalent") {
    val dir = Files.createTempDirectory("graft-stream").toString
    staticEvents.write.mode("overwrite").parquet(dir)

    val stream = StreamingIngest.appendStream(
      spark, dir, staticEvents.schema, tag = "20240101T000000")
    val q = StreamingIngest.toMemorySink(
      StreamingIngest.windowedCounts(stream), "win_counts", "complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("win_counts")
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val batch = staticEvents
      .withColumn("event_time", col("ts").cast("timestamp"))
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("second file appears as an incremental delta batch") {
    val dir = Files.createTempDirectory("graft-stream2").toString
    val half = staticEvents.where(col("event_id") < 500)
    half.write.mode("overwrite").parquet(dir + "/b1")

    val src = StreamingIngest.appendStream(
      spark, dir + "/*", staticEvents.schema, tag = "t")
    val q = StreamingIngest.toMemorySink(
      src.groupBy().agg(count(lit(1)).as("n")), "delta_counts", "complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("delta_counts").head().getLong(0) == half.count())
      staticEvents.where(col("event_id") >= 500)
        .write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
      assert(spark.table("delta_counts").head().getLong(0) == staticEvents.count())
    } finally q.stop()
  }

  test("streaming merge keeps latest-per-key state matching batch reconcile") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-merge").toString
    // 4 versions per key spread over two delta files
    val versioned = staticEvents.withColumn("key", col("event_id") % 250)
    versioned.where(col("event_id") < 500).write.mode("overwrite").parquet(dir + "/b1")

    val stream = StreamingIngest.mergeStream(
      spark.readStream.schema(versioned.schema).parquet(dir + "/*"),
      keyCols = Seq("key"), versionCol = "ts")
    val q = StreamingIngest.toMemorySink(stream, "merge_out", "update").start()
    try {
      q.processAllAvailable()
      versioned.where(col("event_id") >= 500).write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()

    // final state = highest-version emission per key; must equal the batch
    // reconcile over the full history
    val emitted = spark.table("merge_out")
    val finalState = operators.Reconcile.latestPerKey(
      emitted, Seq("key"), Seq(col("ts").desc))
    val batch = operators.Reconcile.latestPerKey(
      versioned, Seq("key"), Seq(col("ts").desc))
    assert(finalState.count() == 250)
    assert(finalState.select("key", "ts", "event_id").except(
      batch.select("key", "ts", "event_id")).count() == 0)
    assert(batch.select("key", "ts", "event_id").except(
      finalState.select("key", "ts", "event_id")).count() == 0)
  }

  test("mergeStream keeps composite keys distinct (no concat collision, null != \"null\")") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-ck").toString
    // four DISTINCT composite keys that a separator-less (or naive
    // String.valueOf) concat would collapse: ("ab","c") vs ("a","bc"),
    // and (null,"c") vs ("null","c")
    val b1 = Seq(
      ("ab", "c", 100L, "p1"),
      ("a", "bc", 100L, "p2"),
      (null.asInstanceOf[String], "c", 100L, "p3"),
      ("null", "c", 100L, "p4"))
      .toDF("k1", "k2", "ts", "payload")
    b1.write.mode("overwrite").parquet(dir + "/b1")

    val stream = StreamingIngest.mergeStream(
      spark.readStream.schema(b1.schema).parquet(dir + "/*"),
      keyCols = Seq("k1", "k2"), versionCol = "ts")
    val q = StreamingIngest.toMemorySink(stream, "ck_out", "update").start()
    try {
      q.processAllAvailable()
      // all four keys are distinct state slots -> all four rows emit
      assert(spark.table("ck_out").count() == 4)
      // an update to ("ab","c") must not touch ("a","bc")
      Seq(("ab", "c", 200L, "p1v2")).toDF("k1", "k2", "ts", "payload")
        .write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ck_out")
    assert(out.count() == 5)
    assert(out.where(col("payload") === "p1v2").count() == 1)
    // every original payload emitted exactly once (no silent key merge)
    assert(out.select("payload").distinct().count() == 5)
  }

  test("mergeStream version tie: later micro-batch overwrites, matching batch tag DESC") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-tie").toString
    val mk = (p: String) => Seq(("k1", 100L, p)).toDF("key", "ts", "payload")
    mk("first").write.mode("overwrite").parquet(dir + "/b1")
    val stream = StreamingIngest.mergeStream(
      spark.readStream.schema(mk("x").schema).parquet(dir + "/*"),
      keyCols = Seq("key"), versionCol = "ts")
    val q = StreamingIngest.toMemorySink(stream, "tie_out", "update").start()
    try {
      q.processAllAvailable()
      assert(spark.table("tie_out").count() == 1)
      // same key, SAME version from a later micro-batch: >= means the
      // later arrival wins and re-emits (batch reconcile: tag DESC ->
      // later ingest wins on equal last_modified)
      mk("second").write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
      assert(spark.table("tie_out").where(col("payload") === "second").count() == 1)
      // strictly-older version still loses: no emission
      Seq(("k1", 50L, "stale")).toDF("key", "ts", "payload")
        .write.mode("overwrite").parquet(dir + "/b3")
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.table("tie_out").count() == 2)
    assert(spark.table("tie_out").where(col("payload") === "stale").isEmpty)
  }

  test("streaming session_window matches the batch lag-based sessionization") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sess").toString
    staticEvents.write.mode("overwrite").parquet(dir)
    val stream = StreamingIngest.appendStream(
      spark, dir, staticEvents.schema, tag = "t")
    val q = StreamingIngest.toMemorySink(
      StreamingIngest.sessionCounts(stream), "sess_out", "complete").start()
    try q.processAllAvailable() finally q.stop()

    // batch reference: the lag+cumsum sessionize (same 30-min gap)
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val batch = staticEvents
      .select(col("user_id"), graft.sources.Tables.eventUs.as("ts_us"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts_us") - col("prev_ts") > lit(1800000000L), lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id").agg(count(lit(1)).as("n_events"))

    // identical session structure: same multiset of (user, events-in-session)
    val streamed = spark.table("sess_out")
      .select(col("user_id"), col("n_events")).as[(Long, Long)]
      .collect().sorted.toSeq
    val expected = batch.select(col("user_id"), col("n_events")).as[(Long, Long)]
      .collect().sorted.toSeq
    assert(streamed == expected)
  }

  test("foreachBatch ingest sink accumulates like the batch append loader") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-sink").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite").parquet(dir + "/b1")

    spark.sql("CREATE DATABASE IF NOT EXISTS stream_sink")
    spark.sql("DROP TABLE IF EXISTS stream_sink.events")
    val stream = StreamingIngest.appendStream(
      spark, dir + "/*", staticEvents.schema, tag = "ignored")
      .drop("dl_ingest_date") // the sink applies its own per-batch tag
    val q = StreamingIngest.toIngestSink(
      stream, "stream_sink", "events", incrementalColumn = "event_id",
      tagPrefix = "20240101T000000").start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_sink.events").count() == 400)
      staticEvents.where(col("event_id") >= 400).write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()

    val dest = spark.table("stream_sink.events")
    assert(dest.count() == staticEvents.count())
    // per-batch tags partition the destination like the reference's loader
    assert(dest.select("dl_ingest_date").distinct().count() >= 2)
    assert(dest.select("event_id").distinct().count() == staticEvents.count())
    spark.sql("DROP DATABASE stream_sink CASCADE")
  }

  test("near-dup admission sink drops duplicates against history and within batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-neardup").toString
    def doc(id: Long, text: String) = (id, text, "en")
    val tA = "the quick brown fox jumps over the lazy dog again and again"
    val tB = "completely different content about spark structured streaming joins"
    val tC = "a third unrelated document describing minhash banding at scale"
    val tD = "fresh fourth text with novel words nowhere else in this corpus"
    // batch 1: three distinct docs plus an in-batch exact dup of doc 2
    val b1 = Seq(doc(1, tA), doc(2, tB), doc(3, tC), doc(4, tB))
      .toDF("doc_id", "text", "lang")
    b1.write.mode("overwrite").parquet(dir + "/b1")

    spark.sql("CREATE DATABASE IF NOT EXISTS neardup_sink")
    spark.sql("DROP TABLE IF EXISTS neardup_sink.docs")
    spark.sql("DROP TABLE IF EXISTS neardup_sink.docs_minhash_sigs")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toNearDupFilteredSink(
      stream, "neardup_sink", "docs").start()
    try {
      q.processAllAvailable()
      // 4 dropped (in-batch dup of 2); 1,2,3 admitted
      assert(spark.table("neardup_sink.docs").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // batch 2: dup of history doc 1, one new doc, an in-batch dup of it
      publishBatch(Seq(doc(11, tA), doc(12, tD), doc(13, tD))
        .toDF("doc_id", "text", "lang"), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    // appends happened in the stream's cloned session; this session read
    // the table mid-test and must refresh its cached file listing
    spark.catalog.refreshTable("neardup_sink.docs")
    assert(spark.table("neardup_sink.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    // the standing LSH index covers exactly the admitted docs
    assert(spark.table("neardup_sink.docs_minhash_sigs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    spark.sql("DROP DATABASE neardup_sink CASCADE")
  }

  test("containment admission sink drops subset-duplicates vs history and in batch") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS containment_sink")
    spark.sql("DROP TABLE IF EXISTS containment_sink.docs")
    spark.sql("DROP TABLE IF EXISTS containment_sink.docs_wordminhash_sigs")
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "some second body of text entirely unlike the first one here"
    val b1 = Seq((1L, tA, "en"), (2L, tB, "en")).toDF("doc_id", "text", "lang")
    StreamingIngest.admitContainmentBatch(
      b1, "containment_sink", "docs", 0.6, tag = "t_b00000")
    spark.catalog.refreshTable("containment_sink.docs")
    assert(spark.table("containment_sink.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // batch 2: doc 11 CONTAINS admitted doc 1 wholesale (one extra token);
    // doc 12 is novel; doc 13 contains doc 12 in-batch -> keep smaller id
    val tD = "fresh fourth text with novel words nowhere else in corpus now"
    val b2 = Seq(
      (11L, tA + " lambda", "en"),
      (12L, tD, "en"),
      (13L, tD + " rho", "en")).toDF("doc_id", "text", "lang")
    StreamingIngest.admitContainmentBatch(
      b2, "containment_sink", "docs", 0.6, tag = "t_b00001")
    spark.catalog.refreshTable("containment_sink.docs")
    spark.catalog.refreshTable("containment_sink.docs_wordminhash_sigs")
    assert(spark.table("containment_sink.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 12L))
    // the standing word-sig index covers exactly the admitted docs
    assert(spark.table("containment_sink.docs_wordminhash_sigs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 12L))
    // retry idempotency: re-running batch 2 with the same tag leaves
    // counts unchanged
    StreamingIngest.admitContainmentBatch(
      b2, "containment_sink", "docs", 0.6, tag = "t_b00001")
    spark.catalog.refreshTable("containment_sink.docs")
    assert(spark.table("containment_sink.docs").count() == 3)
    spark.sql("DROP DATABASE containment_sink CASCADE")
  }

  test("near-dup admission batches are idempotent under retry") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS neardup_retry")
    spark.sql("DROP TABLE IF EXISTS neardup_retry.docs")
    spark.sql("DROP TABLE IF EXISTS neardup_retry.docs_minhash_sigs")
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
      (2L, "some second body of text entirely unlike the first one", "en"))
      .toDF("doc_id", "text", "lang")
    StreamingIngest.admitBatch(b1, "neardup_retry", "docs", 0.8, tag = "t_b00000")
    // at-least-once delivery: the SAME batch re-runs with the same tag —
    // dynamic partition overwrite must leave no duplicates
    StreamingIngest.admitBatch(b1, "neardup_retry", "docs", 0.8, tag = "t_b00000")
    spark.catalog.refreshTable("neardup_retry.docs")
    spark.catalog.refreshTable("neardup_retry.docs_minhash_sigs")
    assert(spark.table("neardup_retry.docs").count() == 2)
    assert(spark.table("neardup_retry.docs_minhash_sigs").count() == 2)
    // the next batch still dedups correctly against the retried history
    val b2 = Seq(
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota", "en"))
      .toDF("doc_id", "text", "lang")
    StreamingIngest.admitBatch(b2, "neardup_retry", "docs", 0.8, tag = "t_b00001")
    spark.catalog.refreshTable("neardup_retry.docs")
    assert(spark.table("neardup_retry.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("DROP DATABASE neardup_retry CASCADE")
  }

  test("a first batch retried after dying between its writes admits like a clean run") {
    import spark.implicits._
    // docs 1/2 are exact copies (2 is dropped in-batch); 3 is distinct
    val b1 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota", "en"),
      (3L, "some second body of text entirely unlike the first one", "en"))
      .toDF("doc_id", "text", "lang")
    def admitted(db: String): Seq[Long] = {
      spark.catalog.refreshTable(s"$db.docs")
      spark.table(s"$db.docs").select("doc_id").as[Long].collect().sorted.toSeq
    }
    Seq("torn_clean", "torn_retry").foreach { db =>
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      spark.sql(s"CREATE DATABASE $db")
      StreamingIngest.admitBatch(b1, db, "docs", 0.8, tag = "t_b00000")
    }
    // batch 0 died after its main write: the index table never appeared
    spark.sql("DROP TABLE torn_retry.docs_minhash_sigs")
    // the retry of the same tag must take the cold path again
    StreamingIngest.admitBatch(b1, "torn_retry", "docs", 0.8, tag = "t_b00000")
    assert(admitted("torn_clean") == Seq(1L, 3L))
    assert(admitted("torn_retry") == admitted("torn_clean"))
    assert(spark.table("torn_retry.docs_minhash_sigs").count() == 2)
    Seq("torn_clean", "torn_retry").foreach(db => spark.sql(s"DROP DATABASE $db CASCADE"))
  }

  test("span-stats sink annotates batches against the standing gram index") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-span").toString
    val p = (1 to 10).map("p" + _).mkString(" ")
    // docs 1/2 share a 10-token prefix (in-batch duplication); 3 is clean
    val b1 = Seq(
      (1L, p + " u1 u2 u3"),
      (2L, p + " v1 v2 v3"),
      (3L, (1 to 12).map("q" + _).mkString(" "))).toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS span_sink")
    spark.sql("DROP TABLE IF EXISTS span_sink.docs")
    spark.sql("DROP TABLE IF EXISTS span_sink.docs_span_grams")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toSpanStatsSink(stream, "span_sink", "docs").start()
    try {
      q.processAllAvailable()
      val r1 = spark.table("span_sink.docs")
        .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
      assert(r1 == Map(1L -> 10L, 2L -> 10L, 3L -> 0L))
      // batch 2: a verbatim copy of doc 3's text — fully covered vs the
      // HISTORY index alone (doc 3's stored row stays 0: stats record
      // coverage at admission time)
      Seq((11L, (1 to 12).map("q" + _).mkString(" "))).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("span_sink.docs")
    val r2 = spark.table("span_sink.docs")
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 10L, 2L -> 10L, 3L -> 0L, 11L -> 12L))
    spark.sql("DROP DATABASE span_sink CASCADE")
  }

  test("span-stats batches are idempotent under retry") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS span_retry")
    spark.sql("DROP TABLE IF EXISTS span_retry.docs")
    spark.sql("DROP TABLE IF EXISTS span_retry.docs_span_grams")
    val p = (1 to 10).map("p" + _).mkString(" ")
    val b1 = Seq((1L, p + " u1 u2 u3"), (2L, p + " v1 v2 v3"))
      .toDF("doc_id", "text")
    StreamingIngest.annotateSpanBatch(b1, "span_retry", "docs", tag = "t_b00000")
    // at-least-once delivery: the same batch re-runs with the same tag —
    // the gram index must not double-count its contribution
    StreamingIngest.annotateSpanBatch(b1, "span_retry", "docs", tag = "t_b00000")
    spark.catalog.refreshTable("span_retry.docs")
    spark.catalog.refreshTable("span_retry.docs_span_grams")
    assert(spark.table("span_retry.docs").count() == 2)
    val maxHc = spark.table("span_retry.docs_span_grams")
      .agg(org.apache.spark.sql.functions.max("hc")).as[Long].head()
    assert(maxHc == 2L, s"retry double-counted the gram index: max hc $maxHc")
    // the next batch still sees single-counted history: a copy of doc 1
    // is fully covered (13 of 13 tokens), not perturbed by the retry
    val b2 = Seq((11L, p + " u1 u2 u3")).toDF("doc_id", "text")
    StreamingIngest.annotateSpanBatch(b2, "span_retry", "docs", tag = "t_b00001")
    spark.catalog.refreshTable("span_retry.docs")
    val r = spark.table("span_retry.docs")
      .where($"doc_id" === 11L)
      .select("dup_tokens").as[Long].head()
    assert(r == 13L)
    spark.sql("DROP DATABASE span_retry CASCADE")
  }

  test("span sink restart from checkpoint does not reprocess admitted batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-spanrestart").toString
    val ckpt = dir + "/ckpt"
    val p = (1 to 10).map("p" + _).mkString(" ")
    val b1 = Seq((1L, p + " u1 u2 u3"), (2L, p + " v1 v2 v3"))
      .toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(dir + "/in/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS span_restart")
    spark.sql("DROP TABLE IF EXISTS span_restart.docs")
    spark.sql("DROP TABLE IF EXISTS span_restart.docs_span_grams")
    def start() = StreamingIngest.toSpanStatsSink(
      spark.readStream.schema(b1.schema).parquet(dir + "/in/*"),
      "span_restart", "docs")
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // new data lands while the stream is DOWN; the restarted query must
    // resume from the checkpoint, see only the new file, and leave the
    // already-admitted batch untouched
    Seq((11L, p + " u1 u2 u3")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir + "/in/b2")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    spark.catalog.refreshTable("span_restart.docs")
    val r = spark.table("span_restart.docs")
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
    // exactly-once: three docs, no replay duplicates; doc 11 fully
    // covered against the batch-1 history index (13 of 13 tokens)
    assert(spark.table("span_restart.docs").count() == 3)
    assert(r == Map(1L -> 10L, 2L -> 10L, 11L -> 13L))
    spark.sql("DROP DATABASE span_restart CASCADE")
  }

  test("embedding admission sink drops semantic dups against history and within batch") {
    import spark.implicits._
    // one-hot 64-dim vectors: same direction => cosine 1.0 (dup at any
    // threshold), different axes => cosine 0.0 (never a dup)
    def vec(hot: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(hot) = scale; a
    }
    val dir = Files.createTempDirectory("graft-stream-embdup").toString
    val b1 = Seq((1L, vec(0, 1f)), (2L, vec(1, 1f)), (3L, vec(2, 1f)),
      (4L, vec(1, 2f))) // same direction as vec 2: in-batch dup
      .toDF("vec_id", "embedding")
    b1.write.mode("overwrite").parquet(dir + "/b1")

    spark.sql("CREATE DATABASE IF NOT EXISTS embdup_sink")
    spark.sql("DROP TABLE IF EXISTS embdup_sink.vecs")
    spark.sql("DROP TABLE IF EXISTS embdup_sink.vecs_emb_buckets")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toEmbeddingDedupSink(
      stream, "embdup_sink", "vecs").start()
    try {
      q.processAllAvailable()
      assert(spark.table("embdup_sink.vecs").select("vec_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // batch 2: dup of history vec 1, one novel axis, an in-batch dup of it
      publishBatch(Seq((11L, vec(0, 3f)), (12L, vec(3, 1f)), (13L, vec(3, 5f)))
        .toDF("vec_id", "embedding"), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("embdup_sink.vecs")
    assert(spark.table("embdup_sink.vecs").select("vec_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    // the standing bucket index covers exactly the admitted vectors
    spark.catalog.refreshTable("embdup_sink.vecs_emb_buckets")
    assert(spark.table("embdup_sink.vecs_emb_buckets").select("vec_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    spark.sql("DROP DATABASE embdup_sink CASCADE")
  }

  test("embedding admission batches are idempotent under retry") {
    import spark.implicits._
    def vec(hot: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.0f); a(hot) = scale; a
    }
    spark.sql("CREATE DATABASE IF NOT EXISTS embdup_retry")
    spark.sql("DROP TABLE IF EXISTS embdup_retry.vecs")
    spark.sql("DROP TABLE IF EXISTS embdup_retry.vecs_emb_buckets")
    val b1 = Seq((1L, vec(0, 1f)), (2L, vec(1, 1f))).toDF("vec_id", "embedding")
    StreamingIngest.admitEmbeddingBatch(
      b1, "embdup_retry", "vecs", 0.45, bits = 6, tag = "t_b00000")
    // at-least-once delivery: the SAME batch re-runs with the same tag
    StreamingIngest.admitEmbeddingBatch(
      b1, "embdup_retry", "vecs", 0.45, bits = 6, tag = "t_b00000")
    spark.catalog.refreshTable("embdup_retry.vecs")
    spark.catalog.refreshTable("embdup_retry.vecs_emb_buckets")
    assert(spark.table("embdup_retry.vecs").count() == 2)
    assert(spark.table("embdup_retry.vecs_emb_buckets").count() == 2)
    // the next batch still dedups against the retried history
    val b2 = Seq((11L, vec(1, 4f))).toDF("vec_id", "embedding")
    StreamingIngest.admitEmbeddingBatch(
      b2, "embdup_retry", "vecs", 0.45, bits = 6, tag = "t_b00001")
    spark.catalog.refreshTable("embdup_retry.vecs")
    assert(spark.table("embdup_retry.vecs").select("vec_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("DROP DATABASE embdup_retry CASCADE")
  }

  test("phash admission sink appends only perceptually novel media") {
    import spark.implicits._
    import graft.mm.Multimodal
    def mediaOf(rows: Seq[(Long, String)]) =
      Multimodal.mediaTable(
        rows.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang"))
    val tA = "aaaa bbbb " * 20
    val tB = "1234 5678 " * 20
    val tC = "zzzz yyyy " * 20
    val tD = "mmmm nnnn qqqq " * 15
    // precondition: the four texts are mutually far in hamming space
    assert(Multimodal.phashNearDupPairs(spark,
      mediaOf(Seq((1L, tA), (2L, tB), (3L, tC), (4L, tD))), 2).isEmpty)

    val dir = Files.createTempDirectory("graft-stream-phash").toString
    val b1 = mediaOf(Seq((1L, tA), (2L, tB), (3L, tC)))
    b1.write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS phash_sink")
    spark.sql("DROP TABLE IF EXISTS phash_sink.media")
    spark.sql("DROP TABLE IF EXISTS phash_sink.media_phash")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toPhashDedupSink(stream, "phash_sink", "media").start()
    try {
      q.processAllAvailable()
      assert(spark.table("phash_sink.media").select("media_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
      // batch 2: a copy of history item 1, one novel, an in-batch dup of it
      publishBatch(mediaOf(Seq((11L, tA), (12L, tD), (13L, tD))), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("phash_sink.media")
    assert(spark.table("phash_sink.media").select("media_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    // the standing hash index covers exactly the admitted media
    spark.catalog.refreshTable("phash_sink.media_phash")
    assert(spark.table("phash_sink.media_phash").select("media_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 12L))
    spark.sql("DROP DATABASE phash_sink CASCADE")
  }

  test("phash admission works over REAL PNG payloads (decode kernel in the stream)") {
    import spark.implicits._
    import graft.mm.{ImagePhash, Multimodal}
    // pick a planted near-dup pair (same family, hamming <= 2) and two
    // far ids, from the deterministic generator — driver-side, no Spark.
    // Hashes computed once (each is a full grid + DCT) and the pair
    // search is lazy, so the setup stays milliseconds.
    val hashes = (0L until 200L).map(id => id -> ImagePhash.phash(ImagePhash.pixelGrid(id))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    val (near1, near2) = (for {
      a <- (0L until 100L).view; b <- (a + 1 until 200L).view
      if a % ImagePhash.Groups == b % ImagePhash.Groups && ham(a, b) <= 2
    } yield (a, b)).head
    // the admitted-set assertion needs far(0) and far(1) MUTUALLY far
    // too (far(1) is checked against the standing index holding far(0)),
    // so pin that precondition in the selection itself
    val farCands = (0L until 200L)
      .filter(c => c != near1 && c != near2 && ham(c, near1) > 2 && ham(c, near2) > 2)
    val far = Seq(farCands.head,
      farCands.find(c => ham(c, farCands.head) > 2).get)
    def pngOf(ids: Seq[Long]) =
      Multimodal.pngMediaTable(spark, ids.toDF("doc_id"))
    val dir = Files.createTempDirectory("graft-stream-png").toString
    val b1 = pngOf(Seq(near1, far(0)))
    b1.write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS png_sink")
    spark.sql("DROP TABLE IF EXISTS png_sink.media")
    spark.sql("DROP TABLE IF EXISTS png_sink.media_phash")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toPhashDedupSink(stream, "png_sink", "media").start()
    try {
      q.processAllAvailable()
      // batch 2: a same-family rendition of near1 (rejected by the REAL
      // decode + DCT path) and a far image (admitted)
      publishBatch(pngOf(Seq(near2, far(1))), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("png_sink.media")
    assert(spark.table("png_sink.media").select("media_id")
      .as[Long].collect().sorted.toSeq == Seq(near1, far(0), far(1)).sorted)
    spark.sql("DROP DATABASE png_sink CASCADE")
  }

  test("phash admission works over REAL GIF payloads (modality-generic dispatch)") {
    import spark.implicits._
    import graft.mm.{Multimodal, VideoFingerprint}
    // same shape as the PNG test, over the costliest codec: the admission
    // sink never special-cases a modality — perceptualHashes dispatches on
    // the format column, so the identical pipeline decodes GIF frames.
    val hashes = (0L until 200L)
      .map(id => id -> VideoFingerprint.fingerprint(VideoFingerprint.clip(id))).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(hashes(a) ^ hashes(b))
    val (near1, near2) = (for {
      a <- (0L until 100L).view; b <- (a + 1 until 200L).view
      if a % VideoFingerprint.Groups == b % VideoFingerprint.Groups && ham(a, b) <= 2
    } yield (a, b)).head
    // the admitted-set assertion needs far(0) and far(1) MUTUALLY far
    // too (far(1) is checked against the standing index holding far(0)),
    // so pin that precondition in the selection itself
    val farCands = (0L until 200L)
      .filter(c => c != near1 && c != near2 && ham(c, near1) > 2 && ham(c, near2) > 2)
    val far = Seq(farCands.head,
      farCands.find(c => ham(c, farCands.head) > 2).get)
    def gifOf(ids: Seq[Long]) =
      Multimodal.gifMediaTable(spark, ids.toDF("doc_id"))
    val dir = Files.createTempDirectory("graft-stream-gif").toString
    val b1 = gifOf(Seq(near1, far(0)))
    b1.write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS gif_sink")
    spark.sql("DROP TABLE IF EXISTS gif_sink.media")
    spark.sql("DROP TABLE IF EXISTS gif_sink.media_phash")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toPhashDedupSink(stream, "gif_sink", "media").start()
    try {
      q.processAllAvailable()
      // batch 2: a same-family rendition of near1 (rejected by the REAL
      // frame-decode + DCT path) and a far clip (admitted)
      publishBatch(gifOf(Seq(near2, far(1))), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("gif_sink.media")
    assert(spark.table("gif_sink.media").select("media_id")
      .as[Long].collect().sorted.toSeq == Seq(near1, far(0), far(1)).sorted)
    spark.sql("DROP DATABASE gif_sink CASCADE")
  }

  test("phash admission batches are idempotent under retry") {
    import spark.implicits._
    import graft.mm.Multimodal
    def mediaOf(rows: Seq[(Long, String)]) =
      Multimodal.mediaTable(
        rows.map { case (id, t) => (id, t, "en") }.toDF("doc_id", "text", "lang"))
    val tA = "aaaa bbbb " * 20
    val tB = "1234 5678 " * 20
    spark.sql("CREATE DATABASE IF NOT EXISTS phash_retry")
    spark.sql("DROP TABLE IF EXISTS phash_retry.media")
    spark.sql("DROP TABLE IF EXISTS phash_retry.media_phash")
    val b1 = mediaOf(Seq((1L, tA), (2L, tB)))
    StreamingIngest.admitPhashBatch(b1, "phash_retry", "media", 2, tag = "t_b00000")
    // at-least-once delivery: the SAME batch re-runs with the same tag
    StreamingIngest.admitPhashBatch(b1, "phash_retry", "media", 2, tag = "t_b00000")
    spark.catalog.refreshTable("phash_retry.media")
    spark.catalog.refreshTable("phash_retry.media_phash")
    assert(spark.table("phash_retry.media").count() == 2)
    assert(spark.table("phash_retry.media_phash").count() == 2)
    // the next batch still dedups against the retried history
    StreamingIngest.admitPhashBatch(
      mediaOf(Seq((11L, tB))), "phash_retry", "media", 2, tag = "t_b00001")
    spark.catalog.refreshTable("phash_retry.media")
    assert(spark.table("phash_retry.media").select("media_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("DROP DATABASE phash_retry CASCADE")
  }

  test("curation sink: quality gate, exact and near dedup per micro-batch") {
    import spark.implicits._
    val good1 = "the cat sat on the mat and the dog ran to the park because " +
      "it was warm and the sun was out over the hills and the river " * 3
    val good2 = "alpha numeric spark engines process huge columnar batches " +
      "with vectorized readers while the optimizer prunes partitions " * 3
    val good3 = "seven bright students study clustering algorithms in the " +
      "evening and they often discuss the merits of hashing designs " * 3
    val bad = "zxqwv"
    def docsOf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

    val dir = Files.createTempDirectory("graft-stream-curation").toString
    docsOf(1L -> good1, 2L -> good2, 3L -> bad, 4L -> good2)
      .write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS curation_sink")
    Seq("docs", "docs_fps", "docs_minhash_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS curation_sink.$t"))
    val stream = spark.readStream
      .schema(docsOf(1L -> good1).schema).parquet(dir + "/*")
    val q = StreamingIngest.toCurationSink(
      stream, "curation_sink", "docs", minQuality = 0.2).start()
    try {
      q.processAllAvailable()
      // 3 fails quality, 4 is an in-batch exact dup of 2
      assert(spark.table("curation_sink.docs").select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      // b2: exact dup of history, near-dup of history, novel, low quality
      docsOf(11L -> good1, 12L -> (good1 + " more"),
        13L -> good3, 14L -> "qq zz")
        .write.mode("overwrite").parquet(dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("curation_sink.docs")
    assert(spark.table("curation_sink.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 13L))
    // the standing fp + signature tables cover exactly the admitted docs
    for (t <- Seq("curation_sink.docs_fps", "curation_sink.docs_minhash_sigs")) {
      spark.catalog.refreshTable(t)
      assert(spark.table(t).select("doc_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 13L), t)
    }
    spark.sql("DROP DATABASE curation_sink CASCADE")
  }

  test("curation batches are idempotent under retry") {
    import spark.implicits._
    val good1 = "the cat sat on the mat and the dog ran to the park because " +
      "it was warm and the sun was out over the hills and the river " * 3
    val good2 = "alpha numeric spark engines process huge columnar batches " +
      "with vectorized readers while the optimizer prunes partitions " * 3
    spark.sql("CREATE DATABASE IF NOT EXISTS curation_retry")
    Seq("docs", "docs_fps", "docs_minhash_sigs")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS curation_retry.$t"))
    val b1 = Seq(1L -> good1, 2L -> good2).toDF("doc_id", "text")
    StreamingIngest.admitCurationBatch(
      b1, "curation_retry", "docs", 0.2, 0.8, tag = "t_b00000")
    StreamingIngest.admitCurationBatch(
      b1, "curation_retry", "docs", 0.2, 0.8, tag = "t_b00000")
    for (t <- Seq("docs", "docs_fps", "docs_minhash_sigs")) {
      spark.catalog.refreshTable(s"curation_retry.$t")
      assert(spark.table(s"curation_retry.$t").count() == 2, t)
    }
    // the next batch still dedups against the retried history
    StreamingIngest.admitCurationBatch(
      Seq(21L -> good1).toDF("doc_id", "text"),
      "curation_retry", "docs", 0.2, 0.8, tag = "t_b00001")
    spark.catalog.refreshTable("curation_retry.docs")
    assert(spark.table("curation_retry.docs").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    spark.sql("DROP DATABASE curation_retry CASCADE")
  }

  test("streaming dedup drops exact duplicate keys within the watermark") {
    val dir = Files.createTempDirectory("graft-stream3").toString
    // duplicate every event with a nudged event time (+1s): key-only dedup
    // must still drop it — dropDuplicates(keys :+ event_time) would not
    val nudged = staticEvents.withColumn("ts", col("ts") + expr("INTERVAL 1 SECOND"))
    staticEvents.unionAll(nudged).write.mode("overwrite").parquet(dir)
    val stream = StreamingIngest.appendStream(
      spark, dir, staticEvents.schema, tag = "t")
    val q = StreamingIngest.toMemorySink(
      StreamingIngest.dedupStream(stream, Seq("event_id")), "dedup_out", "append").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup_out").count() == staticEvents.count())
  }

  test("stream-stream interval join matches the batch join on replayed data") {
    val dir = Files.createTempDirectory("graft-stream-join").toString
    staticEvents.write.mode("overwrite").parquet(dir)
    def src() = StreamingIngest.appendStream(
      spark, dir, staticEvents.schema, tag = "t")
    val joined = StreamingIngest.correlateStreams(
      views = src().where(col("event_type") === "view"),
      clicks = src().where(col("event_type") === "click"))
    val q = StreamingIngest.toMemorySink(joined, "sj_out", "append").start()
    try q.processAllAvailable() finally q.stop()

    val batch = {
      val ev = staticEvents
        .withColumn("t", col("ts").cast("timestamp"))
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("t").as("view_time"),
          col("event_id").as("view_id"))
      val c = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("t").as("click_time"),
          col("event_id").as("click_id"))
      c.join(v,
        col("c_user") === col("v_user") &&
        col("view_time") <= col("click_time") &&
        col("view_time") >= col("click_time") - expr("INTERVAL 30 minutes"))
        .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
          col("click_time"), col("view_time"))
    }
    val streamed = spark.table("sj_out")
    assert(streamed.count() > 0, "interval join produced no pairs")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("KMV sketch sink folds micro-batches into the lossless standing sketch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-kmv").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS kmv_sink")
    spark.sql("DROP TABLE IF EXISTS kmv_sink.events_kmv")

    val stream = spark.readStream.schema(staticEvents.schema).parquet(dir + "/*")
    val q = StreamingIngest.toSketchSink(stream, "kmv_sink", "events").start()
    try {
      q.processAllAvailable()
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b2")
      q.processAllAvailable()
      // re-publish batch 2's CONTENT as a new file: the min-k union is a
      // set operation, so folding the same elements again must be a no-op
      val before = spark.table("kmv_sink.events_kmv")
        .collect().map(_.toSeq).toSet
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b3")
      q.processAllAvailable()
      spark.catalog.refreshTable("kmv_sink.events_kmv")
      val after = spark.table("kmv_sink.events_kmv")
        .collect().map(_.toSeq).toSet
      assert(after == before, "re-folding identical elements changed the sketch")
    } finally q.stop()

    // the standing sketch equals the direct bottom-k over ALL events —
    // the cross-micro-batch form of the KMV merge-lossless property
    spark.catalog.refreshTable("kmv_sink.events_kmv")
    val k = 64
    val direct = staticEvents
      .select(col("event_type").cast("string").as("g"),
        col("user_id").cast("long").as("key_id"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("key_id").cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("h"), col("key_id"))))
      .where(col("rn") <= k)
      .select("g", "h", "key_id")
      .collect().map(_.toSeq).toSet
    val standing = spark.table("kmv_sink.events_kmv")
      .select("g", "h", "key_id").collect().map(_.toSeq).toSet
    assert(standing == direct,
      "standing sketch diverges from the direct bottom-k over all data")

    // estimates read straight off the sketch and match the same formula
    // computed from the direct sketch — deterministic equality, no noise
    val est = StreamingIngest.kmvEstimates(spark, "kmv_sink", "events")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = staticEvents.groupBy(col("event_type").cast("string").as("g"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (g, e) =>
      val n = exact(g).toDouble
      assert(n < 64 || math.abs(e - n) / n < 0.5,
        s"$g: KMV estimate $e implausibly far from exact $n")
    }
    spark.sql("DROP DATABASE kmv_sink CASCADE")
  }

  test("HLL sink max-merges micro-batch registers into the standing table") {
    val dir = Files.createTempDirectory("graft-stream-hll").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS hll_sink")
    spark.sql("DROP TABLE IF EXISTS hll_sink.events_hll")

    val stream = spark.readStream.schema(staticEvents.schema).parquet(dir + "/*")
    val q = StreamingIngest.toHllSink(stream, "hll_sink", "events").start()
    try {
      q.processAllAvailable()
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b2")
      q.processAllAvailable()
      // re-publish batch 2's CONTENT as a new file: register max-merge is
      // idempotent (max(x, x) = x), so the standing table must not change
      val before = spark.table("hll_sink.events_hll")
        .collect().map(_.toSeq).toSet
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b3")
      q.processAllAvailable()
      spark.catalog.refreshTable("hll_sink.events_hll")
      val after = spark.table("hll_sink.events_hll")
        .collect().map(_.toSeq).toSet
      assert(after == before, "re-folding identical elements changed registers")
    } finally q.stop()

    // standing registers equal the direct one-shot registers over ALL
    // events — the cross-micro-batch form of max-merge losslessness
    spark.catalog.refreshTable("hll_sink.events_hll")
    val direct = staticEvents
      .select(col("event_type").cast("string").as("g"),
        col("user_id").cast("long").as("key_id"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("key_id").cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .select(col("g"), (col("h") % 64).as("bucket"),
        expr("h DIV 64").as("wv"))
      .select(col("g"), col("bucket"),
        when(col("wv") === 0, lit(43))
          .otherwise(lit(43) - length(conv(col("wv"), 10, 2)))
          .cast("int").as("mj"))
      .groupBy("g", "bucket").agg(max(col("mj")).as("mj"))
      .collect().map(_.toSeq).toSet
    val standing = spark.table("hll_sink.events_hll")
      .select("g", "bucket", "mj").collect().map(_.toSeq).toSet
    assert(standing == direct,
      "standing registers diverge from the one-shot registers over all data")

    // estimates are sane against exact distincts (same ±bias tolerance
    // SketchSpec uses for the batch HLL)
    val est = StreamingIngest.hllEstimates(spark, "hll_sink", "events")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = staticEvents.groupBy(col("event_type").cast("string").as("g"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (g, e) =>
      val n = exact(g).toDouble
      assert(math.abs(e - n) / n < 0.5,
        s"$g: HLL estimate $e implausibly far from exact $n")
    }
    spark.sql("DROP DATABASE hll_sink CASCADE")
  }

  test("novelty sink scores batches against the standing gram table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-novelty").toString
    // doc 1 establishes grams; doc 2 repeats them; doc 3 is fresh
    val b1 = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d e"),
      (3L, "x y z w v")).toDF("doc_id", "text")
    b1.write.mode("overwrite").parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS nov_sink")
    spark.sql("DROP TABLE IF EXISTS nov_sink.docs")
    spark.sql("DROP TABLE IF EXISTS nov_sink.docs_novelty_grams")
    val stream = spark.readStream.schema(b1.schema).parquet(dir + "/*")
    val q = StreamingIngest.toNoveltySink(stream, "nov_sink", "docs").start()
    try {
      q.processAllAvailable()
      // batch 2: doc 11 copies doc 1 (novelty 0 vs standing grams),
      // doc 12 is new (novelty 1)
      publishBatch(Seq((11L, "a b c d e"), (12L, "m n o p q"))
        .toDF("doc_id", "text"), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("nov_sink.docs")
    val nov = spark.table("nov_sink.docs")
      .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
    assert(nov == Map(1L -> 1.0, 2L -> 0.0, 3L -> 1.0, 11L -> 0.0, 12L -> 1.0),
      s"streamed novelty diverged: $nov")
    // cross-batch stream state equals the one-shot batch pipeline over
    // the same corpus in ingestion order
    val all = b1.unionByName(
      Seq((11L, "a b c d e"), (12L, "m n o p q")).toDF("doc_id", "text"))
    val batchNov = graft.text.Novelty.score(all)
      .select("doc_id", "novelty").as[(Long, Double)].collect().toMap
    assert(nov == batchNov, "stream state diverges from the batch pipeline")
    spark.sql("DROP DATABASE nov_sink CASCADE")
  }

  test("novelty batches are idempotent under retry") {
    import spark.implicits._
    spark.sql("CREATE DATABASE IF NOT EXISTS nov_retry")
    spark.sql("DROP TABLE IF EXISTS nov_retry.docs")
    spark.sql("DROP TABLE IF EXISTS nov_retry.docs_novelty_grams")
    val b1 = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    StreamingIngest.scoreNoveltyBatch(b1, "nov_retry", "docs", tag = "t_b00000")
    // at-least-once delivery: same batch, same tag — min-merge makes the
    // gram contribution a no-op, and the doc partition overwrites itself
    StreamingIngest.scoreNoveltyBatch(b1, "nov_retry", "docs", tag = "t_b00000")
    spark.catalog.refreshTable("nov_retry.docs")
    spark.catalog.refreshTable("nov_retry.docs_novelty_grams")
    assert(spark.table("nov_retry.docs").count() == 1)
    // the retried tag's own contribution is excluded from its history, so
    // the doc still scores fully novel
    val n = spark.table("nov_retry.docs").select("novelty").as[Double].head()
    assert(n == 1.0, s"retry polluted the doc's own history: novelty $n")
    // a later copy sees single-counted history and scores 0
    StreamingIngest.scoreNoveltyBatch(
      Seq((11L, "a b c d e")).toDF("doc_id", "text"),
      "nov_retry", "docs", tag = "t_b00001")
    spark.catalog.refreshTable("nov_retry.docs")
    val n11 = spark.table("nov_retry.docs").where($"doc_id" === 11L)
      .select("novelty").as[Double].head()
    assert(n11 == 0.0, s"copy of an ingested doc scored novel: $n11")
    spark.sql("DROP DATABASE nov_retry CASCADE")
  }

  test("CMS sink keeps per-batch counter grids; estimates bound exact counts") {
    import graft.functions.Cms
    val dir = Files.createTempDirectory("graft-stream-cms").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS cms_sink")
    spark.sql("DROP TABLE IF EXISTS cms_sink.events_cms")

    val stream = spark.readStream.schema(staticEvents.schema).parquet(dir + "/*")
    val q = StreamingIngest.toCmsSink(stream, "cms_sink", "events").start()
    try {
      q.processAllAvailable()
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("cms_sink.events_cms")

    // standing state is sketch-sized: <= d*w rows per batch tag
    val perTag = spark.table("cms_sink.events_cms")
      .groupBy("dl_ingest_date").count().collect()
    assert(perTag.length == 2, "expected one counter grid per micro-batch")
    perTag.foreach(r => assert(r.getLong(1) <= Cms.Depth.toLong * Cms.Width,
      s"batch grid larger than d*w: $r"))

    // summed grids equal the single-pass CMS over all events (merge =
    // elementwise addition — deterministic equality, not a tolerance)
    val standing = spark.table("cms_sink.events_cms")
      .groupBy("row", "bucket").agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val direct = staticEvents.select(col("user_id").as("k"))
      .select(explode(array((0 until Cms.Depth).map(j =>
        struct(lit(j).as("row"), Cms.bucket(col("k"), j).as("bucket"))): _*))
        .as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(standing == direct,
      "summed per-batch grids diverge from the single-pass CMS")

    // a RETRIED batch tag overwrites its own partition — no double count
    StreamingIngest.foldCmsBatch(
      staticEvents.where(col("event_id") >= 400), "cms_sink", "events",
      keyCol = "user_id", tag = "stream_b00001")
    spark.catalog.refreshTable("cms_sink.events_cms")
    val afterRetry = spark.table("cms_sink.events_cms")
      .groupBy("row", "bucket").agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(afterRetry == direct, "retried tag double-counted its batch")

    // estimates: one-sided error (est >= exact) for every probed key,
    // and 0 for a key the stream never carried
    val keys = staticEvents.select("user_id").distinct()
      .limit(10).collect().map(_.getLong(0)).toSeq
    val est = StreamingIngest.cmsEstimates(spark, "cms_sink", "events",
        keys :+ 999999999L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = staticEvents.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.foreach { u =>
      assert(est(u) >= exact(u), s"CMS underestimated key $u")
    }
    assert(est(999999999L) >= 0)
    spark.sql("DROP DATABASE cms_sink CASCADE")
  }

  test("A/B sink accumulates per-user counters; readout equals the batch z-test") {
    val dir = Files.createTempDirectory("graft-stream-ab").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS ab_sink")
    spark.sql("DROP TABLE IF EXISTS ab_sink.events_ab_users")

    val stream = spark.readStream.schema(staticEvents.schema).parquet(dir + "/*")
    val q = StreamingIngest.toAbTestSink(stream, "ab_sink", "events").start()
    try {
      q.processAllAvailable()
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("ab_sink.events_ab_users")

    // conversion resolves at READ time from summed per-user counters: the
    // streamed readout must equal the one-shot batch readout over the
    // same events — including users whose threshold crossing spans the
    // two micro-batches
    import graft.operators.Experiment
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().head
    val streamed = row(
      StreamingIngest.abTestReadout(spark, "ab_sink", "events"))
    val direct = row {
      val users = staticEvents.groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
        .select(when(col("np") > 12, 1L).otherwise(0L).as("cv"),
          Experiment.cohort(col("user_id")).as("grp"))
      Experiment.zReadout(Experiment.cohortCounts(users))
    }
    assert(streamed == direct,
      s"streamed readout $streamed != batch readout $direct")

    // a RETRIED batch tag overwrites its own partition — no double count
    StreamingIngest.foldAbBatch(
      staticEvents.where(col("event_id") >= 400), "ab_sink", "events",
      tag = "stream_b00001")
    spark.catalog.refreshTable("ab_sink.events_ab_users")
    val afterRetry = row(
      StreamingIngest.abTestReadout(spark, "ab_sink", "events"))
    assert(afterRetry == direct, "retried tag double-counted its batch")
    spark.sql("DROP DATABASE ab_sink CASCADE")
  }

  test("SPRT sink maintains the trial ledger; readout equals the batch curve") {
    val dir = Files.createTempDirectory("graft-stream-sprt").toString
    staticEvents.where(col("event_id") < 400).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS sprt_sink")
    spark.sql("DROP TABLE IF EXISTS sprt_sink.events_sprt_trials")

    val stream = spark.readStream.schema(staticEvents.schema).parquet(dir + "/*")
    val q = StreamingIngest.toSprtSink(stream, "sprt_sink", "events").start()
    try {
      q.processAllAvailable()
      publishBatch(staticEvents.where(col("event_id") >= 400), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("sprt_sink.events_sprt_trials")

    // the ledger MAX-merges per-(day, user) flags across tags: a user
    // whose first purchase of a day arrives in batch 2 must flip that
    // day's sc exactly once, and a (day, user) active in both batches
    // must count as ONE trial — so the streamed curve equals the batch
    // SPRT over the union, decision strings included
    import graft.operators.Experiment
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val streamed = rows(StreamingIngest.sprtReadout(spark, "sprt_sink", "events"))
    val direct = rows(Experiment.sprtCurve(
      staticEvents
        .select(graft.sources.Tables.eventDay.as("day"),
          col("user_id"), col("event_type"))
        .groupBy("day", "user_id")
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("sc"))))
    assert(streamed == direct,
      s"streamed SPRT curve != batch curve\n$streamed\n$direct")
    // cross-batch merge genuinely exercised: some (day, user) appears in
    // both tag partitions (else the split was trivially day-aligned)
    val spanning = spark.table("sprt_sink.events_sprt_trials")
      .groupBy("day", "user_id")
      .agg(countDistinct(col("dl_ingest_date")).as("ntags"))
      .where(col("ntags") > 1).count()
    assert(spanning > 0, "no (day,user) spanned both batches; split is trivial")

    // a RETRIED batch tag rewrites its own partition — max-merge makes
    // the readout a structural no-op
    StreamingIngest.foldSprtBatch(
      staticEvents.where(col("event_id") >= 400), "sprt_sink", "events",
      tag = "stream_b00001")
    spark.catalog.refreshTable("sprt_sink.events_sprt_trials")
    val afterRetry = rows(StreamingIngest.sprtReadout(spark, "sprt_sink", "events"))
    assert(afterRetry == direct, "retried tag perturbed the SPRT curve")
    spark.sql("DROP DATABASE sprt_sink CASCADE")
  }

  test("NB counts sink retrains continuously; model equals the batch trainer") {
    import graft.text.NaiveBayes
    val staticDocs = spark.read
      .parquet(TestSpark.sf("sf0.001") + "/documents.parquet")
    val dir = Files.createTempDirectory("graft-stream-nb").toString
    staticDocs.where(col("doc_id") < 30).write.mode("overwrite")
      .parquet(dir + "/b1")
    spark.sql("CREATE DATABASE IF NOT EXISTS nb_sink")
    spark.sql("DROP TABLE IF EXISTS nb_sink.docs_nb")

    val stream = spark.readStream.schema(staticDocs.schema).parquet(dir + "/*")
    val q = StreamingIngest.toNbCountsSink(stream, "nb_sink", "docs").start()
    try {
      q.processAllAvailable()
      publishBatch(staticDocs.where(col("doc_id") >= 30), dir + "/b2")
      q.processAllAvailable()
    } finally q.stop()
    spark.catalog.refreshTable("nb_sink.docs_nb")

    // standing state is model-sized: <= Width rows per batch tag
    val perTag = spark.table("nb_sink.docs_nb")
      .groupBy("dl_ingest_date").count().collect()
    assert(perTag.length == 2, "expected one counter grid per micro-batch")
    perTag.foreach(r => assert(r.getLong(1) <= NaiveBayes.Width.toLong,
      s"batch counter grid larger than Width: $r"))

    def modelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap

    // summed counters through the SHARED model arithmetic equal training
    // once on the union of both batches — deterministic equality
    val streamed = modelMap(
      StreamingIngest.nbModel(spark, "nb_sink", "docs"))
    val batch = modelMap(
      NaiveBayes.modelFromCounts(NaiveBayes.countsFromDocs(staticDocs)))
    assert(streamed == batch,
      "continuously-trained model diverges from the one-shot batch trainer")

    // a RETRIED batch tag overwrites its own partition — no double count
    StreamingIngest.foldNbBatch(
      staticDocs.where(col("doc_id") >= 30), "nb_sink", "docs",
      tag = "stream_b00001")
    spark.catalog.refreshTable("nb_sink.docs_nb")
    val afterRetry = modelMap(
      StreamingIngest.nbModel(spark, "nb_sink", "docs"))
    assert(afterRetry == batch, "retried tag double-counted its batch")
    spark.sql("DROP DATABASE nb_sink CASCADE")
  }
}
