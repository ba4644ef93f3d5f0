package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Ingest

/** Replays the reference's live MySQL/Hive scenarios
  * (/root/reference/tests/test_incremental_append.py,
  * test_incremental_merge.py) against managed tables:
  * first-load, watermark growth, null-last_modified insert,
  * update-reconcile, soft delete. Fixture schema mirrors FIXTURES.md §1. */
class IngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(r: (Int, String, Timestamp, Timestamp, String, Option[Int])*): DataFrame =
    r.toDF("id", "value", "last_modified", "created", "date", "deleted")

  private def ts(s: String) = Timestamp.valueOf(s)
  private val t0 = ts("2024-01-01 00:00:00")
  private val t1 = ts("2024-01-02 00:00:00")

  /** A 4-bucket merge into `ingest_test.<tbl>`, delta-only or full reconcile. */
  private def merge(tbl: String, deltaOnly: Boolean)(src: DataFrame, tag: String) =
    Ingest.incrementalMerge(
      spark, src, "ingest_test", tbl, keyColumns = Seq("id"),
      lastModifiedColumn = "last_modified", incrementalColumn = "id",
      tag = tag, deletedColumn = Some("deleted"),
      historyBuckets = Some(4), deltaOnlyReconcile = deltaOnly)

  override def afterAll(): Unit = {
    spark.sql("DROP DATABASE IF EXISTS ingest_test CASCADE")
    spark.sql("DROP DATABASE IF EXISTS spark_scratch CASCADE")
  }

  test("full ingestion: tag column added, re-run overwrites not duplicates") {
    val src = (0 until 10).map(i => (i, s"v$i", t0, t0, "2024-01-01", None: Option[Int])).toDF(
      "id", "value", "last_modified", "created", "date", "deleted")
    val r1 = Ingest.fullIngestion(spark, src, "ingest_test", "full_tbl", "20240101T000000")
    assert(r1 == operators.IngestReport(10, 10, 10))
    val dest = spark.table("ingest_test.full_tbl")
    assert(dest.columns.contains("dl_ingest_date"))
    assert(dest.select("dl_ingest_date").distinct().as[String].collect().toSeq == Seq("20240101T000000"))
    // second run: insert-overwrite, not append
    val r2 = Ingest.fullIngestion(spark, src, "ingest_test", "full_tbl", "20240102T000000")
    assert(r2.destinationRows == 10)
    assert(spark.table("ingest_test.full_tbl")
      .select("dl_ingest_date").distinct().as[String].collect().toSeq == Seq("20240102T000000"))
  }

  test("append with schema drift evolves the sink and null-fills both ways") {
    val b1 = Seq((1, "a", t0), (2, "b", t0)).toDF("id", "value", "last_modified")
    Ingest.incrementalAppend(spark, b1, "ingest_test", "drift_tbl",
      incrementalColumn = "id", tag = "20240101T000000")
    // upstream drift: a new column appears, an old one disappears
    val b2 = Seq((3, t1, 99L)).toDF("id", "last_modified", "extra")
    Ingest.incrementalAppend(spark, b2, "ingest_test", "drift_tbl",
      incrementalColumn = "id", tag = "20240102T000000", evolveSchema = true)
    val dest = spark.table("ingest_test.drift_tbl")
    assert(dest.columns.toSet ==
      Set("id", "value", "last_modified", "extra", "dl_ingest_date"))
    // pre-drift rows read the added column as NULL; the drifted batch
    // null-fills the column it dropped
    assert(dest.where($"id" <= 2 && $"extra".isNull).count() == 2)
    val r3 = dest.where($"id" === 3).select("value", "extra")
      .as[(Option[String], Option[Long])].head()
    assert(r3 == (None, Some(99L)))
    // a SECOND evolved append with the same drifted shape still lands
    val b3 = Seq((4, t1, 100L)).toDF("id", "last_modified", "extra")
    Ingest.incrementalAppend(spark, b3, "ingest_test", "drift_tbl",
      incrementalColumn = "id", tag = "20240103T000000", evolveSchema = true)
    assert(spark.table("ingest_test.drift_tbl").count() == 4)
  }

  test("incremental append: 10 -> 20, late rows below watermark dropped") {
    val b1 = (0 until 10).map(i => (i, s"v$i", t0, t0, "2024-01-01", None: Option[Int])).toDF(
      "id", "value", "last_modified", "created", "date", "deleted")
    val r1 = Ingest.incrementalAppend(spark, b1, "ingest_test", "data_append",
      incrementalColumn = "id", tag = "20240101T000000", outputPartitions = Seq("date"))
    assert(r1 == operators.IngestReport(10, 10, 10))
    // batch 2 re-sends ids 0-9 (must be dropped: strict `>` watermark) + 10-19
    val b2 = (0 until 20).map(i => (i, s"v$i", t1, t1, "2024-01-02", None: Option[Int])).toDF(
      "id", "value", "last_modified", "created", "date", "deleted")
    val r2 = Ingest.incrementalAppend(spark, b2, "ingest_test", "data_append",
      incrementalColumn = "id", tag = "20240102T000000", outputPartitions = Seq("date"))
    assert(r2 == operators.IngestReport(20, 10, 20))
    val dest = spark.table("ingest_test.data_append")
    assert(dest.where($"id" < 10 && $"dl_ingest_date" === "20240102T000000").count() == 0)
    // batch 3 re-sends the same rows: an empty delta still reports 0
    val r3 = Ingest.incrementalAppend(spark, b2, "ingest_test", "data_append",
      incrementalColumn = "id", tag = "20240103T000000", outputPartitions = Seq("date"))
    assert(r3 == operators.IngestReport(20, 0, 20))
  }

  test("incremental merge: upsert, null-last_modified insert, soft delete") {
    def merge(src: DataFrame, tag: String) = Ingest.incrementalMerge(
      spark, src, "ingest_test", "data", keyColumns = Seq("id"),
      lastModifiedColumn = "last_modified", incrementalColumn = "id",
      tag = tag, deletedColumn = Some("deleted"))

    // first load: 10 rows
    val b1 = rows((0 until 10).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    assert(merge(b1, "20240101T000000").destinationRows == 10)

    // insert id=10 with NULL last_modified: caught by incremental column alone
    val b2 = rows((0 to 10).map(i =>
      (i, s"v$i", if (i == 10) null else ts("2024-01-01 10:00:00"), t0, "2024-01-01",
        None: Option[Int])): _*)
    assert(merge(b2, "20240102T000000").destinationRows == 11)

    // update id=3: bump last_modified, value changes in place, count stable
    val b3 = rows((0 to 10).map(i =>
      (i, if (i == 3) "K" else s"v$i",
        if (i == 3) ts("2024-01-03 10:00:00")
        else if (i == 10) null else ts("2024-01-01 10:00:00"),
        t0, "2024-01-01", None: Option[Int])): _*)
    val r3 = merge(b3, "20240103T000000")
    assert(r3.destinationRows == 11)
    val dest = spark.table("ingest_test.data")
    assert(dest.where($"id" === 3).select("value").as[String].head() == "K")

    // soft delete id=5: latest version marked deleted -> key vanishes from
    // destination but full history stays in _incremental
    val b4 = rows((5, "v5", ts("2024-01-04 10:00:00"), t0, "2024-01-01", Some(1)))
    val r4 = merge(b4, "20240104T000000")
    assert(r4.destinationRows == 10)
    assert(spark.table("ingest_test.data").where($"id" === 5).count() == 0)
    // exactly 2 versions: the initial insert and the delete marker — the
    // watermark filter keeps unchanged re-sent rows out of history
    assert(spark.table("ingest_test.data_incremental").where($"id" === 5).count() == 2)
  }

  test("merge without soft-delete column never deletes") {
    val b1 = rows((0 until 3).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    Ingest.incrementalMerge(spark, b1, "ingest_test", "nodelete",
      keyColumns = Seq("id"), lastModifiedColumn = "last_modified",
      incrementalColumn = "id", tag = "20240101T000000")
    val b2 = rows((1, "v1", ts("2024-01-02 10:00:00"), t0, "2024-01-01", Some(1)))
    val r = Ingest.incrementalMerge(spark, b2, "ingest_test", "nodelete",
      keyColumns = Seq("id"), lastModifiedColumn = "last_modified",
      incrementalColumn = "id", tag = "20240102T000000")
    assert(r.destinationRows == 3) // deleted marker ignored without -d
  }

  test("delta-only reconcile matches full reconcile across the merge scenario") {
    val full = merge("d_full", deltaOnly = false) _
    val fast = merge("d_fast", deltaOnly = true) _

    val b1 = rows((0 until 10).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    // update id=3, insert id=10 with NULL last_modified, soft-delete id=5
    val b2 = rows(
      (3, "K", ts("2024-01-02 10:00:00"), t0, "2024-01-01", None),
      (10, "v10", null, t0, "2024-01-02", None),
      (5, "v5", ts("2024-01-02 10:00:00"), t0, "2024-01-01", Some(1)))

    Seq(full, fast).foreach { m => m(b1, "20240101T000000"); m(b2, "20240102T000000") }

    val a = spark.table("ingest_test.d_full")
    val b = spark.table("ingest_test.d_fast")
    assert(a.count() == 10 && b.count() == 10) // 11 keys, id=5 soft-deleted
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "delta-only reconcile diverged from the full reconcile")
  }

  test("delta-only merge reconciles reused and older tags and died runs' history rows") {
    val b1 = rows((0 until 10).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    val b2 = rows((2, "X", ts("2024-01-02 10:00:00"), t0, "2024-01-01", None))
    val b3 = rows((11, "Y", ts("2024-01-03 10:00:00"), t0, "2024-01-01", None))
    // what died runs leave: their delta is in history, but the destination
    // was never rewritten; one ran under the destination's newest tag
    val diedAtNewest = rows((4, "Z", ts("2024-01-04 10:00:00"), t0, "2024-01-01", None))
    val diedLater = rows(
      (3, "K", ts("2024-01-05 10:00:00"), t0, "2024-01-01", None),
      (10, "v10", ts("2024-01-05 10:00:00"), t0, "2024-01-02", None))
    // the retry re-sends their rows, which the history watermarks now
    // drop, and soft-deletes id=5
    val retry = diedAtNewest.unionByName(diedLater)
      .unionByName(rows((5, "v5", ts("2024-01-06 10:00:00"), t0, "2024-01-01", Some(1))))
    Seq("r_full" -> false, "r_fast" -> true).foreach { case (tbl, deltaOnly) =>
      merge(tbl, deltaOnly)(b1, "20240102T000000")
      // same tag as the destination's newest partition
      assert(merge(tbl, deltaOnly)(b2, "20240102T000000").ingestedRows == 1)
      // a tag that sorts below the destination's newest one
      assert(merge(tbl, deltaOnly)(b3, "20240101T000000").ingestedRows == 1)
      Seq(diedAtNewest -> "20240102T000000", diedLater -> "20240105T000000").foreach {
        case (d, tag) =>
          d.withColumn("dl_ingest_date", lit(tag))
            .write.format("parquet").partitionBy("dl_ingest_date").bucketBy(4, "id")
            .mode("append").saveAsTable(s"ingest_test.${tbl}_incremental")
      }
      assert(merge(tbl, deltaOnly)(retry, "20240106T000000").ingestedRows == 1)
    }
    val a = spark.table("ingest_test.r_full")
    val b = spark.table("ingest_test.r_fast")
    assert(a.count() == 11 && a.where($"value".isin("X", "Y", "Z", "K", "v10")).count() == 5)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0,
      "the delta-only merge diverged from the full-history reconcile")
  }

  test("DEFAULT merge path: history key-bucketed, repeat reconcile plans no Exchange") {
    // No historyBuckets/deltaOnlyReconcile args: the 100 TB posture must
    // hold without opting in.
    def merge(src: DataFrame, tag: String) = Ingest.incrementalMerge(
      spark, src, "ingest_test", "dflt", keyColumns = Seq("id"),
      lastModifiedColumn = "last_modified", incrementalColumn = "id",
      tag = tag, deletedColumn = Some("deleted"))
    val b1 = rows((0 until 10).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    assert(merge(b1, "20240101T000000").destinationRows == 10)
    val b2 = rows((3, "K", ts("2024-01-02 10:00:00"), t0, "2024-01-01", None: Option[Int]))
    assert(merge(b2, "20240102T000000").destinationRows == 10)

    val reconciled = operators.Reconcile.reconcile(
      spark.table("ingest_test.dflt_incremental"),
      keys = Seq("id"), lastModified = "last_modified",
      tieBreak = Seq("dl_ingest_date", "id"))
    reconciled.collect()
    val plan = reconciled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"default-path reconcile still shuffles:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"default-path scan did not use bucketing:\n$plan")
  }

  test("bucketed history: same merge results, reconcile plans no Exchange") {
    def merge(src: DataFrame, tag: String) = Ingest.incrementalMerge(
      spark, src, "ingest_test", "bucketed", keyColumns = Seq("id"),
      lastModifiedColumn = "last_modified", incrementalColumn = "id",
      tag = tag, deletedColumn = Some("deleted"), historyBuckets = Some(4))

    val b1 = rows((0 until 10).map(i =>
      (i, s"v$i", ts("2024-01-01 10:00:00"), t0, "2024-01-01", None: Option[Int])): _*)
    assert(merge(b1, "20240101T000000").destinationRows == 10)
    val b2 = rows((3, "K", ts("2024-01-02 10:00:00"), t0, "2024-01-01", None: Option[Int]),
      (10, "v10", ts("2024-01-02 10:00:00"), t0, "2024-01-01", None: Option[Int]))
    assert(merge(b2, "20240102T000000").destinationRows == 11)
    assert(spark.table("ingest_test.bucketed")
      .where($"id" === 3).select("value").as[String].head() == "K")

    // the appended history kept its bucket spec, and a reconcile over it
    // reads the buckets directly: no Exchange anywhere in the final plan
    val reconciled = operators.Reconcile.reconcile(
      spark.table("ingest_test.bucketed_incremental"),
      keys = Seq("id"), lastModified = "last_modified",
      tieBreak = Seq("dl_ingest_date", "id"))
    reconciled.collect() // finalize the adaptive plan before inspecting it
    val plan = reconciled.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed reconcile still shuffles:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"scan did not use bucketing:\n$plan")
  }
}
