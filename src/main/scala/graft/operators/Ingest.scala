package graft.operators

import java.time.Instant
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Per-run ingest report, mirroring the reference's logged triple
  * (source rows / ingested rows / destination rows,
  * /root/reference/jdbc_loader_spark2.py:45-47). */
final case class IngestReport(sourceRows: Long, ingestedRows: Long, destinationRows: Long)

/** The reference's three ingestion strategies
  * (/root/reference/spark_loaders.py:113-265), re-derived Spark-first.
  *
  * Invariants preserved from the reference:
  *  - The ingest tag is a *driver-computed string* `yyyyMMdd'T'HHmmss`
  *    (spark_loaders.py:121), injectable for deterministic replay — never
  *    `now()` inside the plan.
  *  - Append loses late rows (watermark filter is strict `>`,
  *    spark_loaders.py:158); merge catches them only via `last_modified`
  *    (spark_loaders.py:203-204).
  *  - Merge never deletes without a soft-delete marker (README.rst:110-113);
  *    the `_incremental` history table keeps every version forever.
  *  - Scratch-table materialization before overwriting the destination —
  *    overwriting a table that feeds the plan is illegal
  *    (spark_loaders.py:246-262).
  *
  * Every strategy lands through one body and holds no cache: the report's
  * source rows are the caller's pushdown count (else one count of the
  * source), its ingested rows an `Observation` on the data-carrying write
  * (the insert, the append, the history append), and its destination rows
  * one count of the destination afterwards. The source is scanned once
  * per run, by that write.
  *
  * Scale posture: the destination/watermark discovery is O(1) metadata +
  * a max() that Parquet answers from footer statistics; the only shuffle in
  * the whole pipeline is the merge reconcile's hash partition by key
  * (see [[Reconcile]]). History grows monotonically, so at 100 TB the
  * history table must be partitioned by the ingest tag (done here) so each
  * run's delta lands in fresh partitions, and reconciliation should be run
  * on key-bucketed storage to avoid re-shuffling old data every run.
  */
object Ingest {
  val DefaultTagColumn = "dl_ingest_date"

  /** History tables are key-bucketed BY DEFAULT: every future reconcile
    * over them reads pre-clustered buckets and plans no Exchange (asserted
    * in IngestSpec). 32 matches the local shuffle parallelism; at cluster
    * scale size it like any bucket count (~target parallelism). */
  val DefaultHistoryBuckets = 32

  private val TagFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss").withZone(ZoneOffset.UTC)

  /** Reference tag format, e.g. 20240101T093000 (spark_loaders.py:121). */
  def tagValue(ts: Instant): String = TagFmt.format(ts)

  private def ensureDatabase(spark: SparkSession, db: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")

  /** Scalar high-watermark from the sink: `select max(col) from db.tbl`
    * (spark_loaders.py:153-155). Null when the table is empty. */
  def maxWatermark(spark: SparkSession, db: String, table: String, column: String): Option[Any] =
    Option(spark.table(s"`$db`.`$table`").agg(max(col(column))).head().get(0))

  /** The landing body all three strategies share: tag `delta`, hand
    * `write` the tagged frame plus `counted`, which attaches the
    * ingested-rows `Observation` (apply it last, right before the
    * data-carrying write: the first action that runs it is the one it
    * reports), then report. `knownSourceRows` is e.g. a JDBC pushdown
    * count (jdbc_loader_spark2.py:33-35). */
  private def land(
      source: DataFrame, knownSourceRows: Option[Long], delta: DataFrame,
      db: String, table: String, tag: String, tagColumn: String)(
      write: (DataFrame, DataFrame => DataFrame) => Unit): IngestReport = {
    val spark = source.sparkSession
    val sourceRows = knownSourceRows.getOrElse(source.count())
    val ingested = Observation()
    ensureDatabase(spark, db)
    write(delta.withColumn(tagColumn, lit(tag)), _.observe(ingested, count(lit(1)).as("n")))
    IngestReport(sourceRows, ingested.get("n").asInstanceOf[Long],
      spark.table(s"`$db`.`$table`").count())
  }

  /** Full refresh (spark_loaders.py:113-137): tag, schema-only CTAS,
    * positional insert-overwrite. Only the insert is observed: the
    * `limit 0` CTAS would otherwise be the first action to report. */
  def fullIngestion(
      spark: SparkSession,
      source: DataFrame,
      db: String,
      table: String,
      tag: String,
      tagColumn: String = DefaultTagColumn,
      overwriteTable: Boolean = false,
      format: String = "parquet",
      knownSourceRows: Option[Long] = None): IngestReport =
    land(source, knownSourceRows, source, db, table, tag, tagColumn) { (tagged, counted) =>
      if (overwriteTable) spark.sql(s"DROP TABLE IF EXISTS `$db`.`$table`")
      // Schema-only CTAS — `limit 0` trick (spark_loaders.py:133) keeps the
      // destination's format/layout stable across runs.
      tagged.limit(0).write.format(format).mode("ignore").saveAsTable(s"`$db`.`$table`")
      counted(tagged).write.mode("overwrite").insertInto(s"`$db`.`$table`")
    }

  /** Incremental append (spark_loaders.py:139-175): sink-derived watermark,
    * strict `>` filter, partitioned append. */
  def incrementalAppend(
      spark: SparkSession,
      source: DataFrame,
      db: String,
      table: String,
      incrementalColumn: String,
      tag: String,
      tagColumn: String = DefaultTagColumn,
      lastValueOverride: Option[Any] = None,
      outputPartitions: Seq[String] = Nil,
      format: String = "parquet",
      knownSourceRows: Option[Long] = None,
      evolveSchema: Boolean = false): IngestReport = {
    val exists = spark.catalog.tableExists(db, table)
    val lastValue: Option[Any] =
      lastValueOverride.orElse(
        if (exists) maxWatermark(spark, db, table, incrementalColumn) else None)
    val delta = lastValue match {
      case Some(v) => source.where(col(incrementalColumn) > lit(v))
      case None    => source
    }
    land(source, knownSourceRows, delta, db, table, tag, tagColumn) { (tagged, counted) =>
      val batch = if (exists && evolveSchema) evolveSink(spark, db, table, tagged) else tagged
      val parts = if (outputPartitions.nonEmpty) outputPartitions else Seq(tagColumn)
      counted(batch).write.format(format).partitionBy(parts: _*)
        .mode(if (exists) "append" else "overwrite").saveAsTable(s"`$db`.`$table`")
    }
  }

  /** Schema-drift handling for appends (`evolveSchema = true`): source
    * columns the sink lacks are ADDED to the table (`ALTER TABLE ADD
    * COLUMNS` — a metadata-only operation; existing files read them as
    * NULL), and sink columns the source dropped are null-filled in the
    * batch, so upstream RDBMS schema changes never strand an ingest run.
    * Matching is by lower-cased name (Spark's resolution default); type
    * CHANGES are left to error loudly on write — silently casting drifted
    * types corrupts data. */
  private[operators] def evolveSink(
      spark: SparkSession, db: String, table: String,
      batch: DataFrame): DataFrame = {
    val full = s"`$db`.`$table`"
    val sinkNames = spark.table(full).schema.map(_.name.toLowerCase).toSet
    val added = batch.schema.filterNot(f => sinkNames(f.name.toLowerCase))
    if (added.nonEmpty) {
      val ddl = added
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE $full ADD COLUMNS ($ddl)")
    }
    val batchNames = batch.schema.map(_.name.toLowerCase).toSet
    val aligned = spark.table(full).schema.map { f =>
      if (batchNames(f.name.toLowerCase)) col(s"`${f.name}`")
      else lit(null).cast(f.dataType).as(f.name)
    }
    batch.select(aligned: _*)
  }

  /** Incremental merge (spark_loaders.py:177-265): append delta to the
    * `<table>_incremental` history (UNION ALL over time), reconcile latest
    * per key, soft-delete filter, scratch materialize, insert-overwrite. */
  def incrementalMerge(
      spark: SparkSession,
      source: DataFrame,
      db: String,
      table: String,
      keyColumns: Seq[String],
      lastModifiedColumn: String,
      incrementalColumn: String,
      tag: String,
      tagColumn: String = DefaultTagColumn,
      deletedColumn: Option[String] = None,
      scratchDb: String = "spark_scratch",
      lastModifiedOverride: Option[Any] = None,
      lastIncrementalOverride: Option[Any] = None,
      outputPartitions: Seq[String] = Nil,
      historyBuckets: Option[Int] = Some(DefaultHistoryBuckets),
      format: String = "parquet",
      knownSourceRows: Option[Long] = None,
      deltaOnlyReconcile: Boolean = true): IngestReport = {
    val histTable = s"${table}_incremental"
    val histExists = spark.catalog.tableExists(db, histTable)

    // Watermarks from the history sink (spark_loaders.py:193-199).
    val lastIncr: Option[Any] = lastIncrementalOverride.orElse(
      if (histExists) maxWatermark(spark, db, histTable, incrementalColumn) else None)
    val lastMod: Option[Any] = lastModifiedOverride.orElse(
      if (histExists) maxWatermark(spark, db, histTable, lastModifiedColumn) else None)

    // New OR modified rows (spark_loaders.py:201-208). NULL last_modified
    // rows are still caught by the incremental disjunct (tested scenario).
    val delta = (lastIncr, lastMod) match {
      case (Some(i), Some(m)) =>
        source.where(col(incrementalColumn) > lit(i) || col(lastModifiedColumn) > lit(m))
      case (Some(i), None) => source.where(col(incrementalColumn) > lit(i))
      case _               => source
    }
    land(source, knownSourceRows, delta, db, table, tag, tagColumn) { (tagged, counted) =>
      // The 100 TB mitigation (the default): bucket the history by the
      // reconcile keys so every future reconcile reads pre-clustered data
      // and plans NO Exchange — the window dedup becomes a per-bucket sort
      // instead of a full-history shuffle each run. Appends must match the
      // table's existing layout, so they derive the bucket count from the
      // catalog (a pre-existing unbucketed history keeps appending plain).
      val effectiveBuckets: Option[Int] =
        if (histExists)
          spark.sessionState.catalog
            .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(histTable, Some(db)))
            .bucketSpec.map(_.numBuckets)
        else historyBuckets
      val writer = effectiveBuckets.foldLeft(
        counted(tagged).write.format(format).partitionBy(tagColumn))(
        (w, b) => w.bucketBy(b, keyColumns.head, keyColumns.tail: _*))
      writer.mode(if (histExists) "append" else "overwrite").saveAsTable(s"`$db`.`$histTable`")

      // Reconcile (spark_loaders.py:225-239). Deterministic tie-break:
      // ingest tag desc (later batch wins), then key columns. The reference
      // semantic rescans FULL history every run; `deltaOnlyReconcile` (the
      // default; equivalence spec-checked) reconciles only the keys of
      // this run's tag partition and of every partition at or above the
      // destination's newest tag — this delta even under a reused or
      // out-of-order tag, plus what a died run appended at or above that
      // tag but never reconciled. That is a partition-pruned semi-join the
      // bucketed history answers without a shuffle, and every other key's
      // current row is carried over from the destination unchanged. Cost
      // drops from O(history) to O(delta history + destination rewrite).
      // Pass `false` to force the reference's full-history rescan.
      val history = spark.table(s"`$db`.`$histTable`")
      def reconcileOf(h: DataFrame) = Reconcile.reconcile(
        h, keyColumns, lastModifiedColumn,
        tieBreak = tagColumn +: keyColumns,
        softDeleteCol = deletedColumn)
      val reconciled =
        if (deltaOnlyReconcile && spark.catalog.tableExists(db, table)) {
          val fresh = maxWatermark(spark, db, table, tagColumn)
            .fold(history)(t =>
              history.where(col(tagColumn) >= lit(t) || col(tagColumn) === lit(tag)))
          val touchedKeys = fresh.select(keyColumns.map(col): _*).distinct()
          val touched = history.join(touchedKeys, keyColumns, "left_semi")
          val untouched = spark.table(s"`$db`.`$table`")
            .join(touchedKeys, keyColumns, "left_anti")
          reconcileOf(touched).unionByName(untouched)
        } else reconcileOf(history)

      // Scratch dance (spark_loaders.py:246-262): destination may feed a
      // future read; never overwrite a table while reading it.
      ensureDatabase(spark, scratchDb)
      val scratch = s"`$scratchDb`.`graft_${table}_persist`"
      val scratchWriter =
        if (outputPartitions.nonEmpty)
          reconciled.write.format(format).partitionBy(outputPartitions: _*)
        else reconciled.write.format(format)
      scratchWriter.mode("overwrite").saveAsTable(scratch)
      val staged = spark.table(scratch)
      staged.limit(0).write.format(format).mode("ignore").saveAsTable(s"`$db`.`$table`")
      staged.write.mode("overwrite").insertInto(s"`$db`.`$table`")
      spark.sql(s"DROP TABLE IF EXISTS $scratch")
    }
  }
}
