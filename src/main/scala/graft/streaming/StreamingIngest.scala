package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.Blocks
import graft.dedup.Dedup

/** Structured-Streaming analog of the reference's polling incremental
  * ingestion (SURVEY.md §2 Streaming / §7 item 6).
  *
  * The reference's "incremental" is repeated batch with a sink-derived
  * watermark and strict-`>` filter that silently drops late rows
  * (/root/reference/spark_loaders.py:153-158). The streaming re-derivation
  * makes both halves first-class:
  *  - the watermark is engine-managed (`withWatermark`) instead of a
  *    max() probe against the sink;
  *  - lateness is an explicit, bounded policy instead of silent loss.
  *
  * Works on the events schema with `ts` as parquet `timestamp[us]` (read
  * as TIMESTAMP_NTZ; session TZ is UTC, see GraftSession): event time is
  * exposed as a real timestamp via `cast(ts as timestamp)`.
  */
object StreamingIngest {

  /** File-source stream of tagged events — the streaming form of
    * incremental append: every new file under `dir` is a delta batch; the
    * ingest tag is the batch's processing marker. */
  def appendStream(
      spark: SparkSession, dir: String, schema: StructType, tag: String,
      tagColumn: String = "dl_ingest_date"): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withColumn(tagColumn, lit(tag))

  /** Event-time tumbling-window counts with bounded lateness. */
  def windowedCounts(
      events: DataFrame, windowLen: String = "1 hour",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", col("ts").cast("timestamp"))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup on the key columns alone with bounded state:
    * the streaming form of the reference's reconcile — duplicates of a key
    * are dropped even when they carry different event times, and state for
    * a key ages out once the watermark passes it instead of accumulating
    * forever. `dropDuplicatesWithinWatermark` is the precise API for this:
    * plain `dropDuplicates(keys)` would keep key state unbounded, and
    * `dropDuplicates(keys :+ eventTime)` would let same-key/different-time
    * duplicates through. */
  def dedupStream(
      events: DataFrame, keyCols: Seq[String],
      lateness: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", col("ts").cast("timestamp"))
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based session aggregation via the engine's native
    * `session_window` — the streaming form of the batch lag+cumsum
    * sessionization (`events_sessionize`): sessions merge as events
    * arrive, state is bounded by the watermark, and the session
    * definition (events closer than `gap` belong together) is identical
    * to the batch formulation. */
  def sessionCounts(
      events: DataFrame, gap: String = "30 minutes",
      lateness: String = "30 minutes"): DataFrame =
    events
      .withColumn("event_time", col("ts").cast("timestamp"))
      .withWatermark("event_time", lateness)
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  /** Stream-stream event-time interval join: every click pairs with the
    * same user's views from the preceding `horizon`. Both sides carry
    * watermarks and the join condition bounds event time in BOTH
    * directions, which is exactly what lets the engine age out buffered
    * rows instead of holding each side forever — the state-bounding
    * contract of stream-stream joins. The batch analog is the funnel /
    * range-join family (`events_funnel`, `join_range`); StreamingSpec
    * pins the equivalence on replayed data. */
  def correlateStreams(
      views: DataFrame, clicks: DataFrame,
      horizon: String = "30 minutes", lateness: String = "30 minutes"): DataFrame = {
    val v = views
      .withColumn("view_time", col("ts").cast("timestamp"))
      .withWatermark("view_time", lateness)
      .select(col("user_id").as("v_user"), col("view_time"),
        col("event_id").as("view_id"))
    val c = clicks
      .withColumn("click_time", col("ts").cast("timestamp"))
      .withWatermark("click_time", lateness)
      .select(col("user_id").as("c_user"), col("click_time"),
        col("event_id").as("click_id"))
    c.join(v,
      col("c_user") === col("v_user") &&
      col("view_time") <= col("click_time") &&
      col("view_time") >= col("click_time") - expr(s"INTERVAL $horizon"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"),
        col("click_time"), col("view_time"))
  }

  /** Streaming latest-per-key reconcile — the merge strategy's window
    * dedup ([[graft.operators.Reconcile]]) as continuously-maintained
    * state via `flatMapGroupsWithState`: state holds each key's current
    * newest row (by a version column — numeric or timestamp); every
    * micro-batch emits the keys whose newest row changed. Update output
    * mode; state is one row per live key (the reconciled table itself),
    * which is the minimum any engine must hold for this semantic.
    *
    * Version ties go to the LATER arrival (`>=` wins): a later micro-batch
    * overwrites state on an equal version, matching the batch reconcile's
    * tie-break where the later ingest tag wins (`tag DESC`,
    * [[graft.operators.Reconcile]] ordering in the merge strategy). */
  def mergeStream(
      events: DataFrame, keyCols: Seq[String], versionCol: String): DataFrame = {
    val spark = events.sparkSession
    implicit val rowEnc: Encoder[Row] = Encoders.row(events.schema)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    val keyIdx = keyCols.map(events.schema.fieldIndex)
    val verIdx = events.schema.fieldIndex(versionCol)
    // Type-generic version extraction: the version column may be an
    // integral (epoch micros/nanos as BIGINT), a TIMESTAMP/TIMESTAMP_NTZ
    // (fixtures store events.ts as parquet timestamp[us]), or a narrower
    // integer. Every branch maps monotonically to epoch micros, so the
    // >=-wins comparison below is order-correct for all of them.
    def version(r: Row): Long =
      if (r.isNullAt(verIdx)) Long.MinValue
      else r.get(verIdx) match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case t: java.sql.Timestamp =>
          // floorDiv: getTime/1000 truncates toward zero, so for pre-epoch
          // values the (always-positive) getNanos fraction would be ADDED
          // to a too-large second, mapping e.g. -0.5s to +500000µs and
          // breaking the monotonic-order contract of >=-wins below.
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        case i: java.time.Instant =>
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
        case ldt: java.time.LocalDateTime =>
          val i = ldt.toInstant(java.time.ZoneOffset.UTC)
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)
        case other => sys.error(
          s"unsupported version column type at '$versionCol': ${other.getClass.getName}")
      }
    // Collision-free composite key: each part is length-prefixed ("N" for
    // SQL NULL, which stays distinct from the 4-char string "null"); the
    // length prefix makes part boundaries unambiguous even for values that
    // contain the separator, so ("ab","c") / ("a","bc") / null-vs-"null"
    // all land in distinct state slots.
    def encodedKey(r: Row): String =
      keyIdx.map { i =>
        if (r.isNullAt(i)) "N"
        else { val v = String.valueOf(r.get(i)); s"${v.length}:$v" }
      }.mkString("|")
    events
      .groupByKey(encodedKey _)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          // within one micro-batch the later arrival also wins ties
          val incoming = rows.reduceOption((a, b) => if (version(b) >= version(a)) b else a)
          (incoming, state.getOption) match {
            case (Some(in), Some(cur)) if version(in) >= version(cur) =>
              state.update(in); Iterator.single(in)
            case (Some(in), None) =>
              state.update(in); Iterator.single(in)
            case _ => Iterator.empty
          }
      }
  }

  /** The one `foreachBatch` wrapper every sink here uses: skips empty
    * micro-batches and hands `body` the batch with its ingest tag — the
    * batch id inside `tagPrefix` (reproducible, no driver-side now()). */
  private def eachBatch(df: DataFrame, tagPrefix: String)(
      body: (DataFrame, String) => Unit): DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) body(batch, f"$tagPrefix%s_b$batchId%05d")
    }

  /** Write a stream into a managed table through the batch ingestion
    * path: each micro-batch runs [[graft.operators.Ingest.incrementalAppend]]
    * via `foreachBatch`, so the destination accumulates exactly like the
    * reference's polling loader — same tag column, same partitioning, same
    * watermark-filter semantics — but with the engine driving the batches.
    * The batch id becomes part of the ingest tag; the stream's own
    * exactly-once bookkeeping comes from checkpointing + the append
    * watermark. */
  def toIngestSink(
      df: DataFrame, db: String, table: String, incrementalColumn: String,
      tagPrefix: String): DataStreamWriter[Row] =
    eachBatch(df, tagPrefix) { (batch, tag) =>
      graft.operators.Ingest.incrementalAppend(
        batch.sparkSession, batch, db, table, incrementalColumn, tag = tag)
    }

  /** Streaming near-dup admission: each micro-batch of documents is
    * checked against the already-admitted corpus with the SAME incremental
    * MinHash-LSH pipeline the batch path uses
    * ([[graft.dedup.Dedup.minHashLshPairsIncremental]]), and only
    * non-duplicates are appended. This is the honest Spark shape for
    * streaming dedup-at-admission: a pure stream-side LSH verdict would
    * need an OR-of-band-keys join against the history (a nested-loop scale
    * killer) or a per-doc index service; `foreachBatch` instead gets exact
    * batch semantics, reuse of the persisted history SIGNATURES (never
    * re-hashing the corpus), and exactly-once bookkeeping from the stream
    * checkpoint.
    *
    * Maintains two managed tables, both partitioned by the ingest tag:
    * `db.table` (admitted docs) and `db.table_minhash_sigs` (their
    * signatures, the standing LSH index). The tag encodes the batch id,
    * and writes use DYNAMIC PARTITION OVERWRITE of that tag — foreachBatch
    * delivers at-least-once, so a retried batch must replace its own
    * partition instead of appending duplicates (idempotent re-admission:
    * history excludes the retried tag's rows only via overwrite, and the
    * admission decision is deterministic given the same history).
    * Rejection policy: a batch doc is dropped when it near-dup pairs with
    * any history doc or with a smaller-id doc of its own batch (near-dup
    * transitivity makes the chain case defensible). Requires `doc_id` and
    * `text` columns.
    *
    * The micro-batch writes run in the stream's cloned session: OTHER
    * sessions already holding a cached relation for these tables must
    * `REFRESH TABLE` before re-reading — the standard Spark rule for
    * tables appended to from outside the reading session. */
  def toNearDupFilteredSink(
      docs: DataFrame, db: String, table: String,
      threshold: Double = 0.8,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      admitBatch(batch, db, table, threshold, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the near-dup admission pipeline (the foreachBatch
    * body of [[toNearDupFilteredSink]], factored out so retries and
    * policies are directly testable). Idempotent for a given `tag`:
    * re-running the same batch overwrites its own tag partition. */
  private[graft] def admitBatch(
      batch0: DataFrame, db: String, table: String, threshold: Double,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    val spark = batch0.sparkSession
    val full = s"$db.$table"
    val sigsTable = s"${full}_minhash_sigs"
    admitPairBatch(batch0, sigsTable, "doc_id", ("doc_a", "doc_b"))(
      offer = (s, _) => s.persist(batch0),
      pairs = (batch, history) =>
        if (history)
          Dedup.minHashLshPairsIncremental(
            otherTags(spark, full, tagColumn, tag)
              .select(batch.columns.filter(_ != tagColumn).map(col): _*),
            batch, threshold,
            historySigs = Some(
              otherTags(spark, sigsTable, tagColumn, tag).select(SigCols.map(col): _*)))
        else Dedup.minHashLshPairs(batch, threshold),
      write = admitted => {
        writeTagPartition(admitted, full, tagColumn, tag)
        writeTagPartition(Dedup.minHashSignatures(admitted), sigsTable, tagColumn, tag)
      })
  }

  /** Signature-table columns of the MinHash admission indexes. */
  private val SigCols = "doc_id" +: (0 until Dedup.NumHashes).map(i => s"m$i")

  /** `table`'s rows of every tag but `tag`: a RETRIED tag must not see
    * its own previous attempt as history. */
  private def otherTags(
      spark: SparkSession, table: String, tagColumn: String, tag: String): DataFrame =
    spark.table(table).where(col(tagColumn) =!= lit(tag))

  /** The batch lifecycle of the five pair-based admission sinks, in one
    * [[graft.Blocks.scope]]: pin the `offer`ed rows, build their near-dup
    * `pairs` (against the standing tables when there is history), apply
    * the [[batchDrops]] policy, checkpoint the admitted set, `write` it
    * only if it is non-empty, and release everything — also when a stage
    * throws, so a failing batch leaves no pinned frame behind. The
    * checkpoint severs the plan's read of the history tables before the
    * tag-partition overwrite (overwrite-of-a-read-table hazard; the
    * admitted set is batch-sized, so a local materialization is the
    * cheaper cure). The builder's pair relation is released as soon as
    * the admitted set is materialized: a long-running stream must not
    * accrete one cached relation or checkpoint per micro-batch
    * (StreamingCacheHygieneSpec pins zero extras per batch).
    *
    * History exists when `lastTable`, the LAST table `write` writes,
    * does: a first batch that died between its writes leaves the earlier
    * tables without the index, and its retry must take the cold path
    * again instead of reading an index that was never written. */
  private def admitPairBatch(
      batch0: DataFrame, lastTable: String, id: String, pairCols: (String, String))(
      offer: (Blocks.Scope, Boolean) => DataFrame,
      pairs: (DataFrame, Boolean) => DataFrame,
      write: DataFrame => Unit): Unit =
    Blocks.scope { s =>
      val history = batch0.sparkSession.catalog.tableExists(lastTable)
      val offered = offer(s, history)
      val admitted = Blocks.scope { p =>
        val drops = batchDrops(p.adopt(pairs(offered, history)), offered, id, pairCols)
        s.checkpoint(offered.join(broadcast(drops), Seq(id), "left_anti"))
      }
      if (!admitted.isEmpty) write(admitted)
    }

  /** Shared rejection policy of the pair-based admission sinks: given
    * the near-dup pairs (`pairCols`, smaller id first) of a micro-batch
    * vs (history ∪ batch), the batch `id`s to drop — both sides in batch
    * keeps the smaller id; a batch-vs-history pair drops the batch side
    * whichever slot it landed in. */
  private def batchDrops(
      pairs: DataFrame, batch: DataFrame, id: String,
      pairCols: (String, String)): DataFrame = {
    val (a, b) = pairCols
    val ids = batch.select(col(id)).distinct()
    val aIn = ids.select(col(id).as(a)).withColumn("a_in_batch", lit(true))
    val bIn = ids.select(col(id).as(b)).withColumn("b_in_batch", lit(true))
    pairs
      .join(aIn, Seq(a), "left")
      .join(bIn, Seq(b), "left")
      .select(
        when(col("a_in_batch").isNotNull && col("b_in_batch").isNotNull, col(b))
          .when(col("a_in_batch").isNotNull, col(a))
          .otherwise(col(b)).as(id))
      .distinct()
  }

  /** Streaming CONTAINMENT admission: like [[toNearDupFilteredSink]] but
    * scored with Broder's containment |A∩B| / min(|A|,|B|) — it also
    * drops the subset-duplication case Jaccard admission misses (a long
    * doc quoting an already-admitted short doc wholesale has J ≈ 0.01
    * but containment 1.0). Standing index: `db.table_wordminhash_sigs`
    * (word-n-gram MinHash signatures, reused every batch so history text
    * is never re-hashed); identical tag-partition idempotency contract
    * to the other admission sinks. */
  def toContainmentFilteredSink(
      docs: DataFrame, db: String, table: String,
      threshold: Double = 0.6,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      admitContainmentBatch(batch, db, table, threshold, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the containment admission pipeline (the
    * foreachBatch body of [[toContainmentFilteredSink]], factored out so
    * retries are directly testable). Idempotent for a given `tag`. */
  private[graft] def admitContainmentBatch(
      batch0: DataFrame, db: String, table: String, threshold: Double,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    val spark = batch0.sparkSession
    val full = s"$db.$table"
    val sigsTable = s"${full}_wordminhash_sigs"
    admitPairBatch(batch0, sigsTable, "doc_id", ("doc_a", "doc_b"))(
      offer = (s, _) => s.persist(batch0),
      pairs = (batch, history) =>
        if (history)
          Dedup.ngramContainmentPairsIncremental(
            otherTags(spark, full, tagColumn, tag)
              .select(batch.columns.filter(_ != tagColumn).map(col): _*),
            batch, threshold,
            historySigs = Some(
              otherTags(spark, sigsTable, tagColumn, tag).select(SigCols.map(col): _*)))
        else Dedup.ngramContainmentPairs(batch, threshold),
      write = admitted => {
        writeTagPartition(admitted, full, tagColumn, tag)
        writeTagPartition(Dedup.wordMinHashSignatures(admitted), sigsTable, tagColumn, tag)
      })
  }

  /** Streaming exact-substring coverage at ingest: each micro-batch of
    * documents is annotated with its duplicated-span stats against the
    * corpus admitted SO FAR — the batch path's
    * [[graft.dedup.Dedup.duplicatedSpanStatsIncremental]] — and the
    * standing (gram-hash, count) index is maintained additively, so
    * history text is never re-read. Flag-and-keep flavor: coverage is
    * recorded per doc, not dropped — span REMOVAL is a corpus-level policy
    * applied downstream, where the whole cluster of occurrences is
    * visible.
    *
    * Maintains `db.table` (docs + n_spans/dup_tokens/dup_ratio) and
    * `db.table_span_grams` (per-tag gram counts). The history counts a
    * batch sees are the per-hash SUM over every OTHER tag's partition, and
    * both writes dynamically overwrite the batch's own tag — so an
    * at-least-once retry replaces its previous contribution instead of
    * double-counting it (same idempotence contract as the admission
    * sinks). Requires `doc_id` and `text` columns. */
  def toSpanStatsSink(
      docs: DataFrame, db: String, table: String,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      annotateSpanBatch(batch, db, table, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the span-annotation pipeline (the foreachBatch
    * body of [[toSpanStatsSink]], factored out for direct retry tests).
    * Idempotent for a given `tag`. */
  private[graft] def annotateSpanBatch(
      batch0: DataFrame, db: String, table: String,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = Blocks.scope { s =>
    val spark = batch0.sparkSession
    val batch = s.persist(batch0)
    val full = s"$db.$table"
    val gramsTable = s"${full}_span_grams"
    val stats =
      if (spark.catalog.tableExists(gramsTable)) {
        val histCounts = otherTags(spark, gramsTable, tagColumn, tag)
          .groupBy("gh").agg(sum(col("hc")).as("hc"))
        // history text is never touched when the count table is supplied —
        // the first argument is only a fallback source (passed but unused)
        Dedup.duplicatedSpanStatsIncremental(
          history = batch, delta = batch,
          historyGramCounts = Some(histCounts))
      } else Dedup.duplicatedSpanStats(batch) // first batch: corpus = batch
    // the checkpoint severs the plan's read of the gram table before the
    // tag-partition overwrite below (overwrite-of-a-read-table hazard)
    val annotated = s.checkpoint(batch.join(stats.drop("n_tokens"), Seq("doc_id")))
    writeTagPartition(annotated, full, tagColumn, tag)
    writeTagPartition(Dedup.spanGramCounts(batch), gramsTable, tagColumn, tag)
  }

  /** Streaming SEMANTIC near-dup admission: the embedding-space twin of
    * [[toNearDupFilteredSink]] — each micro-batch of vectors is checked
    * against the admitted corpus with the same incremental cosine-LSH
    * pipeline the batch path uses
    * ([[graft.sim.CosineLsh.nearDupPairsIncremental]]), and only
    * semantically novel vectors are appended. Maintains `db.table`
    * (admitted vectors) and `db.table_emb_buckets` (their normalized
    * vectors + LSH bucket ids — the standing index, so history is never
    * re-hashed). Same tag-partition dynamic-overwrite idempotence and the
    * same drop policy (smaller id wins within a batch; history always
    * wins). Requires `vec_id` and `embedding` columns. */
  def toEmbeddingDedupSink(
      vecs: DataFrame, db: String, table: String,
      threshold: Double = 0.45,
      bits: Int = graft.sim.CosineLsh.BitsPerTable,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(vecs, tagPrefix) { (batch, tag) =>
      admitEmbeddingBatch(batch, db, table, threshold, bits, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the embedding admission pipeline (the foreachBatch
    * body of [[toEmbeddingDedupSink]], factored out for direct retry
    * testing). Idempotent for a given `tag`. */
  private[graft] def admitEmbeddingBatch(
      batch0: DataFrame, db: String, table: String, threshold: Double,
      bits: Int, tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    import graft.sim.CosineLsh
    val spark = batch0.sparkSession
    val full = s"$db.$table"
    val idxTable = s"${full}_emb_buckets"
    admitPairBatch(batch0, idxTable, "vec_id", ("id_a", "id_b"))(
      offer = (s, _) => s.persist(batch0),
      pairs = (batch, history) =>
        if (history)
          CosineLsh.nearDupPairsIncremental(
            otherTags(spark, full, tagColumn, tag)
              .select(batch.columns.filter(_ != tagColumn).map(col): _*),
            batch, threshold, Some(bits),
            historyBuckets = Some(
              otherTags(spark, idxTable, tagColumn, tag).select("vec_id", "nv", "buckets")))
        else CosineLsh.nearDupPairs(batch, threshold, Some(bits)),
      write = admitted => {
        writeTagPartition(admitted, full, tagColumn, tag)
        writeTagPartition(CosineLsh.bucketed(admitted, bits), idxTable, tagColumn, tag)
      })
  }

  /** Streaming perceptual-hash admission over a media stream: each
    * micro-batch runs the decode-kernel pHash ONCE on the batch, finds
    * hamming near-dups against the standing `db.table_phash` index (the
    * batch path's [[graft.mm.Multimodal.phashNearDupPairsIncremental]]),
    * and appends only novel items. History payloads are never re-decoded
    * — the index is one long per item. Same tag-partition
    * dynamic-overwrite idempotence and drop policy as the other admission
    * sinks (smaller id wins within a batch; history always wins).
    * Requires the media schema (`media_id`, `media`, `format`,
    * `n_bytes`). */
  def toPhashDedupSink(
      media: DataFrame, db: String, table: String,
      maxHamming: Int = 2,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(media, tagPrefix) { (batch, tag) =>
      admitPhashBatch(batch, db, table, maxHamming, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the pHash admission pipeline (the foreachBatch
    * body of [[toPhashDedupSink]], factored out for direct retry
    * testing). Idempotent for a given `tag`. */
  private[graft] def admitPhashBatch(
      batch0: DataFrame, db: String, table: String, maxHamming: Int,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    import graft.mm.Multimodal
    val spark = batch0.sparkSession
    val full = s"$db.$table"
    val idxTable = s"${full}_phash"
    admitPairBatch(batch0, idxTable, "media_id", ("media_a", "media_b"))(
      offer = (s, _) => s.persist(batch0),
      pairs = (batch, history) =>
        if (history)
          Multimodal.phashNearDupPairsIncremental(
            spark,
            // history media is never decoded: the standing hash table below
            // short-circuits the kernel
            history = batch.limit(0),
            delta = batch, maxHamming = maxHamming,
            historyHashes = Some(
              otherTags(spark, idxTable, tagColumn, tag).select("media_id", "phash")))
        else Multimodal.phashNearDupPairs(spark, batch, maxHamming),
      write = admitted => {
        writeTagPartition(admitted, full, tagColumn, tag)
        writeTagPartition(Multimodal.perceptualHashes(spark, admitted), idxTable, tagColumn, tag)
      })
  }

  /** The full curation funnel AT INGEST: each micro-batch of documents
    * passes the quality gate, exact-fingerprint dedup against the
    * standing `db.table_fps` table, and MinHash near-dedup against the
    * standing signature table — the streaming counterpart of the batch
    * `curation_funnel` query, maintaining all three tables (docs, fps,
    * minhash sigs) with the same tag-partition dynamic-overwrite
    * idempotence as the other admission sinks. The quality threshold is
    * caller-fixed (calibrate it offline with `quality_calibrated`): a
    * per-batch mean would drift with batch composition. Requires
    * `doc_id` and `text` columns. */
  def toCurationSink(
      docs: DataFrame, db: String, table: String,
      minQuality: Double, threshold: Double = 0.8,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      admitCurationBatch(batch, db, table, minQuality, threshold, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the curation funnel (the foreachBatch body of
    * [[toCurationSink]], factored out for direct retry testing).
    * Idempotent for a given `tag`. */
  private[graft] def admitCurationBatch(
      batch0: DataFrame, db: String, table: String,
      minQuality: Double, threshold: Double,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    import graft.text.TextAnalysis
    val spark = batch0.sparkSession
    val full = s"$db.$table"
    val fpsTable = s"${full}_fps"
    val sigsTable = s"${full}_minhash_sigs"
    admitPairBatch(batch0, sigsTable, "doc_id", ("doc_a", "doc_b"))(
      offer = (s, history) => {
        // Stage 1: quality gate (fixed threshold, scan-side score).
        val q = s.persist(
          batch0.where(TextAnalysis.qualityScore(col("text")) >= lit(minQuality)))
        // Stage 2: exact dedup — in-batch keep-smallest per fingerprint,
        // then drop fingerprints the admitted history already holds (one
        // narrow join against the standing (doc_id, fp) table; text never
        // re-read).
        val withFp = q.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
        val inBatchKeep = withFp.groupBy(col("__fp"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val batchUnique = withFp.join(inBatchKeep, Seq("doc_id"), "left_semi")
        s.persist(
          if (history)
            batchUnique.join(
              otherTags(spark, fpsTable, tagColumn, tag).select(col("fp").as("__fp")),
              Seq("__fp"), "left_anti")
          else batchUnique)
      },
      // Stage 3: MinHash near-dedup against the standing signatures (the
      // incremental pipeline; history text is never re-shingled).
      pairs = (e, history) =>
        if (history)
          Dedup.minHashLshPairsIncremental(
            otherTags(spark, full, tagColumn, tag)
              .select(batch0.columns.filter(_ != tagColumn).map(col): _*),
            e.drop("__fp"), threshold,
            historySigs = Some(
              otherTags(spark, sigsTable, tagColumn, tag).select(SigCols.map(col): _*)))
        else Dedup.minHashLshPairs(e.drop("__fp"), threshold),
      write = admitted => {
        writeTagPartition(admitted.drop("__fp"), full, tagColumn, tag)
        writeTagPartition(admitted.select(col("doc_id"), col("__fp").as("fp")),
          fpsTable, tagColumn, tag)
        writeTagPartition(Dedup.minHashSignatures(admitted.drop("__fp")),
          sigsTable, tagColumn, tag)
      })
  }

  /** Tags `df` with `tag` and writes it: the first write creates the
    * tag-partitioned table; later writes replace exactly the tags present
    * in `df` (dynamic partition overwrite) — the idempotence mechanism for
    * at-least-once micro-batch delivery. */
  private def writeTagPartition(
      df0: DataFrame, table: String, tagColumn: String, tag: String): Unit = {
    val df = df0.withColumn(tagColumn, lit(tag))
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table))
      df.write.partitionBy(tagColumn).format("parquet").saveAsTable(table)
    else {
      val cols = spark.table(table).columns
      // the per-writer partitionOverwriteMode option is not honored on
      // this insertInto path — scope the session conf instead
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "dynamic")
      try df.select(cols.map(col): _*)
        .write.mode("overwrite").insertInto(table)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Streaming distinct-count sketch maintenance: every micro-batch folds
    * into a standing per-group KMV (bottom-k-by-hash) sketch table
    * `db.table_kmv(g, h, key_id)` that holds, after each batch, the k
    * smallest `md5(key)` hashes per group over ALL data ever ingested —
    * the continuously-maintained form of the batch `agg_kmv_merge` rollup.
    *
    * Why this shape survives at 100 TB: the standing state is
    * sketch-sized (groups × k rows — kilobytes), each batch touches only
    * its own distinct (group, key) pairs, and the raw corpus is NEVER
    * re-scanned for a distinct count — [[kmvEstimates]] reads estimates
    * straight off the standing table. Idempotency falls out of the
    * algebra instead of tag bookkeeping: min-k-by-hash union is a SET
    * operation, so re-folding a retried (at-least-once) batch merges the
    * same elements and changes nothing. The rewrite collects the merged
    * sketch to the driver first — bounded by construction — because the
    * overwrite targets the very table the merge reads. */
  def toSketchSink(
      events: DataFrame, db: String, table: String,
      groupCol: String = "event_type", keyCol: String = "user_id",
      k: Int = 64): DataStreamWriter[Row] =
    eachBatch(events, tagPrefix = "") { (batch, _) =>
      foldSketchBatch(batch, db, table, groupCol, keyCol, k)
    }

  /** One micro-batch fold: standing sketch ∪ batch bottom-k, re-cut to k
    * per group (the lossless min-k union `agg_kmv_merge` relies on). */
  private def foldSketchBatch(
      batch: DataFrame, db: String, table: String,
      groupCol: String, keyCol: String, k: Int): Unit = {
    val s = batch.sparkSession
    val tbl = s"$db.${table}_kmv"
    val hashed = batch
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("long").as("key_id"))
      .distinct()
      .withColumn("h",
        conv(substring(md5(col("key_id").cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .select("g", "h", "key_id")
    val base =
      if (s.catalog.tableExists(tbl))
        s.table(tbl).select("g", "h", "key_id").unionByName(hashed)
      else hashed
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"), col("key_id"))
    val merged = base.distinct()
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select("g", "h", "key_id")
    // sketch-sized by construction (groups x k rows): safe to pin on the
    // driver so the overwrite does not read the table it replaces
    val rows = merged.collect().toSeq
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, merged.schema)
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
  }

  /** Per-group distinct-count estimates off the standing sketch table:
    * exact below k (every element is present), else the KMV estimator
    * (k−1)·H/h_k with h_k the largest retained hash. */
  def kmvEstimates(
      spark: SparkSession, db: String, table: String,
      k: Int = 64): DataFrame = {
    val H = 281474976710656.0 // 2^48, the md5-prefix hash range
    spark.table(s"$db.${table}_kmv")
      .groupBy("g")
      .agg(count(lit(1)).as("m"), max(col("h")).as("hk"))
      .select(col("g"),
        round(when(col("m") < k, col("m").cast("double"))
          .otherwise(lit((k - 1).toDouble * H) / col("hk")), 6).as("est"))
  }

  /** Streaming HyperLogLog register maintenance — the MAX-merge twin of
    * [[toSketchSink]]'s min-k union: every micro-batch folds its per-group
    * register contributions into a standing `db.table_hll(g, bucket, mj)`
    * table (≤ groups × 64 rows; the same md5-prefix hash, bucket = h mod
    * 64, rho in the 42-bit remaining frame as the batch
    * `agg_hll_distinct`). Register max-merge is a set-style operation like
    * KMV's min — re-folding a retried (at-least-once) batch takes
    * max(x, x) = x and changes nothing, so idempotency falls out of the
    * algebra with no tag bookkeeping. [[hllEstimates]] answers distinct
    * counts from the standing registers through the same exact
    * power-of-two arithmetic as the batch query, so streamed and one-shot
    * estimates are deterministically EQUAL, never just close.
    *
    * SINGLE WRITER PER TABLE: idempotency covers retries of the SAME
    * query, not concurrent queries sharing one `db.table` — each fold
    * read-merge-OVERWRITES the whole register table, so a second
    * concurrent writer's registers would be replaced by this writer's
    * snapshot (the same contract the tag-partition admission sinks make
    * implicitly, where a shared tag would likewise collide). Give each
    * stream its own table and max-merge at read time if fan-in is
    * needed — registers merge losslessly, like [[toNbCountsSink]]'s
    * tag-partitioned counts. */
  def toHllSink(
      events: DataFrame, db: String, table: String,
      groupCol: String = "event_type", keyCol: String = "user_id"): DataStreamWriter[Row] =
    eachBatch(events, tagPrefix = "") { (batch, _) =>
      foldHllBatch(batch, db, table, groupCol, keyCol)
    }

  /** One micro-batch fold: standing registers ∪ batch registers, max per
    * (group, bucket). Bounded at groups × 64 rows by construction. */
  private def foldHllBatch(
      batch: DataFrame, db: String, table: String,
      groupCol: String, keyCol: String): Unit = {
    val s = batch.sparkSession
    val tbl = s"$db.${table}_hll"
    val regs = batch
      .select(col(groupCol).cast("string").as("g"),
        col(keyCol).cast("long").as("key_id"))
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
    val base =
      if (s.catalog.tableExists(tbl))
        s.table(tbl).select("g", "bucket", "mj").unionByName(regs)
      else regs
    val merged = base.groupBy("g", "bucket").agg(max(col("mj")).as("mj"))
    // groups × 64 rows by construction: safe to pin on the driver so the
    // overwrite does not read the table it replaces
    val rows = merged.collect().toSeq
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, merged.schema)
      .write.mode("overwrite").format("parquet").saveAsTable(tbl)
  }

  /** Per-group HLL estimates off the standing register table — the same
    * exact arithmetic as the batch `agg_hll_distinct`: integer denominator
    * Σ 2^(43−M_j) (absent buckets contribute 2^43), one IEEE division,
    * linear counting m·ln(m/V) in the small range. */
  def hllEstimates(spark: SparkSession, db: String, table: String): DataFrame = {
    val alphaNum = 0.709 * 4096.0 * 8796093022208.0 // α_64·m²·2^43
    val g = spark.table(s"$db.${table}_hll")
      .groupBy("g")
      .agg(count(lit(1)).as("n_present"),
        sum(expr("shiftleft(cast(1 as bigint), cast(43 - mj as int))"))
          .as("s_present"))
      .select(col("g"),
        (lit(64L) - col("n_present")).as("n_zero"),
        (col("s_present")
          + (lit(64L) - col("n_present")) * lit(8796093022208L))
          .cast("double").as("s_int"))
    val estRaw = lit(alphaNum) / col("s_int")
    val est = when(estRaw <= 160.0 && col("n_zero") > 0,
        lit(64.0) * log(lit(64.0) / col("n_zero").cast("double")))
      .otherwise(estRaw)
    g.select(col("g"), round(est, 6).as("est"))
  }

  /** Streaming novelty annotation (graft.text.Novelty at ingest): every
    * micro-batch is scored against the STANDING gram→first-doc table and
    * written tag-partitioned with its novelty columns; the batch's own
    * per-gram min-doc contribution lands in a tag partition of
    * `db.table_novelty_grams`, so the standing state is the min across
    * tag partitions — min is a set-style merge, which makes a retried
    * tag a no-op (it overwrites its own partition and min(x, x) = x).
    * History text is never re-tokenized: each batch SCANS the standing
    * gram table (narrow: shingle, first_doc — linear in accumulated
    * grams, like any log-structured read path) but semi-joins it down to
    * the batch's own shingles before the min-merge, so the shuffle/merge
    * work is O(batch grams + matched standing rows). Long-running streams
    * should periodically fold the tag partitions with
    * [[graft.operators.Compact]] to keep that scan's constant down.
    * Assumes doc_ids are assigned in ingestion order (the same contract
    * the batch pipeline documents). */
  def toNoveltySink(
      docs: DataFrame, db: String, table: String,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      scoreNoveltyBatch(batch, db, table, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch of the novelty pipeline (the foreachBatch body of
    * [[toNoveltySink]], factored out for direct retry tests). Idempotent
    * for a given tag. */
  private[graft] def scoreNoveltyBatch(
      batch0: DataFrame, db: String, table: String,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = Blocks.scope { s =>
    import graft.text.Novelty
    val spark = batch0.sparkSession
    val batch = s.persist(batch0)
    val full = s"$db.$table"
    val gramsTable = s"${full}_novelty_grams"
    val scored =
      if (spark.catalog.tableExists(gramsTable)) {
        // Semi-join the standing table down to THIS batch's shingles
        // BEFORE the min-merge: without it the groupBy re-shuffles every
        // standing gram ever ingested each micro-batch; with it only rows
        // the batch can actually match reach the merge (and AQE broadcasts
        // the batch-gram side when it is small).
        val batchShingles = Dedup
          .wordShingles(batch, n = Novelty.GramSize, dedup = true)
          .select("shingle").distinct()
        val standing = otherTags(spark, gramsTable, tagColumn, tag)
          .join(batchShingles, Seq("shingle"), "left_semi")
          .groupBy("shingle").agg(min(col("first_doc")).as("hist_first"))
        Novelty.scoreIncremental(batch, standing)
      } else Novelty.score(batch) // first batch: corpus = batch
    // the checkpoint severs the plan's read of the gram table before the
    // tag-partition overwrite below (overwrite-of-a-read-table hazard)
    val annotated = s.checkpoint(batch.join(scored, Seq("doc_id")))
    writeTagPartition(annotated, full, tagColumn, tag)
    writeTagPartition(
      Novelty.firstSeen(batch).select(col("shingle"), col("hist_first").as("first_doc")),
      gramsTable, tagColumn, tag)
  }

  /** Streaming Count-Min sketch maintenance — the frequency twin of
    * [[toSketchSink]]: every micro-batch writes its own d×w counter grid
    * ([[graft.functions.Cms]]) into a TAG PARTITION of the standing
    * `db.table_cms(row, bucket, c, tag)` table. Counter addition is not
    * idempotent, so unlike the KMV set-union fold the grids are kept
    * per-batch and summed at read time: a retried batch id overwrites
    * its own partition (dynamic partition overwrite) instead of
    * double-counting, and [[Compact.rollbackToTag]]/expireTags manage
    * the partitions like any other tag-partitioned sink. The standing
    * state is sketch-sized (≤ d·w rows per batch) regardless of stream
    * volume; [[cmsEstimates]] answers ad-hoc per-key frequency queries
    * off it without ever rescanning ingested data. */
  def toCmsSink(
      events: DataFrame, db: String, table: String,
      keyCol: String = "user_id",
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(events, tagPrefix) { (batch, tag) =>
      foldCmsBatch(batch, db, table, keyCol, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch CMS fold (the foreachBatch body of [[toCmsSink]],
    * factored out for direct retry tests). Idempotent for a given tag. */
  private[graft] def foldCmsBatch(
      batch: DataFrame, db: String, table: String,
      keyCol: String, tag: String,
      tagColumn: String = "dl_ingest_date"): Unit = {
    import graft.functions.Cms
    val grid = batch.select(col(keyCol).as("k"))
      .select(explode(array((0 until Cms.Depth).map(j =>
        struct(lit(j).as("row"), Cms.bucket(col("k"), j).as("bucket"))): _*))
        .as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
    writeTagPartition(grid, s"$db.${table}_cms", tagColumn, tag)
  }

  /** Per-key frequency estimates off the standing CMS table: counters
    * sum across batch tags (grid merge = elementwise addition), the
    * estimate is the min over the d rows — ≥ the true count always. A
    * key whose bucket was never touched reads 0 (provably unseen). */
  def cmsEstimates(
      spark: SparkSession, db: String, table: String,
      keys: Seq[Long]): DataFrame = {
    import graft.functions.Cms
    val counters = spark.table(s"$db.${table}_cms")
      .groupBy("row", "bucket").agg(sum(col("c")).as("c"))
    val probes = spark.createDataFrame(keys.map(Tuple1(_))).toDF("key_id")
    (0 until Cms.Depth).foldLeft(
      probes.withColumn("est", lit(Long.MaxValue))) { (acc, j) =>
      acc.join(counters.where(col("row") === j)
          .select(col("bucket").as(s"b$j"), col("c").as(s"c$j")),
        Cms.bucket(col("key_id"), j) === col(s"b$j"), "left")
        .withColumn("est", least(col("est"), coalesce(col(s"c$j"), lit(0L))))
        .drop(s"b$j", s"c$j")
    }.select(col("key_id"), col("est"))
  }

  /** Streaming Naive-Bayes classifier-count maintenance — the CLASSIFIER
    * twin of [[toCmsSink]]: every micro-batch of documents writes its
    * class-conditional hashed-bucket count CONTRIBUTION
    * ([[graft.text.NaiveBayes.countsFromDocs]], ≤ Width rows) into a TAG
    * PARTITION of the standing `db.table_nb(bucket, c0, c1, tag)` table.
    * Counter addition is not idempotent, so per-batch grids are kept and
    * summed at read time — a retried batch id overwrites its own
    * partition instead of double-counting. [[nbModel]] resolves the
    * Laplace-smoothed model off the summed counters through the SAME
    * [[graft.text.NaiveBayes.modelFromCounts]] the batch
    * `quality_nb_train` query uses, so the streamed and one-shot
    * classifiers cannot drift: the model retrains continuously for the
    * cost of Width rows per batch, never a corpus rescan. */
  def toNbCountsSink(
      docs: DataFrame, db: String, table: String,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(docs, tagPrefix) { (batch, tag) =>
      foldNbBatch(batch, db, table, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch NB counter fold (the foreachBatch body of
    * [[toNbCountsSink]], factored out for direct retry tests). Idempotent
    * for a given tag. */
  private[graft] def foldNbBatch(
      batch: DataFrame, db: String, table: String,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit =
    writeTagPartition(graft.text.NaiveBayes.countsFromDocs(batch),
      s"$db.${table}_nb", tagColumn, tag)

  /** The continuously-trained model off the standing counter table:
    * counts sum across batch tags (additive merge), then the shared
    * model arithmetic — result-identical to batch-training on the union
    * of every ingested batch. */
  def nbModel(spark: SparkSession, db: String, table: String): DataFrame =
    graft.text.NaiveBayes.modelFromCounts(
      spark.table(s"$db.${table}_nb")
        .groupBy("bucket")
        .agg(sum(col("c0")).as("c0"), sum(col("c1")).as("c1")))

  /** Streaming experiment counters — continuously-maintained A/B state:
    * every micro-batch writes its per-user purchase-count CONTRIBUTION
    * (user_id, cohort, np) into a TAG PARTITION of `db.table_ab_users`.
    * Per-user counts are additive, so like the CMS grids a retried batch
    * id overwrites its own partition instead of double-counting; the
    * conversion verdict (np > threshold) is resolved at READ time, after
    * summing each user across all tags — a user pushed over the threshold
    * by a later batch converts exactly once, which per-batch conversion
    * flags could not express. Standing state is O(users per batch) rows
    * per tag, never event volume; [[abTestReadout]] answers the z-test
    * off it without rescanning ingested events. */
  def toAbTestSink(
      events: DataFrame, db: String, table: String,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(events, tagPrefix) { (batch, tag) =>
      foldAbBatch(batch, db, table, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch A/B counter fold (the foreachBatch body of
    * [[toAbTestSink]], factored out for direct retry tests). Idempotent
    * for a given tag. */
  private[graft] def foldAbBatch(
      batch: DataFrame, db: String, table: String,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    val per = batch.groupBy("user_id")
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("np"))
      .select(col("user_id"),
        graft.operators.Experiment.cohort(col("user_id")).as("grp"),
        col("np"))
    writeTagPartition(per, s"$db.${table}_ab_users", tagColumn, tag)
  }

  /** Experiment readout off the standing counters: per-user totals across
    * tags → heavy-buyer conversion (np > threshold) → the SAME pooled
    * two-proportion z as the batch `events_ab_test` query (shared
    * [[graft.operators.Experiment]] implementation — the surfaces cannot
    * drift). */
  def abTestReadout(
      spark: SparkSession, db: String, table: String,
      threshold: Long = 12): DataFrame = {
    import graft.operators.Experiment
    val users = spark.table(s"$db.${table}_ab_users")
      .groupBy("user_id", "grp").agg(sum(col("np")).as("np"))
      .select(when(col("np") > threshold, 1L).otherwise(0L).as("cv"),
        col("grp"))
    Experiment.zReadout(Experiment.cohortCounts(users))
  }

  /** Streaming SPRT trial ledger — continuously-maintained SEQUENTIAL-test
    * state (the always-valid monitor the A/B counters' fixed-horizon z
    * cannot give: Wald's SPRT thresholds hold at EVERY read, so peeking
    * daily costs nothing): every micro-batch writes its per-(day, user)
    * conversion contribution (sc = did this user purchase that day IN
    * THIS BATCH) into a TAG PARTITION of `db.table_sprt_trials`. Unlike
    * the additive A/B counters this ledger merges by MAX at read time —
    * sc is a has-purchased flag and trial membership is set membership,
    * both set-style merges — so a retried batch is a structural no-op
    * and a user whose first purchase of a day arrives in a later batch
    * flips that day's sc exactly once. [[sprtReadout]] answers the Wald
    * decision curve off the standing ledger through the SAME
    * [[graft.operators.Experiment.sprtCurve]] as the batch
    * `events_sequential_sprt` query, so the surfaces cannot drift.
    * Standing state is O(active user-days) rows per tag — bounded by
    * users × days, never event volume. */
  def toSprtSink(
      events: DataFrame, db: String, table: String,
      tagPrefix: String = "stream",
      tagColumn: String = "dl_ingest_date"): DataStreamWriter[Row] =
    eachBatch(events, tagPrefix) { (batch, tag) =>
      foldSprtBatch(batch, db, table, tag = tag, tagColumn = tagColumn)
    }

  /** One micro-batch trial-ledger fold (the foreachBatch body of
    * [[toSprtSink]], factored out for direct retry tests). Idempotent for
    * a given tag. */
  private[graft] def foldSprtBatch(
      batch: DataFrame, db: String, table: String,
      tag: String, tagColumn: String = "dl_ingest_date"): Unit = {
    val per = batch
      .select(graft.sources.Tables.eventDay.as("day"),
        col("user_id"), col("event_type"))
      .groupBy("day", "user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("sc"))
    writeTagPartition(per, s"$db.${table}_sprt_trials", tagColumn, tag)
  }

  /** The sequential decision curve off the standing ledger: per-(day,
    * user) flags MAX-merge across tags, then the shared Experiment
    * SPRT arithmetic — result-identical to running the batch query over
    * the union of every ingested batch. */
  def sprtReadout(spark: SparkSession, db: String, table: String): DataFrame =
    graft.operators.Experiment.sprtCurve(
      spark.table(s"$db.${table}_sprt_trials")
        .groupBy("day", "user_id").agg(max(col("sc")).as("sc")))

  /** Memory-sink writer used by tests to drive a stream synchronously. */
  def toMemorySink(df: DataFrame, name: String, outputMode: String): DataStreamWriter[Row] =
    df.writeStream.format("memory").queryName(name).outputMode(outputMode)
}
