package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.streaming.StreamingIngest

/** Streaming admission: `StreamingIngest.toCurationSink` over a file
  * source, closed loop — micro-batch k+1 is released only after
  * `processAllAvailable` returns for batch k. The seed splits `documents`
  * into batches and, from the second batch on, injects exact and near
  * copies of earlier docs, so the standing fingerprint and signature
  * tables grow over the run. A helper of [[IngestAdmit]]. */
final class StreamAdmit(ctx: Ctx) {
  import StreamAdmit._
  private val dir = ctx.args.data.toString
  private val batchSize = ctx.args.size("stream_batch", 300)
  private val staging = ctx.args.work.resolve("stream-staging")
  private val input = ctx.args.work.resolve("stream-input")
  // its own generator, so the batches depend on the seed and the batch
  // size alone, not on what the ingest half drew before
  private val rng = new scala.util.Random(ctx.args.seed)
  // per-batch admitted counts of earlier runs of this seed and batch size
  // with the same build; the state dir is keyed by the input scale and sizes
  private val countsFile = ctx.args.state.resolve(ctx.args.stamp).resolve(
    s"${ctx.args.workload}-seed${ctx.args.seed}-batch$batchSize.counts")
  private val stored: Seq[Long] =
    if (Files.exists(countsFile))
      Files.readString(countsFile).trim.split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    else Nil

  private var batches = IndexedSeq.empty[Seq[Row]]
  private val exactCopies = scala.collection.mutable.Set.empty[Long]
  private var query: StreamingQuery = _
  private var released = 0
  private var admittedTotal = 0L
  private val admittedPerBatch = ArrayBuffer.empty[Long]
  private var offered = 0L
  private var admittedMeasured = 0L


  def setup(spark: SparkSession): Unit = {
    spark.sql("CREATE DATABASE IF NOT EXISTS bench")
    Tables.load(spark, dir, "documents").schema
  }

  /** Seed-ordered batches; from batch 1 on ~20% are copies of earlier docs
    * (half exact, half with a word appended). */
  private def plan(docs: Seq[Row]): IndexedSeq[Seq[Row]] = {
    val fresh = rng.shuffle(docs).iterator
    val seen = ArrayBuffer.empty[Row]
    var nextId = CopyIdBase
    val out = ArrayBuffer.empty[Seq[Row]]
    while (fresh.hasNext) {
      val inject = if (out.isEmpty) 0 else batchSize / 5
      val own = fresh.take(batchSize - inject).toSeq
      val copies = (0 until inject).map { j =>
        val src = seen(rng.nextInt(seen.size))
        nextId += 1
        val text = if (j % 2 == 0) src.getString(1) else src.getString(1) + " dup"
        if (j % 2 == 0) exactCopies += nextId
        Row(nextId, text, src.getString(2), src.getString(3), text.length.toLong)
      }
      seen ++= own
      out += rng.shuffle(own ++ copies)
    }
    out.toIndexedSeq
  }

  def warm(): Unit = {
    val spark = ctx.spark
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars").collect().toSeq
    batches = plan(docs)
    val rows = batches.zipWithIndex.flatMap { case (b, k) => b.map(r => Row.fromSeq(r.toSeq :+ k)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), DocSchema.add("b", IntegerType))
      .repartition(col("b")).write.partitionBy("b").parquet(staging.toString)
    Files.createDirectories(input)
    query = StreamingIngest.toCurationSink(
        spark.readStream.schema(DocSchema).parquet(input.toString),
        "bench", "admitted", minQuality = MinQuality, threshold = 0.8)
      .option("checkpointLocation", ctx.args.work.resolve("checkpoints/admit").toString)
      .start()
    (0 until WarmBatches).foreach(_ => runBatch("warm"))
  }

  /** Move batch k's file into the watched directory (atomic rename). */
  private def release(k: Int): Unit = {
    val files = Files.list(staging.resolve(s"b=$k")).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    files.zipWithIndex.foreach { case (f, j) =>
      Files.move(f, input.resolve(f"batch-$k%05d-$j.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def runBatch(id: String): Op = {
    val k = released
    if (k >= batches.size) throw new IllegalStateException("stream_admit ran out of batches")
    ctx.spark.catalog.clearCache()
    release(k)
    released += 1
    val (_, secs) = ctx.timed("stream.batch", "streaming", id)(query.processAllAvailable())
    val notes = check(k)
    Op("batch", id, secs, notes.isEmpty, batches(k).size.toDouble, notes.mkString("; "))
  }

  /** One measured micro-batch. */
  def batch(id: String): Op = {
    val o = runBatch(id)
    offered += batches(released - 1).size
    admittedMeasured += admittedPerBatch.last
    o
  }

  private def check(k: Int): Seq[String] = {
    val notes = ArrayBuffer.empty[String]
    val admitted = ctx.spark.table("bench.admitted").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val now = admitted.length.toLong
    admittedPerBatch += now - admittedTotal
    admittedTotal = now
    val fps = admitted.map { case (_, t) => fingerprint(t) }
    if (fps.distinct.length != fps.length) notes += "two admitted docs share a fingerprint"
    val leaked = admitted.count { case (id, _) => exactCopies(id) }
    if (leaked > 0) notes += s"$leaked injected exact copies admitted"
    val low = admitted.count { case (_, t) => quality(t) < MinQuality - 1e-6 }
    if (low > 0) notes += s"$low admitted docs below the quality gate"
    if (stored.isDefinedAt(k) && stored(k) != admittedPerBatch(k))
      notes += s"batch $k admitted ${admittedPerBatch(k)}, an earlier run of this seed admitted ${stored(k)}"
    notes.toSeq
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    if (admittedPerBatch.size > stored.size) {
      Files.createDirectories(countsFile.getParent)
      Files.writeString(countsFile, admittedPerBatch.mkString(","))
    }
    val bs = ops.filter(_.kind == "batch")
    Seq(("microbatch_p50_s", Main.median(bs.map(_.seconds)), "s"),
      ("admit_docs_per_s", bs.map(_.units).sum / bs.map(_.seconds).sum, "1/s"))
  }

  def layers(v: LedgerView, ops: Seq[Op]): Seq[(String, Double)] = {
    val spark = ctx.spark
    val batch = v.inSpan("stream.batch") _
    val write = (p: Placed) => batch(p) && (p.action == "saveAsTable" || p.action == "insertInto")
    val perBatch = v.per(ops.count(_.kind == "batch")) _
    Seq(
      "streaming.jobs_per_batch" -> perBatch(v.jobs(batch).size),
      "streaming.empty_check_jobs" -> perBatch(v.jobs(p => batch(p) && p.action == "isEmpty").size),
      "streaming.dedup_s" -> perBatch(v.jobSeconds(p => batch(p) && p.module == "dedup")),
      "streaming.write_s" -> perBatch(v.jobSeconds(write)),
      "streaming.admit_yield" -> (if (offered > 0) admittedMeasured.toDouble / offered else 0.0),
      "streaming.state_rows" -> (spark.table("bench.admitted_fps").count() +
        spark.table("bench.admitted_minhash_sigs").count()).toDouble)
  }

  def close(): Unit = if (query != null) query.stop()
}

object StreamAdmit {
  val MinQuality = 0.3
  val WarmBatches = 1
  val CopyIdBase = 10000000L
  val DocSchema: StructType = new StructType()
    .add("doc_id", LongType).add("text", StringType).add("lang", StringType)
    .add("source", StringType).add("n_chars", LongType)

  private val Tokens = "\\S+".r
  private val Stop = "\\b(the|a|and|of|to|in|is)\\b".r

  /** The quality score's definition, computed independently of the
    * program: English-stopword share and a length band, half each. */
  def quality(t: String): Double = {
    val tok = Tokens.findAllIn(t).size.toDouble
    if (tok == 0) 0.0
    else Stop.findAllIn(t).size / tok * 0.5 + math.min(tok / 100.0, 1.0) * 0.5
  }

  /** md5 of the lowercased, whitespace-collapsed, trimmed text. */
  def fingerprint(t: String): String =
    MessageDigest.getInstance("MD5")
      .digest(t.toLowerCase.replaceAll("\\s+", " ").trim.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
