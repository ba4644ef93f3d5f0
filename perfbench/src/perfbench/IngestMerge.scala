package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Connection, DriverManager, Timestamp}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.cli.{JdbcLoader, JdbcLoaderIncrementalAppend, JdbcLoaderIncrementalMerge}
import graft.operators.{Ingest, IngestReport}
import graft.sources.{ConnOpts, Connections}

/** The reference's own job: an embedded Derby table loaded with a full
  * refresh, then rounds of seed-drawn inserts, updates and soft deletes,
  * each followed by the incremental merge loader, plus the append loader
  * over a log table. Only the loader calls are timed. A helper of
  * [[IngestAdmit]]. */
final class IngestMerge(ctx: Ctx) {
  private val n = ctx.args.size("ingest_rows", 25000)
  private val url = s"jdbc:derby:${ctx.args.work.resolve("derby/src")};create=true"
  private val parts = ctx.args.cores.toString
  private val Base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  // the generator's truth: one entry per source row
  private val value = ArrayBuffer.empty[String]
  private val lastMod = ArrayBuffer.empty[Long]
  private val deleted = ArrayBuffer.empty[Boolean]
  private var logRows = 0
  private var round = 0
  private val files = ArrayBuffer.empty[(Int, Long)]


  private def conn(): Connection = DriverManager.getConnection(url)

  private def batch(sql: String)(fill: java.sql.PreparedStatement => Unit): Unit = {
    val c = conn()
    try {
      c.setAutoCommit(false)
      val st = c.prepareStatement(sql)
      fill(st)
      st.executeBatch()
      c.commit()
      st.close()
    } finally c.close()
  }

  private def insertData(ids: Range, lm: Int => Long): Unit =
    batch("insert into src_data values (?, ?, ?, ?, ?, null)") { st =>
      ids.foreach { id =>
        val v = s"v${ctx.rng.nextInt(1000000)}"
        val t = lm(id)
        value += v; lastMod += t; deleted += false
        st.setInt(1, id); st.setString(2, v); st.setTimestamp(3, new Timestamp(t))
        st.setTimestamp(4, new Timestamp(t)); st.setString(5, "2024-01-01")
        st.addBatch()
      }
    }

  private def insertLog(k: Int): Unit =
    batch("insert into src_log values (?, ?, ?, ?)") { st =>
      (logRows until logRows + k).foreach { id =>
        st.setInt(1, id); st.setString(2, s"l${ctx.rng.nextInt(1000000)}")
        st.setTimestamp(3, new Timestamp(Base + id * 1000L)); st.setString(4, "2024-01-01")
        st.addBatch()
      }
      logRows += k
    }

  def prepare(): Unit = {
    System.setProperty("derby.system.home", ctx.args.work.resolve("derby").toString)
    Files.createDirectories(ctx.args.work.resolve("derby"))
    val c = conn()
    try {
      val st = c.createStatement()
      st.execute("""create table src_data (id int primary key, value varchar(30),
        last_modified timestamp, created timestamp, date_col varchar(10), deleted int)""")
      st.execute("""create table src_log (id int, value varchar(30),
        created timestamp, date_col varchar(10))""")
      st.close()
    } finally c.close()
    insertData(0 until n, id => Base + id * 1000L)
    insertLog(n / 10)
  }

  def setup(spark: SparkSession): Unit =
    Connections.load(spark, ConnOpts(url = url, driver = "", dbtable = Some("src_data"),
      partitionColumn = Some("id"), numPartitions = Some(parts.toInt))).schema

  private def tag(r: Int) = Ingest.tagValue(Instant.ofEpochMilli(Base).plusSeconds(3600L * (r + 1)))

  private val mergeArgs = Seq("-u", url, "-t", "src_data", "-H", "bench.merge_dest",
    "-k", "id", "-l", "last_modified", "-r", "id", "-d", "deleted",
    "-p", "id", "-m", parts, "-S", "bench_scratch")
  private val appendArgs = Seq("-u", url, "-t", "src_log", "-H", "bench.append_dest",
    "-r", "id", "-p", "id", "-m", parts)

  private var fullOps = Seq.empty[Op]

  def warm(): Unit = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    val (r, secs) = ctx.timed("cli.full_refresh", "cli", "full")(
      JdbcLoader.run(spark, Seq("-u", url, "-t", "src_data", "-H", "bench.full_dest",
        "-p", "id", "-m", parts), tag = tag(0)))
    val ok = r == IngestReport(n, n, n)
    fullOps = Seq(Op("full", "full", secs, ok, n.toDouble, if (ok) "" else s"full refresh report $r"))
    JdbcLoaderIncrementalMerge.run(spark, mergeArgs, tag = tag(0))
    JdbcLoaderIncrementalAppend.run(spark, appendArgs, tag = tag(0))
    round = 1
  }

  /** Apply one round of seed-drawn changes to the source (untimed). */
  private def change(): Int = {
    val ts = Base + 86400000L * 30 + round * 3600000L
    val live = deleted.indices.filterNot(deleted(_))
    val picks = ctx.rng.shuffle(live).take(n / 50 + n / 500)
    val (upd, del) = picks.splitAt(n / 50)
    batch("update src_data set value = ?, last_modified = ? where id = ?") { st =>
      upd.foreach { id =>
        val v = s"u$round-${ctx.rng.nextInt(1000000)}"
        value(id) = v; lastMod(id) = ts
        st.setString(1, v); st.setTimestamp(2, new Timestamp(ts)); st.setInt(3, id)
        st.addBatch()
      }
    }
    batch("update src_data set deleted = 1, last_modified = ? where id = ?") { st =>
      del.foreach { id =>
        deleted(id) = true; lastMod(id) = ts
        st.setTimestamp(1, new Timestamp(ts)); st.setInt(2, id)
        st.addBatch()
      }
    }
    val start = value.size
    insertData(start until start + n / 100, _ => ts)
    insertLog(n / 100)
    upd.size + del.size + n / 100
  }

  private def snapshot(): Map[String, (Long, Long)] = {
    val wh = ctx.args.work.resolve("warehouse")
    if (!Files.exists(wh)) Map.empty
    else Files.walk(wh).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
  }

  private def checksum(rows: Iterator[(Int, String, Long)]): Long =
    rows.map(r => scala.util.hashing.MurmurHash3.productHash(r).toLong).sum

  /** One merge round: seed-drawn changes (untimed), then the merge loader;
    * checked against the generator's truth. */
  def merge(id: String): Op = {
    val spark = ctx.spark
    val changed = change()
    spark.catalog.clearCache()
    val before = snapshot()
    val (mr, secs) = ctx.timed("cli.merge", "cli", id)(
      JdbcLoaderIncrementalMerge.run(spark, mergeArgs, tag = tag(round)))
    val after = snapshot()
    val written = after.filter { case (p, v) => !before.get(p).contains(v) }
    files += ((written.size, written.values.map(_._1).sum))

    val live = deleted.count(!_)
    val notes = ArrayBuffer.empty[String]
    if (mr != IngestReport(value.size, changed, live))
      notes += s"merge report $mr, expected ${IngestReport(value.size, changed, live)}"
    val dest = spark.table("bench.merge_dest").select("id", "value", "last_modified").collect()
      .iterator.map(r => (r.getInt(0), r.getString(1), r.getTimestamp(2).getTime))
    val truth = deleted.indices.iterator.filterNot(deleted(_)).map(k => (k, value(k), lastMod(k)))
    if (checksum(dest) != checksum(truth)) notes += "destination checksum differs from the source"
    Op("merge", id, secs, notes.isEmpty, changed.toDouble, notes.mkString("; "))
  }

  /** The append loader over the log rows this round's changes added; it
    * closes the round. */
  def append(id: String): Op = {
    ctx.spark.catalog.clearCache()
    val (ar, secs) = ctx.timed("cli.append", "cli", id)(
      JdbcLoaderIncrementalAppend.run(ctx.spark, appendArgs, tag = tag(round)))
    round += 1
    val ok = ar == IngestReport(logRows, n / 100, logRows)
    Op("append", id, secs, ok, (n / 100).toDouble, if (ok) "" else s"append report $ar")
  }


  def report(ops: Seq[Op]): Seq[(String, Double, String)] = Seq(
    ("merge_round_s", Main.median(ops.filter(_.kind == "merge").map(_.seconds)), "s"),
    ("append_round_s", Main.median(ops.filter(_.kind == "append").map(_.seconds)), "s"),
    ("full_refresh_s", fullOps.map(_.seconds).sum, "s"))

  def layers(v: LedgerView, ops: Seq[Op]): Seq[(String, Double)] = {
    val merge = v.inSpan("cli.merge") _
    val hist = (p: Placed) => merge(p) && v.writes("merge_dest_incremental")(p)
    // the destination rewrite: the scratch copy, then the insert-overwrite
    val dest = (p: Placed) => merge(p) &&
      (v.writes("graft_merge_dest_persist")(p) || v.writes("merge_dest")(p))
    val jdbc = (p: Placed) => p.job.jdbc || p.job.siteFile.startsWith("Connections.scala")
    val rounds = ops.count(_.kind == "merge")
    val perRound = v.per(rounds) _
    val measured = files.takeRight(rounds)
    Seq(
      "operators.ingest_jobs_per_round" -> perRound(v.jobs(merge).size),
      "operators.ingest_count_jobs" -> perRound(v.jobs(p =>
        p.action == "count" && p.job.siteFile.startsWith("Ingest.scala")).size),
      "operators.history_write_s" -> perRound(v.jobSeconds(hist)),
      "operators.dest_write_s" -> perRound(v.jobSeconds(dest)),
      "operators.files_written" -> perRound(measured.map(_._1).sum.toDouble),
      "operators.bytes_written" -> perRound(measured.map(_._2).sum.toDouble),
      "sources.jdbc_s" -> perRound(v.jobSeconds(jdbc)))
  }

  /** The full refresh of the warm-up, checked like the other ops. */
  def extraOps: Seq[Op] = fullOps
}
