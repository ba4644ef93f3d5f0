package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command line of the harness JVM (run.py builds it). */
final case class Args(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: Path, expected: Path, work: Path, out: Path, state: Path, stamp: String,
    cores: Int,
    scale: Map[String, Int], dumpOracle: Option[Path]) {
  def size(key: String, default: Int): Int = scale.getOrElse(key, default)
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = Paths.get(m.getOrElse(k, ".")).toAbsolutePath
    Args(
      workload = m.getOrElse("workload", ""), seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble, trace = m.get("trace").contains("1"),
      data = p("data"), expected = p("expected"),
      work = p("work"), out = p("out"),
      state = p("state"), stamp = m.getOrElse("stamp", "unstamped"),
      cores = m.getOrElse("cores", "4").toInt,
      scale = m.get("scale").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
        .map(_.split("=")).map(a => a(0) -> a(1).toInt).toMap,
      dumpOracle = m.get("dump-oracle").map(Paths.get(_)))
  }
}

/** One timed operation of a workload: one call into the program (a query,
  * a pipeline stage, a loader run, a micro-batch). `units` is the work it
  * did in the workload's throughput unit (queries, docs, rows). */
final case class Op(kind: String, id: String, seconds: Double, ok: Boolean,
    units: Double, note: String = "")

/** What every workload provides to the harness loop. */
trait Workload {
  /** Benchmark-side inputs (untimed, once per run). */
  def prepare(): Unit = ()
  /** Program-side set-up on a fresh session: the `setup_s` region. */
  def setup(spark: SparkSession): Unit
  /** Untimed warm-up until steady. */
  def warm(): Unit
  /** Run operation `i`; time only the program's work. */
  def op(i: Int): Op
  /** Group key for the per-class medians of `op_p50_s` and `work_per_s`:
    * the query for the registry workload, the op's kind otherwise. */
  def opClass(o: Op): String = o.kind
  /** Workload-named end-to-end figures for the report. */
  def report(ops: Seq[Op]): Seq[(String, Double, String)]
  /** Per-layer figures from the ledger (traced runs). */
  def layers(view: LedgerView, ops: Seq[Op]): Seq[(String, Double)]
  /** Traced-only probes run outside every span after measuring. */
  def probes(): Seq[(String, Double)] = Nil
  /** The loop stops only after whole cycles of this many operations (the
    * registry's query set, a pass's stages, an ingest round's steps), so
    * every run weighs the same mix. */
  def cycle: Int
  /** Fewest cycles a run measures, whatever `--seconds` says. */
  def minCycles: Int = 1
  /** Release what the workload started (streams) before the session stops. */
  def close(): Unit = ()
  /** Checked operations outside the measured loop (counted as attempted). */
  def extraOps: Seq[Op] = Nil
}

final class Ctx(val args: Args) {
  val spans = new Spans
  var spark: SparkSession = _
  val rng = new scala.util.Random(args.seed)

  def newSession(): SparkSession = {
    val wh = args.work.resolve("warehouse")
    val s = GraftSession.builder(master = s"local[${args.cores}]",
        shufflePartitions = args.cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", wh.toUri.toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.streaming.checkpointLocation",
        args.work.resolve("checkpoints").toString)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=${args.work.resolve("metastore_db")};create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSession.tune(s)
    spark = s
    s
  }

  def stopSession(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Time `body` as one span; returns its result and wall seconds. */
  def timed[A](name: String, module: String, op: String)(body: => A): (A, Double) = {
    val s = spans.open(name, module, op)
    try { val a = body; spans.close(s); (a, s.seconds) }
    finally if (s.endNs < 0) spans.close(s)
  }

  def layer[A](name: String, module: String, op: String)(body: => A): A =
    spans(name, module, op)(body)

  def expected(file: String): Map[String, Canon.Digest] =
    Canon.load(args.expected.resolve(file))

  def check(name: String, exp: Map[String, Canon.Digest],
      cols: Seq[String], rows: Array[org.apache.spark.sql.Row]): (Boolean, String) = {
    val got = Canon.digest(cols, rows.iterator)
    exp.get(name) match {
      case Some(e) if e == got => (true, "")
      case Some(e) => (false, s"$name: got ${got.rows} rows ${got.hash.take(12)}, " +
        s"expected ${e.rows} rows ${e.hash.take(12)}")
      case None => (false, s"$name: no expected result")
    }
  }
}

object Main {
  val SetupRepeats = 3

  /** The lower median: robust to one slow sample of two. */
  def lowMedian(xs: Seq[Double]): Double = xs.sorted.apply((xs.size - 1) / 2)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest percentile with at least 10 samples beyond it: the (n-10)-th
    * smallest of n. Below 20 samples that rank is under the median, so the
    * tail is the maximum (reported as p100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (s.last, 100.0) else (s(n - 11), 100.0 * (n - 10) / n)
  }

  def workloadFor(name: String, ctx: Ctx): Workload = name match {
    case "registry_light" => new RegistryLight(ctx)
    case "batch_pipeline" => new BatchPipeline(ctx)
    case "ingest_admit" => new IngestAdmit(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    args.dumpOracle match {
      case Some(p) => dumpOracle(p); return
      case None =>
    }
    val ctx = new Ctx(args)
    val w = workloadFor(args.workload, ctx)
    val out = Json.obj()
    // wall seconds of each phase of the run, for tuning its length
    val phases = Json.obj()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases.put(name, (now - mark) / 1e9); mark = now
    }

    w.prepare()
    phase("prepare")
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      w.setup(ctx.newSession())
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) ctx.stopSession()
      s
    }
    val spark = ctx.spark
    val blocks = new BlockPeak
    spark.sparkContext.addSparkListener(blocks)
    val ledger = new Ledger
    if (args.trace) ledger.install(spark)
    phase("setup")
    w.warm()
    phase("warm")

    val measured = ArrayBuffer.empty[Op]
    def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    if (args.trace) ledger.start()
    val t0 = System.nanoTime()
    def done = measured.size >= w.minCycles * w.cycle && measured.size % w.cycle == 0
    while ((System.nanoTime() - t0) / 1e9 < args.seconds || !done) {
      drain(); blocks.startOp()
      measured += w.op(measured.size)
      drain(); blocks.endOp()
    }
    if (args.trace) ledger.stop(spark)
    phase("measure")

    val ops = measured.toSeq
    // per class (query, stage or step) its lower-median latency and median
    // work; throughput is work over time of one op per class
    val classes = ops.groupBy(w.opClass).values.toSeq
    val classSeconds = classes.map(os => lowMedian(os.map(_.seconds)))
    val classUnits = classes.map(os => median(os.map(_.units)))
    val p50 = median(classSeconds)
    // untraced runs record their op median under the build's stamp (and
    // the input sizes, through the state dir); a traced run's overhead is
    // its own op median against the median of those records
    val untracedLog = args.state.resolve(args.stamp).resolve(s"${args.workload}.untraced")
    val untraced = if (Files.exists(untracedLog))
      Files.readAllLines(untracedLog).toArray(Array.empty[String]).toSeq.map(_.toDouble) else Nil
    if (!args.trace) {
      Files.createDirectories(untracedLog.getParent)
      Files.writeString(untracedLog, (untraced.takeRight(24) :+ p50).mkString("\n"))
    }
    val (tailS, tailP) = tail(ops.map(_.seconds))
    val e2e = Json.obj()
    def metric(into: Json.Obj, name: String, v: Double, unit: String): Unit =
      into.put(name, Json.obj().put("value", v).put("unit", unit))
    metric(e2e, "setup_s", median(setups), "s")
    metric(e2e, "op_p50_s", p50, "s")
    metric(e2e, "op_tail_s", tailS, "s")
    metric(e2e, "work_per_s", classUnits.sum / classSeconds.sum, "1/s")
    metric(e2e, "cache_peak_mb", blocks.peakBytes / 1e6, "MB")
    val checked = ops ++ w.extraOps
    val failed = checked.count(!_.ok)
    metric(e2e, "fail_frac", failed.toDouble / checked.size, "ratio")
    w.report(ops).foreach { case (n, v, u) => metric(e2e, n, v, u) }
    out.put("end_to_end", e2e)
    out.put("tail_percentile", tailP)
    out.put("setups_s", Json.arr(setups.map(Json.num): _*))
    out.put("attempted", checked.size)
    out.put("failed", failed)
    out.put("failures", Json.arr(checked.filter(!_.ok).map(o => Json.str(s"${o.id}: ${o.note}")).toSeq: _*))
    out.put("ops", Json.arr(ops.map(o => Json.obj().put("kind", o.kind).put("id", o.id)
      .put("s", o.seconds).put("ok", o.ok)).toSeq: _*))

    if (args.trace) {
      val view = new LedgerView(ledger, ctx.spans, ops, args.cores)
      val per = Json.obj()
      (view.sparkLayer ++ view.sourcesLayer).foreach { case (n, v) => per.put(n, v) }
      per.put("cache_peak_mb", blocks.peakBytes / 1e6)
      w.layers(view, ops).foreach { case (n, v) => per.put(n, v) }
      w.probes().foreach { case (n, v) => per.put(n, v) }
      // 0 until an untraced run of the same build and sizes has recorded
      per.put("trace.overhead_frac",
        if (untraced.isEmpty) 0.0 else p50 / median(untraced) - 1.0)
      out.put("untraced_runs", untraced.size)
      out.put("per_layer", per)
      out.put("ledger", view.summary)
      view.writeTrace(args.work.resolve("trace.json"))
    }
    w.close()
    phase("report")
    out.put("phases_s", phases)
    Files.writeString(args.out, out.render)
    ctx.stopSession()
  }

  /** Oracle SQL of every registry query that has one, as JSON. */
  def dumpOracle(path: Path): Unit = {
    val o = Json.obj()
    graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v) }
    Files.writeString(path, o.render)
  }
}

/** Peak block-store memory (persisted and checkpointed blocks, broadcasts)
  * held by the blocks an operation stored itself, from the block-update
  * events. Blocks earlier operations left for the cleaner, which releases
  * them on GC timing, neither count nor offset it. */
final class BlockPeak extends org.apache.spark.scheduler.SparkListener {
  private val own = new java.util.HashMap[String, java.lang.Long]()
  private var counting = false
  private var current = 0L
  private var opPeak = 0L
  @volatile var peakBytes = 0L

  def startOp(): Unit = synchronized { own.clear(); current = 0L; opPeak = 0L; counting = true }
  def endOp(): Unit = synchronized { counting = false; peakBytes = math.max(peakBytes, opPeak) }

  override def onBlockUpdated(e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      if (counting && (now > 0L || own.containsKey(key))) {
        val before = Option(own.put(key, now)).map(_.longValue).getOrElse(0L)
        current += now - before
        opPeak = math.max(opPeak, current)
      }
    }
}
