package perfbench

import java.nio.file.{Files, Path}

/** A job placed in the span tree: the op it ran in, its innermost span and
  * the module it is attributed to — by its own call site, else by the call
  * site of another job of the same SQL execution (adaptive query stages run
  * on a pool thread whose stack holds no program frame), else by a stack
  * sample of the streaming thread that submitted it, else by the enclosing
  * span's layer (`via` = "call_site" | "execution" | "sample" | "span"). */
final case class Placed(job: JobRec, op: Span, span: Span, module: String,
    method: String, via: String, action: String) {
  def byCallSite: Boolean = via != "span"
}

/** Per-layer figures from the call-site ledger over the traced ops. */
final class LedgerView(ledger: Ledger, spans: Spans, ops: Seq[Op], cores: Int) {
  /** Modules a span may stand for; "bench" spans carry no layer. */
  private def layerOf(s: Span): Option[String] =
    spans.chain(s).map(_.module).find(_ != "bench")

  private val opIds = ops.map(_.id).toSet
  private val opSpans = spans.all.filter(s => s.parent < 0 && s.endMs >= 0 && opIds(s.op))

  /** Per root SQL execution, its first job that has a program frame. */
  private val execFrame: Map[Long, JobRec] =
    ledger.allJobs.filter(_.graftFrame.isDefined).flatMap(j => j.rootExecId.map(_ -> j))
      .groupBy(_._1).map { case (e, js) => e -> js.map(_._2).minBy(_.id) }

  val placed: Seq[Placed] = ledger.allJobs.flatMap { j =>
    spans.innermost(j.startMs).filter(s => opIds(s.op)).map { s =>
      val top = spans.chain(s).last
      lazy val sampled = ledger.sampler.frameAt(j.startMs)
      (j.graftFrame, j.rootExecId.flatMap(execFrame.get)) match {
        case (Some((m, meth)), _) => Placed(j, top, s, m, meth, "call_site", j.kind)
        case (None, Some(root)) =>
          Placed(j, top, s, root.graftFrame.get._1, root.graftFrame.get._2, "execution", root.kind)
        case _ if sampled.isDefined =>
          val f = sampled.get
          Placed(j, top, s, f.module, f.method, "sample", f.action)
        case _ => Placed(j, top, s, layerOf(s).getOrElse("none"), "?", "span", j.kind)
      }
    }
  }
  val outside: Int = ledger.allJobs.size - placed.size
  /** The spark layer's figures are per operation (query, stage, step). */
  val nOps: Int = math.max(1, ops.size)

  def perOp(x: Double): Double = x / nOps
  /** Per `n` of something (passes, rounds, batches). */
  def per(n: Double)(x: Double): Double = x / math.max(1.0, n)
  /** The job belongs to an SQL execution that writes `table`. */
  def writes(table: String)(p: Placed): Boolean = ledger.execOf(p.job).exists(_.writes(table))
  def jobs(p: Placed => Boolean): Seq[Placed] = placed.filter(p)
  def jobSeconds(p: Placed => Boolean): Double = jobs(p).map(_.job.seconds).sum
  def inSpan(name: String)(p: Placed): Boolean = spans.chain(p.span).exists(_.name == name)
  def spanSeconds(name: String): Double =
    spans.all.filter(s => s.name == name && s.endNs >= 0 && opIds(s.op)).map(_.seconds).sum

  /** Wall time inside ops not covered by any running job. */
  def driverGap: Double = opSpans.map { o =>
    val iv = placed.filter(_.op.id == o.id)
      .map(p => (math.max(p.job.startMs, o.startMs), math.min(math.max(p.job.endMs, p.job.startMs), o.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    math.max(0.0, o.seconds - covered / 1000.0)
  }.sum

  def sparkLayer: Seq[(String, Double)] = {
    val opWall = opSpans.map(_.seconds).sum
    val run = placed.map(_.job.runMs).sum / 1000.0
    val unattributed = placed.count(_.module == "none")
    Seq(
      "spark.jobs" -> perOp(placed.size),
      "spark.tasks" -> perOp(placed.map(_.job.tasks).sum.toDouble),
      "spark.exec_run_s" -> perOp(run),
      "spark.exec_cpu_s" -> perOp(placed.map(_.job.cpuNs).sum / 1e9),
      "spark.gc_s" -> perOp(placed.map(_.job.gcMs).sum / 1000.0),
      "spark.shuffle_bytes" -> perOp(placed.map(_.job.shuffleBytes).sum.toDouble),
      "spark.checkpoint_jobs" -> perOp(placed.count(p =>
        p.action == "localCheckpoint" || p.action == "checkpoint").toDouble),
      "spark.unattributed_jobs" -> unattributed.toDouble,
      "spark.attributed_frac" ->
        (if (placed.isEmpty) 1.0 else 1.0 - unattributed.toDouble / placed.size),
      "spark.callsite_frac" ->
        (if (placed.isEmpty) 0.0 else placed.count(_.byCallSite).toDouble / placed.size),
      "spark.busy_frac" -> (if (opWall > 0) run / (opWall * cores) else 0.0),
      "spark.driver_gap_s" -> perOp(driverGap))
  }

  /** Parquet schema inference in `Tables.scala`, per operation, on every
    * workload (the registry calls of `batch_pipeline` load tables too). */
  def sourcesLayer: Seq[(String, Double)] = {
    val schema = (p: Placed) => p.action == "parquet" && p.job.siteFile.startsWith("Tables.scala")
    Seq("sources.schema_jobs" -> perOp(jobs(schema).size),
      "sources.schema_s" -> perOp(jobSeconds(schema)))
  }

  /** Jobs and seconds by module and by module/method, for the record. */
  def summary: Json.V = {
    val o = Json.obj()
    o.put("ops", nOps).put("jobs_in_ops", placed.size).put("jobs_outside_ops", outside)
      .put("stack_samples", ledger.sampler.size).put("sql_executions", ledger.execCount)
    val mods = Json.obj()
    placed.groupBy(_.module).toSeq.sortBy(_._1).foreach { case (m, ps) =>
      val methods = Json.obj()
      ps.groupBy(p => s"${p.method} [${p.action}]").toSeq.sortBy(-_._2.size).take(25)
        .foreach { case (k, qs) =>
          methods.put(k, Json.obj().put("jobs", qs.size).put("s", qs.map(_.job.seconds).sum))
        }
      mods.put(m, Json.obj().put("jobs", ps.size).put("s", ps.map(_.job.seconds).sum)
        .put("by_call_site", ps.count(_.via == "call_site"))
        .put("by_execution", ps.count(_.via == "execution"))
        .put("by_sample", ps.count(_.via == "sample")).put("methods", methods))
    }
    o.put("modules", mods)

    val self = Json.obj()
    spans.all.filter(_.endNs >= 0).groupBy(s => s"${s.module}:${s.name.takeWhile(_ != ':')}")
      .toSeq.sortBy(_._1).foreach { case (k, ss) =>
        self.put(k, Json.obj().put("n", ss.size).put("s", ss.map(_.seconds).sum)
          .put("self_s", ss.map(spans.selfSeconds).sum))
      }
    o.put("spans", self)
    o
  }

  /** All spans and placed jobs, written once at the end of the run. */
  def writeTrace(path: Path): Unit = {
    val ss = spans.all.filter(_.endNs >= 0).map(s => Json.obj().put("id", s.id)
      .put("name", s.name).put("module", s.module).put("parent", s.parent).put("op", s.op)
      .put("start_ms", s.startMs).put("end_ms", s.endMs).put("s", s.seconds)
      .put("self_s", spans.selfSeconds(s)))
    val js = placed.map(p => Json.obj().put("job", p.job.id).put("span", p.span.id)
      .put("module", p.module).put("method", p.method).put("action", p.action)
      .put("call_site", p.job.shortSite).put("execution_root", ledger.execOf(p.job).map(_.root).getOrElse(""))
      .put("via", p.via).put("s", p.job.seconds).put("tasks", p.job.tasks)
      .put("run_ms", p.job.runMs).put("cpu_ns", p.job.cpuNs).put("gc_ms", p.job.gcMs)
      .put("shuffle_bytes", p.job.shuffleBytes))
    Files.writeString(path, Json.obj().put("spans", Json.arr(ss.toSeq: _*))
      .put("jobs", Json.arr(js: _*)).render)
  }
}
