package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A timed region on the client thread: an operation (query, pipeline
  * pass, merge round, micro-batch) or a call into one layer inside it. */
final case class Span(
    id: Int, name: String, module: String, parent: Int, op: String,
    startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(tMs: Long): Boolean = startMs <= tMs && tMs <= endMs
}

/** Spans stay in memory; the run writes them out once at the end. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def open(name: String, module: String, op: String): Span = {
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(all.size, name, module, parent, op,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    stack = s :: stack
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.dropWhile(_.id != s.id).drop(1)
  }

  def apply[A](name: String, module: String, op: String)(body: => A): A = {
    val s = open(name, module, op)
    try body finally close(s)
  }

  /** Duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - all.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Innermost span (latest start) containing wall-clock time `tMs`. */
  def innermost(tMs: Long): Option[Span] =
    all.iterator.filter(s => s.endMs >= 0 && s.contains(tMs))
      .maxByOption(s => (s.startNs, s.id))

  def chain(s: Span): List[Span] =
    if (s.parent < 0) List(s) else s :: chain(all(s.parent))
}

/** One Spark job as the ledger saw it. `graftFrame` is the (module,
  * Class.method) of the first `graft.*` frame of the job's call site; a
  * job without one is attributed to the layer of its enclosing span. */
final class JobRec(
    val id: Int, val startMs: Long, val shortSite: String, val longSite: String,
    val execId: Option[Long], val rootExecId: Option[Long], val jdbc: Boolean) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  val graftFrame: Option[(String, String)] = Ledger.graftFrame(longSite)
  def seconds: Double = math.max(0L, endMs - startMs) / 1000.0
  def kind: String = shortSite.takeWhile(_ != ' ')
  def siteFile: String = shortSite.split(" at ").lift(1).getOrElse("")
}

/** An SQL execution: the root node of its physical plan and that node's
  * details (for a write command they name the target table). */
final case class ExecRec(execId: Long, root: String, details: String) {
  def writes(table: String): Boolean =
    root.startsWith("Execute") &&
      s"(?<![A-Za-z0-9_])$table(?![A-Za-z0-9_])".r.findFirstIn(details).isDefined
}

/** The call-site ledger: a SparkListener that records every job with its
  * call site, tasks, executor time, GC and shuffle bytes, plus the root
  * plan node of each SQL execution. Layer numbers come from this without any
  * tracing inside the program. */
final class Ledger extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()

  /** Recording switch: only the measured part of a traced run records. */
  @volatile var recording = false
  val sampler = new StackSampler

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val result = e.stageInfos.maxBy(_.stageId)
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).map(_.toLong)
    val exec = prop("spark.sql.execution.id")
    val jdbc = e.stageInfos.exists(_.rddInfos.exists(_.name.contains("JDBCRDD")))
    val rec = new JobRec(e.jobId, e.time, result.name, result.details, exec,
      prop("spark.sql.execution.root.id").orElse(exec), jdbc)
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
    val job = Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val m = e.taskMetrics
    job.foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart if recording =>
      val plan = x.physicalPlanDescription
      val root = plan.linesIterator.map(_.trim)
        .dropWhile(l => l.isEmpty || l.startsWith("==")).nextOption().getOrElse("")
      // formatted plans number every node; the root's details sit under its number
      val n = "\\((\\d+)\\)$".r.findFirstMatchIn(root).map(_.group(1)).getOrElse("1")
      val at = plan.indexOf(s"\n($n) ")
      val details = if (at < 0) "" else plan.substring(at, math.min(plan.length, at + 2000))
      execs.put(x.executionId, ExecRec(x.executionId, root.take(200), details))
    case _ =>
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
  def execCount: Int = execs.size
  def execOf(j: JobRec): Option[ExecRec] = j.execId.flatMap(id => Option(execs.get(id)))

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)

  def start(): Unit = { recording = true; sampler.start() }

  def stop(spark: SparkSession): Unit = {
    sampler.halt()
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    recording = false
  }
}

/** A sampled program frame and the engine action it was calling. */
final case class Sampled(module: String, method: String, action: String)

/** Samples the stacks of the client thread and of streaming micro-batch
  * threads every few milliseconds. A stream stamps every job with the call
  * site of its `start()`, and adaptive query stages run on a pool thread,
  * so for those jobs the program frame that caused them is recovered from
  * the latest sample before the job started. */
final class StackSampler extends Thread("perfbench-stack-sampler") {
  setDaemon(true)
  // (time, thread id, program frame if the thread was inside graft code)
  private val samples = ArrayBuffer.empty[(Long, Long, Option[Sampled])]
  @volatile private var running = true

  override def run(): Unit = {
    var threads = Seq.empty[Thread]
    var refreshed = 0L
    while (running) {
      val now = System.currentTimeMillis()
      if (now - refreshed > 200) {
        threads = Thread.getAllStackTraces.keySet.asScala.toSeq
          .filter(t => t.getName == "main" || t.getName.startsWith("stream execution thread"))
        refreshed = now
      }
      threads.foreach { t =>
        val stack = t.getStackTrace
        val i = stack.indexWhere(_.getClassName.startsWith("graft."))
        val sampled = if (i < 0) None else {
          val frame = Ledger.graftFrame(s"${stack(i).getClassName}.${stack(i).getMethodName}(").get
          // the engine API the program called: nearest engine frame above it
          val action = stack.take(i).reverseIterator
            .find(_.getClassName.startsWith("org.apache.spark")).map(_.getMethodName).getOrElse("?")
          Some(Sampled(frame._1, frame._2, action))
        }
        samples.synchronized(samples += ((now, t.getId, sampled)))
      }
      Thread.sleep(2)
    }
  }

  def size: Int = samples.synchronized(samples.size)

  def halt(): Unit = { running = false; if (isAlive) join() }

  /** Of each thread's latest sample at most 50 ms before `tMs`, the most
    * recent one taken inside program code. */
  def frameAt(tMs: Long): Option[Sampled] = samples.synchronized {
    samples.reverseIterator.dropWhile(_._1 > tMs).takeWhile(_._1 >= tMs - 50)
      .toSeq.groupBy(_._2).values.map(_.head).filter(_._3.isDefined)
      .maxByOption(_._1).flatMap(_._3)
  }
}

object Ledger {
  /** (module, Class.method) of the first `graft.` frame in a long call
    * site; module is the graft sub-package (`graft.dedup.Dedup` → dedup,
    * top-level `graft.X` → core). */
  def graftFrame(longSite: String): Option[(String, String)] =
    longSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") =>
        val cls = l.takeWhile(_ != '(').split('.').toSeq
        val (pkg, rest) = cls.drop(1).span(p => p.nonEmpty && p.head.isLower)
        val module = pkg.headOption.getOrElse("core")
        val clsName = rest.headOption.getOrElse("?").takeWhile(_ != '$')
        val method = rest.drop(1).lastOption.getOrElse("?")
          .split('$').filter(p => p.nonEmpty && p != "anonfun")
          .headOption.getOrElse("?")
        module -> s"$clsName.$method"
    }
}
