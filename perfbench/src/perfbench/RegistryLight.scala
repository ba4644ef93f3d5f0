package perfbench

import org.apache.spark.sql.SparkSession

import graft.queries.Registry
import graft.sources.Tables

/** Interactive sessions: sub-second registry queries with an oracle, run
  * one at a time in a seed-drawn order. Fixed per-query cost (table
  * resolution, planning, job scheduling) dominates here. */
final class RegistryLight(ctx: Ctx) extends Workload {
  import RegistryLight._
  private val dir = ctx.args.data.toString
  private val expected = ctx.expected("registry.tsv")
  private var order: IndexedSeq[String] = IndexedSeq.empty

  override def opClass(o: Op): String = o.id.takeWhile(_ != '#')
  def cycle: Int = Queries.size
  // two samples per query whatever the host's speed: the lower median
  // drops one slow outlier, and every run weighs its queries alike
  override def minCycles: Int = 2

  def setup(spark: SparkSession): Unit =
    Tables.all.filter(_ != "embeddings").foreach(t => Tables.load(spark, dir, t).schema)

  def warm(): Unit = Queries.foreach(q => run(q, -1))

  def op(i: Int): Op = {
    if (i % Queries.size == 0) order = ctx.rng.shuffle(Queries.toIndexedSeq)
    run(order(i % Queries.size), i)
  }

  private def run(q: String, i: Int): Op = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    val id = s"$q#$i"
    val ((cols, rows, planS), secs) = ctx.timed(s"query:$q", "queries", id) {
      val df = ctx.layer("queries.build", "queries", id)(Registry.all(q).fn(spark, dir))
      val rows = ctx.layer("queries.exec", "queries", id)(df.collect())
      val phases = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1000.0
      (df.columns.toSeq, rows, phases)
    }
    planSeconds(id) = planS
    val (ok, note) = ctx.check(q, expected, cols, rows)
    Op("query", id, secs, ok, 1.0, note)
  }
  private val planSeconds = scala.collection.mutable.Map.empty[String, Double]

  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val qs = ops.filter(_.kind == "query")
    val perQuery = qs.groupBy(_.id.takeWhile(_ != '#')).toSeq
      .map { case (q, os) => q -> Main.lowMedian(os.map(_.seconds)) }
    Seq(("query_p50_s", Main.median(perQuery.map(_._2)), "s"),
      ("query_tail_s", Main.tail(qs.map(_.seconds))._1, "s"),
      ("queries_per_s", qs.size / qs.map(_.seconds).sum, "1/s")) ++
      perQuery.sortBy(_._1).map { case (q, v) => (s"query_${q}_s", v, "s") }
  }

  def layers(v: LedgerView, ops: Seq[Op]): Seq[(String, Double)] = {
    Seq(
      "queries.build_s" -> v.perOp(v.spanSeconds("queries.build")),
      "queries.exec_s" -> v.perOp(v.spanSeconds("queries.exec")),
      "queries.plan_s" -> v.perOp(ops.map(o => planSeconds.getOrElse(o.id, 0.0)).sum),
      "queries.jobs_per_query" -> v.perOp(v.placed.size))
  }
}

object RegistryLight {
  /** One sub-second registry query with an oracle from each of the TPC-H,
    * join, merge, events, window, aggregate, text, sampling, privacy,
    * profiling, set and ingest families. */
  val Queries: Seq[String] = Seq(
    "q6_forecast_revenue", "join_anti", "merge_soft_delete", "events_gini",
    "window_topk_per_group", "agg_pivot", "text_quality", "sample_stratified",
    "privacy_dp_counts", "profile_table", "set_except_active", "ingest_append_delta")
}
