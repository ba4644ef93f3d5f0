package perfbench

import org.apache.spark.sql.SparkSession

/** The two ways data enters the lake: a JDBC merge round and its append
  * load ([[IngestMerge]]), and curation micro-batches ([[StreamAdmit]]).
  * Each operation is one loader run or one micro-batch; a cycle is one
  * round of `Steps`. Both write standing tables beside the reads of the
  * other workloads; they share one run so the benchmark fits its time
  * budget. */
final class IngestAdmit(ctx: Ctx) extends Workload {
  import IngestAdmit._
  private val ingest = new IngestMerge(ctx)
  private val admit = new StreamAdmit(ctx)

  def cycle: Int = Steps.size

  override def prepare(): Unit = ingest.prepare()

  def setup(spark: SparkSession): Unit = { ingest.setup(spark); admit.setup(spark) }

  def warm(): Unit = { ingest.warm(); admit.warm() }

  def op(i: Int): Op = {
    val id = s"${Steps(i % Steps.size)}#$i"
    Steps(i % Steps.size) match {
      case "merge" => ingest.merge(id)
      case "append" => ingest.append(id)
      case "batch" => admit.batch(id)
    }
  }

  def report(ops: Seq[Op]): Seq[(String, Double, String)] =
    ingest.report(ops) ++ admit.report(ops)

  def layers(view: LedgerView, ops: Seq[Op]): Seq[(String, Double)] =
    ingest.layers(view, ops) ++ admit.layers(view, ops)

  override def extraOps: Seq[Op] = ingest.extraOps
  override def close(): Unit = admit.close()
}

object IngestAdmit {
  /** One round: a merge, its append, and two micro-batches, so the
    * standing dedup tables grow within a run. */
  val Steps: Seq[String] = Seq("merge", "batch", "append", "batch")
}
