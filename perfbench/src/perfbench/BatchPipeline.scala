package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.queries.Registry
import graft.sim.IndexStore
import graft.sources.Tables

/** The offline release pipeline over `documents` and `embeddings`. One
  * operation is one stage; a cycle of stages is one pass: the quality
  * gate, exact fingerprint dedup, MinHash-LSH pairs with connected
  * components and canonical apply, incremental MinHash on a seed-chosen
  * delta, semantic pairs, an IVF-PQ index build and query, and PageRank.
  * Stages that stand alone run the registry query that defines them; the
  * others call the library's public functions. Kernel work dominates here;
  * it is the control for `registry_light`. */
final class BatchPipeline(ctx: Ctx) extends Workload {
  import BatchPipeline._
  private val dir = ctx.args.data.toString
  private val expected = ctx.expected("batch.tsv")
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var nDocs = 0L
  private var deltaIds = Set.empty[Long]
  private var vectors = Map.empty[Long, Array[Double]]
  private var queryIds = Seq.empty[Long]
  // the pair set of the latest `lsh` stage, the incremental stage's truth
  private var lastPairs = Array.empty[Row]
  private val stats = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def cycle: Int = Stages.size

  def setup(spark: SparkSession): Unit = {
    docs = Tables.load(spark, dir, "documents")
    emb = Tables.load(spark, dir, "embeddings")
  }

  /** Draws the seed's delta and queries (untimed), then runs one whole
    * unchecked pass at the measured scale. */
  def warm(): Unit = {
    nDocs = docs.count()
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    deltaIds = ctx.rng.shuffle(ids).take(math.max(1, ids.length / 10)).toSet
    vectors = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    queryIds = ctx.rng.shuffle(vectors.keys.toSeq.sorted).take(IvfQueries)
    Stages.foreach(stage(_, "warm"))
  }

  def op(i: Int): Op = {
    val st = Stages(i % Stages.size)
    if (st == Stages.last) stats("passes") += 1
    stage(st, s"$st#${i / Stages.size}")
  }

  private def rows(df: DataFrame): (Seq[String], Array[Row]) = (df.columns.toSeq, df.collect())

  private def registry(q: String): (Seq[String], Array[Row]) =
    rows(Registry.all(q).fn(ctx.spark, dir))

  /** Run one stage, timed alone, and check its output. */
  private def stage(name: String, id: String): Op = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def tally(k: String, x: Double): Unit = if (id != "warm") stats(k) += x
    def check(q: String, r: (Seq[String], Array[Row])): Unit = {
      val (ok, note) = ctx.check(q, expected, r._1, r._2)
      if (!ok) failures += note
    }
    val secs = name match {
      case "gate" =>
        val (r, s) = ctx.timed(name, "text", id)(registry("quality_gate"))
        check("quality_gate", r)
        tally("gate_kept", r._2.length)
        s
      case "exact" =>
        val (r, s) = ctx.timed(name, "text", id)(registry("dedup_exact"))
        check("dedup_exact", r)
        s
      case "lsh" =>
        // pairs, components and apply share the pair relation, so this
        // stage composes the library calls the three registry queries make
        val ((pairs, clusters, applied), s) = ctx.timed(name, "dedup", id) {
          val pairsDf = ctx.layer("dedup.pairs", "dedup", id)(Dedup.minHashLshPairs(docs, 0.8))
          val pairs = rows(pairsDf)
          val (clusters, applied) = ctx.layer("dedup.cc", "dedup", id) {
            val cc = Dedup.connectedComponents(pairsDf).persist()
            val c = rows(cc)
            val drop = cc.where(col("doc_id") =!= col("cluster_id")).select("doc_id")
            val a = rows(docs.join(drop, Seq("doc_id"), "left_anti").select("doc_id", "n_chars"))
            (c, a)
          }
          (pairs, clusters, applied)
        }
        check("dedup_minhash_lsh", pairs)
        check("dedup_clusters", clusters)
        check("dedup_apply", applied)
        lastPairs = pairs._2
        tally("verified", pairs._2.length)
        s
      case "incr" =>
        val (r, s) = ctx.timed(name, "dedup", id) {
          val d = spark.createDataFrame(deltaIds.toSeq.map(Tuple1(_))).toDF("doc_id")
          rows(Dedup.minHashLshPairsIncremental(
            docs.join(broadcast(d), Seq("doc_id"), "left_anti"),
            docs.join(broadcast(d), Seq("doc_id"), "left_semi"), 0.8))
        }
        val expectIncr = lastPairs.filter(p =>
          deltaIds(p.getLong(0)) || deltaIds(p.getLong(1))).map(_.toString).sorted.toSeq
        if (r._2.map(_.toString).sorted.toSeq != expectIncr)
          failures += s"dedup_incr: ${r._2.length} pairs, expected ${expectIncr.size}"
        s
      case "semantic" =>
        val (r, s) = ctx.timed(name, "sim", id)(registry("dedup_semantic_kmeans"))
        check("dedup_semantic_kmeans", r)
        s
      case "ivfpq" =>
        val (ann, s) = ctx.timed(name, "sim", id) {
          ctx.layer("sim.index", "sim", id)(IndexStore.buildIvfPq(spark, emb, "bench_sim", "ivfpq"))
          ctx.layer("sim.query", "sim", id) {
            val q = emb.where(col("vec_id").isin(queryIds: _*))
            IndexStore.queryIvfPq(spark, q, "bench_sim", "ivfpq", k = 10).collect()
          }
        }
        val recall = recallAt10(ann)
        tally("recall", recall)
        if (recall < recallFloor) failures += f"ivfpq recall@10 $recall%.3f below $recallFloor%.3f"
        if (!wellFormed(ann)) failures += "ivfpq answers are not k ranked neighbours per query"
        s
      case "pagerank" =>
        val (r, s) = ctx.timed(name, "operators", id)(registry("graph_pagerank"))
        check("graph_pagerank", r)
        s
    }
    Op(name, id, secs, failures.isEmpty, nDocs.toDouble / Stages.size, failures.mkString("; "))
  }

  /** Floor on IVF-PQ recall@10 against brute force: ten times what random
    * candidates score, so only a broken index trips it (recall itself is
    * the `sim.recall_at_10` layer metric). */
  private def recallFloor: Double = 10 * 10.0 / math.max(1, vectors.size - 1)

  /** Every query gets 10 distinct neighbours, none itself, ranked 1..10 by
    * non-increasing score. */
  private def wellFormed(ann: Array[Row]): Boolean = {
    val byQ = ann.groupBy(_.getAs[Long]("q_id"))
    byQ.keySet == queryIds.toSet && byQ.forall { case (q, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("rnk"))
      val scores = sorted.map(_.getAs[Double]("approx_score"))
      sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to 10L) &&
        sorted.map(_.getAs[Long]("c_id")).distinct.length == 10 &&
        !sorted.exists(_.getAs[Long]("c_id") == q) &&
        scores.sliding(2).forall(w => w.length < 2 || w(0) >= w(1))
    }
  }

  /** Mean recall@10 of the IVF-PQ answers against exact inner-product top-10. */
  private def recallAt10(ann: Array[Row]): Double = {
    val got = ann.groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("c_id")).toSet }
    val ids = vectors.keys.toArray.sorted
    val rec = queryIds.map { q =>
      val v = vectors(q)
      val truth = ids.filter(_ != q).sortBy { c =>
        val w = vectors(c); var d = 0.0; var k = 0
        while (k < v.length) { d += v(k) * w(k); k += 1 }
        (-d, c)
      }.take(10).toSet
      got.getOrElse(q, Set.empty[Long]).intersect(truth).size / 10.0
    }
    if (rec.isEmpty) 0.0 else rec.sum / rec.size
  }

  /** `pipeline_s` (input to every stage's complete result) and each
    * stage's lower-median latency. */
  def report(ops: Seq[Op]): Seq[(String, Double, String)] = {
    val perStage = Stages.map(st => st -> Main.lowMedian(ops.filter(_.kind == st).map(_.seconds)))
    ("pipeline_s", perStage.map(_._2).sum, "s") +: perStage.map { case (st, v) => (s"stage_${st}_s", v, "s") }
  }

  override def probes(): Seq[(String, Double)] = {
    ctx.spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val sigs = Dedup.minHashSignatures(docs)
    sigs.agg(count(col("doc_id")), sigs.columns.filter(_ != "doc_id").map(c => max(col(c))): _*)
      .collect()
    val sigSeconds = (System.nanoTime() - t0) / 1e9
    val candidates = Dedup.candidatePairs(Dedup.bandKeys(sigs)).count().toDouble
    val passes = math.max(1.0, stats("passes"))
    Seq("dedup.sig_s" -> sigSeconds, "dedup.candidates" -> candidates,
      "dedup.verify_yield" -> (if (candidates > 0) stats("verified") / passes / candidates else 0.0))
  }

  def layers(v: LedgerView, ops: Seq[Op]): Seq[(String, Double)] = {
    val perPass = v.per(stats("passes")) _
    val train = (p: Placed) =>
      p.method.startsWith("Ivf.trainCentroids") || p.method.startsWith("Pq.train")
    Seq(
      "text.gate_s" -> perPass(v.spanSeconds("gate") + v.spanSeconds("exact")),
      "text.gate_yield" -> perPass(stats("gate_kept")) / nDocs,
      "dedup.pairs_s" -> perPass(v.spanSeconds("dedup.pairs")),
      "dedup.cc_s" -> perPass(v.spanSeconds("dedup.cc")),
      "dedup.incr_s" -> perPass(v.spanSeconds("incr")),
      "dedup.verified" -> perPass(stats("verified")),
      "sim.train_s" -> perPass(v.jobSeconds(train)),
      "sim.semantic_s" -> perPass(v.spanSeconds("semantic")),
      "sim.index_s" -> perPass(v.spanSeconds("sim.index")),
      "sim.query_s" -> perPass(v.spanSeconds("sim.query")),
      "sim.recall_at_10" -> perPass(stats("recall")),
      "operators.pagerank_s" -> perPass(v.spanSeconds("pagerank")),
      "operators.graph_jobs" -> perPass(v.jobs(v.inSpan("pagerank")).size))
  }
}

object BatchPipeline {
  /** One pass, in order: `incr` is checked against the pairs of `lsh`. */
  val Stages: Seq[String] = Seq("gate", "exact", "lsh", "incr", "semantic", "ivfpq", "pagerank")
  /** IVF-PQ queries per pass, drawn by the seed. */
  val IvfQueries = 64
}
