package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Greedy k-center coreset selection (Gonzalez'85 farthest-point
  * traversal; Sener & Savarese ICLR'18 applied it to training-set
  * selection — public methodology): pick the point farthest from the
  * current center set, k−1 times from a deterministic seed. The selected
  * set 2-approximates the optimal covering radius — the "maximally
  * diverse exemplars" primitive for coreset building, eval-set seeding,
  * and annotation budgeting.
  *
  * 100 TB posture: the center set lives on the driver (k × dim doubles —
  * the trainer pattern shared with k-means/PCA); each round is ONE scan
  * computing min-distance-to-centers scan-side (no joins, no shuffles
  * beyond the 1-row argmax TakeOrdered). Rounds are fixed, distances
  * derive from fixed-order dot products, and the argmax rounds to 6dp
  * with a vec_id tie-break — bit-reproducible, SQL-replayable.
  */
object KCenter {
  /** One selected center: 1-based step, its id, and the covering radius²
    * (its min distance² to the previously selected set; null for the
    * seed). */
  final case class Center(step: Int, id: Long, coverage: Option[Double])

  private def dist2(v: org.apache.spark.sql.Column, c: Array[Double]) = {
    val c2 = c.map(x => x * x).sum
    VectorOps.dot(v, v) - lit(2.0) * VectorOps.dot(v, lit(c)) + lit(c2)
  }

  /** Select k centers from (vec_id, embedding). Seed = the minimum
    * vec_id (trivially deterministic); each later round takes the argmax
    * of round(min-dist², 6) with ascending-id tie-break. The relation is
    * persisted for the k rounds and every TakeOrdered row carries the
    * winning VECTOR alongside its id, so each round is exactly one job
    * over the cache — no per-center point lookups. */
  def select(emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): Seq[Center] =
    selectCenters(emb, k, idCol, embCol)._1

  /** [[select]] plus the selected centers' vectors (for downstream
    * coverage scoring without re-fetching points by id). */
  def selectCenters(emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding")
      : (Seq[Center], Seq[Array[Double]]) = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.Blocks.scope { s =>
      val v = s.persist(emb.select(col(idCol).as("id"),
        col(embCol).cast("array<double>").as("v")))
      val seedRows = v.orderBy(col("id")).limit(1).collect()
      require(seedRows.nonEmpty,
        s"k-center selection needs a non-empty relation ($idCol/$embCol)")
      val seed = seedRows.head
      var centers = Vector(Center(1, seed.getLong(0), None))
      var centerVecs = Vector(seed.getSeq[Double](1).toArray)
      var exhausted = false
      for (step <- 2 to k if !exhausted) {
        val dists = centerVecs.map(c => dist2(col("v"), c))
        val md = round(if (dists.size == 1) dists.head else least(dists: _*), 6)
        val top = v.select(col("id"), md.as("md"), col("v"))
          .orderBy(col("md").desc, col("id")).limit(1).head()
        if (top.getDouble(1) <= 0.0) {
          // every remaining point coincides with a selected center (k
          // exceeds the distinct-point count): stop instead of silently
          // re-selecting the same point — the Bpe.train 'exhausted' rule.
          // Unreachable for the harness queries (distinct embeddings,
          // k << n), so the unrolled SQL oracle replay is unaffected.
          exhausted = true
        } else {
          centers :+= Center(step, top.getLong(0), Some(top.getDouble(1)))
          centerVecs :+= top.getSeq[Double](2).toArray
        }
      }
      (centers, centerVecs)
    }
  }

  /** Coverage report for the k selected centers: every point's rounded
    * min-d² to the center set, aggregated to (n, mean, covering radius²)
    * — the one-row quality card for a coreset (Gonzalez's 2-approximation
    * bounds radius² within 4× of optimal). One extra scan after
    * selection; the k × dim center set stays driver-held literals.
    * `+ 0.0` after the round folds a −0.0 from catastrophic cancellation
    * on near-duplicate points. */
  def coverage(emb: DataFrame, k: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val vecs = selectCenters(emb, k, idCol, embCol)._2
    val v = col(embCol).cast("array<double>")
    val md = round(least(vecs.map(c => dist2(v, c)): _*), 6) + lit(0.0)
    emb.select(md.as("md"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("md").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .as("msum"),
        max(col("md")).as("radius2"))
      .select(col("n_points"),
        round(col("msum").cast("double")
          / col("n_points").cast("double"), 6).as("mean_d2"),
        col("radius2"))
  }

  private def distSql(cj: String) =
    s"""list_dot_product(v.v, v.v)
         - 2.0 * list_dot_product(v.v, $cj.v)
         + list_dot_product($cj.v, $cj.v)"""

  /** WITH-body prefix replaying the farthest-point rounds: `v`, seed `c1`,
    * then `m_r`/`c_r` per round — shared by the selection oracle and the
    * coverage oracle so the replayed center set cannot drift. */
  private def roundsCtes(k: Int): String = {
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(j => s"c$j")
      val dists = prev.map(distSql)
      val md = if (dists.size == 1) dists.head
        else s"least(${dists.mkString(", ")})"
      s"""
      m$r AS (
        SELECT v.id, v.v, round($md, 6) AS md
        FROM v, ${prev.mkString(", ")}),
      c$r AS (SELECT id, v, md FROM m$r ORDER BY md DESC, id LIMIT 1)"""
    }.mkString(",")
    s"""v AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings),
      c1 AS (SELECT id, v FROM v ORDER BY id LIMIT 1),$rounds"""
  }

  /** DuckDB oracle replaying [[select]] end-to-end: the seed pick and the
    * k−1 unrolled farthest-point rounds, same fixed-order distance
    * arithmetic and the same rounded argmax. */
  def selectOracleSql(k: Int): String = {
    val steps = (1 to k).map { r =>
      if (r == 1) "SELECT 1 AS step, id, CAST(NULL AS DOUBLE) AS coverage FROM c1"
      else s"SELECT $r AS step, id, md AS coverage FROM c$r"
    }.mkString(" UNION ALL ")
    s"""
      WITH ${roundsCtes(k)}
      SELECT CAST(step AS BIGINT) AS step, id AS vec_id, coverage
      FROM ($steps) ORDER BY step"""
  }

  /** DuckDB oracle for the coverage report: the same replayed center set,
    * every point's rounded min-d² to it, one closing aggregate. */
  def coverageOracleSql(k: Int): String = {
    val cs = (1 to k).map(j => s"c$j")
    val md = s"least(${cs.map(distSql).mkString(", ")})"
    s"""
      WITH ${roundsCtes(k)},
      md AS (
        SELECT round($md, 6) + 0.0 AS md
        FROM v, ${cs.mkString(", ")})
      SELECT count(*) AS n_points,
             round(CAST(sum(CAST(md AS DECIMAL(18,6))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS mean_d2,
             max(md) AS radius2
      FROM md"""
  }
}
