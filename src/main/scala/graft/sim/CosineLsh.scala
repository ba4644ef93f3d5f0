package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Blocks
import graft.functions.VectorOps

/** Cosine-threshold near-duplicate pairs at corpus scale: multi-table
  * sign-random-projection LSH candidate generation + exact verification.
  *
  * Replaces the O(n²) all-pairs join (round-1 `dedup_embedding_cos`,
  * 47% of the bench) with the banded-LSH shape every 100 TB dedup uses:
  *  - Normalize each vector once (O(n·d)).
  *  - Hash each vector into `NumTables` independent LSH tables of
  *    `BitsPerTable` sign bits each (deterministic Rademacher hyperplanes,
  *    so the bucket ids are reproducible across engines — the DuckDB oracle
  *    recomputes them from literal plane arrays).
  *  - Candidates = pairs sharing a bucket in ANY table (equi-join per
  *    table, union, distinct) — expected candidate volume is
  *    `tables · n²/2^bits`, not n²/2.
  *  - Exact cosine (dot of pre-normalized vectors) only on candidates.
  *
  * Recall of OR-amplified sign-LSH with T tables of b bits for a pair at
  * cosine s, where p = 1 − arccos(s)/π: `1 − (1 − p^b)^T`. With the
  * defaults (T=12, b=6): ≈0.998 at s=0.9, ≈0.95 at s=0.75, ≈0.60 at the
  * borderline s=0.45. The method is tuned for the near-dup regime; the
  * oracle SQL mirrors the same tables, so verification is end-to-end.
  *
  * Scale posture: no shuffle until the candidate `distinct` (the per-table
  * joins broadcast the narrow (id, table, bucket) side or AQE picks a
  * shuffle-hash join keyed by (table, bucket)); the verify joins are plain
  * equi-joins on vec_id. At 1000 executors everything partitions by
  * bucket/id — there is no all-pairs stage anywhere.
  *
  * Like the [[graft.dedup.Dedup]] pair builders, `nearDupPairs` /
  * `nearDupPairsIncremental` run in one [[graft.Blocks.scope]] and return
  * a one-shot result (contract in the Blocks doc).
  */
object CosineLsh {
  val NumTables = 12
  val BitsPerTable = 6
  val Dim = 64
  val BaseSeed = 101L

  /** Bucket resolution MUST grow with the corpus: expected candidate
    * volume is `tables · n² / 2^bits`, so fixed bits turn quadratic once
    * n outgrows the bucket count. Rule of thumb: keep mean bucket
    * occupancy ~`target` (default 64) ⇒ `bits = log2(n / target)`,
    * adding tables if borderline-recall matters at the higher resolution.
    * The oracle-checked query pins bits for its fixed corpus; batch
    * callers at scale should size with this. */
  def bitsFor(n: Long, target: Int = 64): Int =
    math.max(BitsPerTable,
      math.ceil(math.log(math.max(n / target.toDouble, 2.0)) / math.log(2.0)).toInt)

  /** Deterministic ±1 hyperplanes for table `t` (shared with [[Ann]]). */
  def tablePlanes(bits: Int = BitsPerTable): IndexedSeq[Array[Array[Double]]] =
    (0 until NumTables).map(t => Ann.hyperplanes(bits, Dim, BaseSeed + t))

  /** Sequential-fold dot product — native codegen'd kernel (same fold as
    * the oracle's `list_dot_product`). */
  private def dotFold(a: Column, b: Column): Column = VectorOps.dot(a, b)

  /** vec_id, normalized vector, and one bucket id per LSH table. */
  def bucketed(emb: DataFrame, bits: Int = BitsPerTable): DataFrame =
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotFold(col("v"), col("v"))))
      .withColumn("nv", transform(col("v"), x => x / col("nrm")))
      .select(col("vec_id"), col("nv"),
        array(tablePlanes(bits).map(p => Ann.bucketCol(col("v"), p)): _*).as("buckets"))

  /** Near-duplicate pairs with exact cosine >= threshold, candidates from
    * multi-table LSH. Column contract: (id_a, id_b, score).
    *
    * Bucket resolution is SELF-SIZING by default: `bits = None` counts the
    * corpus once (one cheap metadata-friendly job, amortized over the whole
    * pipeline) and applies [[bitsFor]], so a caller who reuses this on a
    * 100x corpus cannot silently go quadratic in candidate volume. Pass
    * `Some(bits)` to pin the resolution — the oracle-checked harness query
    * pins [[BitsPerTable]] because its DuckDB mirror embeds those planes.
    *
    * The hashed corpus (`base`) feeds FOUR plan subtrees (both sides of
    * the candidate self-join + both verify joins), so it is materialized
    * once for the duration of the computation and the small result is
    * materialized eagerly — no recompute, and no block kept past the
    * call. */
  def nearDupPairs(
      emb: DataFrame, threshold: Double,
      bits: Option[Int] = None): DataFrame = {
    val b = bits.getOrElse(bitsFor(emb.count()))
    Blocks.scope { s =>
      // localCheckpoint, not persist: with a pin each of the four references
      // re-inlines the full hash pipeline into the consumer's analyzed plan
      // and per-action canonicalization dominates (see
      // graft.dedup.Dedup.ngramJaccardPairs for the measured rationale);
      // checkpointing cuts each consumer back to a leaf scan of the
      // materialized blocks — same executor footprint, released when the
      // scope exits.
      val base = s.checkpoint(bucketed(emb, b))
      val ids = base.select(col("vec_id"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      val cand = ids.as("a")
        .join(ids.as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
        .distinct()
      val na = base.select(col("vec_id").as("id_a"), col("nv").as("nv_a"))
      val nb = base.select(col("vec_id").as("id_b"), col("nv").as("nv_b"))
      s.result(cand.join(na, "id_a").join(nb, "id_b")
        .select(col("id_a"), col("id_b"),
          round(dotFold(col("nv_a"), col("nv_b")), 6).as("score"))
        .where(col("score") >= lit(threshold))
        .orderBy("id_a", "id_b"))
    }
  }

  /** Incremental near-dup detection over embeddings — the same
    * delta-vs-history shape as `Dedup.minHashLshPairsIncremental`: a new
    * batch is checked against an already-indexed corpus WITHOUT re-joining
    * the history against itself. Candidates come from delta-buckets ×
    * history-buckets (every collision, canonicalized) plus delta-buckets ×
    * delta-buckets (ordered), so bucket work is O(delta × occupancy),
    * never O(history²). Returns exactly the full pipeline's pairs that
    * involve at least one delta vector (id_a < id_b, same verification) —
    * which is what the oracle selects from the shared CTE chain. In
    * production the history side is the persisted (vec_id, nv, buckets)
    * index maintained by the ingest path — pass it via `historyBuckets` to
    * skip re-hashing the history entirely. */
  def nearDupPairsIncremental(
      history: DataFrame, delta: DataFrame, threshold: Double,
      bits: Option[Int] = None,
      historyBuckets: Option[DataFrame] = None): DataFrame = {
    val b = bits.getOrElse(bitsFor(history.count() + delta.count()))
    Blocks.scope { s =>
      // The history buckets are read three times below (the collision join
      // and both verify sides). In DERIVED mode that's three re-hashings of
      // the corpus, so the one-time checkpoint pays (rationale at
      // [[nearDupPairs]]); a SUPPLIED standing index is a cheap narrow scan
      // that must not be pinned (corpus-sized executor memory) — the caller
      // owns its lifecycle.
      val baseH = historyBuckets.getOrElse(s.checkpoint(bucketed(history, b)))
      val baseD = s.checkpoint(bucketed(delta, b))
      def ids(base: DataFrame) = base.select(col("vec_id"),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      val dh = ids(baseD).as("a").join(ids(baseH).as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") =!= col("b.vec_id"))
        .select(least(col("a.vec_id"), col("b.vec_id")).as("id_a"),
          greatest(col("a.vec_id"), col("b.vec_id")).as("id_b"))
      val dd = ids(baseD).as("a").join(ids(baseD).as("b"),
          col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      val cand = dh.union(dd).distinct()
      // the verify joins look vectors up by id across BOTH batches
      val all = baseH.unionByName(baseD)
      val na = all.select(col("vec_id").as("id_a"), col("nv").as("nv_a"))
      val nb = all.select(col("vec_id").as("id_b"), col("nv").as("nv_b"))
      s.result(cand.join(na, "id_a").join(nb, "id_b")
        .select(col("id_a"), col("id_b"),
          round(VectorOps.dot(col("nv_a"), col("nv_b")), 6).as("score"))
        .where(col("score") >= lit(threshold))
        .orderBy("id_a", "id_b"))
    }
  }

  private def planeSql(p: Array[Double]): String =
    p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  /** DuckDB oracle mirroring [[nearDupPairs]] bit-for-bit: bucket ids from
    * the same literal hyperplanes, same normalize-then-dot cosine, same
    * rounding and ordering. */
  /** The near-dup pipeline as a CTE chain ending in
    * `vpairs(id_a, id_b, score)` — shared by the pair oracle and the
    * embedding-clustering oracle. */
  def nearDupPairsCtes(threshold: Double): String = {
    val bucketSelects = tablePlanes().zipWithIndex.map { case (ps, t) =>
      val bits = ps.zipWithIndex.map { case (p, h) =>
        s"(CASE WHEN list_dot_product(v, ${planeSql(p)}) >= 0 THEN ${1L << h} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS tbl, $bits AS bucket FROM e"
    }.mkString(" UNION ALL ")
    s"""
      e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      n AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS nv FROM e),
      ids AS ($bucketSelects),
      cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM ids a JOIN ids b
          ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
      vpairs AS (
        SELECT c.id_a, c.id_b, round(list_dot_product(na.nv, nb.nv), 6) AS score
        FROM cand c
        JOIN n na ON c.id_a = na.vec_id
        JOIN n nb ON c.id_b = nb.vec_id
        WHERE round(list_dot_product(na.nv, nb.nv), 6) >= $threshold)"""
  }

  def nearDupOracleSql(threshold: Double): String =
    s"""
      WITH ${nearDupPairsCtes(threshold)}
      SELECT id_a, id_b, score FROM vpairs
      ORDER BY id_a, id_b"""
}
