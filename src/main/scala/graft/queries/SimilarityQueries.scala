package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps
import graft.sim.CosineLsh

/** Similarity search over `embeddings` (north-star): brute-force cosine
  * top-k as the verified baseline, a kNN self-join, and threshold pairs.
  * The LSH-bucketed ANN scale path lives in graft.sim.Ann (rows-only /
  * ScalaTest recall-checked — a random-projection index has no SQL oracle).
  */
object SimilarityQueries {
  import QueryDef._

  private def cosSql(a: String, b: String) = VectorOps.cosineSql(a, b)

  val defs: Map[String, QueryDef] = Map(

    // Int8 symmetric scalar quantization of the embedding column — the
    // standard 4x vector-index compression (scale = max|x|/127, q =
    // round(x/scale)) with its reconstruction-error bound reported per
    // vector. Scan-side array HOFs, deterministic, and exactly mirrored:
    // float32→double widening is exact and both engines round doubles
    // half-away-from-zero. The error bound every vector must satisfy
    // (max_err <= scale/2) is asserted by the oracle match itself since
    // both sides compute it from first principles.
    "emb_quantize" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "embeddings")
          .withColumn("scale",
            expr("array_max(transform(embedding, x -> abs(cast(x AS double)))) / 127.0"))
          .withColumn("max_err",
            expr("""round(array_max(transform(embedding,
                 x -> abs(round(cast(x AS double) / scale) * scale
                          - cast(x AS double)))), 6)"""))
          .select(col("vec_id"), round(col("scale"), 6).as("scale"),
            col("max_err"))
          .orderBy("vec_id"),
      oracle = Some("""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
          FROM embeddings)
        SELECT vec_id, round(scale, 6) AS scale,
               round(list_max(list_transform(embedding,
                 x -> abs(round(CAST(x AS DOUBLE) / scale) * scale
                          - CAST(x AS DOUBLE)))), 6) AS max_err
        FROM s ORDER BY vec_id""")),

    // Per-label mean embedding: the class-centroid aggregation behind
    // label-balanced sampling, centroid-distance outlier filters, and
    // IVF seeding from labels. One hash aggregate over the corpus with 64
    // per-coordinate means (map-side combine does the heavy lifting —
    // the shuffled state is labels × 64 doubles, independent of corpus
    // size). Means are rounded to 6 decimals on both sides so double
    // accumulation order can't perturb the comparison — the same
    // quantization the k-means trainers use. Output is unpivoted to one
    // scalar row per (label, coordinate): the harness comparator hashes
    // scalar cells, not nested lists.
    "emb_centroids_by_label" -> QueryDef(
      fn = (s, d) => {
        val v = col("embedding").cast("array<double>")
        val dim = graft.sim.CosineLsh.Dim
        t(s, d, "embeddings")
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            array((0 until dim).map(j =>
              round(avg(element_at(v, j + 1)), 6)): _*).as("centroid"))
          .select(col("label"), col("n"),
            posexplode(col("centroid")).as(Seq("pos0", "m")))
          .select(col("label").cast("long").as("label"), col("n"),
            (col("pos0") + 1).cast("long").as("pos"), col("m"))
          .orderBy("label", "pos")
      },
      oracle = Some(s"""
        SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
               CAST(pos AS BIGINT) AS pos,
               round(avg(v[CAST(pos AS INT)]), 6) AS m
        FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v,
                     unnest(generate_series(1, ${graft.sim.CosineLsh.Dim})) AS pos
              FROM embeddings)
        GROUP BY label, pos ORDER BY label, pos""")),

    // Embedding drift monitor: per-label centroid cosine between two
    // halves of the corpus (the deterministic stand-in for "yesterday's
    // embeddings vs today's"). A drifting encoder shows up as a label
    // whose half-centroids stop agreeing. One grouped aggregate per half
    // (label-count sized), then a label-keyed join of 64-double rows —
    // nothing corpus-sized ever shuffles twice.
    "emb_centroid_drift" -> QueryDef(
      fn = (s, d) => {
        import graft.functions.VectorOps
        val v = col("embedding").cast("array<double>")
        val dim = graft.sim.CosineLsh.Dim
        val cents = t(s, d, "embeddings")
          .groupBy(col("label"), (col("vec_id") % 2).as("half"))
          .agg(count(lit(1)).as("n"),
            array((0 until dim).map(j =>
              round(avg(element_at(v, j + 1)), 6)): _*).as("c"))
        val a = cents.where(col("half") === 0)
          .select(col("label"), col("n").as("n_a"), col("c").as("ca"))
        val b = cents.where(col("half") === 1)
          .select(col("label").as("lb"), col("n").as("n_b"), col("c").as("cb"))
        a.join(b, col("label") === col("lb"))
          .select(col("label").cast("long").as("label"),
            col("n_a"), col("n_b"),
            VectorOps.cosineRounded(col("ca"), col("cb")).as("drift_cos"))
          .orderBy("label")
      },
      oracle = Some {
        val cos = graft.functions.VectorOps.cosineSql("a.c", "b.c")
        s"""
        WITH perpos AS (
          SELECT label, vec_id % 2 AS half, pos,
                 round(avg(v[CAST(pos AS INT)]), 6) AS m
          FROM (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       unnest(generate_series(1, ${graft.sim.CosineLsh.Dim})) AS pos
                FROM embeddings)
          GROUP BY 1, 2, 3),
        cents AS (
          SELECT label, half, list(m ORDER BY pos) AS c
          FROM perpos GROUP BY 1, 2),
        ns AS (SELECT label, vec_id % 2 AS half, count(*) AS n
               FROM embeddings GROUP BY 1, 2)
        SELECT CAST(a.label AS BIGINT) AS label, na.n AS n_a, nb.n AS n_b,
               round($cos, 6) AS drift_cos
        FROM cents a
        JOIN cents b ON a.label = b.label AND a.half = 0 AND b.half = 1
        JOIN ns na ON na.label = a.label AND na.half = 0
        JOIN ns nb ON nb.label = a.label AND nb.half = 1
        ORDER BY label"""
      }),

    // Hard-negative mining for contrastive training: for each probe
    // vector, the top-3 most-similar vectors with a DIFFERENT label — the
    // near-misses a metric-learning loss needs. Probe set is broadcast
    // (tiny by construction: a training batch); the corpus side is one
    // scan + per-probe window, so cost is O(corpus × probes) exact — the
    // verified baseline the IVF/PQ indexes accelerate when the probe set
    // grows.
    "sim_hard_negatives" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val probes = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
            col("label").as("q_label"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("vec_id"))
        emb.where(col("vec_id") >= 10)
          .crossJoin(broadcast(probes))
          .where(col("label") =!= col("q_label"))
          .select(col("q_id"), col("vec_id"),
            VectorOps.cosineRounded(col("embedding"), col("q_emb")).as("score"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 3)
          .orderBy("q_id", "rnk")
      },
      oracle = Some(s"""
        SELECT q_id, vec_id, score, rnk FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS vec_id,
                 round(${cosSql("e.embedding", "q.embedding")}, 6) AS score,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(${cosSql("e.embedding", "q.embedding")}, 6) DESC,
                            e.vec_id) AS rnk
          FROM embeddings e
          JOIN embeddings q ON q.vec_id < 10 AND e.vec_id >= 10
                           AND e.label <> q.label)
        WHERE rnk <= 3 ORDER BY q_id, rnk""")),

    // Brute-force cosine top-10 for one query vector: the exact baseline
    // every ANN variant is measured against. Query side is broadcast.
    "sim_topk_bruteforce" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.where(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"))
        emb.where(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
            VectorOps.cosineRounded(col("embedding"), col("q_emb")).as("score"))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(10)
      },
      oracle = Some(s"""
        SELECT e.vec_id,
               round(${cosSql("e.embedding", "q.embedding")}, 6) AS score
        FROM embeddings e,
             (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        WHERE e.vec_id <> 0
        ORDER BY score DESC, e.vec_id LIMIT 10""")),

    // MMR diversified retrieval (Carbonell-Goldstein SIGIR'98) for the
    // same query vector: top-30 rounded-cosine candidates (the
    // distributed part — one scan + TakeOrdered, identical plan family to
    // sim_topk_bruteforce; the IVF probe drops in for the indexed path),
    // then 10 greedy lambda=0.7 rounds DRIVER-SIDE over the bounded
    // candidate set — relevance traded against max-similarity to the
    // already-picked set, so near-duplicate neighbors stop crowding the
    // result the way they do in the raw top-k. Every rounding point and
    // tie-break is pinned; the oracle replays candidates AND all greedy
    // rounds as chained CTEs.
    "sim_mmr" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        graft.sim.Mmr.select(t(s, d, "embeddings"),
            queryId = 0, n = 30, k = 10, lambda = 0.7)
          .map(p => (p.step.toLong, p.id, p.rel, p.score))
          .toDF("step", "vec_id", "relevance", "mmr_score")
          .orderBy("step")
      },
      oracle = Some(graft.sim.Mmr.selectOracleSql(
        queryId = 0, n = 30, k = 10, lambda = 0.7))),

    // kNN join: top-3 neighbors for each of the first 20 vectors. The
    // query side (small) is broadcast; candidates never shuffle until the
    // per-query top-k window.
    "sim_knn_join" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val q = emb.where(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
        val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("c_id"))
        c.join(broadcast(q), col("c_id") =!= col("q_id"))
          .select(col("q_id"), col("c_id"),
            VectorOps.cosineRounded(col("c_emb"), col("q_emb")).as("score"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 3)
          .select("q_id", "rnk", "c_id", "score")
          .orderBy("q_id", "rnk")
      },
      oracle = Some(s"""
        SELECT q_id, rnk, c_id, score
        FROM (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
                     round(${cosSql("c.embedding", "q.embedding")}, 6) AS score,
                     row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(${cosSql("c.embedding", "q.embedding")}, 6) DESC,
                                c.vec_id) AS rnk
              FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
              WHERE q.vec_id < 20)
        WHERE rnk <= 3 ORDER BY q_id, rnk"""),
      bench = true),

    // Embedding near-dup pairs above a cosine threshold. Candidates come
    // from multi-table sign-LSH buckets (never an all-pairs join); exact
    // cosine verifies candidates only. The oracle recomputes the same
    // buckets from literal hyperplanes — see graft.sim.CosineLsh.
    // bits pinned: the oracle embeds the 6-bit planes as literals (batch
    // callers omit `bits` and get corpus-sized resolution automatically).
    "dedup_embedding_cos" -> QueryDef(
      fn = (s, d) => CosineLsh.nearDupPairs(t(s, d, "embeddings"), threshold = 0.45,
        bits = Some(CosineLsh.BitsPerTable)),
      oracle = Some(CosineLsh.nearDupOracleSql(threshold = 0.45)),
      bench = true),

    // Incremental embedding near-dup: odd vec_ids play the delta batch,
    // even ids the indexed history — delta buckets join (history ∪ delta)
    // buckets only, O(delta × occupancy), and the result must be exactly
    // the full pipeline's delta-touching pairs (same shared CTEs,
    // filtered). Completes the incremental trio: minhash_incr,
    // simhash_incr, embedding_incr.
    "dedup_embedding_incr" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        CosineLsh.nearDupPairsIncremental(
          history = emb.where(col("vec_id") % 2 === 0),
          delta = emb.where(col("vec_id") % 2 === 1),
          threshold = 0.45, bits = Some(CosineLsh.BitsPerTable))
      },
      oracle = Some(s"""
        WITH ${CosineLsh.nearDupPairsCtes(threshold = 0.45)}
        SELECT id_a, id_b, score FROM vpairs
        WHERE id_a % 2 = 1 OR id_b % 2 = 1
        ORDER BY id_a, id_b""")),

    // Embedding-table health audit: norm distribution + outlier count in
    // one narrow pass. Broken embedding exports show up as zero vectors
    // (failed encodes), near-zero norms (truncated rows), or huge norms
    // (unnormalized mixes) — the audit every vector load should gate on
    // before an index build trains on garbage. Norms round to 6dp into
    // DECIMAL so the mean/std moments accumulate order-independently;
    // the z-threshold scalars are pulled to the driver (same
    // threshold-pull pattern as quality_gate) so the outlier count needs
    // no one-row cross join. One scan, vectors never shuffled.
    "emb_norm_outliers" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import org.apache.spark.sql.types.DecimalType
        val norms = scope.persist(t(s, d, "embeddings")
          .select(col("vec_id"),
            round(VectorOps.norm(col("embedding")), 6)
              .cast(DecimalType(18, 6)).as("nrm")))
        val m = norms
          .agg(count(lit(1)).as("n"), sum(col("nrm")).as("sx"),
            sum(col("nrm") * col("nrm")).as("sxx"),
            sum(when(col("nrm") === 0, 1L).otherwise(0L)).as("nz"))
          .head()
        val n = m.getLong(0)
        val sx = m.getDecimal(1).doubleValue()
        val sxx = m.getDecimal(2).doubleValue()
        val nZero = m.getLong(3)
        val mean = sx / n.toDouble
        val std = math.sqrt(sxx / n.toDouble - mean * mean)
        val nOut = norms
          .where(abs(col("nrm").cast("double") - lit(mean)) > lit(3.0 * std))
          .count()
        // HALF_UP to match both engines' round(double, 6)
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        s.range(1).select(lit(n).as("n_vecs"), lit(nZero).as("n_zero"),
          lit(nOut).as("n_outliers"),
          lit(r6(mean)).as("mean_norm"), lit(r6(std)).as("std_norm"))
      },
      oracle = Some("""
        WITH nrm AS (
          SELECT vec_id,
                 CAST(round(sqrt(list_dot_product(
                        CAST(embedding AS DOUBLE[]),
                        CAST(embedding AS DOUBLE[]))), 6) AS DECIMAL(18,6))
                   AS nrm
          FROM embeddings),
        m AS (
          SELECT count(*) AS n, sum(nrm) AS sx, sum(nrm * nrm) AS sxx,
                 CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nz
          FROM nrm),
        st AS (
          SELECT n, nz,
                 CAST(sx AS DOUBLE) / n AS mean,
                 sqrt(CAST(sxx AS DOUBLE) / n -
                      (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n))
                   AS std
          FROM m)
        SELECT st.n AS n_vecs, st.nz AS n_zero,
               (SELECT count(*) FROM nrm, st
                WHERE abs(CAST(nrm.nrm AS DOUBLE) - st.mean) > 3.0 * st.std)
                 AS n_outliers,
               round(st.mean, 6) AS mean_norm,
               round(st.std, 6) AS std_norm
        FROM st""")),

    // Semantic decontamination — the embedding-space complement of the
    // n-gram text_contamination check: train vectors whose cosine to ANY
    // eval-suite vector (vec_id % 10 = 0 plays the benchmark) clears the
    // near-dup threshold. Catches paraphrased/reworded eval leakage that
    // exact n-gram overlap misses (Yang et al., arXiv:2311.04850 show
    // rephrased benchmark items survive n-gram decontamination). Shape:
    // the SAME incremental sign-LSH machinery as dedup_embedding_incr
    // with the eval suite as the delta — candidates are eval-buckets ×
    // train-buckets, O(|eval| × occupancy), so the train corpus is never
    // self-joined and never shuffled whole; in production the train side
    // is the standing bucket index the ingest path maintains. Output is
    // the contaminated-train-doc list with hit counts — the rows a
    // release must drop or flag.
    "decontam_embedding" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val isBench = (c: org.apache.spark.sql.Column) => c % 10 === 0
        val pairs = CosineLsh.nearDupPairsIncremental(
          history = emb.where(!isBench(col("vec_id"))),
          delta = emb.where(isBench(col("vec_id"))),
          threshold = 0.45, bits = Some(CosineLsh.BitsPerTable))
        pairs
          .where(isBench(col("id_a")) =!= isBench(col("id_b")))
          .select(
            when(isBench(col("id_a")), col("id_b")).otherwise(col("id_a"))
              .as("train_vec_id"),
            col("score"))
          .groupBy("train_vec_id")
          .agg(count(lit(1)).as("n_bench_hits"),
            max(col("score")).as("max_score"))
          .orderBy("train_vec_id")
      },
      oracle = Some(s"""
        WITH ${CosineLsh.nearDupPairsCtes(threshold = 0.45)}
        SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END
                 AS train_vec_id,
               count(*) AS n_bench_hits,
               max(score) AS max_score
        FROM vpairs
        WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
        GROUP BY 1 ORDER BY train_vec_id""")),

    // Semantic duplicate clusters: the same connected-components step the
    // text pipeline uses, over the cosine near-dup pairs — embeddings
    // whose mutual cosine chains above threshold collapse to one keeper.
    "dedup_embedding_clusters" -> QueryDef(
      fn = (s, d) =>
        graft.dedup.Dedup.connectedComponents(
          CosineLsh.nearDupPairs(t(s, d, "embeddings"), threshold = 0.45,
              bits = Some(CosineLsh.BitsPerTable))
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
          .select(col("doc_id").as("vec_id"), col("cluster_id"))
          .orderBy("vec_id"),
      oracle = Some(s"""
        WITH RECURSIVE ${CosineLsh.nearDupPairsCtes(threshold = 0.45)},
        edges AS (
          SELECT id_a AS a, id_b AS b FROM vpairs
          UNION
          SELECT id_b, id_a FROM vpairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON r.node = e2.b)
        SELECT node AS vec_id, min(lbl) AS cluster_id
        FROM reach GROUP BY node
        ORDER BY vec_id""")),

    // SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup scoped to
    // k-means clusters — candidate pairs are same-cell pairs, never an
    // all-pairs join. Complements the sign-LSH bucketing of
    // dedup_embedding_cos: the coarse quantizer adapts to the data
    // distribution, so a dense region lands in one cell even where fixed
    // hyperplanes would split it. Training reuses the deterministic IVF
    // machinery (hash-rank seeds, quantized means — graft.sim.Ivf), so
    // the DuckDB oracle replays clustering, pairing and scoring
    // end-to-end. At 100 TB, k scales with the corpus (k ≈ n/1e5 keeps
    // cells bounded) and the self-join shuffles on cell — bounding the
    // per-cell candidate volume IS the SemDeDup contract.
    "dedup_semantic_kmeans" -> QueryDef(
      fn = (s, d) =>
        graft.sim.Ivf.semanticPairs(t(s, d, "embeddings"),
            numCells = 8, iters = 3, threshold = 0.45)
          .orderBy("id_a", "id_b"),
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Ivf.coarseCtes(numCells = 8, nprobe = 1, iters = 3,
            dim = 64, queryPred = "id < 0")},
        pairs AS (
          SELECT a.cell AS cell, a.c_id AS id_a, b.c_id AS id_b
          FROM idx a JOIN idx b ON a.cell = b.cell AND a.c_id < b.c_id),
        scored AS (
          SELECT p.cell, p.id_a, p.id_b,
                 round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS score
          FROM pairs p
          JOIN embeddings ea ON ea.vec_id = p.id_a
          JOIN embeddings eb ON eb.vec_id = p.id_b)
        SELECT cell, id_a, id_b, score FROM scored
        WHERE score >= 0.45 ORDER BY id_a, id_b"""),
      bench = true),

    // The SemDeDup release pass: within-cell cosine pairs chain through
    // connected components (same CC step as the text pipeline; min-id
    // keeper per semantic-duplicate group) and the kept corpus is the
    // anti-join against the non-keepers. The oracle replays k-means,
    // pairing, scoring AND the transitive closure, so the whole release
    // decision is hash-checked end-to-end. The drop set is unbounded
    // (dup-heavy corpora shed 30-50%) — no broadcast hint, AQE's call.
    "dedup_semantic_apply" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val pairs = graft.sim.Ivf.semanticPairs(emb,
            numCells = 8, iters = 3, threshold = 0.45)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        val drop = graft.dedup.Dedup.connectedComponents(pairs)
          .where(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id").as("vec_id"))
        emb.join(drop, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("label").cast("long").as("label"))
          .orderBy("vec_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Ivf.coarseCtes(numCells = 8, nprobe = 1, iters = 3,
            dim = 64, queryPred = "id < 0")},
        cand AS (
          SELECT a.c_id AS id_a, b.c_id AS id_b
          FROM idx a JOIN idx b ON a.cell = b.cell AND a.c_id < b.c_id),
        spairs AS (
          SELECT id_a, id_b FROM (
            SELECT p.id_a, p.id_b,
                   round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS score
            FROM cand p
            JOIN embeddings ea ON ea.vec_id = p.id_a
            JOIN embeddings eb ON eb.vec_id = p.id_b)
          WHERE score >= 0.45),
        edges AS (
          SELECT id_a AS a, id_b AS b FROM spairs
          UNION
          SELECT id_b, id_a FROM spairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        dropped AS (
          SELECT node FROM reach GROUP BY node HAVING min(lbl) <> node)
        SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM dropped)
        ORDER BY vec_id""")),

    // Incremental SemDeDup: the delta batch is assigned to the STANDING
    // cell index (centroids trained on history only — no retrain), and
    // candidate pairs are delta-vs-(history ∪ delta) within cells, so a
    // batch costs O(delta × cell occupancy) and history is never
    // self-joined — the same delta-vs-standing contract as minhash_incr /
    // embedding_incr / containment_incr. Odd vec_ids play the delta. The
    // oracle replays history-only training plus BOTH assignments.
    "dedup_semantic_incr" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val hist = emb.where(col("vec_id") % 2 === 0)
        val delta = emb.where(col("vec_id") % 2 === 1)
        val centroids = graft.sim.Ivf.trainCentroids(hist, k = 8, iters = 3)
        val idxH = graft.sim.Ivf.index(hist, centroids)
        val idxD = graft.sim.Ivf.index(delta, centroids)
        val dh = idxD.as("a").join(idxH.as("b"),
            col("a.cell") === col("b.cell"))
          .select(col("a.cell").cast("long").as("cell"),
            least(col("a.c_id"), col("b.c_id")).as("id_a"),
            greatest(col("a.c_id"), col("b.c_id")).as("id_b"),
            VectorOps.cosineRounded(col("a.c_emb"), col("b.c_emb")).as("score"))
        val dd = idxD.as("a").join(idxD.as("b"),
            col("a.cell") === col("b.cell") && col("a.c_id") < col("b.c_id"))
          .select(col("a.cell").cast("long").as("cell"),
            col("a.c_id").as("id_a"), col("b.c_id").as("id_b"),
            VectorOps.cosineRounded(col("a.c_emb"), col("b.c_emb")).as("score"))
        dh.unionByName(dd)
          .where(col("score") >= 0.45)
          .orderBy("id_a", "id_b")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 2 = 0),
        ${graft.sim.Ivf.coarseCtes(numCells = 8, nprobe = 1, iters = 3,
            dim = 64, queryPred = "id < 0")},
        d AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % 2 = 1),
        idxd AS (
          SELECT id AS c_id, cell FROM (
            SELECT a.id, c.cell,
                   row_number() OVER (PARTITION BY a.id
                     ORDER BY list_dot_product(a.v, c.cv)
                              - list_dot_product(c.cv, c.cv)/2.0 DESC,
                              c.cell DESC) AS rn
            FROM d a CROSS JOIN c3 c) WHERE rn = 1),
        dh AS (
          SELECT a.cell, least(a.c_id, b.c_id) AS id_a,
                 greatest(a.c_id, b.c_id) AS id_b
          FROM idxd a JOIN idx b ON b.cell = a.cell),
        dd AS (
          SELECT a.cell, a.c_id AS id_a, b.c_id AS id_b
          FROM idxd a JOIN idxd b
            ON b.cell = a.cell AND a.c_id < b.c_id),
        u AS (SELECT * FROM dh UNION ALL SELECT * FROM dd),
        scored AS (
          SELECT u.cell, u.id_a, u.id_b,
                 round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS score
          FROM u
          JOIN embeddings ea ON ea.vec_id = u.id_a
          JOIN embeddings eb ON eb.vec_id = u.id_b)
        SELECT cell, id_a, id_b, score FROM scored
        WHERE score >= 0.45 ORDER BY id_a, id_b""")),

    // Index-quality evaluation AS an operator: per-query recall@3 of the
    // IVF path against the exact brute-force top-3 — the monitor every
    // production ANN deployment runs before trusting an index (and after
    // every retrain). Both paths are deterministic, so the oracle replays
    // the whole evaluation: Lloyd training, probe routing, ADC-free exact
    // verify, the brute-force reference ranking, and the intersection
    // counting. 100 TB shape: recall is evaluated on a SAMPLE of queries
    // (here vec_id < 20) — the brute-force side is the product of that
    // small probe batch with the corpus, never corpus × corpus.
    // The nprobe TUNING CURVE over the same index sim_ann_recall grades
    // at one point: recall@3 at nprobe 1/2/4/8 from ONE trained
    // quantizer, ONE candidate join at nprobe=8 with every candidate
    // carrying its probe-cell rank (each vector lives in exactly one
    // cell, so the rank is unique per (query, candidate)), each
    // operating point a rank filter + per-query top-k over the shared
    // relation. The curve is what picks the production operating point
    // after every retrain — where recall plateaus, stop paying probes.
    "sim_ann_nprobe_sweep" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.Ivf.recallSweep(emb, emb.where(col("vec_id") < 20),
          k = 3, nprobes = Seq(1, 2, 4, 8))
      },
      oracle = Some(graft.sim.Ivf.recallSweepOracleSql(
        k = 3, nprobes = Seq(1, 2, 4, 8)))),

    "sim_ann_recall" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val probes = emb.where(col("vec_id") < 20)
        val ivf = graft.sim.Ivf.topKApprox(emb, probes, k = 3)
          .select(col("q_id"), col("c_id"))
        val q = probes.select(col("vec_id").as("q_id"),
          col("embedding").as("q_emb"))
        val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("score").desc, col("c_id"))
        val bf = c.join(broadcast(q), col("c_id") =!= col("q_id"))
          .select(col("q_id"), col("c_id"),
            VectorOps.cosineRounded(col("c_emb"), col("q_emb")).as("score"))
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select(col("q_id"), col("c_id"))
        val hits = ivf.join(bf, Seq("q_id", "c_id"))
          .groupBy("q_id").agg(count(lit(1)).as("hits"))
        probes.select(col("vec_id").as("q_id"))
          .join(hits, Seq("q_id"), "left")
          .select(col("q_id"),
            coalesce(col("hits"), lit(0L)).as("hits"))
          .withColumn("recall", col("hits").cast("double") / lit(3.0))
          .orderBy("q_id")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Ivf.coarseCtes(numCells = 16, nprobe = 4, iters = 5,
            dim = 64, queryPred = "id < 20")},
        cand AS (
          SELECT p.q_id, i.c_id
          FROM probes p JOIN idx i ON i.cell = p.probe AND i.c_id <> p.q_id),
        iscored AS (
          SELECT c.q_id, c.c_id,
                 round(${cosSql("eq.embedding", "ec.embedding")}, 6) AS score
          FROM cand c
          JOIN embeddings eq ON eq.vec_id = c.q_id
          JOIN embeddings ec ON ec.vec_id = c.c_id),
        ivf3 AS (
          SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY score DESC, c_id) AS rnk
            FROM iscored) WHERE rnk <= 3),
        bf3 AS (
          SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, e.vec_id AS c_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(${cosSql("e.embedding", "q.embedding")},
                                    6) DESC, e.vec_id) AS rnk
            FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
            WHERE q.vec_id < 20) WHERE rnk <= 3),
        h AS (
          SELECT i.q_id, count(*) AS hits
          FROM ivf3 i JOIN bf3 b ON b.q_id = i.q_id AND b.c_id = i.c_id
          GROUP BY i.q_id)
        SELECT q.vec_id AS q_id,
               coalesce(h.hits, 0) AS hits,
               CAST(coalesce(h.hits, 0) AS DOUBLE) / 3.0 AS recall
        FROM embeddings q LEFT JOIN h ON h.q_id = q.vec_id
        WHERE q.vec_id < 20
        ORDER BY q_id""")),

    // Top-principal-component projection by deterministic power iteration
    // (graft.sim.Pca): the spectral primitive for whitening, OPQ-style
    // rotation pre-processing, and drift monitoring (batch distribution
    // shift as a scalar series). Each round is one scan + a 1×dim
    // aggregate — no covariance matrix; µ and per-round u quantize to 6
    // decimals, so the oracle unrolls and replays training exactly like
    // the Lloyd chains.
    "emb_top_pc" -> QueryDef(
      fn = (s, d) => graft.sim.Pca.project(t(s, d, "embeddings")),
      oracle = Some(graft.sim.Pca.projectOracleSql())),

    // Explained-variance ratio of that component: Var(projection)/total
    // variance via E[|v|²] − |µ|² — the "is one direction dominating the
    // space" spectral health number (anisotropy/collapse monitor for an
    // embedding model; also the stopping signal for how many PCs a
    // whitening step needs). Reuses the oracle-replayed trained u, so
    // both engines score the identical eigenvector; moment scalars are
    // driver-pulled, no one-row cross joins.
    "emb_pca_variance_ratio" -> QueryDef(
      fn = (s, d) => graft.sim.Pca.varianceRatio(t(s, d, "embeddings")),
      oracle = Some(graft.sim.Pca.varianceRatioOracleSql())),

    // All-but-the-top correction readout (Mu & Viswanath ICLR'18): the
    // top-20 vectors most dominated by the trained common direction —
    // projection vs post-removal residual norm. The before/after view an
    // embedding-quality pass logs when applying isotropy correction;
    // shares the oracle-replayed training chain with emb_top_pc /
    // emb_pca_variance_ratio, so all three score the identical
    // eigenvector.
    "emb_abtt_residual" -> QueryDef(
      fn = (s, d) => graft.sim.Pca.abttResidual(t(s, d, "embeddings")),
      oracle = Some(graft.sim.Pca.abttResidualOracleSql())),

    // Greedy k-center coreset selection (Gonzalez'85 farthest-point;
    // Sener & Savarese ICLR'18 for training-set selection): 8 maximally
    // diverse exemplars with their covering radii — the diversity
    // counterpart of prototypicality pruning (which drops the MOST
    // central points, this keeps the most spread ones). Driver-held
    // center set (k × dim), one scan per round, rounded argmax with id
    // tie-break; the oracle unrolls the same farthest-point rounds.
    "sample_kcenter" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        graft.sim.KCenter.select(t(s, d, "embeddings"), k = 8)
          .map(c => (c.step.toLong, c.id, c.coverage))
          .toDF("step", "vec_id", "coverage")
          .orderBy("step")
      },
      oracle = Some(graft.sim.KCenter.selectOracleSql(8))),

    // The coverage eval companion to sample_kcenter: every point's
    // rounded min-d² to the 8 selected centers aggregated to one row —
    // n, mean coverage, covering radius² (the 2-approximation quality
    // Gonzalez guarantees). The number to re-check when k is re-budgeted:
    // radius² halving as k grows is the evidence the coreset still
    // covers. One extra scan past selection; centers stay driver-held
    // literals, min-d² terms round to 6dp into DECIMAL for the mean.
    "sample_kcenter_coverage" -> QueryDef(
      fn = (s, d) => graft.sim.KCenter.coverage(t(s, d, "embeddings"), k = 8),
      oracle = Some(graft.sim.KCenter.coverageOracleSql(8))),

    // Label-balanced downsampling: every class kept at exactly the
    // MINORITY class size by deterministic md5-rank within label — the
    // class-balancing primitive before training a classifier on skewed
    // labels (sample_fixed_per_group caps at a constant; this derives
    // the cap from the data so no class dominates and none is padded).
    // One label-keyed window rank + a label-cardinality-bounded count
    // join (AQE broadcasts it); the md5 rank makes the kept set stable
    // across runs and engines.
    "sample_balanced_classes" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "embeddings").select(col("vec_id"), col("label"))
        val m = base.groupBy("label").agg(count(lit(1)).as("n"))
          .withColumn("m", min(col("n")).over(Window.partitionBy()))
          .select(col("label"), col("m"))
        val rk = row_number().over(Window.partitionBy("label")
          .orderBy(md5(col("vec_id").cast("string")), col("vec_id")))
        base.withColumn("rk", rk.cast("long"))
          .join(m, Seq("label"))
          .where(col("rk") <= col("m"))
          .select(col("vec_id"), col("label").cast("long").as("label"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH c AS (
          SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        mm AS (SELECT label, min(n) OVER () AS m FROM c),
        r AS (
          SELECT vec_id, label,
                 row_number() OVER (PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
          FROM embeddings)
        SELECT r.vec_id, CAST(r.label AS BIGINT) AS label
        FROM r JOIN mm ON mm.label = r.label
        WHERE r.rk <= mm.m
        ORDER BY r.vec_id""")),

    // Johnson–Lindenstrauss sign-projection distortion (Achlioptas JCSS'03:
    // ±1 entries satisfy the JL lemma with the same guarantees as Gaussian
    // matrices, and multiply-free): project the 64-dim embeddings to
    // k = 16 dims with a deterministic md5-derived ±1 matrix and measure,
    // on a capped probe slice, how well squared L2 distances survive —
    // ratio = ‖ya−yb‖²/(k·‖xa−xb‖²), the number that says whether a
    // k-dim sketch of the embedding column is safe for coarse candidate
    // generation (store 4× less, prune with the sketch, verify exact).
    // The probe slice (vec_id < 30) bounds the pair count; BOTH distance
    // matrices come from coordinate-keyed equi-joins (a.j = b.j), never a
    // cartesian. Determinism: signed terms round to 6dp into DECIMAL, so
    // projections and both distance sums are exact decimal arithmetic;
    // the closing ratio is one IEEE division by 16·d2 (16 exact).
    "emb_jl_distortion" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val dec = org.apache.spark.sql.types.DecimalType(18, 6)
        val ex = scope.persist(t(s, d, "embeddings").where(col("vec_id") < 30)
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>"))
              .as(Seq("p0", "x")))
          .select(col("vec_id"), (col("p0") + 1).as("j"), col("x")))
        val sign = conv(
          substring(md5(concat_ws("_", col("i"), col("j"))), 1, 4), 16, 10)
          .cast("long") % 2
        val proj = ex
          .select(col("vec_id"), col("j"), col("x"),
            explode(sequence(lit(1), lit(16))).as("i"))
          .select(col("vec_id"), col("i"),
            round(when(sign === 0, col("x")).otherwise(-col("x")), 6)
              .cast(dec).as("tx"))
          .groupBy("vec_id", "i")
          .agg(sum(col("tx")).cast(dec).cast("double").as("y"))
        val ya = proj.select(col("vec_id").as("vec_a"), col("i"),
          col("y").as("ya"))
        val yb = proj.select(col("vec_id").as("vec_b"), col("i"),
          col("y").as("yb"))
        val d2p = ya.join(yb, Seq("i"))
          .where(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round((col("ya") - col("yb")) * (col("ya") - col("yb")), 6)
              .cast(dec).as("tt"))
          .groupBy("vec_a", "vec_b")
          .agg(sum(col("tt")).cast("double").as("d2_proj"))
        val xa = ex.select(col("vec_id").as("vec_a"), col("j"),
          col("x").as("xa"))
        val xb = ex.select(col("vec_id").as("vec_b"), col("j"),
          col("x").as("xb"))
        val d2o = xa.join(xb, Seq("j"))
          .where(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            round((col("xa") - col("xb")) * (col("xa") - col("xb")), 6)
              .cast(dec).as("tt"))
          .groupBy("vec_a", "vec_b")
          .agg(sum(col("tt")).cast("double").as("d2_orig"))
        scope.result(d2o.join(d2p, Seq("vec_a", "vec_b"))
          .where(col("d2_orig") > 0)
          .select(col("vec_a"), col("vec_b"), col("d2_orig"), col("d2_proj"),
            round(col("d2_proj") / (lit(16.0) * col("d2_orig")), 6)
              .as("ratio"))
          .orderBy("vec_a", "vec_b"))
      },
      oracle = Some("""
        WITH pr AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 30),
        ex AS (
          SELECT vec_id, CAST(j AS INT) AS j, v[CAST(j AS INT)] AS x
          FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS j
                FROM pr)),
        tx AS (
          SELECT vec_id, i,
                 CAST(round(CASE WHEN CAST('0x' || substr(md5(
                        CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)),
                        1, 4) AS BIGINT) % 2 = 0
                      THEN x ELSE -x END, 6) AS DECIMAL(18,6)) AS tx
          FROM (SELECT vec_id, j, x, unnest(generate_series(1, 16)) AS i
                FROM ex)),
        yy AS (
          SELECT vec_id, i,
                 CAST(CAST(sum(tx) AS DECIMAL(18,6)) AS DOUBLE) AS y
          FROM tx GROUP BY 1, 2),
        dp AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 CAST(sum(CAST(round((a.y - b.y) * (a.y - b.y), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS d2_proj
          FROM yy a JOIN yy b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2),
        dd AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 CAST(sum(CAST(round((a.x - b.x) * (a.x - b.x), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS d2_orig
          FROM ex a JOIN ex b ON a.j = b.j AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
        SELECT dd.vec_a, dd.vec_b, d2_orig, d2_proj,
               round(d2_proj / (16.0 * d2_orig), 6) AS ratio
        FROM dd JOIN dp ON dp.vec_a = dd.vec_a AND dp.vec_b = dd.vec_b
        WHERE d2_orig > 0
        ORDER BY dd.vec_a, dd.vec_b""")),

    // Mean pairwise cosine / corpus embedding diversity — computed
    // EXACTLY in O(n·d) via the sum-vector identity: for unit vectors,
    // Σ_{i≠j} v̂_i·v̂_j = ‖Σv̂‖² − Σ‖v̂‖², so the O(n²) statistic needs
    // only per-dimension sums. High mean cosine = an embedding-collapsed
    // or duplicate-heavy corpus (the aggregate cousin of SemDeDup);
    // diversity selection literature reports exactly this number.
    // Determinism: normalized coordinates round to 6dp into DECIMAL, so
    // both ‖Σv̂ᵣ‖² and Σ‖v̂ᵣ‖² are EXACT decimal arithmetic (squares at
    // scale 12, sums order-independent) — only the single closing
    // division is IEEE. One explode to (pos, coord), one 64-group
    // aggregate, one 64-row rollup; zero-norm vectors are excluded on
    // both sides.
    "emb_pairwise_diversity" -> QueryDef(
      fn = (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(18, 6)
        val emb = t(s, d, "embeddings")
        val v = col("embedding").cast("array<double>")
        val base = emb.select(v.as("v"),
            sqrt(VectorOps.dot(v, v)).as("nrm"))
          .where(col("nrm") > 0)
        val n = base.count()
        val ex = base
          .select(posexplode(expr("transform(v, x -> x / nrm)"))
            .as(Seq("pos", "xv")))
          .select(col("pos"), round(col("xv"), 6).cast(dec).as("x"))
        val g = ex.groupBy("pos")
          .agg(sum(col("x")).cast(dec).as("s"),
            sum(col("x") * col("x")).as("q"))
        g.agg(sum(col("s") * col("s")).as("s2"), sum(col("q")).as("q"))
          .select(lit(n).as("n_vecs"),
            (round((col("s2") - col("q")).cast("double")
              / lit((n * (n - 1)).toDouble), 6) + lit(0.0))
              .as("mean_pairwise_cos"))
      },
      oracle = Some("""
        WITH nv AS (
          SELECT v, sqrt(list_dot_product(v, v)) AS nrm
          FROM (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
          WHERE sqrt(list_dot_product(v, v)) > 0),
        ex AS (
          SELECT pos,
                 CAST(round(v[CAST(pos AS INT)] / nrm, 6) AS DECIMAL(18,6))
                   AS x
          FROM (SELECT v, nrm, unnest(generate_series(1, 64)) AS pos
                FROM nv)),
        g AS (
          SELECT pos, CAST(sum(x) AS DECIMAL(18,6)) AS s, sum(x * x) AS q
          FROM ex GROUP BY pos),
        f AS (SELECT sum(s * s) AS s2, sum(q) AS q FROM g),
        cn AS (SELECT count(*) AS n FROM nv)
        SELECT CAST(cn.n AS BIGINT) AS n_vecs,
               round(CAST(f.s2 - f.q AS DOUBLE)
                     / CAST(cn.n * (cn.n - 1) AS DOUBLE), 6) + 0.0
                 AS mean_pairwise_cos
        FROM f, cn""")),

    // Prototypicality pruning (Sorscher et al., NeurIPS'22 "Beyond neural
    // scaling laws"): rank every vector by cosine to its k-means cell
    // centroid; with abundant data the most prototypical (easiest)
    // examples contribute least, so the release drops the top 20% per
    // cell. The verdict is all-integer (5·rank > n_cell) — no float
    // threshold for the engines to disagree on. Centroids join back from
    // a k-row relation (provably bounded → broadcast hint is legitimate
    // under the hints policy); ranking is one window per cell.
    // Simplified (centroid-based) silhouette per k-means cell (Hruschka
    // et al.'s medoid-free variant of Rousseeuw'87 — public
    // methodology): s = (b − a)/max(a, b) with a = distance to the OWN
    // centroid-set minimum and b = the nearest OTHER centroid — the
    // clustering-quality readout for the IVF/SemDeDup cell machinery
    // (collapsing silhouettes = cells no longer separate; re-train before
    // trusting cell-scoped dedup). Because assignment is argmin-distance,
    // a = min over ALL k centroids, so a ≤ b and s ≥ 0 pointwise by
    // construction — no −0.0 hazard. Cost: ONE scan (centroids are
    // k × dim driver literals — no join), k scan-side distance columns,
    // one group-bounded aggregate. Per-point s rounds to 6dp into
    // DECIMAL; only the closing mean division is IEEE.
    "emb_silhouette" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val k = 8
        val centroids = graft.sim.Ivf.trainCentroids(emb, k = k, iters = 3)
        val idx = graft.sim.Ivf.index(emb, centroids)
        val v = col("c_emb").cast("array<double>")
        def dist(c: Array[Double]) = {
          val cc = c.map(x => x * x).sum
          sqrt(VectorOps.dot(v, v) - lit(2.0) * VectorOps.dot(v, lit(c))
            + lit(cc))
        }
        val ds = centroids.map(dist)
        val a = least(ds.toIndexedSeq: _*)
        val b = least(centroids.indices.map(j =>
          when(col("cell") === j, lit(null).cast("double"))
            .otherwise(ds(j))).toIndexedSeq: _*)
        val sil = when(greatest(a, b) === 0.0, lit(0.0))
          .otherwise((b - a) / greatest(a, b))
        idx.select(col("cell").cast("long").as("cell"),
            round(sil, 6).cast(org.apache.spark.sql.types.DecimalType(18, 6))
              .as("sil"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n_vecs"), sum(col("sil")).as("ssum"))
          .select(col("cell"), col("n_vecs"),
            round(col("ssum").cast("double")
              / col("n_vecs").cast("double"), 6).as("mean_sil"))
          .orderBy("cell")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Ivf.coarseCtes(numCells = 8, nprobe = 1, iters = 3,
            dim = 64, queryPred = "id < 0")},
        dists AS (
          SELECT i.c_id AS vec_id, i.cell, c.cell AS ccell,
                 sqrt(list_dot_product(e.v, e.v)
                      - 2.0 * list_dot_product(e.v, c.cv)
                      + list_dot_product(c.cv, c.cv)) AS dist
          FROM idx i JOIN v e ON e.id = i.c_id, c3 c),
        ab AS (
          SELECT vec_id, cell, min(dist) AS a,
                 min(CASE WHEN ccell = cell THEN NULL ELSE dist END) AS b
          FROM dists GROUP BY 1, 2),
        sil AS (
          SELECT cell,
                 CAST(round(CASE WHEN greatest(a, b) = 0.0 THEN 0.0
                                 ELSE (b - a) / greatest(a, b) END, 6)
                   AS DECIMAL(18,6)) AS sil
          FROM ab)
        SELECT CAST(cell AS BIGINT) AS cell,
               count(*) AS n_vecs,
               round(CAST(sum(sil) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS mean_sil
        FROM sil GROUP BY cell ORDER BY cell""")),

    "emb_prototypicality" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val centroids = graft.sim.Ivf.trainCentroids(emb, k = 8, iters = 3)
        val idx = graft.sim.Ivf.index(emb, centroids)
        import s.implicits._
        val cents = centroids.zipWithIndex
          .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cell_l", "cv")
        val w = Window.partitionBy(col("cell"))
          .orderBy(col("proto").desc, col("vec_id"))
        val n = Window.partitionBy(col("cell"))
        idx.select(col("c_id").as("vec_id"),
            col("cell").cast("long").as("cell"), col("c_emb"))
          .join(broadcast(cents), col("cell") === col("cell_l"))
          .select(col("vec_id"), col("cell"),
            VectorOps.cosineRounded(col("c_emb"), col("cv")).as("proto"))
          .withColumn("proto_rank", row_number().over(w).cast("long"))
          .withColumn("kept",
            lit(5L) * col("proto_rank") > count(lit(1)).over(n))
          .orderBy("vec_id")
      },
      oracle = Some(s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Ivf.coarseCtes(numCells = 8, nprobe = 1, iters = 3,
            dim = 64, queryPred = "id < 0")},
        scored AS (
          SELECT i.c_id AS vec_id, i.cell,
                 round(list_dot_product(e.v, c.cv)
                       / (sqrt(list_dot_product(e.v, e.v))
                          * sqrt(list_dot_product(c.cv, c.cv))), 6) AS proto
          FROM idx i JOIN v e ON e.id = i.c_id JOIN c3 c ON c.cell = i.cell),
        ranked AS (
          SELECT vec_id, cell, proto,
                 row_number() OVER (PARTITION BY cell
                   ORDER BY proto DESC, vec_id) AS proto_rank,
                 count(*) OVER (PARTITION BY cell) AS n_cell
          FROM scored)
        SELECT vec_id, cell, proto, proto_rank,
               (5 * proto_rank > n_cell) AS kept
        FROM ranked ORDER BY vec_id"""))
  )
}
