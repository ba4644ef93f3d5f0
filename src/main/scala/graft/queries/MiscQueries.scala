package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.mm.Multimodal
import graft.sim.Ann

/** Rows-only / mixed queries: LSH-ANN (no SQL oracle — random-projection
  * index), multimodal binary plumbing, sketch aggregates, and the native
  * rolling-hash fingerprint. Oracle provided where DuckDB can express the
  * same computation. */
object MiscQueries {
  import QueryDef._

  /** graph_pagerank iteration count — declared BEFORE `defs` (the map
    * forces the oracle eagerly; a later-declared val would still be 0). */
  private val PagerankIters = 5

  /** LPA round count for graph_lpa / graph_modularity (same
    * declared-before-defs rule as PagerankIters). */
  private val LpaRounds = 3

  /** The user co-occurrence graph every graph_* query peels: users sharing
    * an (event_type, minute) activity bucket, canonical a < b, distinct.
    * Minute buckets keep occupancy small so the pair explode is bounded
    * (see graph_triangles' comment for the hour-bucket density artifact).
    * `private[graft]` so ScaleSmoke's graph sections measure THIS graph —
    * a re-derived copy could silently drift from the registry queries it
    * is supposed to validate. */
  private[graft] def coEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    val b = t(s, d, "events")
      .select(col("event_type"),
        graft.sources.Tables.eventMinute.as("mn"),
        col("user_id"))
      .distinct()
    b.as("x").join(b.as("y"),
        col("x.event_type") === col("y.event_type") &&
          col("x.mn") === col("y.mn") &&
          col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
      .distinct()
  }

  /** LPA rounds unrolled as chained CTEs from the same round count as the
    * engine (Graph.labelPropagation): per round, neighbor-label counts →
    * per-node max count → min label among the argmax set. All integer, so
    * the replay is bit-exact; MATERIALIZED stops DuckDB's default CTE
    * inlining from re-expanding each round's tree exponentially (the
    * graph_ktruss lesson). Ends WITHOUT a closing comma so callers can
    * `$lpaRoundsCte SELECT ...` or append `, extra AS (...)`. */
  private lazy val lpaRoundsCte: String = {
    val its = (1 to LpaRounds).map { r =>
      s"""c$r AS MATERIALIZED (
            SELECT dir.u, l.label, CAST(count(*) AS BIGINT) AS cnt
            FROM dir JOIN l${r - 1} l ON l.node = dir.v
            GROUP BY dir.u, l.label),
          m$r AS MATERIALIZED (
            SELECT u, max(cnt) AS mx FROM c$r GROUP BY u),
          l$r AS MATERIALIZED (
            SELECT c.u AS node, min(c.label) AS label
            FROM c$r c JOIN m$r m ON m.u = c.u AND c.cnt = m.mx
            GROUP BY c.u)"""
    }.mkString(",\n")
    s"""
      WITH bk AS (
        SELECT DISTINCT event_type,
               epoch_us(ts) // 60000000 AS mn, user_id
        FROM events),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.user_id AS a, y.user_id AS b
        FROM bk x JOIN bk y
          ON x.event_type = y.event_type AND x.mn = y.mn
             AND x.user_id < y.user_id),
      dir AS MATERIALIZED (
        SELECT a AS u, b AS v FROM e0
        UNION ALL SELECT b AS u, a AS v FROM e0),
      l0 AS (
        SELECT DISTINCT u AS node, u AS label FROM dir),
      $its"""
  }

  /** DuckDB mirror of Ann.topKApprox with its default planes
    * (hyperplanes(numPlanes, 64, seed=42)): same bucket bits, same
    * Hamming<=1 xor probes, same rounded-cosine ranking. */
  private def annLshOracle(numPlanes: Int, k: Int): String = {
    val planes = Ann.hyperplanes(numPlanes, 64)
    val bits = planes.zipWithIndex.map { case (p, h) =>
      val lits = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      s"(CASE WHEN list_dot_product(v, $lits) >= 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString(" + ")
    val probes = ("qb" +: (0 until numPlanes).map(h => s"xor(qb, ${1L << h})"))
      .mkString("[", ", ", "]")
    val cos = graft.functions.VectorOps.cosineSql("eq.embedding", "ec.embedding")
    s"""
      WITH idx AS (
        SELECT vec_id, $bits AS bucket
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)),
      probes AS (
        SELECT q.vec_id AS q_id, unnest($probes) AS probe
        FROM (SELECT vec_id, bucket AS qb FROM idx WHERE vec_id < 20) q),
      cand AS (
        SELECT DISTINCT p.q_id, i.vec_id AS c_id
        FROM probes p JOIN idx i ON i.bucket = p.probe
        WHERE i.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.c_id, round($cos, 6) AS score
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.q_id
        JOIN embeddings ec ON ec.vec_id = c.c_id),
      ranked AS (
        SELECT q_id, c_id, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id)
                 AS rnk
        FROM scored)
      SELECT q_id, rnk, c_id, score FROM ranked
      WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** The quantized DCT basis as a SQL literal table `(u, i, c)` — the SAME
    * Scala-built constants the executor kernels use
    * ([[graft.mm.ImagePhash.CosQ]]), so both engines run the identical
    * fixed-point transform. 256 rows (8 frequencies x 32 positions). */
  private lazy val cosqValues: String =
    (for (u <- 0 until 8; i <- 0 until graft.mm.ImagePhash.Size)
      yield s"($u,$i,${graft.mm.ImagePhash.CosQ(u)(i)})").mkString(",")

  /** Shared REAL-image pHash pipeline CTEs ending in `pngpairs(media_a,
    * media_b, hamming)`. The engine path generates deterministic 32x32
    * grayscale PNGs, DECODES the actual PNG bytes on executors, and hashes
    * the fixed-point DCT spectrum (graft.mm.ImagePhash); the oracle
    * replays the identical integers from the pixel formula (grayscale PNG
    * is lossless, so decode∘encode is the identity on the grid) + the
    * injected cosine table, then checks ALL pairs quadratically — ground
    * truth proving the banded hamming-LSH engine path lossless over real
    * decoded pixels. Shared by the pair query and the clustering so they
    * cannot drift. */
  private val pngPixelCtes: String = s"""
        pids AS (SELECT DISTINCT doc_id AS media_id FROM documents),
        pxy AS (
          SELECT p.media_id, x.x, y.y,
                 CASE WHEN (p.media_id*1315423911 + x.x*2654435741
                            + y.y*2246822519) % ${graft.mm.ImagePhash.PertMod} = 0
                      THEN 254 - (((p.media_id % ${graft.mm.ImagePhash.Groups})*2654435761
                                   + x.x*40503 + y.y*65027) % 255)
                      ELSE ((p.media_id % ${graft.mm.ImagePhash.Groups})*2654435761
                            + x.x*40503 + y.y*65027) % 255 END AS p
          FROM pids p,
               (SELECT unnest(generate_series(0, 31)) AS x) x,
               (SELECT unnest(generate_series(0, 31)) AS y) y)"""

  /** The quantized short-time DCT basis as a SQL literal table `(u, x, c)`
    * — the SAME Scala-built constants the executor kernels use
    * ([[graft.mm.AudioFingerprint.ACosQ]]), so both engines run the
    * identical fixed-point transform. 1024 rows (8 bands x 128 frame
    * positions). */
  private lazy val acosqValues: String =
    (for (u <- 0 until graft.mm.AudioFingerprint.Bands;
          x <- 0 until graft.mm.AudioFingerprint.FrameLen)
      yield s"($u,$x,${graft.mm.AudioFingerprint.ACosQ(u)(x)})").mkString(",")

  /** Shared REAL-audio fingerprint pipeline CTEs ending in `wavpairs
    * (media_a, media_b, hamming)`. The engine path generates deterministic
    * 1280-sample int16 PCM WAV containers, DECODES the actual RIFF/WAVE
    * bytes on executors, and fingerprints the fixed-point short-time
    * spectrum (graft.mm.AudioFingerprint — Haitsma–Kalker sign-of-
    * difference bits over per-frame DCT band coefficients); the oracle
    * replays the identical integers from the sample formula (16-bit PCM
    * WAV is lossless, so decode∘encode is the identity on the samples) +
    * the injected cosine table, then checks ALL pairs quadratically —
    * ground truth proving the banded hamming-LSH engine path lossless
    * over real decoded audio. */
  private val wavSampleCtes: String = s"""
        aids AS (SELECT DISTINCT doc_id AS media_id FROM documents),
        smp AS (
          SELECT a.media_id, i.i,
                 CASE WHEN (a.media_id*1315423911 + i.i*2654435741)
                           % ${graft.mm.AudioFingerprint.PertMod} = 0
                      THEN xor(((a.media_id % ${graft.mm.AudioFingerprint.Groups})*2654435761
                                + i.i*40503) % 65536 - 32768, 4095)
                      ELSE ((a.media_id % ${graft.mm.AudioFingerprint.Groups})*2654435761
                            + i.i*40503) % 65536 - 32768 END AS s
          FROM aids a,
               (SELECT unnest(generate_series(0, ${graft.mm.AudioFingerprint.Samples - 1})) AS i) i)"""

  private def wavFpCtes(maxHamming: Int): String = s"""
        $wavSampleCtes,
        acosq AS (SELECT * FROM (VALUES $acosqValues) AS t(u, x, c)),
        coef AS MATERIALIZED (
          SELECT p.media_id, p.i // ${graft.mm.AudioFingerprint.FrameLen} AS n,
                 c.u, CAST(sum(p.s * c.c) AS BIGINT) AS cv
          FROM smp p JOIN acosq c ON c.x = p.i % ${graft.mm.AudioFingerprint.FrameLen}
          GROUP BY 1, 2, 3),
        bdiff AS (
          SELECT a.media_id, a.n, a.u AS m, a.cv - b.cv AS d
          FROM coef a JOIN coef b
            ON b.media_id = a.media_id AND b.n = a.n AND b.u = a.u + 1
          WHERE a.u < ${graft.mm.AudioFingerprint.Bands - 1}),
        afp AS MATERIALIZED (
          SELECT cur.media_id,
                 CAST(sum(CASE WHEN cur.d - prev.d > 0
                          THEN (1::BIGINT << ((cur.n - 1)*${graft.mm.AudioFingerprint.Bands - 1} + cur.m))
                          ELSE 0 END) AS BIGINT) AS fp
          FROM bdiff cur JOIN bdiff prev
            ON prev.media_id = cur.media_id AND prev.n = cur.n - 1
               AND prev.m = cur.m
          GROUP BY 1),
        wavpairs AS (
          SELECT a.media_id AS media_a, b.media_id AS media_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM afp a JOIN afp b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming)"""

  /** The quantized column-profile DCT basis as a SQL literal table
    * `(u, x, c)` — the SAME Scala-built constants the executor kernels use
    * ([[graft.mm.VideoFingerprint.VCosQ]]). 128 rows (8 bands x 16
    * columns). */
  private lazy val vcosqValues: String =
    (for (u <- 0 until graft.mm.VideoFingerprint.Bands;
          x <- 0 until graft.mm.VideoFingerprint.Side)
      yield s"($u,$x,${graft.mm.VideoFingerprint.VCosQ(u)(x)})").mkString(",")

  /** Shared REAL-video pixel CTE: the deterministic per-(id, frame, x, y)
    * grayscale formula the engine encodes into multi-frame animated GIFs
    * (graft.mm.VideoFingerprint — palette GIF over an identity gray ramp
    * is lossless, so decode∘encode is the identity on the frames and the
    * oracle can replay decoded-pixel math from the formula). */
  private val gifPixelCtes: String = s"""
        vids AS (SELECT DISTINCT doc_id AS media_id FROM documents),
        vpx AS (
          SELECT v.media_id, f.f, x.x, y.y,
                 CASE WHEN (v.media_id*1315423911 + f.f*97003
                            + x.x*2654435741 + y.y*2246822519)
                           % ${graft.mm.VideoFingerprint.PertMod} = 0
                      THEN 254 - (((v.media_id % ${graft.mm.VideoFingerprint.Groups})*2654435761
                                   + (x.x + 3*f.f)*(101 + 6*(v.media_id % ${graft.mm.VideoFingerprint.Groups}))
                                   + y.y*65027) % 255)
                      ELSE ((v.media_id % ${graft.mm.VideoFingerprint.Groups})*2654435761
                            + (x.x + 3*f.f)*(101 + 6*(v.media_id % ${graft.mm.VideoFingerprint.Groups}))
                            + y.y*65027) % 255 END AS p
          FROM vids v,
               (SELECT unnest(generate_series(0, ${graft.mm.VideoFingerprint.Frames - 1})) AS f) f,
               (SELECT unnest(generate_series(0, ${graft.mm.VideoFingerprint.Side - 1})) AS x) x,
               (SELECT unnest(generate_series(0, ${graft.mm.VideoFingerprint.Side - 1})) AS y) y)"""

  /** Shared REAL-video fingerprint CTEs ending in `gifpairs(media_a,
    * media_b, hamming)`: column sums → fixed-point band coefficients →
    * the audio path's sign-of-difference bit rule over FRAME deltas →
    * quadratic all-pairs ground truth proving the banded engine path
    * lossless over real decoded frames. */
  private def gifFpCtes(maxHamming: Int): String = s"""
        $gifPixelCtes,
        vcosq AS (SELECT * FROM (VALUES $vcosqValues) AS t(u, x, c)),
        vcol AS (
          SELECT media_id, f, x, CAST(sum(p) AS BIGINT) AS cs
          FROM vpx GROUP BY 1, 2, 3),
        vcoef AS MATERIALIZED (
          SELECT l.media_id, l.f, c.u, CAST(sum(l.cs * c.c) AS BIGINT) AS cv
          FROM vcol l JOIN vcosq c ON c.x = l.x
          GROUP BY 1, 2, 3),
        vbd AS (
          SELECT a.media_id, a.f, a.u AS m, a.cv - b.cv AS d
          FROM vcoef a JOIN vcoef b
            ON b.media_id = a.media_id AND b.f = a.f AND b.u = a.u + 1
          WHERE a.u < ${graft.mm.VideoFingerprint.Bands - 1}),
        vfp AS MATERIALIZED (
          SELECT cur.media_id,
                 CAST(sum(CASE WHEN cur.d - prev.d > 0
                          THEN (1::BIGINT << ((cur.f - 1)*${graft.mm.VideoFingerprint.Bands - 1} + cur.m))
                          ELSE 0 END) AS BIGINT) AS fp
          FROM vbd cur JOIN vbd prev
            ON prev.media_id = cur.media_id AND prev.f = cur.f - 1
               AND prev.m = cur.m
          GROUP BY 1),
        gifpairs AS (
          SELECT a.media_id AS media_a, b.media_id AS media_b,
                 CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
          FROM vfp a JOIN vfp b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.fp, b.fp)) <= $maxHamming)"""

  private def pngPhashCtes(maxHamming: Int): String = s"""
        $pngPixelCtes,
        cosq AS (SELECT * FROM (VALUES $cosqValues) AS t(u, i, c)),
        gdct AS MATERIALIZED (
          SELECT p.media_id, c.u, p.y, CAST(sum(p.p * c.c) AS BIGINT) AS gv
          FROM pxy p JOIN cosq c ON c.i = p.x
          GROUP BY 1, 2, 3),
        cdct AS MATERIALIZED (
          SELECT g.media_id, g.u, c.u AS v, CAST(sum(g.gv * c.c) AS BIGINT) AS cv
          FROM gdct g JOIN cosq c ON c.i = g.y
          GROUP BY 1, 2, 3),
        pac AS (SELECT media_id, u, v, cv FROM cdct
                WHERE NOT (u = 0 AND v = 0)),
        pacs AS (SELECT media_id, CAST(sum(cv) AS BIGINT) AS s
                 FROM pac GROUP BY 1),
        pph AS MATERIALIZED (
          SELECT a.media_id,
                 CAST(sum(CASE WHEN 63*a.cv > s.s
                          THEN (1::BIGINT << (a.u*8 + a.v - 1))
                          ELSE 0 END) AS BIGINT) AS phash
          FROM pac a JOIN pacs s USING (media_id) GROUP BY 1),
        pngpairs AS (
          SELECT a.media_id AS media_a, b.media_id AS media_b,
                 CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
          FROM pph a JOIN pph b ON a.media_id < b.media_id
          WHERE bit_count(xor(a.phash, b.phash)) <= $maxHamming)"""

  /** DuckDB mirror of Ann.topKMips with its default planes
    * (hyperplanes(numPlanes, 65, seed=42)): the same max-norm scalar,
    * augmented corpus bucket bits (the 65th plane coordinate multiplies
    * sqrt(M² − |x|²)), plain query bits, Hamming<=1 probes, and
    * rounded-inner-product ranking. */
  /** The one history/delta split all three media _incr queries share:
    * docs are split BEFORE `builder` so each half's encode kernel
    * processes only its own ids — a media_id filter above the builder
    * cannot push below the opaque mapPartitions kernel and would encode
    * the full corpus per branch (plan-shape pinned in MultimodalSpec
    * against the registry queries themselves). The history half is
    * fingerprinted once into its standing table, which is all the
    * incremental join reads (ingest maintains that table in production
    * and passes it via historyHashes). */
  private def mediaIncrPairs(
      s: org.apache.spark.sql.SparkSession, docs: org.apache.spark.sql.DataFrame,
      builder: (org.apache.spark.sql.SparkSession, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Multimodal.phashNearDupPairsIncremental(
        s,
        history = builder(s, docs.where(col("doc_id") % 2 === 0)),
        delta = builder(s, docs.where(col("doc_id") % 2 === 1)),
        maxHamming = 2)
      .orderBy("media_a", "media_b")

  private def mipsLshOracle(numPlanes: Int, k: Int): String = {
    val planes = Ann.hyperplanes(numPlanes, 65)
    def lits(p: Array[Double]) =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val corpusBits = planes.zipWithIndex.map { case (p, h) =>
      val w65 = if (p(64) > 0) "1.0" else "-1.0"
      s"""(CASE WHEN list_dot_product(v, ${lits(p.take(64))})
         |      + $w65 * sqrt(greatest(0.0, m.m2 - list_dot_product(v, v)))
         |      >= 0 THEN ${1L << h} ELSE 0 END)""".stripMargin.replace("\n", " ")
    }.mkString(" + ")
    val queryBits = planes.zipWithIndex.map { case (p, h) =>
      s"(CASE WHEN list_dot_product(v, ${lits(p.take(64))}) >= 0 THEN ${1L << h} ELSE 0 END)"
    }.mkString(" + ")
    val probes = ("qb" +: (0 until numPlanes).map(h => s"xor(qb, ${1L << h})"))
      .mkString("[", ", ", "]")
    s"""
      WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      m AS (SELECT max(list_dot_product(v, v)) AS m2 FROM e),
      idx AS (SELECT vec_id, $corpusBits AS bucket FROM e, m),
      probes AS (
        SELECT q.vec_id AS q_id, unnest($probes) AS probe
        FROM (SELECT vec_id, $queryBits AS qb FROM e WHERE vec_id < 20) q),
      cand AS (
        SELECT DISTINCT p.q_id, i.vec_id AS c_id
        FROM probes p JOIN idx i ON i.bucket = p.probe
        WHERE i.vec_id <> p.q_id),
      scored AS (
        SELECT c.q_id, c.c_id,
               round(list_dot_product(CAST(eq.embedding AS DOUBLE[]),
                                      CAST(ec.embedding AS DOUBLE[])), 6)
                 AS score
        FROM cand c
        JOIN embeddings eq ON eq.vec_id = c.q_id
        JOIN embeddings ec ON ec.vec_id = c.c_id),
      ranked AS (
        SELECT q_id, c_id, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id)
                 AS rnk
        FROM scored)
      SELECT q_id, rnk, c_id, score FROM ranked
      WHERE rnk <= $k ORDER BY q_id, rnk"""
  }

  /** DuckDB mirror of RollingHashMin(text, 8): the base-257 polynomial of
    * each 8-byte window computed EXACTLY in HUGEINT (max value ~2^64.1,
    * well inside int128), reduced mod 2^64 once, then reinterpreted as a
    * signed 64-bit value — which is precisely Java's wraparound long — and
    * min'd per document. ASCII corpus: unicode() == byte. */
  private def rollingFpOracle: String = {
    val poly = (1 to 8).map { j =>
      val pow = BigInt(257).pow(8 - j)
      s"CAST(unicode(substr(shingle, $j, 1)) AS HUGEINT) * $pow"
    }.mkString(" + ")
    val two64 = BigInt(2).pow(64)
    val two63 = BigInt(2).pow(63)
    s"""
      WITH sh AS (
        SELECT doc_id, substr(text, CAST(i AS INT), 8) AS shingle
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, length(text) - 7)) AS i
              FROM documents WHERE length(text) >= 8)),
      ph AS (SELECT doc_id, ($poly) % $two64 AS w FROM sh)
      SELECT doc_id,
             min(CASE WHEN w >= $two63 THEN CAST(w - $two64 AS BIGINT)
                      ELSE CAST(w AS BIGINT) END) AS rfp
      FROM ph GROUP BY doc_id ORDER BY doc_id"""
  }

  /** DuckDB mirror of Winnow(text, 8, 8) via the shared
    * [[graft.functions.Winnow.fpCtesSql]] replay (signed-before-compare
    * hashes, leftmost-tie window min), dedup'd to selected POSITIONS for
    * the per-doc card. */
  private def winnowingOracle: String = {
    s"""
      WITH ${graft.functions.Winnow.fpCtesSql(8, 8)},
      fp AS (SELECT DISTINCT doc_id, q, h FROM selq),
      agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_selected,
               bit_xor(h) AS fp_xor, min(h) AS fp_min, max(h) AS fp_max
        FROM fp GROUP BY doc_id)
      SELECT d.doc_id, CAST(d.len - 7 AS BIGINT) AS n_grams, agg.n_selected,
             agg.fp_xor, agg.fp_min, agg.fp_max,
             round(CAST(agg.n_selected AS DOUBLE) / (d.len - 7), 6) AS density
      FROM d JOIN agg ON agg.doc_id = d.doc_id
      ORDER BY d.doc_id"""
  }

  val defs: Map[String, QueryDef] = Map(

    // ANN via sign-random-projection LSH + multiprobe: the scale path for
    // sim_knn_join. The hyperplanes are deterministic, so the DuckDB
    // oracle reproduces the index (literal planes), the Hamming-1 probe
    // expansion (xor), and the ranked candidates bit-for-bit; AnnSpec
    // additionally checks recall vs brute force.
    "sim_ann_lsh" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        Ann.topKApprox(emb, emb.where(col("vec_id") < 20), k = 3)
      },
      oracle = Some(annLshOracle(numPlanes = 8, k = 3)),
      bench = true),

    // Maximum-inner-product retrieval (Ann.topKMips): the norm-
    // augmentation reduction folds sqrt(M²-|x|²) into the corpus bucket
    // bits scan-side, queries hash with their own coordinates (their
    // augmented coord is 0), candidates verify on the RAW inner product —
    // recommendation retrieval's native score, which cosine LSH ranks
    // wrong whenever norms carry signal. The oracle replays the max-norm
    // scalar, the augmented plane bits, the Hamming-1 probe expansion,
    // and the ranked dot products bit-for-bit.
    "sim_mips_lsh" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        Ann.topKMips(emb, emb.where(col("vec_id") < 20), k = 3)
      },
      oracle = Some(mipsLshOracle(numPlanes = 8, k = 3))),

    // ANN via IVF (k-means coarse quantizer + nprobe): the second scale
    // path. Training is deterministic (stride init, fixed iterations,
    // quantized means), so the oracle replays ALL of it — the 5 Lloyd
    // rounds unrolled as CTEs — and the query is fully hash-checked;
    // IvfSpec additionally checks score exactness and recall.
    "sim_ann_ivf" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.Ivf.topKApprox(emb, emb.where(col("vec_id") < 20), k = 3)
      },
      oracle = Some(graft.sim.Ivf.topKOracleSql(
        numCells = 16, nprobe = 4, k = 3, iters = 5)),
      bench = true),

    // ANN via product quantization (PQ-Flat ADC): the memory-compression
    // scale path — the corpus is stored as 8 codebook ids per vector and
    // queries rank candidates by asymmetric (exact-query × codeword) dot
    // products. Training/encoding/scoring are deterministic, so the oracle
    // replays all of it: per-subspace Lloyd rounds as CTEs, same code
    // assignment, same left-associated ADC sum; PqSpec additionally checks
    // reconstruction quality and recall vs exact ranking.
    "sim_ann_pq" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        val books = graft.sim.Pq.trainCodebooks(emb)
        graft.sim.Pq.topKApprox(emb, emb.where(col("vec_id") < 10), k = 3, books)
      },
      oracle = Some(graft.sim.Pq.topKOracleSql()),
      bench = true),

    // PQ reconstruction-distortion report (Jégou et al. TPAMI'11 grades
    // a product quantizer by exactly this): per-subspace mean/max
    // squared reconstruction error |v_m − codeword(code_m)|² over the
    // whole corpus — the index-quality eval that says WHICH subspace's
    // codebook is failing (recall tells you the index is bad, this says
    // where). The monitor to re-run after every codebook retrain, next
    // to sim_ann_recall. Cost: ONE scan of the encoded relation — codes
    // and all 8 distortion columns are scan-side arithmetic against
    // driver-literal codebooks, then an 8-group rollup. Per-vector
    // distortions round to 6dp into DECIMAL (`+ 0.0` folds a −0.0 from
    // cancellation on a vector equal to its codeword); training replays
    // in the oracle via the shared codebook CTEs.
    "emb_pq_distortion" -> QueryDef(
      fn = (s, d) => {
        import graft.sim.{Ivf, Pq}
        import graft.functions.VectorOps
        val dec = org.apache.spark.sql.types.DecimalType(18, 6)
        val emb = t(s, d, "embeddings")
        val books = Pq.trainCodebooks(emb)
        val v = col("embedding").cast("array<double>")
        val enc = emb.select(col("vec_id").as("id"), v.as("v"),
          array((0 until Pq.NumSubspaces).map(m =>
            Ivf.cellCol(Pq.subVector(v, m), books(m))): _*).as("codes"))
        def dExpr(m: Int) = {
          val sub = Pq.subVector(col("v"), m)
          val book = typedLit(books(m).map(_.toSeq).toSeq)
          val cw = element_at(book, element_at(col("codes"), m + 1) + 1)
          round(VectorOps.dot(sub, sub) - lit(2.0) * VectorOps.dot(sub, cw)
            + VectorOps.dot(cw, cw), 6) + lit(0.0)
        }
        enc.select(explode(array((0 until Pq.NumSubspaces).map(m =>
            struct(lit(m.toLong).as("m"), dExpr(m).as("d"))): _*)).as("sd"))
          .select(col("sd.m").as("m"), col("sd.d").as("d"))
          .groupBy("m")
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("d").cast(dec)).as("dsum"),
            max(col("d")).as("max_distortion"))
          .select(col("m"), col("n_vecs"),
            round(col("dsum").cast("double")
              / col("n_vecs").cast("double"), 6).as("mean_distortion"),
            col("max_distortion"))
          .orderBy("m")
      },
      oracle = Some {
        val iters = graft.sim.Pq.Iters
        val parts = (0 until graft.sim.Pq.NumSubspaces).map { m =>
          s"""
          SELECT $m AS m,
                 round(list_dot_product(a.v, a.v)
                       - 2.0 * list_dot_product(a.v, b.cv)
                       + list_dot_product(b.cv, b.cv), 6) + 0.0 AS d
          FROM s${m}_v a
          JOIN s${m}_code c ON c.id = a.id
          JOIN s${m}_c$iters b ON b.cell = c.cell"""
        }.mkString(" UNION ALL ")
        s"""
        WITH v AS (
          SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        ${graft.sim.Pq.codebookCtes()},
        scored AS ($parts)
        SELECT CAST(m AS BIGINT) AS m, count(*) AS n_vecs,
               round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS mean_distortion,
               max(d) AS max_distortion
        FROM scored GROUP BY m ORDER BY m"""
      }),

    // IVF-PQ: the composed production architecture — coarse cells prune
    // the candidates (nprobe/numCells of the corpus per query), PQ codes
    // compress the pruned scan (ADC ranking, floats never re-read). Both
    // trainings replay in the oracle, so the composition is fully
    // hash-checked end-to-end.
    "sim_ann_ivfpq" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.IvfPq.topKApprox(emb, emb.where(col("vec_id") < 10), k = 3)
      },
      oracle = Some(graft.sim.IvfPq.topKOracleSql()),
      bench = true),

    // IVF-PQ + exact re-rank: the full production retrieval stack — ADC
    // shortlist (10/query) from the compressed pruned scan, then exact
    // cosine over ONLY those rows (floats re-read for a broadcast-sized
    // set). Re-rank scores are exact cosines, so any true neighbor the
    // shortlist caught ranks correctly.
    "sim_ann_ivfpq_rerank" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.IvfPq.topKReranked(emb, emb.where(col("vec_id") < 10),
          k = 3, shortlist = 10)
      },
      oracle = Some(graft.sim.IvfPq.rerankedOracleSql(topK = 3, shortlist = 10))),

    // Residual IVF-PQ (IVFADC, the paper's architecture): PQ codebooks
    // trained on v - centroid(cell) residuals; a candidate scores as
    // dot(q, centroid) + sum of residual-codeword dots. Same end-to-end
    // oracle replay — coarse training, residual derivation, codebook
    // training, routing, encoding and ranking.
    "sim_ann_ivfadc" -> QueryDef(
      fn = (s, d) => {
        val emb = t(s, d, "embeddings")
        graft.sim.IvfPq.topKResidual(emb, emb.where(col("vec_id") < 10), k = 3)
      },
      oracle = Some(graft.sim.IvfPq.residualOracleSql())),

    // Multimodal metadata pass: binary payload size + content hash; the
    // bytes themselves never leave the scan for this query shape.
    "mm_bytes" -> QueryDef(
      fn = (s, d) =>
        Multimodal.mediaTable(t(s, d, "documents"))
          .select(col("media_id"), col("format"), col("n_bytes"),
            md5(col("media").cast("string")).as("content_hash"))
          .orderBy("media_id"),
      oracle = Some("""
        SELECT doc_id AS media_id, 'fake/' || lang AS format,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_hash
        FROM documents ORDER BY media_id""")),

    // Frame sampling over binary payloads. Oracle mirrors the slice
    // arithmetic: the frame byte-length is substring clamping written out
    // (DuckDB can't substring a BLOB), trunc() because DuckDB rounds on
    // CAST(double AS BIGINT) where Spark truncates.
    "mm_frame_sample" -> QueryDef(
      fn = (s, d) =>
        Multimodal.sampleFrames(
          Multimodal.mediaTable(t(s, d, "documents")), n = 4, frameBytes = 16)
          .select(col("media_id"), col("frame_no").cast("long").as("frame_no"),
            col("offset"), octet_length(col("frame")).cast("long").as("frame_bytes"))
          .orderBy("media_id", "frame_no"),
      oracle = Some("""
        WITH media AS (
          SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
          FROM documents),
        frames AS (
          SELECT media_id, n_bytes, f.frame_no,
                 CAST(trunc(f.frame_no * greatest(n_bytes - 16, 1) / 3.0)
                      AS BIGINT) + 1 AS "offset"
          FROM media, (SELECT unnest(generate_series(0, 3)) AS frame_no) f)
        SELECT media_id, frame_no, "offset",
               greatest(0, least(16, n_bytes - "offset" + 1)) AS frame_bytes
        FROM frames ORDER BY media_id, frame_no""")),

    // Feature extraction through the mapPartitions decode stage. The stub
    // "decoder" is a 16-bin byte histogram normalized in float32; the bin
    // COUNTS are recovered exactly by round(f * n_bytes): the float32
    // quotient cnt/n_bytes has relative error < 2^-23, so the absolute
    // error cnt*2^-23 stays under 0.5 for any document below ~4M chars —
    // integer-exact independent of fixture sizes (MultimodalSpec pins a
    // >2000-char doc). The oracle recomputes the histogram from unicode
    // codepoints per-row (generate_series over the actual length, no
    // hardcoded bound), so parity holds at any SF.
    "mm_features" -> QueryDef(
      fn = (s, d) => {
        val feats = Multimodal.extractFeatures(
          s, Multimodal.mediaTable(t(s, d, "documents"))).toDF()
        feats
          .select(col("media_id"),
            posexplode(expr("transform(features, f -> CAST(round(f * n_bytes) AS BIGINT))"))
              .as(Seq("bin", "cnt")))
          .select(col("media_id"), col("bin").cast("long").as("bin"), col("cnt"))
          .orderBy("media_id", "bin")
      },
      oracle = Some("""
        WITH chars AS (
          SELECT doc_id AS media_id,
                 unicode(substr(text, CAST(i AS INT), 1)) % 16 AS bin
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text))) AS i
                FROM documents)),
        bins AS (SELECT unnest(generate_series(0, 15)) AS bin),
        ids AS (SELECT DISTINCT media_id FROM chars)
        SELECT ids.media_id AS media_id, bins.bin AS bin,
               coalesce(c.cnt, 0) AS cnt
        FROM ids CROSS JOIN bins
        LEFT JOIN (SELECT media_id, bin, count(*) AS cnt
                   FROM chars GROUP BY 1, 2) c
          ON c.media_id = ids.media_id AND c.bin = bins.bin
        ORDER BY ids.media_id, bins.bin""")),

    // Resize through the mapPartitions kernel stage. The stub keeps every
    // 4th byte (nearest-neighbor analog), so DuckDB reproduces the output
    // exactly with a filtered char list over the ASCII payload.
    "mm_resize" -> QueryDef(
      fn = (s, d) =>
        Multimodal.resize(s, Multimodal.mediaTable(t(s, d, "documents")), factor = 4)
          .select(col("media_id"), col("n_bytes"),
            md5(col("media").cast("string")).as("content_hash"))
          .orderBy("media_id"),
      oracle = Some("""
        WITH resized AS (
          SELECT doc_id AS media_id,
                 array_to_string(
                   [substr(text, CAST(i AS INT), 1)
                    FOR i IN range(1, length(text) + 1) IF (i - 1) % 4 = 0],
                   '') AS r
          FROM documents)
        SELECT media_id, CAST(length(r) AS BIGINT) AS n_bytes,
               md5(r) AS content_hash
        FROM resized ORDER BY media_id""")),

    // Real-image perceptual-hash near-dup: engine-generated deterministic
    // PNGs, REAL PNG decode on executors (container parse + raster read),
    // fixed-point DCT pHash (classic 32x32 low-frequency recipe, integer-
    // exact), then bit-sampling hamming-LSH (3 bands of 21 bits for a
    // hamming-2 budget) with exact verification on candidates only. The
    // oracle replays pixels + integer DCT in SQL (PNG is lossless, the
    // quantized cosine table is injected) and checks ALL pairs
    // quadratically — proving the banded engine path loses nothing vs
    // brute force over real decoded pixels.
    "mm_phash_dedup" -> QueryDef(
      fn = (s, d) =>
        Multimodal.phashNearDupPairs(
            s, Multimodal.pngMediaTable(s, t(s, d, "documents")), maxHamming = 2)
          .orderBy("media_a", "media_b"),
      oracle = Some(s"""
        WITH ${pngPhashCtes(2)}
        SELECT media_a, media_b, hamming FROM pngpairs
        ORDER BY media_a, media_b""")),

    // Media duplicate clusters: the same connected-components step the
    // text and embedding pipelines use, over the perceptual-hash pairs —
    // re-encoded/rotated/recompressed copies of one asset chain above
    // the hamming threshold and collapse to one canonical keeper, the
    // asset-level release unit (keep one rendition, drop the rest).
    "mm_phash_clusters" -> QueryDef(
      fn = (s, d) =>
        graft.dedup.Dedup.connectedComponents(
          Multimodal.phashNearDupPairs(
              s, Multimodal.pngMediaTable(s, t(s, d, "documents")), maxHamming = 2)
            .select(col("media_a").as("doc_a"), col("media_b").as("doc_b")))
          .select(col("doc_id").as("media_id"), col("cluster_id"))
          .orderBy("media_id"),
      oracle = Some(s"""
        WITH RECURSIVE ${pngPhashCtes(2)},
        edges AS (
          SELECT media_a AS a, media_b AS b FROM pngpairs
          UNION
          SELECT media_b, media_a FROM pngpairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON r.node = e2.b)
        SELECT node AS media_id, min(lbl) AS cluster_id
        FROM reach GROUP BY node
        ORDER BY media_id""")),

    // Incremental real-image pHash near-dup over the mediaIncrPairs
    // split (see that helper: pre-builder split, history read only
    // through its standing hash table). The oracle runs the FULL
    // quadratic pixel+DCT pipeline and keeps pairs involving a delta
    // doc — pinning the incremental path to "exactly the full result
    // restricted to the batch".
    "mm_phash_incr" -> QueryDef(
      fn = (s, d) =>
        mediaIncrPairs(s, t(s, d, "documents"), Multimodal.pngMediaTable),
      oracle = Some(s"""
        WITH ${pngPhashCtes(2)}
        SELECT media_a, media_b, hamming FROM pngpairs
        WHERE media_a % 2 = 1 OR media_b % 2 = 1
        ORDER BY media_a, media_b""")),

    // Real-image feature extraction: the mapPartitions kernel decodes the
    // actual PNG bytes and histograms the decoded PIXELS (16 bins over
    // [0,255], L1-normalized float32). Counts are recovered exactly by
    // round(f * 1024): 1024 = 2^10, so every quotient cnt/1024 is exact
    // in float32. The oracle recomputes the histogram from the pixel
    // formula (PNG losslessness again).
    "mm_image_features" -> QueryDef(
      fn = (s, d) => {
        val feats = Multimodal.extractFeatures(
          s, Multimodal.pngMediaTable(s, t(s, d, "documents"))).toDF()
        feats
          .select(col("media_id"),
            posexplode(expr("transform(features, f -> CAST(round(f * 1024) AS BIGINT))"))
              .as(Seq("bin", "cnt")))
          .select(col("media_id"), col("bin").cast("long").as("bin"), col("cnt"))
          .orderBy("media_id", "bin")
      },
      oracle = Some(s"""
        WITH $pngPixelCtes,
        pxbins AS (
          SELECT media_id, CAST(p // 16 AS BIGINT) AS bin, count(*) AS cnt
          FROM pxy GROUP BY 1, 2),
        bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
        SELECT pids.media_id AS media_id, bins.bin AS bin,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        FROM pids CROSS JOIN bins
        LEFT JOIN pxbins c
          ON c.media_id = pids.media_id AND c.bin = bins.bin
        ORDER BY pids.media_id, bins.bin""")),

    // Real-image resize end-to-end: decode the 32x32 PNG, EXACT integer
    // 2x2 area-average pooling (sum DIV 4 — truncation equals floor on
    // non-negative pixels, so SQL replays it), re-encode a genuine 16x16
    // PNG, then a second decode kernel reports exact stats of the pixels
    // ACTUALLY IN the produced bytes — proving the re-encoded container
    // holds the intended raster, not just that the math was right.
    "mm_image_resize" -> QueryDef(
      fn = (s, d) =>
        Multimodal.imageStats(s,
            Multimodal.resize(s,
              Multimodal.pngMediaTable(s, t(s, d, "documents")), factor = 2))
          .orderBy("media_id"),
      oracle = Some(s"""
        WITH $pngPixelCtes,
        pooled AS (
          SELECT media_id, x // 2 AS xx, y // 2 AS yy,
                 CAST(sum(p) // 4 AS BIGINT) AS p2
          FROM pxy GROUP BY 1, 2, 3)
        SELECT media_id, CAST(16 AS BIGINT) AS side,
               CAST(sum(p2) AS BIGINT) AS px_sum,
               CAST(min(p2) AS BIGINT) AS px_min,
               CAST(max(p2) AS BIGINT) AS px_max
        FROM pooled GROUP BY media_id ORDER BY media_id""")),

    // Real-audio feature extraction: the mapPartitions kernel decodes the
    // actual WAV bytes (RIFF container parse + PCM read) and histograms
    // the decoded SAMPLES (16 bins over the int16 range, L1-normalized
    // float32). Counts are recovered exactly by round(f * 1280): the
    // float32 quotient cnt/1280 has absolute error <= 1280 * 2^-24 <<
    // 0.5. The oracle recomputes the histogram from the sample formula
    // (16-bit PCM WAV losslessness) — end-to-end proof the executor
    // really decoded the produced container.
    "mm_audio_features" -> QueryDef(
      fn = (s, d) => {
        val feats = Multimodal.extractFeatures(
          s, Multimodal.wavMediaTable(s, t(s, d, "documents"))).toDF()
        feats
          .select(col("media_id"),
            posexplode(expr(
              s"transform(features, f -> CAST(round(f * ${graft.mm.AudioFingerprint.Samples}) AS BIGINT))"))
              .as(Seq("bin", "cnt")))
          .select(col("media_id"), col("bin").cast("long").as("bin"), col("cnt"))
          .orderBy("media_id", "bin")
      },
      oracle = Some(s"""
        WITH $wavSampleCtes,
        sbins AS (
          SELECT media_id, CAST((s + 32768) // 4096 AS BIGINT) AS bin,
                 count(*) AS cnt
          FROM smp GROUP BY 1, 2),
        bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
        SELECT aids.media_id AS media_id, bins.bin AS bin,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        FROM aids CROSS JOIN bins
        LEFT JOIN sbins c
          ON c.media_id = aids.media_id AND c.bin = bins.bin
        ORDER BY aids.media_id, bins.bin""")),

    // Real-audio near-dup: engine-generated deterministic WAV containers,
    // REAL WAV decode on executors (RIFF parse + PCM read), fixed-point
    // short-time spectral fingerprint (Haitsma–Kalker ISMIR'02 sign-of-
    // difference bits over quantized-DCT band coefficients, integer-
    // exact), then the SAME bit-sampling hamming-LSH machinery as the
    // image path (3 bands of 21 bits for a hamming-2 budget) with exact
    // verification on candidates only. The oracle replays samples +
    // integer short-time DCT in SQL (PCM WAV is lossless, the quantized
    // cosine table is injected) and checks ALL pairs quadratically —
    // proving the banded engine path loses nothing vs brute force over
    // real decoded audio.
    "mm_audio_dedup" -> QueryDef(
      fn = (s, d) =>
        Multimodal.phashNearDupPairs(
            s, Multimodal.wavMediaTable(s, t(s, d, "documents")), maxHamming = 2)
          .orderBy("media_a", "media_b"),
      oracle = Some(s"""
        WITH ${wavFpCtes(2)}
        SELECT media_a, media_b, hamming FROM wavpairs
        ORDER BY media_a, media_b""")),

    // Incremental real-audio near-dup over the same mediaIncrPairs
    // split. The oracle runs the FULL quadratic sample+DCT pipeline and
    // keeps pairs involving a delta doc — pinning the incremental path
    // to "exactly the full result restricted to the batch".
    "mm_audio_incr" -> QueryDef(
      fn = (s, d) =>
        mediaIncrPairs(s, t(s, d, "documents"), Multimodal.wavMediaTable),
      oracle = Some(s"""
        WITH ${wavFpCtes(2)}
        SELECT media_a, media_b, hamming FROM wavpairs
        WHERE media_a % 2 = 1 OR media_b % 2 = 1
        ORDER BY media_a, media_b""")),

    // Real-video frame extraction: the kernel decodes the actual GIF
    // bytes (container parse + per-frame LZW decode) and reports exact
    // integer stats of each decoded FRAME — the brief's frame-sample over
    // a real video container rather than a byte slice. The oracle replays
    // the per-frame pixel math from the formula (palette-GIF
    // losslessness) — end-to-end proof the executor really decoded every
    // frame of the produced container.
    "mm_video_frames" -> QueryDef(
      fn = (s, d) =>
        Multimodal.videoFrameStats(
            s, Multimodal.gifMediaTable(s, t(s, d, "documents")))
          .orderBy("media_id", "frame"),
      oracle = Some(s"""
        WITH $gifPixelCtes
        SELECT media_id, CAST(f AS BIGINT) AS frame,
               CAST(sum(p) AS BIGINT) AS px_sum,
               CAST(min(p) AS BIGINT) AS px_min,
               CAST(max(p) AS BIGINT) AS px_max
        FROM vpx GROUP BY media_id, f
        ORDER BY media_id, frame""")),

    // Real-video feature extraction: decoded-PIXEL histograms across all
    // frames (16 bins, L1-normalized float32; counts recovered exactly by
    // round(f * 2560) — float32 error 2560 * 2^-24 << 0.5).
    "mm_video_features" -> QueryDef(
      fn = (s, d) => {
        val nPx = graft.mm.VideoFingerprint.Frames *
          graft.mm.VideoFingerprint.Side * graft.mm.VideoFingerprint.Side
        val feats = Multimodal.extractFeatures(
          s, Multimodal.gifMediaTable(s, t(s, d, "documents"))).toDF()
        feats
          .select(col("media_id"),
            posexplode(expr(
              s"transform(features, f -> CAST(round(f * $nPx) AS BIGINT))"))
              .as(Seq("bin", "cnt")))
          .select(col("media_id"), col("bin").cast("long").as("bin"), col("cnt"))
          .orderBy("media_id", "bin")
      },
      oracle = Some(s"""
        WITH $gifPixelCtes,
        vbins AS (
          SELECT media_id, CAST(p // 16 AS BIGINT) AS bin, count(*) AS cnt
          FROM vpx GROUP BY 1, 2),
        bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
        SELECT vids.media_id AS media_id, bins.bin AS bin,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        FROM vids CROSS JOIN bins
        LEFT JOIN vbins c
          ON c.media_id = vids.media_id AND c.bin = bins.bin
        ORDER BY vids.media_id, bins.bin""")),

    // Real-video near-dup: engine-generated deterministic animated GIFs,
    // REAL per-frame decode on executors, temporal sign-of-difference
    // fingerprint (the audio bit rule over frame-to-frame band-coefficient
    // motion — integer-exact), then the SAME banded hamming-LSH machinery
    // as the image and audio paths. The oracle replays frames + integer
    // band math in SQL and checks ALL pairs quadratically — proving the
    // banded engine path loses nothing vs brute force over real decoded
    // video.
    "mm_video_dedup" -> QueryDef(
      fn = (s, d) =>
        Multimodal.phashNearDupPairs(
            s, Multimodal.gifMediaTable(s, t(s, d, "documents")), maxHamming = 2)
          .orderBy("media_a", "media_b"),
      oracle = Some(s"""
        WITH ${gifFpCtes(2)}
        SELECT media_a, media_b, hamming FROM gifpairs
        ORDER BY media_a, media_b""")),

    // Incremental real-video near-dup — the _incr form every other media
    // family already has, over the same mediaIncrPairs split (the
    // pre-builder split matters most here: GIF encode is the costliest
    // media kernel at ~1.5 ms/clip, so a post-builder filter would
    // double exactly the stage that matters most). The oracle runs the
    // FULL quadratic frame+DCT pipeline and keeps pairs involving a
    // delta doc — pinning the incremental path to "exactly the full
    // result restricted to the batch".
    "mm_video_incr" -> QueryDef(
      fn = (s, d) =>
        mediaIncrPairs(s, t(s, d, "documents"), Multimodal.gifMediaTable),
      oracle = Some(s"""
        WITH ${gifFpCtes(2)}
        SELECT media_a, media_b, hamming FROM gifpairs
        WHERE media_a % 2 = 1 OR media_b % 2 = 1
        ORDER BY media_a, media_b""")),

    // JSON property extraction + aggregation over the events stream's
    // semi-structured props column.
    "events_json_agg" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type"),
      oracle = Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                    AS BIGINT) AS sum_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // 2-D skyline (Pareto front): cheapest-price / highest-quantity
    // lineitems. Engine computes local-then-global sorted-scan skylines
    // (graft.operators.Skyline); the oracle is the declarative
    // NOT-EXISTS dominance definition - different algorithm, same set.
    "skyline_price_qty" -> QueryDef(
      fn = (s, d) =>
        graft.operators.Skyline
          .skyline2d(t(s, d, "lineitem"), "l_extendedprice", "l_quantity")
          .orderBy("l_extendedprice"),
      oracle = Some("""
        WITH pts AS (
          SELECT DISTINCT CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
                          CAST(l_quantity AS DOUBLE) AS l_quantity
          FROM lineitem)
        SELECT l_extendedprice, l_quantity FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts q
          WHERE q.l_extendedprice <= p.l_extendedprice
            AND q.l_quantity >= p.l_quantity
            AND (q.l_extendedprice < p.l_extendedprice
                 OR q.l_quantity > p.l_quantity))
        ORDER BY l_extendedprice""")),

    // HLL sketch distinct, adjudicated by TOLERANCE: the sketch estimate
    // itself is engine-internal (a DuckDB HLL would hash differently), so
    // the query emits the exact distinct count alongside a within-5%
    // verdict comparing Spark's HLL estimate against it, and the oracle
    // asserts the verdict is TRUE for every group. The ±5% bound IS the
    // hash check — a sketch regression flips the boolean and fails the
    // round's correctness gate instead of hiding behind no_oracle.
    // (SketchSpec holds the same bound as a unit test.)
    "agg_approx_distinct" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("exact_parts"), col("n"),
            (abs(col("approx_parts") - col("exact_parts")).cast("double") /
              col("exact_parts") <= lit(0.05)).as("within_5pct"))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag,
               count(DISTINCT l_partkey) AS exact_parts,
               count(*) AS n,
               TRUE AS within_5pct
        FROM lineitem
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // KMV (k-minimum-values) distinct sketch — the deterministic,
    // cross-engine-checkable counterpart to the HLL query above: hash
    // every distinct (group, value), keep each group's k smallest hashes,
    // estimate |D| as (k-1)·H/h_k with H the hash range. No RNG, no
    // engine-internal sketch state, so the DuckDB oracle reproduces it
    // bit-for-bit (IEEE double division + round on both sides). KMV
    // sketches are mergeable (union of min-k sets), which is what a
    // 100 TB rollup needs; here the min-k selection is one window over
    // the distinct pairs — a single shuffle keyed by group.
    "agg_kmv_distinct" -> QueryDef(
      fn = (s, d) => {
        val k = 64
        val H = 281474976710656.0 // 2^48, the md5-prefix hash range
        val distinctPairs = t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("h"), col("user_id"))
        val kth = distinctPairs
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === k)
          .select(col("event_type"), col("h").as("hk"))
        distinctPairs.groupBy("event_type")
          .agg(count(lit(1)).as("n_exact"))
          .join(kth, Seq("event_type"), "left")
          .select(col("event_type"), col("n_exact"),
            round(
              when(col("hk").isNull, col("n_exact").cast("double"))
                .otherwise(lit((k - 1).toDouble * H) / col("hk")),
              6).as("est"))
          .orderBy("event_type")
      },
      oracle = Some("""
        WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        h AS (
          SELECT event_type, user_id,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM d),
        r AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h, user_id) AS rn
          FROM h),
        kth AS (SELECT event_type, h AS hk FROM r WHERE rn = 64),
        n AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1)
        SELECT n.event_type, n.n_exact,
               round(CASE WHEN kth.hk IS NULL THEN CAST(n.n_exact AS DOUBLE)
                          ELSE 63.0 * 281474976710656 / kth.hk END, 6) AS est
        FROM n LEFT JOIN kth USING (event_type)
        ORDER BY event_type""")),

    // Deterministic in-engine HyperLogLog (Flajolet–Fusy–Gandouet–Meunier,
    // AofA'07) — the register machinery itself as a cross-engine-checkable
    // operator, complementing agg_approx_distinct (Spark's opaque HLL,
    // tolerance-adjudicated) and agg_kmv_distinct (order statistics).
    // m = 64 registers over the md5-prefix 48-bit hash: bucket = h mod 64,
    // rho = leading-zero rank of h div 64 in its 42-bit frame (43 −
    // bitlength, via the minimal
    // binary string both engines render identically), register = max rho.
    // Estimate = alpha_64·m² / Σ 2^(−M_j), computed EXACTLY: scale by 2^43
    // so the denominator is an integer sum of power-of-two terms (max
    // 64·2^43 = 2^49, exact in a double), absent buckets contribute
    // 2^43 each; then ONE IEEE division by the same driver-side constant.
    // The standard small-range branch applies linear counting m·ln(m/V)
    // when E ≤ 2.5m and V(=empty registers) > 0 — ln of an integer ratio,
    // identical across engines. At 100 TB: registers are one group-bounded
    // aggregate (64 rows per group) built with map-side partials; register
    // tables MERGE by max, the same rollup property the KMV family has by
    // min — estimates never rescan data.
    "agg_hll_distinct" -> QueryDef(
      fn = (s, d) => {
        val alphaNum = 0.709 * 4096.0 * 8796093022208.0 // α_64·m²·2^43
        val pairs = t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
        val regs = pairs
          .select(col("event_type"), (col("h") % 64).as("bucket"),
            expr("h DIV 64").as("wv"))
          .select(col("event_type"), col("bucket"),
            when(col("wv") === 0, lit(43))
              .otherwise(lit(43) - length(conv(col("wv"), 10, 2))).as("rho"))
          .groupBy("event_type", "bucket").agg(max(col("rho")).as("mj"))
        val grouped = regs.groupBy("event_type")
          .agg(count(lit(1)).as("n_present"),
            sum(expr("shiftleft(cast(1 as bigint), cast(43 - mj as int))"))
              .as("s_present"))
          .select(col("event_type"),
            (lit(64L) - col("n_present")).as("n_zero"),
            (col("s_present")
              + (lit(64L) - col("n_present")) * lit(8796093022208L))
              .cast("double").as("s_int"))
        val estRaw = lit(alphaNum) / col("s_int")
        val est = when(estRaw <= 160.0 && col("n_zero") > 0,
            lit(64.0) * log(lit(64.0) / col("n_zero").cast("double")))
          .otherwise(estRaw)
        pairs.groupBy("event_type").agg(count(lit(1)).as("n_exact"))
          .join(grouped, Seq("event_type"))
          .select(col("event_type"), col("n_exact"),
            round(est, 6).as("est"),
            round(abs(est - col("n_exact").cast("double"))
              / col("n_exact").cast("double"), 6).as("rel_err"))
          .orderBy("event_type")
      },
      oracle = Some(s"""
        WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        h AS (
          SELECT event_type,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM d),
        r AS (
          SELECT event_type, h % 64 AS bucket,
                 CASE WHEN h // 64 = 0 THEN 43
                      ELSE 43 - length(bin(h // 64)) END AS rho
          FROM h),
        b AS (SELECT event_type, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
        g AS (
          SELECT event_type,
                 64 - count(*) AS n_zero,
                 CAST(CAST(sum(CAST(1 AS BIGINT) << (43 - mj)) AS BIGINT)
                      + (64 - count(*)) * 8796093022208 AS DOUBLE) AS s_int
          FROM b GROUP BY 1),
        n AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1),
        e AS (
          SELECT n.event_type, n.n_exact,
                 CASE WHEN ${0.709 * 4096.0 * 8796093022208.0} / s_int <= 160.0
                           AND n_zero > 0
                      THEN 64.0 * ln(64.0 / n_zero)
                      ELSE ${0.709 * 4096.0 * 8796093022208.0} / s_int
                 END AS est
          FROM n JOIN g ON g.event_type = n.event_type)
        SELECT event_type, n_exact, round(est, 6) AS est,
               round(abs(est - n_exact) / n_exact, 6) AS rel_err
        FROM e ORDER BY event_type""")),

    // KMV sketch MERGE — the property that makes sketches the 100 TB
    // rollup primitive: per-group min-k sketches are unioned and re-cut
    // to the k smallest, and the result is EXACTLY the sketch a single
    // global pass would build (every one of the k globally-smallest
    // hashes is among its own group's k smallest), so hierarchical
    // rollups never rescan the data — per-partition sketches merge
    // upward in sketch-sized (k·groups) payloads. The query emits each
    // group's estimate plus a '__all__' row whose estimate derives ONLY
    // from the merged sketch contents; both are checked against exact
    // distinct counts by the oracle, which replays the same md5-prefix
    // hashing, the same min-k cuts, and the same merge. The merge window
    // is a single-partition sort over k·groups rows — sketch-sized by
    // construction, never data-sized.
    "agg_kmv_merge" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val k = 64
        val H = 281474976710656.0 // 2^48, the md5-prefix hash range
        // narrow (type, user, hash) distinct relation: feeds the per-group
        // counts, the sketch window, and the exact-global check — persist
        // so the distinct shuffle happens once
        val pairs = scope.persist(t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long")))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("h"), col("user_id"))
        val sk = scope.persist(pairs.withColumn("rn", row_number().over(w))
          .where(col("rn") <= k))
        val perGroup = pairs.groupBy("event_type")
          .agg(count(lit(1)).as("n_exact"))
          .join(sk.where(col("rn") === k)
            .select(col("event_type"), col("h").as("hk")),
            Seq("event_type"), "left")
          .select(col("event_type"), col("n_exact"),
            round(
              when(col("hk").isNull, col("n_exact").cast("double"))
                .otherwise(lit((k - 1).toDouble * H) / col("hk")),
              6).as("est"))
        // merged sketch: distinct users across the group sketches, re-cut
        // to the k smallest — the lossless union described above
        val mu = sk.select(col("h"), col("user_id")).distinct()
        val mr = mu.withColumn("rn",
          row_number().over(Window.orderBy(col("h"), col("user_id"))))
          .where(col("rn") <= k)
        // global exact distinct: verification evidence only (the merged
        // estimate itself never touches the full relation)
        val nAll: Long = pairs.agg(countDistinct(col("user_id"))).head.getLong(0)
        val allRow = mr
          .agg(count(lit(1)).as("m"), max(when(col("rn") === k, col("h"))).as("hk"))
          .select(lit("__all__").as("event_type"),
            lit(nAll).as("n_exact"),
            round(
              when(col("m") < k, col("m").cast("double"))
                .otherwise(lit((k - 1).toDouble * H) / col("hk")),
              6).as("est"))
        scope.result(perGroup.unionByName(allRow).orderBy("event_type"))
      },
      oracle = Some("""
        WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        h AS (
          SELECT event_type, user_id,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM d),
        r AS (
          SELECT event_type, user_id, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h, user_id) AS rn
          FROM h),
        sk AS (SELECT * FROM r WHERE rn <= 64),
        n AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY 1),
        pg AS (
          SELECT n.event_type, n.n_exact,
                 round(CASE WHEN kth.hk IS NULL THEN CAST(n.n_exact AS DOUBLE)
                            ELSE 63.0 * 281474976710656 / kth.hk END, 6) AS est
          FROM n
          LEFT JOIN (SELECT event_type, h AS hk FROM sk WHERE rn = 64) kth
            USING (event_type)),
        mu AS (SELECT DISTINCT h, user_id FROM sk),
        mr AS (
          SELECT h, row_number() OVER (ORDER BY h, user_id) AS rn FROM mu),
        ma AS (
          SELECT count(*) AS m,
                 max(CASE WHEN rn = 64 THEN h END) AS hk
          FROM (SELECT * FROM mr WHERE rn <= 64)),
        mall AS (
          SELECT '__all__' AS event_type,
                 (SELECT count(DISTINCT user_id) FROM events) AS n_exact,
                 round(CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                            ELSE 63.0 * 281474976710656 / hk END, 6) AS est
          FROM ma)
        SELECT event_type, n_exact, est FROM pg
        UNION ALL SELECT event_type, n_exact, est FROM mall
        ORDER BY event_type""")),

    // KMV set-operation cardinality (Beyer et al., SIGMOD'07 §4): the
    // intersection size of two user sets estimated ENTIRELY from their
    // k-min sketches — |A∩B| ≈ ρ·|A∪B|, with ρ = (union-sketch elements
    // present in BOTH input sketches)/k and |A∪B| the KMV estimate of the
    // merged-and-recut union sketch. This is the overlap question ("how
    // many users do click and purchase share?") answered from kilobytes
    // of standing sketch state: at 100 TB the per-group sketches are
    // already maintained (agg_kmv_merge / the streaming sketch sink), so
    // every pairwise overlap costs k·groups² sketch rows, never a rescan
    // or a data-sized join. The exact intersection counts ride along as
    // verification evidence only. Deterministic md5 hashing end-to-end —
    // the oracle replays sketches, merge, membership flags, and the
    // estimator bit-for-bit.
    "agg_kmv_intersect" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val k = 64
        val H = 281474976710656.0 // 2^48, the md5-prefix hash range
        val pairs = scope.persist(t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
          .withColumn("h",
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long")))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("h"), col("user_id"))
        val sk = scope.persist(pairs.withColumn("rn", row_number().over(w))
          .where(col("rn") <= k))
        // unordered type pairs (a < b): group-count-sized, tiny
        val types = pairs.select("event_type").distinct()
        val tp = types.select(col("event_type").as("type_a"))
          .join(types.select(col("event_type").as("type_b")),
            col("type_a") < col("type_b"))
        // union rows carry membership flags; grouping collapses an element
        // present in both sketches into one row with in_a = in_b = 1
        val ua = tp.join(sk, col("event_type") === col("type_a"))
          .select(col("type_a"), col("type_b"), col("h"), col("user_id"),
            lit(1).as("in_a"), lit(0).as("in_b"))
        val ub = tp.join(sk, col("event_type") === col("type_b"))
          .select(col("type_a"), col("type_b"), col("h"), col("user_id"),
            lit(0).as("in_a"), lit(1).as("in_b"))
        val merged = ua.unionByName(ub)
          .groupBy("type_a", "type_b", "h", "user_id")
          .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("type_a"), col("type_b"))
              .orderBy(col("h"), col("user_id"))))
          .where(col("rn") <= k)
        val est = merged.groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("m"),
            sum(col("in_a") * col("in_b")).as("both"),
            max(when(col("rn") === k, col("h"))).as("hk"))
          .select(col("type_a"), col("type_b"),
            round(
              when(col("m") < k, col("both").cast("double"))
                .otherwise(col("both").cast("double") / lit(k.toDouble) *
                  (lit((k - 1).toDouble * H) / col("hk"))),
              6).as("est"))
        // exact intersection: verification evidence (the narrow distinct
        // relation joined on user across the two types)
        val exact = pairs.select(col("event_type").as("type_a"),
            col("user_id"))
          .join(pairs.select(col("event_type").as("type_b"), col("user_id")),
            Seq("user_id"))
          .where(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("n_exact"))
        scope.result(exact.join(est, Seq("type_a", "type_b"), "left")
          .select(col("type_a"), col("type_b"), col("n_exact"),
            coalesce(col("est"), lit(0.0)).as("est"))
          .orderBy("type_a", "type_b"))
      },
      oracle = Some("""
        WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
        h AS (
          SELECT event_type, user_id,
                 CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM d),
        r AS (
          SELECT event_type, user_id, h,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY h, user_id) AS rn
          FROM h),
        sk AS (SELECT * FROM r WHERE rn <= 64),
        tp AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b
          FROM (SELECT DISTINCT event_type FROM d) a
          JOIN (SELECT DISTINCT event_type FROM d) b
            ON a.event_type < b.event_type),
        u AS (
          SELECT tp.type_a, tp.type_b, sk.h, sk.user_id,
                 1 AS in_a, 0 AS in_b
          FROM tp JOIN sk ON sk.event_type = tp.type_a
          UNION ALL
          SELECT tp.type_a, tp.type_b, sk.h, sk.user_id,
                 0 AS in_a, 1 AS in_b
          FROM tp JOIN sk ON sk.event_type = tp.type_b),
        g AS (
          SELECT type_a, type_b, h, user_id,
                 max(in_a) AS in_a, max(in_b) AS in_b
          FROM u GROUP BY type_a, type_b, h, user_id),
        mr AS (
          SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                       ORDER BY h, user_id) AS rn
          FROM g),
        mk AS (SELECT * FROM mr WHERE rn <= 64),
        es AS (
          SELECT type_a, type_b,
                 round(CASE WHEN count(*) < 64
                            THEN CAST(sum(in_a * in_b) AS DOUBLE)
                            ELSE CAST(sum(in_a * in_b) AS DOUBLE) / 64.0 *
                                 (63.0 * 281474976710656 /
                                  max(CASE WHEN rn = 64 THEN h END))
                       END, 6) AS est
          FROM mk GROUP BY type_a, type_b),
        ex AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 count(*) AS n_exact
          FROM d a JOIN d b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT ex.type_a, ex.type_b, ex.n_exact,
               coalesce(es.est, 0.0) AS est
        FROM ex LEFT JOIN es USING (type_a, type_b)
        ORDER BY type_a, type_b""")),

    // Count-Min sketch point estimates (Cormode & Muthukrishnan, J.Alg'05):
    // per-key frequency estimates from a d×w counter grid — bucket
    // counters are SUMS, so the sketch is commutative/mergeable and the
    // groupBy builds it with map-side partial aggregation: the shuffle
    // carries at most d·w·partitions counter rows, never the event
    // stream. est(u) = min over rows of counter[row][bucket_row(u)] ≥
    // true count ALWAYS (one-sided error) — the hash grid is md5-derived
    // and deterministic, so the estimates themselves (not just a
    // tolerance verdict) are bit-exact against the oracle's replay. At
    // 100 TB this is the "how often does key X occur" primitive that
    // needs no per-key state: kilobytes of counters answer any ad-hoc
    // key, and per-partition grids merge by elementwise addition.
    "agg_cms_estimate" -> QueryDef(
      fn = (s, d) => {
        import graft.functions.Cms
        val depth = Cms.Depth
        def bucket(u: org.apache.spark.sql.Column, j: Int) = Cms.bucket(u, j)
        val ev = t(s, d, "events").select(col("user_id"))
        // one exploded groupBy: partial aggregation collapses each
        // partition to <= d*w rows before the exchange
        val counters = ev
          .select(explode(array((0 until depth).map(j =>
            struct(lit(j).as("row"), bucket(col("user_id"), j).as("bucket"))): _*))
            .as("rb"))
          .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
          .agg(count(lit(1)).as("c"))
        val probes = ev.where(col("user_id") % 37 === 0)
          .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
        val est = (0 until depth).foldLeft(
          probes.withColumn("est", lit(Long.MaxValue))) { (acc, j) =>
          acc.join(counters.where(col("row") === j)
              .select(col("bucket").as(s"b$j"), col("c").as(s"c$j")),
            bucket(col("user_id"), j) === col(s"b$j"))
            .withColumn("est", least(col("est"), col(s"c$j")))
            .drop(s"b$j", s"c$j")
        }
        est.select(col("user_id"), col("n_exact"), col("est"))
          .orderBy("user_id")
      },
      oracle = Some("""
        WITH buckets AS (
          SELECT e.user_id, j.j,
                 CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' ||
                                         CAST(e.user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 256 AS bucket
          FROM events e CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j),
        counters AS (
          SELECT j, bucket, count(*) AS c
          FROM buckets GROUP BY j, bucket),
        probes AS (
          SELECT user_id, count(*) AS n_exact
          FROM events WHERE user_id % 37 = 0 GROUP BY user_id),
        pb AS (
          SELECT p.user_id, p.n_exact, j.j,
                 CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' ||
                                         CAST(p.user_id AS VARCHAR)), 1, 12)
                      AS BIGINT) % 256 AS bucket
          FROM probes p CROSS JOIN (SELECT unnest([0,1,2,3]) AS j) j)
        SELECT pb.user_id, pb.n_exact, min(c.c) AS est
        FROM pb JOIN counters c ON c.j = pb.j AND c.bucket = pb.bucket
        GROUP BY pb.user_id, pb.n_exact
        ORDER BY pb.user_id""")),

    // Mergeable quantile sketch — the quantile twin of agg_kmv_merge. A
    // group's sketch is the k=64 rows with the smallest md5(event_id): a
    // deterministic UNIFORM sample, so a quantile estimate is an
    // all-integer order statistic of the sample (idx = ceil(q·m), value
    // rank tie-broken by event_id — no interpolation, both engines pick
    // the same fixture double). Bottom-k-by-hash sets are closed under
    // union+re-cut exactly like KMV, so a 100 TB rollup merges k-row
    // samples per group and never re-sorts raw data: the "__all__" row's
    // estimates come ONLY from the per-group sketches. The exact
    // quantiles carried alongside are verification evidence — their
    // unpartitioned rank window is the very cost the sketch path avoids.
    "agg_quantile_sketch" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val k = 64
        // localCheckpoint: rows feeds the sketch window + the exact side,
        // samp three subtrees — leaf-sized consumer plans instead of
        // re-inlined pins (see graft.dedup.Dedup.ngramJaccardPairs for
        // the measured rationale)
        val rows = scope.checkpoint(t(s, d, "events")
          .select(col("event_type"), col("event_id"), col("value"))
          .withColumn("h",
            conv(substring(md5(col("event_id").cast("string")), 1, 12), 16, 10)
              .cast("long")))
        val ws = Window.partitionBy(col("event_type"))
          .orderBy(col("h"), col("event_id"))
        val samp = scope.checkpoint(rows.withColumn("rn", row_number().over(ws))
          .where(col("rn") <= k))
        // ceil-rank order statistics per group label `g`: p50 at
        // ceil(m/2) = (m+1) DIV 2, p90 at ceil(9m/10) = (9m+9) DIV 10
        def stats(df: org.apache.spark.sql.DataFrame, p50: String,
            p90: String): org.apache.spark.sql.DataFrame = {
          val wv = Window.partitionBy(col("g"))
            .orderBy(col("value"), col("event_id"))
          val wc = Window.partitionBy(col("g"))
          df.withColumn("vr", row_number().over(wv).cast("long"))
            .withColumn("m", count(lit(1)).over(wc))
            .groupBy("g")
            .agg(
              max(when(col("vr") === expr("(m + 1) DIV 2"), col("value")))
                .as(p50),
              max(when(col("vr") === expr("(9 * m + 9) DIV 10"), col("value")))
                .as(p90),
              max(col("m")).as(s"n_$p50"))
        }
        val gExact = stats(rows.withColumn("g", col("event_type")),
          "p50_exact", "p90_exact")
          .withColumnRenamed("n_p50_exact", "n_exact")
        val gEst = stats(samp.withColumn("g", col("event_type")),
          "p50_est", "p90_est").drop("n_p50_est")
          .withColumnRenamed("g", "g2")
        val perG = gExact.join(gEst, col("g") === col("g2"))
          .select(col("g").as("event_type"), col("n_exact"),
            col("p50_exact"), col("p90_exact"), col("p50_est"), col("p90_est"))
        // merged sketch: union of the group sketches re-cut to the global
        // bottom-k by the same hash order (tiny input: groups × k rows)
        val mr = samp
          .withColumn("grn",
            row_number().over(Window.orderBy(col("h"), col("event_id"))))
          .where(col("grn") <= k)
        // exact-vs-merged global stats come from ONE tagged union + a
        // conditional final agg — joining two single-row frames on their
        // literal "__all__" keys would constant-fold into a cartesian
        val tagged = rows.select(col("value"), col("event_id"))
          .withColumn("g", lit("exact"))
          .unionByName(mr.select(col("value"), col("event_id"))
            .withColumn("g", lit("est")))
        val allRow = stats(tagged, "p50", "p90")
          .agg(
            max(when(col("g") === "exact", col("n_p50"))).as("n_exact"),
            max(when(col("g") === "exact", col("p50"))).as("p50_exact"),
            max(when(col("g") === "exact", col("p90"))).as("p90_exact"),
            max(when(col("g") === "est", col("p50"))).as("p50_est"),
            max(when(col("g") === "est", col("p90"))).as("p90_est"))
          .select(lit("__all__").as("event_type"), col("n_exact"),
            col("p50_exact"), col("p90_exact"), col("p50_est"), col("p90_est"))
        // SCALE BOUND of the exact-evidence side (declared semantics, not
        // an accident): the global exact p50/p90 need a total order of
        // every value, so the "exact" slice of `tagged` is one
        // single-partition rank window over the full event relation — the
        // very cost the sketch path avoids, kept ONLY to verify the
        // estimates. Bounded at harness scale (60k events); a production
        // deployment drops the *_exact columns and reads the sketch side,
        // whose windows are groups × k = sketch-sized at any corpus size.
        scope.result(perG.unionByName(allRow).orderBy("event_type"))
      },
      oracle = Some("""
        WITH rws AS (
          SELECT event_type, event_id, value,
                 CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM events),
        samp AS (
          SELECT * FROM (
            SELECT event_type, event_id, value, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h, event_id) AS rn
            FROM rws) WHERE rn <= 64),
        gstat AS (
          SELECT g AS event_type,
                 max(CASE WHEN vr = (m + 1) // 2 THEN value END) AS p50_exact,
                 max(CASE WHEN vr = (9 * m + 9) // 10 THEN value END)
                   AS p90_exact,
                 max(m) AS n_exact
          FROM (SELECT event_type AS g, value,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS vr,
                       count(*) OVER (PARTITION BY event_type) AS m
                FROM rws)
          GROUP BY g),
        sstat AS (
          SELECT g AS event_type,
                 max(CASE WHEN vr = (m + 1) // 2 THEN value END) AS p50_est,
                 max(CASE WHEN vr = (9 * m + 9) // 10 THEN value END)
                   AS p90_est
          FROM (SELECT event_type AS g, value,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS vr,
                       count(*) OVER (PARTITION BY event_type) AS m
                FROM samp)
          GROUP BY g),
        mr AS (
          SELECT * FROM (
            SELECT event_id, value,
                   row_number() OVER (ORDER BY h, event_id) AS grn
            FROM samp) WHERE grn <= 64),
        mstat AS (
          SELECT max(CASE WHEN vr = (m + 1) // 2 THEN value END) AS p50_est,
                 max(CASE WHEN vr = (9 * m + 9) // 10 THEN value END)
                   AS p90_est
          FROM (SELECT value,
                       row_number() OVER (ORDER BY value, event_id) AS vr,
                       count(*) OVER () AS m
                FROM mr)),
        astat AS (
          SELECT max(CASE WHEN vr = (m + 1) // 2 THEN value END) AS p50_exact,
                 max(CASE WHEN vr = (9 * m + 9) // 10 THEN value END)
                   AS p90_exact,
                 max(m) AS n_exact
          FROM (SELECT value,
                       row_number() OVER (ORDER BY value, event_id) AS vr,
                       count(*) OVER () AS m
                FROM rws))
        SELECT g.event_type, g.n_exact, g.p50_exact, g.p90_exact,
               s.p50_est, s.p90_est
        FROM gstat g JOIN sstat s USING (event_type)
        UNION ALL
        SELECT '__all__', a.n_exact, a.p50_exact, a.p90_exact,
               m.p50_est, m.p90_est
        FROM astat a CROSS JOIN mstat m
        ORDER BY event_type""")),

    // Data profiling: null count, exact distinct count, and min/max per
    // column, one row per column — the "what's in this table" pass every
    // ingestion pipeline runs before trusting a new source. One aggregate
    // PER COLUMN, unioned: each is a column-pruned scan with a
    // single-distinct two-phase plan (partial-distinct map-side). The
    // multi-distinct single-scan alternative plans an Expand — the whole
    // input replicated per distinct aggregate into one shuffle — which
    // measured 4x slower at sf0.1 and only gets worse with table width;
    // at 100 TB swap count_distinct for approx_count_distinct and each
    // per-column pass collapses to a pure map-side sketch. Numeric
    // min/max stay typed doubles; strings profile lexicographically in
    // their own columns — no cross-type casts whose formatting could
    // drift between engines.
    "profile_table" -> QueryDef(
      fn = (s, d) => {
        val li = t(s, d, "lineitem")
        def num(c: String) = li.agg(
          sum(col(c).isNull.cast("long")).as("n_nulls"),
          count_distinct(col(c)).as("n_distinct"),
          min(col(c)).cast("double").as("min_num"),
          max(col(c)).cast("double").as("max_num"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
            col("min_num"), col("max_num"),
            lit(null).cast("string").as("min_str"),
            lit(null).cast("string").as("max_str"))
        def str(c: String) = li.agg(
          sum(col(c).isNull.cast("long")).as("n_nulls"),
          count_distinct(col(c)).as("n_distinct"),
          min(col(c)).as("min_str"), max(col(c)).as("max_str"))
          .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
            lit(null).cast("double").as("min_num"),
            lit(null).cast("double").as("max_num"),
            col("min_str"), col("max_str"))
        num("l_extendedprice")
          .unionByName(num("l_quantity"))
          .unionByName(str("l_returnflag"))
          .orderBy("col_name")
      },
      oracle = Some("""
        WITH w AS (
          SELECT count(*) FILTER (WHERE l_quantity IS NULL) AS q_nulls,
                 count(DISTINCT l_quantity) AS q_dist,
                 min(l_quantity) AS q_min, max(l_quantity) AS q_max,
                 count(*) FILTER (WHERE l_extendedprice IS NULL) AS p_nulls,
                 count(DISTINCT l_extendedprice) AS p_dist,
                 min(l_extendedprice) AS p_min, max(l_extendedprice) AS p_max,
                 count(*) FILTER (WHERE l_returnflag IS NULL) AS f_nulls,
                 count(DISTINCT l_returnflag) AS f_dist,
                 min(l_returnflag) AS f_min, max(l_returnflag) AS f_max
          FROM lineitem)
        SELECT 'l_extendedprice' AS col_name, p_nulls AS n_nulls,
               p_dist AS n_distinct, p_min AS min_num, p_max AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM w
        UNION ALL
        SELECT 'l_quantity', q_nulls, q_dist, q_min, q_max, NULL, NULL FROM w
        UNION ALL
        SELECT 'l_returnflag', f_nulls, f_dist, CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), f_min, f_max FROM w
        ORDER BY col_name""")),

    // Z-order (Morton) layout key over (user_id, event-hour): interleaving
    // the low 16 bits of both dimensions gives a single sort key under
    // which rows close in EITHER dimension land in the same file — so
    // parquet min/max footer stats prune multi-dimensional predicates
    // (user range AND time range) that a single-column sort can only
    // prune on one axis. The write-side layout op is
    // `repartitionByRange($"zval").sortWithinPartitions("zval")` before
    // the sink; this query checks the key itself: 64 shift-mask-or terms,
    // all codegen'd integer ops, zero UDFs — the identical formula is
    // generated into the oracle SQL from the same loop, so engine and
    // oracle cannot drift.
    "layout_zorder" -> QueryDef(
      fn = (s, d) => {
        // hours (Tables.eventHour) so 16 bits span ~7 years of data
        val z = graft.operators.Layout.zorderKey(
          col("user_id"), graft.sources.Tables.eventHour)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            graft.sources.Tables.eventHour.as("hr"), z.as("zval"))
          .orderBy("zval", "event_id")
      },
      oracle = Some {
        val zSql = (0 until 16).map { i =>
          s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" + ")
        s"""
        WITH xy AS (
          SELECT event_id, user_id,
                 epoch_us(ts) // 3600000000 AS hr,
                 user_id & 65535 AS x,
                 (epoch_us(ts) // 3600000000) & 65535 AS y
          FROM events)
        SELECT event_id, user_id, hr, $zSql AS zval
        FROM xy ORDER BY zval, event_id"""
      }),

    // Hilbert-curve clustering key over the same (user, hour) plane as
    // layout_zorder — the locality-superior curve: consecutive Hilbert
    // cells are GRID-ADJACENT where the Z-curve jumps across half the
    // grid at quadrant seams, so per-file min/max boxes along the curve
    // are tighter (LayoutSpec proves hilbertWrite's box pruning).
    // Computed by the native HilbertXY kernel (a 16-round reflect/swap
    // walk — iterated symbolically the expression tree doubles per
    // round, which is why Morton gets shift-masks and Hilbert gets a
    // codegen'd static call); the oracle replays the rounds as chained
    // CTEs carrying the rotated (x, y) as COLUMNS, one row of state per
    // event — the linear replay of an exponential expression.
    "layout_hilbert" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            graft.sources.Tables.eventHour.as("hr"))
          .select(col("event_id"), col("user_id"), col("hr"),
            expr("hilbert_xy(user_id, hr, 16)").as("hval"))
          .orderBy("hval", "event_id"),
      oracle = Some(s"""
        WITH h0 AS (
          SELECT event_id AS key, user_id & 65535 AS x,
                 (epoch_us(ts) // 3600000000) & 65535 AS y,
                 CAST(0 AS BIGINT) AS d
          FROM events),
        ${graft.functions.HilbertXY.roundsCtesSql(16)},
        e AS (
          SELECT event_id, user_id, epoch_us(ts) // 3600000000 AS hr
          FROM events)
        SELECT e.event_id, e.user_id, e.hr, h16.d AS hval
        FROM e JOIN h16 ON h16.key = e.event_id
        ORDER BY hval, event_id""")),

    // Referential-integrity audit (the dbt/Great-Expectations test class
    // as one query): primary-key duplicate counts and cross-table orphan
    // counts, each check one aggregate or anti-join over narrow key
    // columns — key relations only, no payload ever scanned. Checks that
    // PASS report 0, so the report shape is stable for alerting.
    "audit_integrity" -> QueryDef(
      fn = (s, d) => {
        def one(name: String, n: org.apache.spark.sql.DataFrame) =
          n.select(lit(name).as("check"), col("n"))
        val ordDup = t(s, d, "orders").groupBy("o_orderkey")
          .agg(count(lit(1)).as("c")).where(col("c") > 1)
          .agg(count(lit(1)).as("n"))
        val liOrphan = t(s, d, "lineitem").select("l_orderkey")
          .join(t(s, d, "orders").select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))
        val ordOrphan = t(s, d, "orders").select("o_custkey")
          .join(t(s, d, "customer").select("c_custkey"),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n"))
        val embOrphan = t(s, d, "embeddings").select("vec_id")
          .join(t(s, d, "documents").select("doc_id"),
            col("vec_id") === col("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n"))
        one("orders_pk_dups", ordDup)
          .unionAll(one("lineitem_order_orphans", liOrphan))
          .unionAll(one("orders_customer_orphans", ordOrphan))
          .unionAll(one("embeddings_doc_orphans", embOrphan))
          .orderBy("check")
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT 'orders_pk_dups' AS check, count(*) AS n
          FROM (SELECT o_orderkey FROM orders
                GROUP BY 1 HAVING count(*) > 1)
          UNION ALL
          SELECT 'lineitem_order_orphans', count(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
          UNION ALL
          SELECT 'orders_customer_orphans', count(*) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
          UNION ALL
          SELECT 'embeddings_doc_orphans', count(*) FROM embeddings
          WHERE vec_id NOT IN (SELECT doc_id FROM documents))
        ORDER BY "check"""")),

    // Key-skew audit: per join/aggregation key, the row count, distinct
    // keys, hottest-key row count and its share — the diagnostic that
    // decides salting / AQE skew-join / broadcast before a 100 TB shuffle
    // is launched (a top key holding >1% of a fact table is a straggler
    // in waiting). Each key is one narrow groupBy + one 1-row aggregate;
    // payload columns never scanned; report shape stable for alerting.
    "audit_skew" -> QueryDef(
      fn = (s, d) => {
        def one(label: String, df: org.apache.spark.sql.DataFrame, key: String) =
          df.groupBy(col(key)).agg(count(lit(1)).as("c"))
            .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
              max(col("c")).as("max_key_rows"))
            .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"),
              col("max_key_rows"),
              round(col("max_key_rows") * lit(1.0) / col("n_rows"), 6).as("top_share"),
              round(col("n_rows") * lit(1.0) / col("n_keys"), 6).as("avg_key_rows"))
        one("events.user_id", t(s, d, "events"), "user_id")
          .unionAll(one("lineitem.l_partkey", t(s, d, "lineitem"), "l_partkey"))
          .unionAll(one("lineitem.l_suppkey", t(s, d, "lineitem"), "l_suppkey"))
          .unionAll(one("orders.o_custkey", t(s, d, "orders"), "o_custkey"))
          .orderBy("key_col")
      },
      oracle = Some {
        def one(label: String, table: String, key: String) = s"""
          SELECT '$label' AS key_col,
                 CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(max(c) AS BIGINT) AS max_key_rows
          FROM (SELECT count(*) AS c FROM $table GROUP BY $key)"""
        s"""
        SELECT key_col, n_rows, n_keys, max_key_rows,
               round(max_key_rows * 1.0 / n_rows, 6) AS top_share,
               round(n_rows * 1.0 / n_keys, 6) AS avg_key_rows
        FROM (${Seq(
            one("events.user_id", "events", "user_id"),
            one("lineitem.l_partkey", "lineitem", "l_partkey"),
            one("lineitem.l_suppkey", "lineitem", "l_suppkey"),
            one("orders.o_custkey", "orders", "o_custkey")).mkString(" UNION ALL ")})
        ORDER BY key_col"""
      }),

    // The salting cure audit_skew prescribes, applied: a two-phase salted
    // aggregation whose result EQUALS the plain groupBy (the salt exists
    // only in the first shuffle, which becomes uniform; the second pass
    // merges salts×keys partials — trivially small). Only order-insensitive
    // exact aggregates (count/min/max) so the oracle is the plain SQL
    // aggregate bit-for-bit — a float sum's re-association would drift.
    "agg_skew_salted" -> QueryDef(
      fn = (s, d) =>
        graft.operators.Skew.saltedAgg(
            t(s, d, "lineitem").select("l_returnflag", "l_quantity"),
            Seq("l_returnflag"),
            Seq(graft.operators.Skew.CountRows("n"),
              graft.operators.Skew.Min("l_quantity", "min_qty"),
              graft.operators.Skew.Max("l_quantity", "max_qty")))
          .orderBy("l_returnflag"),
      oracle = Some("""
        SELECT l_returnflag, count(*) AS n,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Salted equi-join on a pathologically hot key: documents joined to
    // per-language stats — 5 distinct languages means the PLAIN shuffle
    // has five hot partitions and nothing else, the exact shape AQE's
    // partition-granular skew split cannot fix. Skew.saltedJoin spreads
    // each language over 8 salts (big side salted deterministically from
    // its non-key values, small side replicated 8x) and the result is
    // EXACTLY the plain join, which is what the oracle runs.
    "join_skew_salted" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").select("doc_id", "lang", "n_chars")
        val rates = docs.groupBy("lang")
          .agg(round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
            .as("lang_avg"))
        graft.operators.Skew.saltedJoin(docs, rates, Seq("lang"), salts = 8)
          .select(col("doc_id"), col("lang"), col("n_chars"), col("lang_avg"),
            (col("n_chars") > col("lang_avg")).as("above_avg"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH r AS (
          SELECT lang,
                 round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS lang_avg
          FROM documents GROUP BY lang)
        SELECT doc_id, lang, n_chars, lang_avg,
               n_chars > lang_avg AS above_avg
        FROM documents JOIN r USING (lang)
        ORDER BY doc_id""")),

    // k-anonymity audit: quasi-identifier combinations (nation, segment,
    // balance band) whose group is smaller than k=5 — the rows a data
    // release must suppress or generalize because they re-identify.
    // One grouped aggregate; the bucket is scan-side arithmetic, so the
    // audit is a single shuffle of group keys at any scale.
    "privacy_k_anonymity" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
          .groupBy("nation", "segment", "bal_band")
          .agg(count(lit(1)).as("n"))
          .where(col("n") < 5)
          .orderBy("nation", "segment", "bal_band"),
      oracle = Some("""
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS segment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               count(*) AS n
        FROM customer
        GROUP BY 1, 2, 3
        HAVING count(*) < 5
        ORDER BY nation, segment, bal_band""")),

    // Higher-moment column profiling — skewness and excess kurtosis next
    // to profile_table's basic stats: the two numbers that say whether a
    // numeric column is long-tailed/peaked before anyone trusts a mean ±
    // std summary (and the inputs a salting/binning decision reads).
    // Shape for 100 TB: ONE scan; the two profiled columns unpivot
    // scan-side into (column, x) and four power sums accumulate per
    // group map-side — Σx..Σx⁴ each rounded to 6dp into DECIMAL(38,6)
    // (x⁴ ≈ 1e20 exceeds exact-integer double range, so decimal
    // accumulation is what keeps the sums order-independent). The
    // closing moment algebra is identical scalar IEEE on both engines,
    // with multiplication association pinned via explicit x2/x3/x4
    // columns.
    "profile_moments" -> QueryDef(
      fn = (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 6)
        val ex = t(s, d, "lineitem")
          .select(explode(array(
            struct(lit("l_quantity").as("c"), col("l_quantity").as("x")),
            struct(lit("l_extendedprice").as("c"),
              col("l_extendedprice").as("x")))).as("s"))
          .select(col("s.c").as("c"), col("s.x").as("x"))
          .withColumn("x2", col("x") * col("x"))
          .withColumn("x3", col("x2") * col("x"))
          .withColumn("x4", col("x3") * col("x"))
        val g = ex.groupBy("c")
          .agg(count(lit(1)).as("n"),
            sum(round(col("x"), 6).cast(dec)).as("s1"),
            sum(round(col("x2"), 6).cast(dec)).as("s2"),
            sum(round(col("x3"), 6).cast(dec)).as("s3"),
            sum(round(col("x4"), 6).cast(dec)).as("s4"))
        val nD = col("n").cast("double")
        val mean = col("s1").cast("double") / nD
        val e2 = col("s2").cast("double") / nD
        val e3 = col("s3").cast("double") / nD
        val e4 = col("s4").cast("double") / nD
        val m2 = e2 - mean * mean
        val m3 = e3 - lit(3.0) * mean * e2 +
          lit(2.0) * mean * mean * mean
        val m4 = e4 - lit(4.0) * mean * e3 +
          lit(6.0) * (mean * mean) * e2 -
          lit(3.0) * (mean * mean * mean * mean)
        g.select(col("c").as("column_name"), col("n"),
            round(mean, 6).as("mean"),
            round(sqrt(m2), 6).as("std"),
            round(m3 / (m2 * sqrt(m2)), 6).as("skewness"),
            round(m4 / (m2 * m2) - lit(3.0), 6).as("kurtosis"))
          .orderBy("column_name")
      },
      oracle = Some("""
        WITH ex AS (
          SELECT 'l_quantity' AS c, l_quantity AS x FROM lineitem
          UNION ALL
          SELECT 'l_extendedprice', l_extendedprice FROM lineitem),
        p AS (
          SELECT c, x, x * x AS x2, (x * x) * x AS x3,
                 ((x * x) * x) * x AS x4
          FROM ex),
        g AS (
          SELECT c, count(*) AS n,
                 sum(CAST(round(x, 6) AS DECIMAL(38,6))) AS s1,
                 sum(CAST(round(x2, 6) AS DECIMAL(38,6))) AS s2,
                 sum(CAST(round(x3, 6) AS DECIMAL(38,6))) AS s3,
                 sum(CAST(round(x4, 6) AS DECIMAL(38,6))) AS s4
          FROM p GROUP BY c),
        m AS (
          SELECT c, n,
                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                 CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
                 CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
                 CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
          FROM g),
        mm AS (
          SELECT c, n, mean,
                 e2 - mean * mean AS m2,
                 e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean AS m3,
                 e4 - 4.0 * mean * e3 + 6.0 * (mean * mean) * e2
                   - 3.0 * (mean * mean * mean * mean) AS m4
          FROM m)
        SELECT c AS column_name, n,
               round(mean, 6) AS mean,
               round(sqrt(m2), 6) AS std,
               round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
               round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
        FROM mm ORDER BY column_name""")),

    // The APPLY pass behind the k-anonymity audit: the released relation
    // itself, with the finest quasi-identifier (the balance band)
    // SUPPRESSED (nulled, flag set) for every row whose
    // (nation, segment, band) group is smaller than k=5 — the
    // generalization step a release actually ships after
    // privacy_k_anonymity flags the groups. One window count over the
    // scan's own group keys (no second scan, no join back); the audit
    // and the apply share the group definition by construction.
    "privacy_k_apply" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "customer")
          .select(col("c_custkey").cast("long").as("custkey"),
            col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast("long").as("band"))
        val n = count(lit(1)).over(
          Window.partitionBy("nation", "segment", "band"))
        base
          .select(col("custkey"), col("nation"), col("segment"),
            when(n >= 5, col("band")).otherwise(lit(null).cast("long"))
              .as("bal_band"),
            (n < 5).as("suppressed"))
          .orderBy("custkey")
      },
      oracle = Some("""
        WITH b AS (
          SELECT CAST(c_custkey AS BIGINT) AS custkey,
                 CAST(c_nationkey AS BIGINT) AS nation,
                 c_mktsegment AS segment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
          FROM customer),
        w AS (
          SELECT *, count(*) OVER (PARTITION BY nation, segment, band) AS n
          FROM b)
        SELECT custkey, nation, segment,
               CASE WHEN n >= 5 THEN band ELSE NULL END AS bal_band,
               n < 5 AS suppressed
        FROM w ORDER BY custkey""")),

    // l-diversity audit — k-anonymity's complement (Machanavajjhala et
    // al., ICDE'06): a quasi-identifier group that is large enough can
    // still leak if everyone in it shares the same sensitive value.
    // Groups on the (nation, segment) quasi-identifiers; flags groups
    // whose sensitive attribute (the account-balance band) takes fewer
    // than l=6 distinct values. One groupBy with a distinct-agg — the
    // same two-phase partial-distinct plan profile_table uses.
    "privacy_l_diversity" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
          .groupBy("nation", "segment")
          .agg(count(lit(1)).as("n"),
            count_distinct(col("bal_band")).as("l_div"))
          .where(col("l_div") < 6)
          .orderBy("nation", "segment"),
      oracle = Some("""
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
               c_mktsegment AS segment,
               count(*) AS n,
               count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                 AS l_div
        FROM customer
        GROUP BY 1, 2
        HAVING count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 6
        ORDER BY nation, segment""")),

    // t-closeness audit — the third rung of the anonymity ladder (Li,
    // Li & Venkatasubramanian, ICDE'07): an l-diverse group can still
    // leak when its sensitive-value DISTRIBUTION diverges from the
    // table's. Reports, per (nation, segment) quasi-identifier group,
    // the total-variation distance between the group's balance-band
    // distribution and the global one: TVD = 0.5·(Σ_{v∈G} |p_v − q_v| +
    // (n − Σ_{v∈G} gv)/n), where the second term covers the bands the
    // group never exhibits. One scan, one grouped aggregate, then three
    // windows over the CELL relation (bounded by |QI-groups| × |bands|,
    // never data volume). Determinism: |p−q| terms round to 6dp into
    // DECIMAL; the missing-mass term is integer arithmetic with a single
    // IEEE division, so TVD is structurally ≥ 0 (no −0.0 formatting
    // hazard) and bit-identical across engines.
    "privacy_t_closeness" -> QueryDef(
      fn = (s, d) => {
        val cell = t(s, d, "customer")
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000).cast("long").as("v"))
          .groupBy("nation", "segment", "v")
          .agg(count(lit(1)).as("c"))
        val w = cell.select(col("nation"), col("segment"), col("v"), col("c"),
          sum(col("c")).over(Window.partitionBy("nation", "segment")).as("ng"),
          sum(col("c")).over(Window.partitionBy("v")).as("gv"),
          sum(col("c")).over(Window.partitionBy()).as("n"))
        val term = round(abs(col("c").cast("double") / col("ng").cast("double")
          - col("gv").cast("double") / col("n").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))
        w.groupBy("nation", "segment")
          .agg(max(col("ng")).as("n_grp"),
            sum(term).as("s1"),
            sum(col("gv")).as("sg"),
            max(col("n")).as("nt"))
          .select(col("nation"), col("segment"),
            col("n_grp").cast("long").as("n"),
            round(lit(0.5) * (col("s1").cast("double")
              + (col("nt") - col("sg")).cast("double")
                / col("nt").cast("double")), 6).as("tvd"))
          .orderBy("nation", "segment")
      },
      oracle = Some("""
        WITH b AS (
          SELECT CAST(c_nationkey AS BIGINT) AS nation,
                 c_mktsegment AS segment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS v
          FROM customer),
        cell AS (
          SELECT nation, segment, v, count(*) AS c FROM b GROUP BY 1, 2, 3),
        w AS (
          SELECT nation, segment, v, c,
                 sum(c) OVER (PARTITION BY nation, segment) AS ng,
                 sum(c) OVER (PARTITION BY v) AS gv,
                 sum(c) OVER () AS n
          FROM cell)
        SELECT nation, segment,
               CAST(max(ng) AS BIGINT) AS n,
               round(0.5 * (CAST(sum(CAST(round(abs(
                   CAST(c AS DOUBLE) / CAST(ng AS DOUBLE)
                   - CAST(gv AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 AS DECIMAL(18,6))) AS DOUBLE)
                 + CAST(max(n) - sum(gv) AS DOUBLE) / CAST(max(n) AS DOUBLE)),
                 6) AS tvd
        FROM w GROUP BY nation, segment
        ORDER BY nation, segment""")),

    // Differentially-private count release (Dwork et al., TCC'06): the
    // Laplace mechanism over per-language document counts — sensitivity-1
    // counting query, b = 1/ε with ε = 1, noisy = count +
    // Laplace-inverse-CDF(u − 0.5)·b. For THIS test harness the uniform u
    // is md5-derived from the group key so the released values replay
    // bit-for-bit in the oracle; a production release swaps in real
    // entropy (one scalar draw per group — the pipeline shape, one
    // groupBy + scan-side noise arithmetic, is identical and is what is
    // under test; hash-seeded noise is NOT private). Negative noisy
    // counts clamp at 0, the standard post-processing step.
    "privacy_dp_counts" -> QueryDef(
      fn = (s, d) => {
        val H = 281474976710656.0 // 2^48
        val u = conv(substring(md5(concat(lit("dp:"), col("lang"))), 1, 12),
          16, 10).cast("double") / lit(H)
        val centered = u - lit(0.5)
        val noise = when(centered >= 0,
            -log(lit(1.0) - lit(2.0) * centered))
          .otherwise(log(lit(1.0) + lit(2.0) * centered))
        t(s, d, "documents")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_true"))
          .select(col("lang"), col("n_true"),
            greatest(lit(0.0),
              round(col("n_true").cast("double") + noise, 6))
              .as("n_released"))
          .orderBy("lang")
      },
      oracle = Some("""
        WITH g AS (
          SELECT lang, count(*) AS n_true FROM documents GROUP BY lang),
        u AS (
          SELECT lang, n_true,
                 CAST('0x' || substr(md5('dp:' || lang), 1, 12) AS BIGINT)
                   / 281474976710656.0 - 0.5 AS c
          FROM g)
        SELECT lang, n_true,
               greatest(0.0,
                 round(CAST(n_true AS DOUBLE) +
                       CASE WHEN c >= 0 THEN -ln(1.0 - 2.0 * c)
                            ELSE ln(1.0 + 2.0 * c) END, 6)) AS n_released
        FROM u ORDER BY lang""")),

    // Deterministic training-order shuffle: md5-hash shard + within-shard
    // position (Layout.shuffleOrder) — the reproducible global permutation
    // a trainer replays by reading shard files in position order. Windows
    // are per-shard (corpus/shards rows each), never one global sort.
    "layout_shuffle" -> QueryDef(
      fn = (s, d) =>
        graft.operators.Layout.shuffleOrder(
            t(s, d, "documents").select("doc_id", "lang"), "doc_id", shards = 8)
          .select(col("doc_id"), col("lang"), col("shard"), col("pos"))
          .orderBy("shard", "pos"),
      oracle = Some("""
        WITH keyed AS (
          SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 8 AS shard
          FROM documents)
        SELECT doc_id, lang, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
                    AS BIGINT) AS pos
        FROM keyed ORDER BY shard, pos""")),

    // 3-dim Morton key (zorderKeyN): the oracle formula is generated from
    // the same (bit, dimension) loop as the engine expression, so the
    // N-dim interleave is hash-checked, not just spec-tested.
    "layout_zorder3" -> QueryDef(
      fn = (s, d) => {
        val v = pmod(col("event_id"), lit(1024L))
        val z = graft.operators.Layout.zorderKeyN(
          Seq(col("user_id"), graft.sources.Tables.eventHour, v))
        t(s, d, "events")
          .select(col("event_id"), v.as("v"), z.as("zval"))
          .orderBy("zval", "event_id")
      },
      oracle = Some {
        val mask = (1L << 21) - 1
        val dims = Seq("x", "y", "z")
        val zSql = (for (i <- 0 until 21; (c, dIdx) <- dims.zipWithIndex)
          yield s"((($c >> $i) & 1) << ${i * 3 + dIdx})").mkString(" + ")
        s"""
        WITH xyz AS (
          SELECT event_id, event_id % 1024 AS v,
                 user_id & $mask AS x,
                 (epoch_us(ts) // 3600000000) & $mask AS y,
                 (event_id % 1024) & $mask AS z
          FROM events)
        SELECT event_id, v, $zSql AS zval
        FROM xyz ORDER BY zval, event_id"""
      }),

    // Length-bucketed batching report: docs assigned to power-of-two
    // length buckets (the layout sequence-packing/batching pipelines use
    // to cut padding FLOPs — batch same-bucket docs and pad to the bucket
    // cap instead of the global max). Emits per-bucket volume and the
    // padding waste that bucket cap implies, the number a training
    // dataloader needs to size its buckets. floor(log2) is computed from
    // a CASE-corrected ln-ratio — the float estimate can be off by one
    // either way and the two integer corrections repair it exactly, so
    // both engines land the identical bucket for every length. One
    // groupBy over scan-side expressions; at 100 TB the bucket column is
    // also the natural partitionBy for the packed write.
    "layout_length_buckets" -> QueryDef(
      fn = (s, d) => {
        val x = col("n_chars").cast("double")
        val l0 = floor(log(2.0, x)).cast("int")
        val lExact = (l0
          + when(x >= pow(lit(2.0), (l0 + 1).cast("double")), 1).otherwise(0)
          - when(x < pow(lit(2.0), l0.cast("double")), 1).otherwise(0))
        val cap = when(pow(lit(2.0), lExact.cast("double")) === x, x)
          .otherwise(pow(lit(2.0), (lExact + 1).cast("double")))
          .cast("long")
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"), cap.as("bucket_cap"))
          .groupBy("bucket_cap")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .select(col("bucket_cap"), col("n_docs"), col("total_chars"),
            (col("bucket_cap") * col("n_docs")).as("padded_chars"),
            round(lit(1.0) - col("total_chars").cast("double") /
              (col("bucket_cap") * col("n_docs")).cast("double"), 6)
              .as("waste_frac"))
          .orderBy("bucket_cap")
      },
      oracle = Some("""
        WITH l AS (
          SELECT doc_id, n_chars,
                 CAST(floor(ln(CAST(n_chars AS DOUBLE)) / ln(2.0)) AS INT)
                   AS l0
          FROM documents),
        lc AS (
          SELECT doc_id, n_chars,
                 l0 + (CASE WHEN n_chars >= pow(2.0, l0 + 1) THEN 1 ELSE 0 END)
                    - (CASE WHEN n_chars < pow(2.0, l0) THEN 1 ELSE 0 END)
                   AS le
          FROM l),
        b AS (
          SELECT doc_id, n_chars,
                 CAST(CASE WHEN pow(2.0, le) = n_chars THEN n_chars
                           ELSE pow(2.0, le + 1) END AS BIGINT) AS bucket_cap
          FROM lc),
        g AS (
          SELECT bucket_cap, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM b GROUP BY bucket_cap)
        SELECT bucket_cap, n_docs, total_chars,
               bucket_cap * n_docs AS padded_chars,
               round(1.0 - CAST(total_chars AS DOUBLE) /
                     CAST(bucket_cap * n_docs AS DOUBLE), 6) AS waste_frac
        FROM g ORDER BY bucket_cap""")),

    // Full winnowing fingerprint selection (Schleimer-Wilkerson-Aiken,
    // SIGMOD'03) via the native Winnow expression: per-window minimum of
    // the 8-gram rolling hashes over 8-hash windows, leftmost tie,
    // dedup'd by position — guarantees a shared fingerprint for any
    // 15+-char overlap at ~2/(w+1) the density of full shingling. The
    // per-doc card (count + bit_xor + min/max of selected hashes +
    // density) pins the SELECTION SET bit-exactly against the oracle's
    // window-min replay; the O(len) monotonic-deque kernel runs scan-side
    // in WholeStageCodegen — at 100 TB the fingerprint pass is part of
    // the scan, never a len*w explode through a shuffle.
    "text_winnowing" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents").where(length(col("text")) >= 15)
        docs.select(col("doc_id"),
            (length(col("text")) - lit(7)).cast("long").as("n_grams"),
            explode(expr("winnow(text, 8, 8)")).as("fp"))
          .groupBy("doc_id", "n_grams")
          .agg(count(lit(1)).as("n_selected"),
            expr("bit_xor(fp)").as("fp_xor"),
            min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))
          .select(col("doc_id"), col("n_grams"), col("n_selected"),
            col("fp_xor"), col("fp_min"), col("fp_max"),
            round(col("n_selected").cast("double") / col("n_grams"), 6)
              .as("density"))
          .orderBy("doc_id")
      },
      oracle = Some(winnowingOracle)),

    // Native codegen'd rolling-hash fingerprint (RollingHashMin expression):
    // O(len) winnowing fingerprint, the scale path for shingle hashing.
    "text_rolling_fp" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"), expr("rolling_hash_min(text, 8)").as("rfp"))
          .orderBy("doc_id"),
      oracle = Some(rollingFpOracle)),

    // Fixed-point integer PageRank (Graph.pageRank) over the symmetrized
    // customer—supplier interaction multigraph (an order line = one unit
    // of edge weight; node ids disjoint by parity). 5 iterations; every
    // arithmetic step is integer, so the oracle replays the iterations as
    // chained CTEs bit-exactly — the graph-centrality quality prior a
    // crawl-corpus curation pipeline weights sources by.
    "graph_pagerank" -> QueryDef(
      fn = (s, d) => {
        val ol = t(s, d, "orders").join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        val fwd = ol.select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        graft.operators.Graph.pageRank(
            fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst"))),
            iters = PagerankIters)
          .orderBy("node")
      },
      oracle = Some(pagerankOracle),
      bench = true),

    // k-core peeling (Seidman, Social Networks'83) over the same user
    // co-occurrence graph as graph_triangles: iteratively remove nodes of
    // degree < k (k = 3) — the classic dense-subgraph/spam-ring locator
    // (surviving the 3-core requires mutually reinforcing co-activity a
    // bot ring shows and drive-by users don't). Unrolled to 4 synchronous
    // rounds like the PageRank/BPE trainers (a zero-removal round means
    // the core converged; the round rows make that visible), each round =
    // one degree aggregate + two key-semi-joins — all integer, so the
    // oracle replays the rounds as chained CTEs bit-exactly. The peel
    // lives in Graph.kCore, which localCheckpoints each round so the plan
    // stays one round deep (see its Scaladoc for the lineage hazard); the
    // convergence-probed production form is Graph.kCoreFixpoint.
    "graph_kcore" -> QueryDef(
      fn = (s, d) => {
        val b = t(s, d, "events")
          .select(col("event_type"),
            graft.sources.Tables.eventMinute.as("mn"),
            col("user_id"))
          .distinct()
        val edges = b.as("x").join(b.as("y"),
            col("x.event_type") === col("y.event_type") &&
              col("x.mn") === col("y.mn") &&
              col("x.user_id") < col("y.user_id"))
          .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
          .distinct()
        graft.operators.Graph.kCore(edges, k = 3, rounds = 4)
          .orderBy("round")
      },
      oracle = Some(kcoreOracle)),

    // k-truss peeling (Cohen'08) over the same co-occurrence graph — the
    // EDGE-cohesion rung above k-core: an edge survives only with >= k-2
    // supporting triangles (k = 4 here: every kept co-activity pair must
    // close two independent triangles — the mutual-reinforcement
    // certificate spam-ring detection wants, strictly stronger than
    // degree). 3 synchronous rounds via Graph.kTruss (checkpointed
    // lineage like kCore); per-round support counting rides the
    // Schank-Wagner orientation, so each triangle is enumerated once and
    // hub wedge joins stay O(sqrt m). All integer — the oracle replays
    // the rounds as chained CTEs bit-exactly.
    "graph_ktruss" -> QueryDef(
      fn = (s, d) => {
        val b = t(s, d, "events")
          .select(col("event_type"),
            graft.sources.Tables.eventMinute.as("mn"),
            col("user_id"))
          .distinct()
        val edges = b.as("x").join(b.as("y"),
            col("x.event_type") === col("y.event_type") &&
              col("x.mn") === col("y.mn") &&
              col("x.user_id") < col("y.user_id"))
          .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
          .distinct()
        graft.operators.Graph.kTruss(edges, k = 4, rounds = 3)
          .orderBy("round")
      },
      oracle = Some(ktrussOracle)),

    // Label-propagation community detection (Raghavan et al., Phys. Rev. E
    // 2007) over the same co-occurrence graph, determinized: min-label
    // tie-break replaces the paper's random choice, every node starts as
    // its own community, 3 synchronous rounds (Graph.labelPropagation —
    // checkpointed per round like kCore). Census rows per round —
    // surviving distinct labels + nodes that switched — make convergence
    // visible (a zero-changed round means the labeling is stable), and
    // the fixed row count survives the empty graph at sf0.001 the same
    // way kCore's census does. All integer — the oracle replays the
    // rounds as chained CTEs; community QUALITY is graph_modularity's
    // readout next door.
    "graph_lpa" -> QueryDef(
      fn = (s, d) => graft.operators.Graph
        .labelPropagationCensus(coEdges(s, d), rounds = LpaRounds)
        .orderBy("round"),
      oracle = Some {
        val reports = (1 to LpaRounds).map { r =>
          s"""SELECT $r AS round,
                (SELECT CAST(count(DISTINCT label) AS BIGINT) FROM l$r)
                  AS n_labels,
                (SELECT CAST(count(*) AS BIGINT)
                 FROM l$r a JOIN l${r - 1} b
                   ON a.node = b.node AND a.label <> b.label) AS n_changed"""
        }.mkString(" UNION ALL ")
        s"""
        $lpaRoundsCte
        SELECT * FROM ($reports) ORDER BY round"""
      }),

    // Newman modularity (Newman & Girvan, Phys. Rev. E 2004) of the LPA
    // labeling — the quality score FOR the community structure the census
    // above reports: Q = (4m·Σe_c − Σd_c²)/4m², kept integer (Σd_c²
    // through DECIMAL(38,0)) until one closing IEEE division, so the
    // one-row readout hash-matches cross-engine. Q near 0 = no better
    // than random; the fixture's co-occurrence graph scores positive
    // because minute-bucket co-activity is genuinely assortative.
    "graph_modularity" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        // both consumers (propagation + modularity) read the edge set:
        // checkpoint the distinct self-join once instead of replaying it
        val edges = scope.checkpoint(coEdges(s, d))
        val labels = scope.adopt(
          graft.operators.Graph.labelPropagation(edges, rounds = LpaRounds))
        scope.result(graft.operators.Graph.modularity(edges, labels))
      },
      oracle = Some(s"""
        $lpaRoundsCte,
        deg AS MATERIALIZED (
          SELECT u AS node, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM e0 UNION ALL SELECT b FROM e0)
          GROUP BY u),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        intra AS (
          SELECT CAST(count(*) AS BIGINT) AS ie
          FROM e0 JOIN l$LpaRounds la ON la.node = e0.a
                  JOIN l$LpaRounds lb ON lb.node = e0.b
          WHERE la.label = lb.label),
        bc AS (
          SELECT CAST(count(*) AS BIGINT) AS nc,
                 coalesce(sum(CAST(dc AS DECIMAL(38,0)) * dc),
                          CAST(0 AS DECIMAL(38,0))) AS sumdc2
          FROM (SELECT l.label, CAST(sum(deg.dg) AS BIGINT) AS dc
                FROM deg JOIN l$LpaRounds l ON l.node = deg.node
                GROUP BY l.label))
        SELECT bc.nc AS n_communities, mm.m AS n_edges,
               intra.ie AS intra_edges,
               CASE WHEN mm.m > 0 THEN
                 round(CAST(CAST(4 * mm.m AS DECIMAL(38,0)) * intra.ie
                            - bc.sumdc2 AS DOUBLE)
                       / CAST(4 * mm.m * mm.m AS DOUBLE), 6)
               END AS modularity
        FROM bc, mm, intra""")),

    // Degree assortativity (Newman PRL'02) of the co-occurrence graph:
    // Pearson correlation of endpoint degrees over the directed edge
    // list — positive r = hubs attach to hubs (social core), negative =
    // hubs attach to leaves (star/bot-fanout topology). All moments
    // exact integers through DECIMAL(38,0) to one closing division.
    // Completes the graph stats ladder: census (triangles), cohesion
    // (kcore/ktruss), communities (lpa), quality (modularity), mixing
    // (this).
    "graph_assortativity" -> QueryDef(
      fn = (s, d) =>
        graft.operators.Graph.assortativity(coEdges(s, d)),
      oracle = Some("""
        WITH bk AS (
          SELECT DISTINCT event_type,
                 epoch_us(ts) // 60000000 AS mn, user_id
          FROM events),
        e0 AS MATERIALIZED (
          SELECT DISTINCT x.user_id AS a, y.user_id AS b
          FROM bk x JOIN bk y
            ON x.event_type = y.event_type AND x.mn = y.mn
               AND x.user_id < y.user_id),
        deg AS MATERIALIZED (
          SELECT u, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM e0 UNION ALL SELECT b FROM e0)
          GROUP BY u),
        dir AS (
          SELECT da.dg AS j, db.dg AS k
          FROM e0 JOIN deg da ON da.u = e0.a JOIN deg db ON db.u = e0.b
          UNION ALL
          SELECT db.dg AS j, da.dg AS k
          FROM e0 JOIN deg da ON da.u = e0.a JOIN deg db ON db.u = e0.b),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS m2,
                 coalesce(sum(CAST(j AS DECIMAL(38,0))),
                          CAST(0 AS DECIMAL(38,0))) AS sj,
                 coalesce(sum(CAST(j AS DECIMAL(38,0)) * k),
                          CAST(0 AS DECIMAL(38,0))) AS sjk,
                 coalesce(sum(CAST(j AS DECIMAL(38,0)) * j),
                          CAST(0 AS DECIMAL(38,0))) AS sj2
          FROM dir)
        SELECT m2 // 2 AS n_edges,
               CASE WHEN CAST(m2 AS DECIMAL(38,0)) * sj2 - sj * sj
                         <> CAST(0 AS DECIMAL(38,0))
                    THEN round(
                      CAST(CAST(m2 AS DECIMAL(38,0)) * sjk - sj * sj
                           AS DOUBLE)
                      / CAST(CAST(m2 AS DECIMAL(38,0)) * sj2 - sj * sj
                             AS DOUBLE), 6)
               END AS assortativity
        FROM agg""")),

    // Triangle census + global clustering coefficient over the user
    // co-occurrence graph (users sharing an (event_type, minute) activity
    // bucket — minute granularity keeps bucket occupancy small, so the
    // pair explode is bounded and the graph stays sparse; hour buckets
    // measured near-complete at sf0.1, which is a density artifact of the
    // fixture, not a graph signal). Degree-ordered edge
    // orientation (Schank–Wagner) makes each triangle match exactly once
    // and caps forward out-degree at O(√m) — the hub-safe plan a naive
    // wedge join lacks. All counts exact integers; one IEEE division
    // closes the coefficient.
    // Incremental degree maintenance — the base case of delta-vs-standing
    // graph upkeep (Graph.degreeMaintain): the standing degree table
    // absorbs an insert batch without re-aggregating history. The fed
    // delta is deliberately DIRTY — each edge twice (a retried batch) plus
    // a slice of edges already standing — so the oracle equality (degrees
    // of the FULL graph, histogrammed) proves the distinct + anti-join
    // guard made the update idempotent, not just additive. A sentinel
    // total row (dg = -1) is always present, so the query returns rows
    // even when the sf0.001 graph is empty (the RegistrySpec contract).
    "graph_degree_incr" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val edges = scope.checkpoint(coEdges(s, d))
        val delta = edges.where((col("a") + col("b")) % 5 === 0)
        val history = edges.where((col("a") + col("b")) % 5 =!= 0)
        val standing = history
          .select(explode(array(col("a"), col("b"))).as("u"))
          .groupBy("u").agg(count(lit(1)).as("dg"))
        // dirty batch: every delta edge twice + already-standing edges
        val dirty = delta.unionAll(delta)
          .unionAll(history.where((col("a") + col("b")) % 3 === 0))
        val maintained = graft.operators.Graph
          .degreeMaintain(standing, history, dirty)
          .localCheckpoint(true) // two readers below, and the returned plan
        maintained
          .groupBy("dg").agg(count(lit(1)).as("n_nodes"))
          .unionAll(maintained.agg(
            lit(-1L).as("dg"), count(lit(1)).as("n_nodes")))
          .orderBy("dg")
      },
      oracle = Some("""
        WITH bk AS (
          SELECT DISTINCT event_type,
                 epoch_us(ts) // 60000000 AS mn, user_id
          FROM events),
        e AS (
          SELECT DISTINCT x.user_id AS a, y.user_id AS b
          FROM bk x JOIN bk y
            ON x.event_type = y.event_type AND x.mn = y.mn
               AND x.user_id < y.user_id),
        deg AS (
          SELECT u, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e)
          GROUP BY u)
        SELECT dg, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY dg
        UNION ALL
        SELECT CAST(-1 AS BIGINT), CAST(count(*) AS BIGINT) FROM deg
        ORDER BY dg""")),

    // Incremental triangle census under edge inserts
    // (Graph.triangleInsert): the history's triangle count is a standing
    // scalar; only the delta joins the adjacency — each new triangle
    // charged to its lexicographically largest delta edge, so
    // O(delta x min-degree) work (the degree-ordered probe off the
    // standing degree table, r12), never a history re-enumeration. The
    // oracle computes history and full-graph censuses independently and
    // takes the difference — equality of n_tri_total pins the incremental
    // decomposition exact (and orientation-independent: the probe side is
    // a cost choice, not a semantic one).
    "graph_triangle_incr" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val edges = scope.checkpoint(coEdges(s, d))
        val delta = edges.where((col("a") + col("b")) % 5 === 0)
        val history = edges.where((col("a") + col("b")) % 5 =!= 0)
        // the standing state a production pipeline stores (maintained by
        // this very operator + degreeMaintain); here derived once from
        // the history census
        val standingTri = graft.operators.Graph.triangleStats(history)
          .head().getLong(3)
        // pinned like `edges`: triangleInsert scans the degree table once
        // per endpoint join, and production reads a STORED table — an
        // unpinned inline aggregate would honestly-but-pointlessly run
        // twice per probe
        val standingDeg = scope.checkpoint(history
          .select(explode(array(col("a"), col("b"))).as("u"))
          .groupBy("u").agg(count(lit(1)).as("dg")))
        // triangleInsert returns driver-side scalars as a literal row:
        // nothing references the checkpoints once it returns
        graft.operators.Graph.triangleInsert(history, delta,
          standingTri, standingDegrees = Some(standingDeg))
      },
      oracle = Some("""
        WITH bk AS (
          SELECT DISTINCT event_type,
                 epoch_us(ts) // 60000000 AS mn, user_id
          FROM events),
        e AS (
          SELECT DISTINCT x.user_id AS a, y.user_id AS b
          FROM bk x JOIN bk y
            ON x.event_type = y.event_type AND x.mn = y.mn
               AND x.user_id < y.user_id),
        eh AS (SELECT a, b FROM e WHERE (a + b) % 5 <> 0),
        degh AS (
          SELECT u, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM eh UNION ALL SELECT b AS u FROM eh)
          GROUP BY u),
        fh AS (
          SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.a ELSE e.b END AS s,
                 CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.b ELSE e.a END AS t
          FROM eh e JOIN degh da ON da.u = e.a JOIN degh db ON db.u = e.b),
        trih AS (
          SELECT CAST(count(*) AS BIGINT) AS t3
          FROM fh e1 JOIN fh e2 ON e2.s = e1.t
                     JOIN fh e3 ON e3.s = e1.s AND e3.t = e2.t),
        deg AS (
          SELECT u, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e)
          GROUP BY u),
        f AS (
          SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.a ELSE e.b END AS s,
                 CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.b ELSE e.a END AS t
          FROM e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b),
        tri AS (
          SELECT CAST(count(*) AS BIGINT) AS t3
          FROM f e1 JOIN f e2 ON e2.s = e1.t
                    JOIN f e3 ON e3.s = e1.s AND e3.t = e2.t)
        SELECT (SELECT t3 FROM trih) AS n_tri_history,
               (SELECT t3 FROM tri) - (SELECT t3 FROM trih) AS n_tri_delta,
               (SELECT t3 FROM tri) AS n_tri_total""")),

    "graph_triangles" -> QueryDef(
      fn = (s, d) => {
        val b = t(s, d, "events")
          .select(col("event_type"),
            graft.sources.Tables.eventMinute.as("mn"),
            col("user_id"))
          .distinct()
        val edges = b.as("x").join(b.as("y"),
            col("x.event_type") === col("y.event_type") &&
              col("x.mn") === col("y.mn") &&
              col("x.user_id") < col("y.user_id"))
          .select(col("x.user_id").as("a"), col("y.user_id").as("b"))
          .distinct()
        graft.operators.Graph.triangleStats(edges)
      },
      oracle = Some("""
        WITH bk AS (
          SELECT DISTINCT event_type,
                 epoch_us(ts) // 60000000 AS mn, user_id
          FROM events),
        e AS (
          SELECT DISTINCT x.user_id AS a, y.user_id AS b
          FROM bk x JOIN bk y
            ON x.event_type = y.event_type AND x.mn = y.mn
               AND x.user_id < y.user_id),
        deg AS (
          SELECT u, CAST(count(*) AS BIGINT) AS dg
          FROM (SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e)
          GROUP BY u),
        f AS (
          SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.a ELSE e.b END AS s,
                 CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                      THEN e.b ELSE e.a END AS t
          FROM e JOIN deg da ON da.u = e.a JOIN deg db ON db.u = e.b),
        tri AS (
          SELECT CAST(count(*) AS BIGINT) AS t3
          FROM f e1 JOIN f e2 ON e2.s = e1.t
                    JOIN f e3 ON e3.s = e1.s AND e3.t = e2.t),
        agg AS (
          SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
                 CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
                 CAST(coalesce((SELECT sum(dg * (dg - 1) // 2) FROM deg), 0)
                      AS BIGINT) AS n_wedges,
                 (SELECT t3 FROM tri) AS n_triangles)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges > 0
                    THEN round(3.0 * n_triangles / n_wedges, 6) END
                 AS clustering
        FROM agg"""))
  )

  /** k-core peeling rounds unrolled as chained CTEs from the same k/rounds
    * constants as the engine; all-integer so the replay is bit-exact. */
  private lazy val kcoreOracle: String = {
    val k = 3; val rounds = 4
    val its = (1 to rounds).map { r =>
      s"""d$r AS (
            SELECT u, count(*) AS dg
            FROM (SELECT a AS u FROM e${r - 1}
                  UNION ALL SELECT b FROM e${r - 1})
            GROUP BY u),
          e$r AS (
            SELECT e.a, e.b
            FROM e${r - 1} e
            JOIN d$r ka ON ka.u = e.a AND ka.dg >= $k
            JOIN d$r kb ON kb.u = e.b AND kb.dg >= $k)"""
    }.mkString(",\n")
    val reports = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
            (SELECT count(*) FROM d$r) AS n_nodes,
            (SELECT count(*) FROM d$r WHERE dg < $k) AS n_removed,
            (SELECT count(*) FROM e$r) AS n_edges_after"""
    }.mkString(" UNION ALL ")
    s"""
      WITH bk AS (
        SELECT DISTINCT event_type,
               epoch_us(ts) // 60000000 AS mn, user_id
        FROM events),
      e0 AS (
        SELECT DISTINCT x.user_id AS a, y.user_id AS b
        FROM bk x JOIN bk y
          ON x.event_type = y.event_type AND x.mn = y.mn
             AND x.user_id < y.user_id),
      $its
      SELECT * FROM ($reports) ORDER BY round"""
  }

  /** k-truss peeling rounds unrolled as chained CTEs from the same
    * k/rounds constants as the engine; orientation, triangle enumeration,
    * and support counts are all integer so the replay is bit-exact. */
  private lazy val ktrussOracle: String = {
    val k = 4; val rounds = 3
    val its = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
            SELECT u, count(*) AS dg
            FROM (SELECT a AS u FROM e${r - 1}
                  UNION ALL SELECT b FROM e${r - 1})
            GROUP BY u),
          f$r AS MATERIALIZED (
            SELECT e.a, e.b,
                   CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                        THEN e.a ELSE e.b END AS s,
                   CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.a < e.b)
                        THEN e.b ELSE e.a END AS t
            FROM e${r - 1} e
            JOIN d$r da ON da.u = e.a JOIN d$r db ON db.u = e.b),
          t$r AS MATERIALIZED (
            SELECT e1.a AS a1, e1.b AS b1, e2.a AS a2, e2.b AS b2,
                   e3.a AS a3, e3.b AS b3
            FROM f$r e1 JOIN f$r e2 ON e2.s = e1.t
                        JOIN f$r e3 ON e3.s = e1.s AND e3.t = e2.t),
          s$r AS MATERIALIZED (
            SELECT a, b, count(*) AS sup
            FROM (SELECT a1 AS a, b1 AS b FROM t$r
                  UNION ALL SELECT a2, b2 FROM t$r
                  UNION ALL SELECT a3, b3 FROM t$r)
            GROUP BY a, b),
          e$r AS MATERIALIZED (
            SELECT e.a, e.b
            FROM e${r - 1} e LEFT JOIN s$r s ON s.a = e.a AND s.b = e.b
            WHERE coalesce(s.sup, 0) >= ${k - 2})"""
    }.mkString(",\n")
    val reports = (1 to rounds).map { r =>
      s"""SELECT $r AS round,
            (SELECT count(*) FROM e${r - 1}) AS n_edges,
            (SELECT count(*) FROM e${r - 1})
              - (SELECT count(*) FROM e$r) AS n_removed,
            (SELECT count(*) FROM e$r) AS n_edges_after"""
    }.mkString(" UNION ALL ")
    s"""
      WITH bk AS MATERIALIZED (
        SELECT DISTINCT event_type,
               epoch_us(ts) // 60000000 AS mn, user_id
        FROM events),
      e0 AS MATERIALIZED (
        SELECT DISTINCT x.user_id AS a, y.user_id AS b
        FROM bk x JOIN bk y
          ON x.event_type = y.event_type AND x.mn = y.mn
             AND x.user_id < y.user_id),
      $its
      SELECT * FROM ($reports) ORDER BY round"""
  }

  /** Oracle iterations generated from the same constants as the engine
    * (Graph.DefaultScale, PagerankIters) so the two sides can't drift:
    * it{k} = base + (85 · Σ rank//od) // 100, all integer — `//` on
    * positive BIGINTs equals Spark's `DIV` truncation. */
  private lazy val pagerankOracle: String = {
    val scale = graft.operators.Graph.DefaultScale
    val base = 15L * scale / 100L
    val its = (1 to PagerankIters).map { k =>
      s"""it$k AS (
          SELECT n.node,
                 CAST($base + (85 * coalesce(s.insum, 0)) // 100 AS BIGINT)
                   AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, CAST(sum(e.rnk // e.od) AS BIGINT) AS insum
            FROM (SELECT ed.src, ed.dst, ed.od, r.rank AS rnk
                  FROM ed JOIN it${k - 1} r ON r.node = ed.src) e
            GROUP BY e.dst) s USING (node))"""
    }.mkString(",\n")
    s"""
      WITH edges AS (
        SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        UNION ALL
        SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
      ed AS (SELECT e.src, e.dst, d.od FROM edges e JOIN outdeg d USING (src)),
      nodes AS (SELECT DISTINCT src AS node FROM edges
                UNION SELECT DISTINCT dst FROM edges),
      it0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
      $its
      SELECT node, rank FROM it$PagerankIters ORDER BY node"""
  }
}
