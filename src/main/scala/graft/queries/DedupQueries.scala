package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Deduplication queries over `documents` (north-star): exact, MinHash+LSH
  * with exact-Jaccard verification, SimHash/Hamming. The oracle SQL mirrors
  * the same md5-derived hashes, band layout and thresholds, so candidate
  * generation is verified end-to-end, not just the final filter. */
object DedupQueries {
  import QueryDef._

  // The verified-pair / signature relations the MinHash report family is
  // built on. The inline derivation is the Verify/correctness path and the
  // default everywhere; an ARMED bench worker (graft.dedup.BenchShared —
  // never armed outside graft.Bench) reads the same relations from a
  // standing parquet index instead, the production MinHashIndex shape, so
  // each report times its own aggregate rather than the tenth re-signing
  // of the corpus per sweep (round-12 verdict, next-round item 1).
  private def pairs08(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.dedup.BenchShared.pairs(s, d).getOrElse(
      Dedup.minHashLshPairs(t(s, d, "documents"), threshold = 0.8))
  private def sigsShared(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.dedup.BenchShared.sigs(s, d)
  // the estimator-calibration pair: reuse the caller's already-persisted
  // signature relation when deriving inline (the corpus signature scan
  // must not run twice), the standing pairs table when armed
  private def pairs08OrDerive(s: org.apache.spark.sql.SparkSession, d: String,
      sigs: org.apache.spark.sql.DataFrame) =
    graft.dedup.BenchShared.pairs(s, d).getOrElse(
      Dedup.minHashLshPairs(t(s, d, "documents"), threshold = 0.8,
        precomputedSigs = Some(sigs)))

  // MinHash oracle fragments generated from the same constants as the
  // engine (MinHashSigs.Base/Scrambles, Dedup.NumHashes/NumBands), so the
  // two sides can't drift apart. The base hash is the same exact base-131
  // polynomial the native expression rolls (ASCII corpus: unicode() ==
  // byte), and each signature is min((h * A_i) mod 2^61) — computed in
  // HUGEINT because the product overflows BIGINT.
  private val TwoPow61 = "2305843009213693952"
  private val phExpr: String = {
    import graft.functions.MinHashSigs.Base
    val n = Dedup.ShingleSize
    (1 to n).map { j =>
      val pow = BigInt(Base).pow(n - j).toLong
      s"CAST(unicode(substr(shingle, $j, 1)) AS BIGINT) * $pow"
    }.mkString(" + ")
  }
  private val sigCols: String =
    (0 until Dedup.NumHashes)
      .map(i => s"min(CAST((CAST(h AS HUGEINT) * ${graft.functions.MinHashSigs.Scrambles(i)}) " +
        s"% $TwoPow61 AS BIGINT)) AS m$i")
      .mkString(", ")
  // Signature columns for the word-ngram MinHash
  // (Dedup.wordMinHashSignatures / native WordMinHashSigs): base hash is a
  // Horner fold (h*131 + codepoint) mod 2^61 over the shingle string
  // (list_reduce seeded by a prepended 0), scrambled per-signature by the
  // same odd multipliers mod 2^61 as the native expression. Java's
  // wraparound arithmetic + low-61-bit mask equals these HUGEINT mods
  // because 2^61 divides 2^64.
  private val wordHornerExpr: String = s"""
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(shingle) + 1),
          i -> CAST(unicode(substr(shingle, CAST(i AS INT), 1)) AS BIGINT))),
      (acc, c) -> CAST((CAST(acc AS HUGEINT) * ${graft.functions.WordMinHashSigs.Base}
                        + c) % $TwoPow61 AS BIGINT))"""
  private val wordSigCols: String =
    (0 until Dedup.NumHashes)
      .map { i =>
        val a = graft.functions.MinHashSigs.Scrambles(i)
        s"min(CAST((CAST(h AS HUGEINT) * $a) % $TwoPow61 AS BIGINT)) AS m$i"
      }
      .mkString(", ")
  // Signature-agreement sum for the LSH two-stage pre-filter: number of
  // equal minhash coordinates between the two candidate docs.
  private val agreeSumSql: String =
    (0 until Dedup.NumHashes)
      .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")

  private val bandSelects: String = {
    val r = Dedup.NumHashes / Dedup.NumBands
    (0 until Dedup.NumBands).map { j =>
      val key = (0 until r).map(p => s"CAST(m${j * r + p} AS VARCHAR)").mkString(", ")
      s"SELECT doc_id, $j AS band, concat_ws('-', $key) AS band_key FROM sigs"
    }.mkString(" UNION ALL ")
  }

  // Shared CTE fragments (kept in one place so the three oracles agree).
  // `src` lets a caller run the chain over a filtered CTE instead of the
  // raw table (the curation funnel dedups its survivors, not the corpus).
  private def shingleCte(src: String) = s"""
    sh AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), ${Dedup.ShingleSize}) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, length(text) - ${Dedup.ShingleSize - 1}))
                     AS i
            FROM $src WHERE length(text) >= ${Dedup.ShingleSize}))"""

  // The full MinHash-LSH pipeline (signatures → bands → candidates →
  // agreement pre-filter → exact Jaccard) as a CTE chain ending in
  // `pairs(doc_a, doc_b, jaccard)`. Shared verbatim by the pair query,
  // the clustering queries, and the corpus report so the oracles can
  // never diverge.
  private[queries] def minhashPairsCtes(
      threshold: Double, src: String = "documents"): String = s"""
    ${shingleCte(src)},
    ph AS (SELECT doc_id, $phExpr AS h FROM sh),
    sigs AS (
      SELECT doc_id, ${sigCols}
      FROM ph GROUP BY doc_id),
    bands AS ($bandSelects),
    cand0 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    cand AS (
      SELECT c.doc_a, c.doc_b
      FROM cand0 c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
      WHERE ($agreeSumSql) >= ${Dedup.minAgree(Dedup.NumHashes, threshold)}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_a
      JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
      GROUP BY c.doc_a, c.doc_b),
    pairs AS (
      SELECT i.doc_a, i.doc_b,
             round(i.i / (na.n + nb.n - i.i), 6) AS jaccard
      FROM inter i
      JOIN sizes na ON i.doc_a = na.doc_id
      JOIN sizes nb ON i.doc_b = nb.doc_id
      WHERE round(i.i / (na.n + nb.n - i.i), 6) >= $threshold)"""

  val defs: Map[String, QueryDef] = Map(

    // Exact dedup by canonical fingerprint: keeper id + copy count per
    // distinct content.
    "dedup_exact" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .groupBy("fp")
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id"),
      oracle = Some("""
        SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keep_id""")),

    // Per-source duplication data card: which domains/feeds generate the
    // copies — the triage view a crawl operator reads before tuning
    // source-level dedup or crawl frequency. One fingerprint groupBy per
    // (source, fp) then a source rollup; dup_rate = 1 − unique/docs as a
    // single IEEE division. Narrow relations only (source, fp) — the
    // text is hashed scan-side and never shuffled.
    "dedup_rate_by_source" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents")
          .select(col("source"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .groupBy("source", "fp").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_docs"),
            count(lit(1)).as("n_unique"),
            sum(col("c") - 1).as("n_dup_copies"))
          .select(col("source"), col("n_docs"), col("n_unique"),
            col("n_dup_copies"),
            round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 6)
              .as("dup_rate"))
          .orderBy("source"),
      oracle = Some("""
        WITH fps AS (
          SELECT source,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                 count(*) AS c
          FROM documents GROUP BY 1, 2)
        SELECT source,
               CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_unique,
               CAST(sum(c - 1) AS BIGINT) AS n_dup_copies,
               round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT), 6)
                 AS dup_rate
        FROM fps GROUP BY source ORDER BY source""")),

    // Corpus mixture-diversity data card: Shannon entropy and Simpson
    // index of the language and source mixtures — the two numbers a data
    // card quotes for "how concentrated is this corpus" (a crawl
    // dominated by one domain scores near 0 diversity however many rows
    // it has). Group-bounded aggregates only; per-group entropy terms
    // round to 6dp into DECIMAL so the sums are order-independent;
    // identical ln()/division structure on both engines.
    "corpus_diversity" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        def dim(c: String) = {
          // n = Σcnt over the group counts (an unpartitioned window over a
          // group-cardinality-bounded relation) — no second corpus scan
          // and no driver-side count() per dimension.
          val g = docs.groupBy(col(c).as("g")).agg(count(lit(1)).as("cnt"))
            .withColumn("n", sum(col("cnt")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()))
          val p = col("cnt").cast("double") / col("n").cast("double")
          g.agg(count(lit(1)).as("n_groups"),
              sum(round(p * log(p), 6).cast(DecimalType(18, 6))).as("hsum"),
              sum(round(p * p, 6).cast(DecimalType(18, 6))).as("ssum"))
            .select(lit(c).as("dim"), col("n_groups"),
              round(-col("hsum").cast("double"), 6).as("shannon"),
              round(lit(1.0) - col("ssum").cast("double"), 6).as("simpson"))
        }
        dim("lang").unionByName(dim("source")).orderBy("dim")
      },
      oracle = Some("""
        WITH n AS (SELECT count(*) AS n FROM documents),
        gl AS (SELECT lang AS g, count(*) AS cnt FROM documents GROUP BY lang),
        gs AS (SELECT source AS g, count(*) AS cnt FROM documents GROUP BY source),
        dl AS (
          SELECT 'lang' AS dim, CAST(count(*) AS BIGINT) AS n_groups,
                 round(-CAST(sum(CAST(round((CAST(cnt AS DOUBLE) / n.n)
                   * ln(CAST(cnt AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 6) AS shannon,
                 round(1.0 - CAST(sum(CAST(round((CAST(cnt AS DOUBLE) / n.n)
                   * (CAST(cnt AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 6) AS simpson
          FROM gl, n GROUP BY n.n),
        ds AS (
          SELECT 'source' AS dim, CAST(count(*) AS BIGINT) AS n_groups,
                 round(-CAST(sum(CAST(round((CAST(cnt AS DOUBLE) / n.n)
                   * ln(CAST(cnt AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 6) AS shannon,
                 round(1.0 - CAST(sum(CAST(round((CAST(cnt AS DOUBLE) / n.n)
                   * (CAST(cnt AS DOUBLE) / n.n), 6) AS DECIMAL(18,6)))
                   AS DOUBLE), 6) AS simpson
          FROM gs, n GROUP BY n.n)
        SELECT * FROM dl UNION ALL SELECT * FROM ds ORDER BY dim""")),

    // Incremental exact dedup, Bloom-accelerated: delta docs (ids ending
    // in 0) that are new vs the history (everything else) by canonical
    // fingerprint. The Bloom filter splits the delta scan-side — misses
    // never touch the history; only hits anti-join — and since Bloom
    // filters have no false negatives the result equals the plain
    // anti-join, which is exactly what the oracle runs.
    "dedup_exact_delta" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.exactDeltaNew(
          history = docs.where(col("doc_id") % 5 =!= 0),
          delta = docs.where(col("doc_id") % 5 === 0))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents d
        WHERE doc_id % 5 = 0
          AND NOT EXISTS (
            SELECT 1 FROM documents h
            WHERE h.doc_id % 5 <> 0
              AND md5(trim(regexp_replace(lower(h.text), '\s+', ' ', 'g')))
                  = md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))))
        ORDER BY doc_id""")),

    // The end-to-end curation funnel: quality gate → exact dedup →
    // MinHash near-dedup, each stage applied to the previous stage's
    // survivors, reported as the per-stage (docs, chars) data-card row a
    // release ships with. Composes the already-verified stage operators;
    // the oracle chains the same logic as CTEs (the near-dedup chain runs
    // over the survivor CTE via minhashPairsCtes(src)), so the COMPOSITION
    // is hash-checked, not just the parts. Scale shape: the survivor
    // relation is persisted once and feeds the count, the pair pipeline,
    // and the final anti-join; stage stats are one-row aggregates.
    "curation_funnel" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import org.apache.spark.sql.types.DecimalType
        val docs = t(s, d, "documents")
        // ONE text scan carries BOTH scan-side signals (quality AND the
        // exact-dedup fingerprint) plus n_chars into a NARROW checkpoint
        // (guide §2.1; r15) — the old shape re-read parquet text twice
        // more (the keepers fingerprint pass and the full-row `e`
        // checkpoint, which pushed corpus TEXT through executor block
        // storage — against this query's own 100 TB rule). Every stage
        // stat, the threshold, the keepers aggregate and both dedup
        // id-joins now run off narrow relations; the ONLY other text
        // read left is the MinHash signature scan, which re-reads
        // column-pruned parquet semi-joined to the survivor ids.
        // localCheckpoint (not persist) throughout this fn: each stage
        // feeds 2-3 consumers and a pin re-inlines the whole upstream
        // funnel into every consumer's plan (see
        // graft.dedup.Dedup.ngramJaccardPairs for the measured rationale;
        // this query read 9.1 s isolated before, 3.7 s after).
        val scored = scope.checkpoint(docs.select(col("doc_id"), col("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.fingerprint(col("text")).as("fp")))
        val thr: Double = scored
          .agg((sum(col("quality").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("t"))
          .head.getDouble(0)
        val q = scored.where(col("quality") >= lit(thr))
        val keepers = q
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select("doc_id")
        val e = scope.checkpoint(q.select("doc_id", "n_chars")
          .join(keepers, Seq("doc_id"), "left_semi"))
        val drop = Dedup.connectedComponents(
          Dedup.minHashLshPairs(
            docs.join(e.select("doc_id"), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("text")), 0.8))
          .where(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
        // no broadcast hint: the dropped-doc set is unbounded (dup-heavy
        // crawls shed 30-50% of docs) — let AQE pick the anti-join strategy
        val n4 = e.join(drop, Seq("doc_id"), "left_anti")
        def stat(no: Long, name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
            .select(lit(no).as("stage_no"), lit(name).as("stage"),
              col("n_docs"), col("n_chars"))
        scope.result(stat(1L, "raw", docs)
          .unionAll(stat(2L, "quality", q))
          .unionAll(stat(3L, "exact_dedup", e))
          .unionAll(stat(4L, "near_dedup", n4))
          .orderBy("stage_no"))
      },
      oracle = Some(s"""
        WITH RECURSIVE scored AS (
          SELECT *, ${TextQueries.qualitySql} AS quality FROM documents),
        q AS (
          SELECT * FROM scored
          WHERE quality >= (SELECT CAST(sum(CAST(quality AS DECIMAL(18,6)))
                                        AS DOUBLE) / count(*) FROM scored)),
        keepers AS (
          SELECT min(doc_id) AS doc_id FROM q
          GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
        e AS (SELECT * FROM q WHERE doc_id IN (SELECT doc_id FROM keepers)),
        ${minhashPairsCtes(0.8, src = "e")},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT ed.a, r.lbl FROM edges ed JOIN reach r ON r.node = ed.b),
        dropped AS (
          SELECT node FROM reach GROUP BY node HAVING min(lbl) <> node),
        n4 AS (SELECT * FROM e
               WHERE doc_id NOT IN (SELECT node FROM dropped))
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS stage_no, 'raw' AS stage,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
          UNION ALL
          SELECT CAST(2 AS BIGINT), 'quality', count(*),
                 CAST(sum(n_chars) AS BIGINT) FROM q
          UNION ALL
          SELECT CAST(3 AS BIGINT), 'exact_dedup', count(*),
                 CAST(sum(n_chars) AS BIGINT) FROM e
          UNION ALL
          SELECT CAST(4 AS BIGINT), 'near_dedup', count(*),
                 CAST(sum(n_chars) AS BIGINT) FROM n4)
        ORDER BY stage_no""")),

    // Cross-split leakage audit: near-dup pairs whose members land in
    // DIFFERENT train/val/test splits (same md5 buckets as split_assign)
    // — the eval-contamination report: a val/test doc near-duplicating a
    // train doc inflates eval scores. Fixed 3-row report shape (zeros
    // kept) so the check is alertable; the pair relation is the verified
    // MinHash pipeline, and the split map rides the banded join as two
    // narrow key joins.
    "split_leakage" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        def splitOf(c: org.apache.spark.sql.Column) = {
          val b = conv(substring(md5(c.cast("string")), 1, 4), 16, 10)
            .cast("long") % 100
          when(b < 90, "train").when(b < 95, "val").otherwise("test")
        }
        def rankOf(sc: org.apache.spark.sql.Column) =
          when(sc === "train", 1).when(sc === "val", 2).otherwise(3)
        val pairs = pairs08(s, d)
          .select(splitOf(col("doc_a")).as("sa"), splitOf(col("doc_b")).as("sb"))
          .where(col("sa") =!= col("sb"))
          .select(
            when(rankOf(col("sa")) <= rankOf(col("sb")), col("sa"))
              .otherwise(col("sb")).as("split_a"),
            when(rankOf(col("sa")) <= rankOf(col("sb")), col("sb"))
              .otherwise(col("sa")).as("split_b"))
          .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
        Seq(("train", "val"), ("train", "test"), ("val", "test"))
          .toDF("split_a", "split_b")
          .join(pairs, Seq("split_a", "split_b"), "left")
          .select(col("split_a"), col("split_b"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
          .orderBy("split_a", "split_b")
      },
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)},
        spl AS (
          SELECT doc_id,
                 CASE WHEN b < 90 THEN 'train'
                      WHEN b < 95 THEN 'val' ELSE 'test' END AS s,
                 CASE WHEN b < 90 THEN 1
                      WHEN b < 95 THEN 2 ELSE 3 END AS r
          FROM (SELECT doc_id,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                            AS BIGINT) % 100 AS b
                FROM documents)),
        crossed AS (
          SELECT CASE WHEN sa.r <= sb.r THEN sa.s ELSE sb.s END AS split_a,
                 CASE WHEN sa.r <= sb.r THEN sb.s ELSE sa.s END AS split_b
          FROM pairs p
          JOIN spl sa ON sa.doc_id = p.doc_a
          JOIN spl sb ON sb.doc_id = p.doc_b
          WHERE sa.s <> sb.s),
        agg AS (SELECT split_a, split_b, count(*) AS n_pairs
                FROM crossed GROUP BY 1, 2)
        SELECT d.split_a, d.split_b, coalesce(a.n_pairs, 0) AS n_pairs
        FROM (VALUES ('train', 'val'), ('train', 'test'), ('val', 'test'))
          d(split_a, split_b)
        LEFT JOIN agg a USING (split_a, split_b)
        ORDER BY split_a, split_b""")),

    // MinHash + LSH near-dup pairs, exact-Jaccard verified at 0.8 after a
    // signature-agreement pre-filter (the LSH two-stage verify). Oracle
    // mirrors the engine's rolling-polynomial signatures, contiguous
    // banding, AND the agreement cut — both the CASE-sum and the minimum
    // agreement are generated from the same Dedup constants the engine
    // uses, so the two sides cannot drift.
    "dedup_minhash_lsh" -> QueryDef(
      fn = (s, d) => Dedup.minHashLshPairs(t(s, d, "documents"), threshold = 0.8),
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)}
        SELECT doc_a, doc_b, jaccard FROM pairs
        ORDER BY doc_a, doc_b"""),
      bench = true),

    // Incremental near-dup: odd doc_ids play the delta batch, even ids the
    // already-ingested history. The engine only joins delta bands against
    // (history ∪ delta) bands — O(delta × occupancy), never O(history²) —
    // and must emit exactly the full pipeline's pairs that touch a delta
    // doc, which is what the oracle selects from the SAME shared CTEs.
    "dedup_minhash_incr" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.minHashLshPairsIncremental(
          history = docs.where(col("doc_id") % 2 === 0),
          delta = docs.where(col("doc_id") % 2 === 1),
          threshold = 0.8)
      },
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)}
        SELECT doc_a, doc_b, jaccard FROM pairs
        WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
        ORDER BY doc_a, doc_b""")),

    // MinHash estimator calibration: per verified near-dup pair, the
    // signature-agreement Jaccard estimate (agreeing coordinates / k —
    // the unbiased estimator the two-stage pre-filter thresholds on)
    // against the exact shingle-set Jaccard. The companion eval to
    // dedup_lsh_recall: recall grades the BANDS, this grades the
    // SIGNATURES — a drifting estimator silently mistunes minAgree and
    // shows up here as systematic abs_err before it costs recall.
    // Sketch-calibration checks run on the pair relation (tiny), never
    // the corpus. The signature relation is computed ONCE (persisted)
    // and shared between the pairs pipeline and the agreement columns —
    // the corpus signature scan must not run twice; the estimator
    // divisor derives from Dedup.NumHashes on both sides so a hash-count
    // retune cannot silently skew it.
    "dedup_minhash_est_quality" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val docs = t(s, d, "documents")
        val sigs = scope.persist(sigsShared(s, d).getOrElse(Dedup.minHashSignatures(docs)))
        val pairs = pairs08OrDerive(s, d, sigs)
        val sa = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_a" else s"${c}_a"): _*)
        val sb = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_b" else s"${c}_b"): _*)
        val agree = (0 until Dedup.NumHashes)
          .map(i => when(col(s"m${i}_a") === col(s"m${i}_b"), 1).otherwise(0))
          .reduce(_ + _)
        val k = lit(Dedup.NumHashes.toDouble)
        scope.result(pairs.join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            round(agree / k, 6).as("est"),
            round(abs(agree / k - col("jaccard")), 6).as("abs_err"))
          .orderBy("doc_a", "doc_b"))
      },
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)}
        SELECT p.doc_a, p.doc_b, p.jaccard,
               round(($agreeSumSql) / ${Dedup.NumHashes}.0, 6) AS est,
               round(abs(($agreeSumSql) / ${Dedup.NumHashes}.0 - p.jaccard), 6) AS abs_err
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
        ORDER BY p.doc_a, p.doc_b""")),

    // b-bit minwise hashing calibration (Li–König, CACM'11): store only
    // the LOWEST 2 BITS of each minhash coordinate — 4 bytes per doc for
    // the whole 16-coordinate signature instead of 128, the storage shape
    // a 100 TB standing signature index actually wants — and correct the
    // estimator for random low-bit collisions: E[agree_b] = C + (1−C)·J
    // with C = 2^(−b), so Ĵ = (A − ¼)/(¾) = (a − 4)/12 for integer
    // agreement count a, clamped at 0. This query grades that trade per
    // verified pair: exact Jaccard, the full-width estimate (a_full/16),
    // and the 2-bit estimate side by side with both absolute errors —
    // the compression-calibration view read before shrinking the index.
    // One persisted signature scan feeds the pairs pipeline and both
    // agreement columns; everything after the pair relation is
    // pair-bounded. All estimates are integer ratios — exact on both
    // engines.
    "dedup_minhash_bbit" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val docs = t(s, d, "documents")
        val sigs = scope.persist(sigsShared(s, d).getOrElse(Dedup.minHashSignatures(docs)))
        val pairs = pairs08OrDerive(s, d, sigs)
        val sa = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_a" else s"${c}_a"): _*)
        val sb = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_b" else s"${c}_b"): _*)
        val agreeFull = (0 until Dedup.NumHashes)
          .map(i => when(col(s"m${i}_a") === col(s"m${i}_b"), 1).otherwise(0))
          .reduce(_ + _)
        val agreeB = (0 until Dedup.NumHashes)
          .map(i => when(col(s"m${i}_a") % 4 === col(s"m${i}_b") % 4, 1)
            .otherwise(0))
          .reduce(_ + _)
        val k = lit(Dedup.NumHashes.toDouble)
        val estFull = agreeFull / k
        val estB = greatest(agreeB - 4, lit(0)).cast("double") / lit(12.0)
        scope.result(pairs.join(sa, "doc_a").join(sb, "doc_b")
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            round(estFull, 6).as("est_full"),
            round(estB, 6).as("est_2bit"),
            round(abs(estFull - col("jaccard")), 6).as("err_full"),
            round(abs(estB - col("jaccard")), 6).as("err_2bit"))
          .orderBy("doc_a", "doc_b"))
      },
      oracle = Some({
        val agreeBSql = (0 until Dedup.NumHashes)
          .map(i => s"CASE WHEN sa.m$i % 4 = sb.m$i % 4 THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH ${minhashPairsCtes(0.8)}
        SELECT p.doc_a, p.doc_b, p.jaccard,
               round(($agreeSumSql) / ${Dedup.NumHashes}.0, 6) AS est_full,
               round(CAST(greatest(($agreeBSql) - 4, 0) AS DOUBLE) / 12.0, 6)
                 AS est_2bit,
               round(abs(($agreeSumSql) / ${Dedup.NumHashes}.0 - p.jaccard), 6)
                 AS err_full,
               round(abs(CAST(greatest(($agreeBSql) - 4, 0) AS DOUBLE) / 12.0
                         - p.jaccard), 6) AS err_2bit
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
        ORDER BY p.doc_a, p.doc_b"""
      })),

    // LSH recall evaluation — the dedup twin of sim_ann_recall: how many
    // of the TRUE near-dup pairs (exact all-pairs Jaccard >= 0.8) does
    // the banded MinHash pipeline actually surface? Recall < 1 means a
    // true pair collided in no band (or died in the agreement
    // pre-filter) — the quality number to re-check whenever band/hash
    // constants are tuned. The exact reference is quadratic BY DESIGN and
    // therefore runs on a capped slice (doc_id < 200, the same
    // bounded-ground-truth pattern as sim_ann_recall's probe set); its
    // candidate join is keyed on shared shingles — an equi-join, so even
    // the reference never plans a cartesian product. The LSH side is the
    // unmodified production pipeline on the same slice. Both paths AND
    // the intersection count replay in the oracle.
    "dedup_lsh_recall" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val slice = t(s, d, "documents").where(col("doc_id") < 200)
        val lsh = Dedup.minHashLshPairs(slice, threshold = 0.8)
          .select("doc_a", "doc_b")
        // localCheckpoint: sh feeds four join sides (rationale at
        // graft.dedup.Dedup.ngramJaccardPairs)
        val sh = scope.checkpoint(Dedup.shingles(slice))
        val cand = sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val exact = Dedup.jaccard(cand, sh).where(col("jaccard") >= 0.8)
          .select("doc_a", "doc_b")
        val rep = exact
          .join(lsh.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
            coalesce(sum(coalesce(col("hit"), lit(0))), lit(0)).cast("long")
              .as("n_hit"))
          .select(col("n_exact"), col("n_hit"),
            when(col("n_exact") === 0, lit(1.0))
              .otherwise(round(col("n_hit").cast("double") /
                col("n_exact").cast("double"), 6)).as("recall"))
        scope.result(rep)
      },
      oracle = Some(s"""
        WITH sl AS (SELECT * FROM documents WHERE doc_id < 200),
        ${minhashPairsCtes(0.8, src = "sl")},
        ecand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        einter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM ecand c
          JOIN sh s1 ON s1.doc_id = c.doc_a
          JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
          GROUP BY c.doc_a, c.doc_b),
        epairs AS (
          SELECT i.doc_a, i.doc_b
          FROM einter i
          JOIN sizes na ON i.doc_a = na.doc_id
          JOIN sizes nb ON i.doc_b = nb.doc_id
          WHERE round(i.i / (na.n + nb.n - i.i), 6) >= 0.8),
        rep AS (
          SELECT count(*) AS n_exact,
                 CAST(coalesce(sum(CASE WHEN p.doc_a IS NOT NULL
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_hit
          FROM epairs e
          LEFT JOIN pairs p ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b)
        SELECT n_exact, n_hit,
               CASE WHEN n_exact = 0 THEN 1.0
                    ELSE round(CAST(n_hit AS DOUBLE) /
                               CAST(n_exact AS DOUBLE), 6) END AS recall
        FROM rep""")),

    // Near-dup graph degree census: how many near-dup partners each doc
    // in a verified MinHash pair has, histogrammed — the one-glance shape
    // check on the duplicate graph (a fat tail = template families /
    // boilerplate hubs where pair volume, CC depth, and keeper-choice
    // cost concentrate; a healthy crawl is mostly degree 1-2). Docs with
    // no near-dup partner are out of scope (both sides count only docs
    // that appear in a pair). Cost: two group-bounded aggregates over the
    // PAIR relation (tiny — candidates already banded+verified), with the
    // pair pipeline persisted so its signature scan runs once across the
    // two directional references.
    "dedup_degree_hist" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val pairs = scope.persist(pairs08(s, d)
          .select("doc_a", "doc_b"))
        scope.result(pairs.select(col("doc_a").as("doc"))
          .unionAll(pairs.select(col("doc_b").as("doc")))
          .groupBy("doc").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_docs"))
          .orderBy("degree"))
      },
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)},
        ends AS (
          SELECT doc_a AS doc FROM pairs
          UNION ALL
          SELECT doc_b FROM pairs),
        deg AS (SELECT doc, count(*) AS degree FROM ends GROUP BY doc)
        SELECT degree, count(*) AS n_docs
        FROM deg GROUP BY degree ORDER BY degree""")),

    // Duplicate-cluster assignment: connected components over the verified
    // MinHash-LSH pairs — every doc in a near-dup pair labeled with the
    // smallest doc_id reachable through pair edges (its cluster's
    // canonical keeper). Engine: iterative min-label propagation over the
    // pair relation; oracle: recursive CTE computing the same unique
    // fixpoint.
    "dedup_clusters" -> QueryDef(
      fn = (s, d) =>
        Dedup.connectedComponents(pairs08(s, d))
          .orderBy("doc_id"),
      oracle = Some(s"""
        WITH RECURSIVE ${minhashPairsCtes(0.8)},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b)
        SELECT node AS doc_id, min(lbl) AS cluster_id
        FROM reach GROUP BY node
        ORDER BY doc_id""")),

    // Verified-pair Jaccard histogram (0.02-wide bins): where the
    // near-dup mass sits between the 0.8 threshold and exact duplication
    // — mass piled AT the threshold means the cut is splitting a dense
    // similarity cloud (move it or expect instability between crawls);
    // mass at 1.0 means mirrors/exact copies LSH is re-finding. The
    // threshold-placement view next to dedup_lsh_recall (which grades
    // whether pairs are FOUND, this grades where they LAND). One
    // group-bounded aggregate over the verified pair relation.
    "dedup_jaccard_hist" -> QueryDef(
      fn = (s, d) =>
        pairs08(s, d)
          .select(floor(col("jaccard") * 50).cast("long").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
          .orderBy("bin"),
      oracle = Some(s"""
        WITH ${minhashPairsCtes(0.8)}
        SELECT CAST(floor(jaccard * 50) AS BIGINT) AS bin,
               count(*) AS n_pairs
        FROM pairs GROUP BY 1 ORDER BY bin""")),

    // Decision-rule sweep over the estimator threshold: at each candidate
    // cut t, the pairs the SIGNATURE ESTIMATOR would keep (agree/k >= t)
    // versus the pairs that are TRULY >= t by exact Jaccard — per-threshold
    // precision AND recall of the thresholded estimator, the tuning curve
    // read before moving a dedup release's threshold (dedup_lsh_recall
    // grades the bands at ONE cut; dedup_minhash_est_quality grades the
    // estimator pointwise; this grades the DECISION RULE across the
    // plausible operating range — near the cut the estimator's
    // sqrt(J(1-J)/k) noise misclassifies in both directions, and this is
    // where that shows up as precision/recall loss). Ground truth is
    // quadratic by design, so it runs on the same capped slice as
    // dedup_lsh_recall (doc_id < 200) with candidates keyed on shared
    // shingles (equi-join, never cartesian). One bounded pair relation
    // carries both scores; the 5-cut ladder explodes over that tiny
    // relation, never the corpus. est = agree/16 is an exact power-of-two
    // division on both engines, so cut comparisons cannot drift.
    "dedup_threshold_sweep" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val slice = t(s, d, "documents").where(col("doc_id") < 200)
        // localCheckpoint: sh feeds four join sides (rationale at
        // graft.dedup.Dedup.ngramJaccardPairs)
        val sh = scope.checkpoint(Dedup.shingles(slice))
        val cand = sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val sigs = Dedup.minHashSignatures(slice)
        val sa = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_a" else s"${c}_a"): _*)
        val sb = sigs.toDF(sigs.columns.map(c =>
          if (c == "doc_id") "doc_b" else s"${c}_b"): _*)
        val agree = (0 until Dedup.NumHashes)
          .map(i => when(col(s"m${i}_a") === col(s"m${i}_b"), 1).otherwise(0))
          .reduce(_ + _)
        val scored = scope.checkpoint(Dedup.jaccard(cand, sh)
          .join(sa, "doc_a").join(sb, "doc_b")
          .select(col("jaccard"),
            (agree.cast("double") / Dedup.NumHashes).as("est")))
        val cuts = Seq(0.7, 0.75, 0.8, 0.85, 0.9)
        scope.result(scored
          .select(col("jaccard"), col("est"),
            explode(array(cuts.map(lit(_)): _*)).as("thr"))
          .groupBy("thr")
          .agg(
            sum(when(col("jaccard") >= col("thr"), 1L).otherwise(0L))
              .as("n_true"),
            sum(when(col("est") >= col("thr"), 1L).otherwise(0L))
              .as("n_pred"),
            sum(when(col("jaccard") >= col("thr") && col("est") >= col("thr"),
              1L).otherwise(0L)).as("n_tp"))
          .select(col("thr"), col("n_true"), col("n_pred"), col("n_tp"),
            when(col("n_pred") === 0, lit(1.0))
              .otherwise(round(col("n_tp").cast("double")
                / col("n_pred").cast("double"), 6)).as("prec"),
            when(col("n_true") === 0, lit(1.0))
              .otherwise(round(col("n_tp").cast("double")
                / col("n_true").cast("double"), 6)).as("recall"))
          .orderBy("thr"))
      },
      oracle = Some(s"""
        WITH sl AS (SELECT * FROM documents WHERE doc_id < 200),
        ${minhashPairsCtes(0.8, src = "sl")},
        ecand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        einter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM ecand c
          JOIN sh s1 ON s1.doc_id = c.doc_a
          JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
          GROUP BY c.doc_a, c.doc_b),
        escore AS (
          SELECT round(i.i / (na.n + nb.n - i.i), 6) AS jaccard,
                 CAST(($agreeSumSql) AS DOUBLE) / ${Dedup.NumHashes} AS est
          FROM einter i
          JOIN sizes na ON i.doc_a = na.doc_id
          JOIN sizes nb ON i.doc_b = nb.doc_id
          JOIN sigs sa ON sa.doc_id = i.doc_a
          JOIN sigs sb ON sb.doc_id = i.doc_b),
        ts AS (SELECT CAST(unnest([0.7, 0.75, 0.8, 0.85, 0.9]) AS DOUBLE)
                 AS thr)
        SELECT thr,
               CAST(sum(CASE WHEN jaccard >= thr THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_true,
               CAST(sum(CASE WHEN est >= thr THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pred,
               CAST(sum(CASE WHEN jaccard >= thr AND est >= thr
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
               CASE WHEN sum(CASE WHEN est >= thr THEN 1 ELSE 0 END) = 0
                    THEN 1.0
                    ELSE round(
                      CAST(sum(CASE WHEN jaccard >= thr AND est >= thr
                               THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CASE WHEN est >= thr THEN 1 ELSE 0 END)
                             AS DOUBLE), 6) END AS prec,
               CASE WHEN sum(CASE WHEN jaccard >= thr THEN 1 ELSE 0 END) = 0
                    THEN 1.0
                    ELSE round(
                      CAST(sum(CASE WHEN jaccard >= thr AND est >= thr
                               THEN 1 ELSE 0 END) AS DOUBLE)
                      / CAST(sum(CASE WHEN jaccard >= thr THEN 1 ELSE 0 END)
                             AS DOUBLE), 6) END AS recall
        FROM escore, ts
        GROUP BY thr ORDER BY thr""")),

    // Cluster-size census over the near-dup connected components: how
    // many clusters of each size the corpus carries — the companion to
    // dedup_degree_hist one level up (degrees grade the PAIR graph, this
    // grades the CLUSTERS the release actually collapses; a giant
    // component here means the LSH threshold chains unrelated docs
    // through hubs before dedup_apply drops half the corpus). Sizes
    // count singleton-free clusters (only docs appearing in a pair);
    // two group-bounded aggregates over the pair-sized clustering.
    "dedup_cluster_size_hist" -> QueryDef(
      fn = (s, d) =>
        Dedup.connectedComponents(pairs08(s, d))
          .groupBy("cluster_id").agg(count(lit(1)).as("size"))
          .groupBy("size").agg(count(lit(1)).as("n_clusters"))
          .orderBy("size"),
      oracle = Some(s"""
        WITH RECURSIVE ${minhashPairsCtes(0.8)},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        cc AS (
          SELECT node AS doc_id, min(lbl) AS cluster_id
          FROM reach GROUP BY node),
        sz AS (SELECT cluster_id, count(*) AS size FROM cc GROUP BY 1)
        SELECT size, count(*) AS n_clusters
        FROM sz GROUP BY size ORDER BY size""")),

    // The payoff step: materialize the DEDUPLICATED corpus — every doc
    // survives except cluster members that are not their cluster's
    // canonical keeper (min doc_id). Engine: anti-join against the
    // non-keeper rows of the clustering. The dropped-doc set is unbounded
    // (dup-heavy crawls shed 30-50% of docs), so no broadcast hint — AQE
    // broadcasts when the set is actually small, shuffles when not.
    "dedup_apply" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val drop = Dedup.connectedComponents(pairs08(s, d))
          .where(col("doc_id") =!= col("cluster_id"))
          .select("doc_id")
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${minhashPairsCtes(0.8)},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        dropped AS (
          SELECT node FROM reach GROUP BY node HAVING min(lbl) <> node)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT node FROM dropped)
        ORDER BY doc_id""")),

    // dedup_apply keeps each cluster's min doc_id — the cheap canonical
    // choice. This variant keeps the member a release actually wants: the
    // HIGHEST-QUALITY copy per near-dup cluster (quality DESC, doc_id
    // tie-break). Cost over dedup_apply is one narrow quality projection
    // joined to the pair-sized clustering — the corpus text is scored
    // once, scan-side; cluster membership stays pair-sized.
    "dedup_apply_best" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val clusters = Dedup.connectedComponents(pairs08(s, d))
        // score only cluster MEMBERS: the semi-join prunes the scan before
        // the regex-heavy scoring projection runs, so non-duplicated docs
        // (the vast majority) never pay it
        val scored = docs
          .join(clusters.select("doc_id"), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("q"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster_id")).orderBy(col("q").desc, col("doc_id"))
        val drop = clusters.join(scored, "doc_id")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") =!= 1)
          .select("doc_id")
        docs.join(drop, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${minhashPairsCtes(0.8)},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        clusters AS (
          SELECT node AS doc_id, min(lbl) AS cluster_id
          FROM reach GROUP BY node),
        scored AS (
          SELECT doc_id, ${TextQueries.qualitySql} AS q FROM documents),
        ranked AS (
          SELECT c.doc_id,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY s.q DESC, c.doc_id) AS rn
          FROM clusters c JOIN scored s USING (doc_id)),
        dropped AS (SELECT doc_id FROM ranked WHERE rn <> 1)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        ORDER BY doc_id""")),

    // Winnowing-fingerprint near-dup pairs (Schleimer et al. SIGMOD'03 —
    // the MOSS pipeline shape): the scan-side Winnow kernel selects
    // ~2/(w+1)-density 16-gram fingerprints per doc, a doc-frequency cap
    // (df <= 10) drops boilerplate fingerprints BEFORE the pair join (at
    // sf0.01 8-gram fps reach df 390 — one shared prefix would explode
    // the join; 16-gram max df is 13, and the cap is the standard
    // stop-fingerprint discipline), then pairs sharing >= 3 surviving
    // fingerprints report with a resemblance score over the kept sets.
    // Relative to MinHash-LSH this is the POSITIONAL family: a shared
    // fingerprint certifies a literal >= 31-char overlap (w+k-1), so it
    // catches contiguous plagiarism/quotation that bag-of-shingles
    // resemblance dilutes. Every join is equi on the fingerprint or doc
    // key; the fingerprint relation is ~1/8 the gram volume by
    // construction.
    "dedup_winnow_pairs" -> QueryDef(
      fn = (s, d) => Dedup.winnowPairs(t(s, d, "documents")),
      oracle = Some(s"""
        WITH ${graft.functions.Winnow.fpCtesSql(16, 16)},
        fps AS (SELECT DISTINCT doc_id, h FROM selq),
        dfc AS (SELECT h, count(*) AS df FROM fps GROUP BY h),
        keep AS (
          SELECT f.doc_id, f.h FROM fps f
          JOIN dfc ON dfc.h = f.h WHERE dfc.df <= 10),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM keep GROUP BY doc_id),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM keep a JOIN keep b
            ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, p.shared,
               round(CAST(p.shared AS DOUBLE)
                     / CAST(na.n + nb.n - p.shared AS DOUBLE), 6)
                 AS resemblance
        FROM pairs p
        JOIN sizes na ON na.doc_id = p.doc_a
        JOIN sizes nb ON nb.doc_id = p.doc_b
        WHERE p.shared >= 3
        ORDER BY p.doc_a, p.doc_b""")),

    // Incremental winnowing pairs: only fingerprint collisions TOUCHING
    // the delta (odd doc_ids; evens are standing history) are probed —
    // the delta-sized kept-fp relation equi-joins the standing fp table
    // once, O(delta) like every other _incr in the family (in production
    // the fp and df tables are standing and additively maintained; df is
    // corpus-global so the stop-fingerprint cap cannot drift between the
    // batch and incremental paths). The (b even OR a < b) join predicate
    // emits delta-standing pairs once from the delta side and
    // delta-delta pairs once in canonical order — no post-hoc DISTINCT.
    // Equals the full pipeline restricted to pairs with a delta side,
    // which is exactly how the oracle replays it.
    "dedup_winnow_incr" -> QueryDef(
      fn = (s, d) => Dedup.winnowPairsIncremental(
        t(s, d, "documents"), deltaPred = _ % 2 === 1),
      oracle = Some(s"""
        WITH ${graft.functions.Winnow.fpCtesSql(16, 16)},
        fps AS (SELECT DISTINCT doc_id, h FROM selq),
        dfc AS (SELECT h, count(*) AS df FROM fps GROUP BY h),
        keep AS (
          SELECT f.doc_id, f.h FROM fps f
          JOIN dfc ON dfc.h = f.h WHERE dfc.df <= 10),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM keep GROUP BY doc_id),
        pairs AS (
          SELECT least(a.doc_id, b.doc_id) AS doc_a,
                 greatest(a.doc_id, b.doc_id) AS doc_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM keep a JOIN keep b
            ON a.h = b.h AND a.doc_id <> b.doc_id
           AND (b.doc_id % 2 = 0 OR a.doc_id < b.doc_id)
          WHERE a.doc_id % 2 = 1
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b, p.shared,
               round(CAST(p.shared AS DOUBLE)
                     / CAST(na.n + nb.n - p.shared AS DOUBLE), 6)
                 AS resemblance
        FROM pairs p
        JOIN sizes na ON na.doc_id = p.doc_a
        JOIN sizes nb ON nb.doc_id = p.doc_b
        WHERE p.shared >= 3
        ORDER BY p.doc_a, p.doc_b""")),

    // Word-3-gram Jaccard near-dup pairs: LSH candidates from scan-side
    // word MinHash (native WordMinHashSigs), exact Jaccard at 0.5.
    // Signature minima run over the shingle MULTISET in the engine and the
    // DISTINCT set here — min is identical either way.
    "dedup_ngram_jaccard" -> QueryDef(
      fn = (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.5),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM toks WHERE len(toks) >= 3)),
        ph AS (SELECT doc_id, $wordHornerExpr AS h FROM sh),
        sigs AS (
          SELECT doc_id, ${wordSigCols}
          FROM ph GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.doc_a
          JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
          GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b,
               round(i.i / (na.n + nb.n - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes na ON i.doc_a = na.doc_id
        JOIN sizes nb ON i.doc_b = nb.doc_id
        WHERE round(i.i / (na.n + nb.n - i.i), 6) >= 0.5
        ORDER BY doc_a, doc_b""")),

    // Containment-scored near-dup pairs (Broder's containment,
    // |A∩B| / min(|A|,|B|)): catches SUBSET duplication — one doc quoting
    // or wholly containing another — where the size skew keeps Jaccard
    // low. Same scan-side word-MinHash banding as dedup_ngram_jaccard
    // (the scale path stays bucketed, never all-pairs); only the exact
    // verify formula differs. Containment >= Jaccard always, so jaccard
    // pairs above the threshold are a SUBSET of containment pairs — the
    // extra pairs (like a 100-token doc embedded in a 10k-token one:
    // J ≈ 0.01, containment 1.0) are this operator's reason to exist.
    "dedup_containment" -> QueryDef(
      fn = (s, d) => Dedup.ngramContainmentPairs(t(s, d, "documents"), threshold = 0.6),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM toks WHERE len(toks) >= 3)),
        ph AS (SELECT doc_id, $wordHornerExpr AS h FROM sh),
        sigs AS (
          SELECT doc_id, ${wordSigCols}
          FROM ph GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.doc_a
          JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
          GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b,
               round(i.i / least(na.n, nb.n), 6) AS containment
        FROM inter i
        JOIN sizes na ON i.doc_a = na.doc_id
        JOIN sizes nb ON i.doc_b = nb.doc_id
        WHERE round(i.i / least(na.n, nb.n), 6) >= 0.6
        ORDER BY doc_a, doc_b""")),

    // Incremental containment: only band collisions touching the delta
    // (odd doc_ids; evens are standing history) are probed — O(delta)
    // band joins against the standing band table. Equals the full
    // containment pipeline restricted to pairs with a delta side, which
    // is exactly how the oracle replays it.
    "dedup_containment_incr" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.ngramContainmentPairsIncremental(
          history = docs.where(col("doc_id") % 2 === 0),
          delta = docs.where(col("doc_id") % 2 === 1),
          threshold = 0.6)
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM toks WHERE len(toks) >= 3)),
        ph AS (SELECT doc_id, $wordHornerExpr AS h FROM sh),
        sigs AS (
          SELECT doc_id, ${wordSigCols}
          FROM ph GROUP BY doc_id),
        bands AS ($bandSelects),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c
          JOIN sh s1 ON s1.doc_id = c.doc_a
          JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
          GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b,
               round(i.i / least(na.n, nb.n), 6) AS containment
        FROM inter i
        JOIN sizes na ON i.doc_a = na.doc_id
        JOIN sizes nb ON i.doc_b = nb.doc_id
        WHERE round(i.i / least(na.n, nb.n), 6) >= 0.6
          AND (i.doc_a % 2 = 1 OR i.doc_b % 2 = 1)
        ORDER BY doc_a, doc_b""")),

    // Exact duplicated-substring coverage (Lee et al. ACL'22 within-corpus
    // exact-substring dedup): word-8-grams occurring >= 2 times corpus-wide
    // are merged per doc into maximal spans (gaps-and-islands); reports
    // per-doc span count / covered tokens / coverage ratio. The oracle
    // replays the identical gram hashing, duplicate cut, and island merge.
    "dedup_span_stats" -> QueryDef(
      fn = (s, d) => Dedup.duplicatedSpanStats(t(s, d, "documents"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        WITH $spanIslandCtes,
        doc_agg AS (
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
          FROM isl_agg GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(d.n_spans, 0) AS n_spans,
               coalesce(d.dup_tokens, 0) AS dup_tokens,
               round(coalesce(d.dup_tokens, 0) * 1.0 / b.n_tokens, 6) AS dup_ratio
        FROM base b LEFT JOIN doc_agg d USING (doc_id)
        ORDER BY doc_id""")),

    // Incremental exact-substring coverage: odd doc_ids are the delta,
    // even the history — the engine touches only delta grams plus the
    // history's (hash, count) table, never history text, and must equal
    // the full corpus-wide pipeline filtered to delta docs (a delta doc's
    // coverage depends only on gram TOTALS, which history counts supply).
    "dedup_span_incr" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.duplicatedSpanStatsIncremental(
          history = docs.where(col("doc_id") % 2 === 0),
          delta = docs.where(col("doc_id") % 2 === 1))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $spanIslandCtes,
        doc_agg AS (
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
          FROM isl_agg GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(d.n_spans, 0) AS n_spans,
               coalesce(d.dup_tokens, 0) AS dup_tokens,
               round(coalesce(d.dup_tokens, 0) * 1.0 / b.n_tokens, 6) AS dup_ratio
        FROM base b LEFT JOIN doc_agg d USING (doc_id)
        WHERE b.doc_id % 2 = 1
        ORDER BY doc_id""")),

    // Cross-SNAPSHOT exact-substring containment (even doc_ids play the
    // previous crawl, odds the current one): per current doc, the spans
    // whose 8-gram content existed anywhere in the previous snapshot —
    // "how much of today's crawl is yesterday's text". Same-batch
    // repetition is deliberately invisible (vs dedup_span_incr, which
    // counts history+delta totals). Both sides are corpus-scale, so the
    // flagging semi-join on the 32-byte gram hash carries NO broadcast
    // hint — AQE decides (shuffle at corpus scale) — or probes the
    // standing gram table in production.
    "dedup_span_cross" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.crossSnapshotSpanStats(
          prev = docs.where(col("doc_id") % 2 === 0),
          curr = docs.where(col("doc_id") % 2 === 1))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $spanGramCtes,
        prevg AS (SELECT DISTINCT gh FROM grams WHERE doc_id % 2 = 0),
        cspans AS (
          SELECT doc_id, start, start + ${Dedup.SpanGramSize - 1} AS e
          FROM grams
          WHERE doc_id % 2 = 1 AND gh IN (SELECT gh FROM prevg)),
        ${islandChainSql("cspans")},
        doc_agg AS (
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS carried_tokens
          FROM isl_agg GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(d.n_spans, 0) AS n_spans,
               coalesce(d.carried_tokens, 0) AS carried_tokens,
               round(coalesce(d.carried_tokens, 0) * 1.0 / b.n_tokens, 6)
                 AS carried_ratio
        FROM base b LEFT JOIN doc_agg d USING (doc_id)
        WHERE b.doc_id % 2 = 1
        ORDER BY doc_id""")),

    // One-sided CUSUM monitor (Page'54) over the INGEST-ORDER duplicate
    // rate — the drift alarm over the dedup rate itself (the by-source
    // data card above says WHERE copies come from; this says WHEN the
    // rate shifted). Docs are batched in ingest order with a
    // CORPUS-DERIVED width: width = ceil(n / 200), so the batch
    // relation is a constant ~200 rows at ANY corpus size — the same
    // bounded-relation discipline as events_cusum (day-bounded) and
    // quality_ks_drift (1001 bins). The width comes from one pulled
    // count(*) (the watermark-pull pattern); the oracle recomputes the
    // identical width from the same count, so both engines batch
    // identically without sharing driver state. A doc is a duplicate
    // when its 8-token-prefix fingerprint (the boilerplate-family
    // notion — the fixture plants shared prefixes, not byte-identical
    // copies) appeared at any earlier doc_id.
    // S_i = max(0, S_{i-1} + (rate_i - k)) with reference k = the
    // corpus-wide duplicate rate, via the prefix-min identity
    // S_i = P_i - min(0, min_{j<=i} P_j) — window-expressible, no
    // recursion. Per-batch rates and k round to 6dp into DECIMAL so
    // the running sums are exact; the alarm is an exact decimal
    // comparison vs 0.05. Shape: one fingerprint groupBy + one batch
    // rollup; the unpartitioned running-sum windows see <= ~201 rows
    // regardless of scale.
    "dedup_rate_cusum" -> QueryDef(
      fn = (s, d) => {
        val dec = DecimalType(18, 6)
        // One pulled count sizes the batches: ceil(n/200) keeps the
        // windowed relation at ~200 rows whether n is 5e3 or 4e9. The
        // oracle recomputes the same width from the same count(*).
        val nDocs = t(s, d, "documents").count()
        val width = math.max(1L, (nDocs + 199L) / 200L)
        val docs = t(s, d, "documents")
          .select(col("doc_id"),
            md5(expr("concat_ws(' ', slice(filter(split(lower(text), '\\\\s+'), " +
              "x -> x != ''), 1, 8))")).as("fp"))
        val firsts = docs.groupBy("fp").agg(min(col("doc_id")).as("first_id"))
        val batches = docs.join(firsts, Seq("fp"))
          .select(expr(s"doc_id DIV ${width}L").as("batch"),
            when(col("doc_id") =!= col("first_id"), 1L).otherwise(0L).as("is_dup"))
          .groupBy("batch")
          .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
        import org.apache.spark.sql.expressions.Window
        val wAll = Window.partitionBy()
        val wRun = Window.orderBy("batch")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val k = round(sum(col("n_dups")).over(wAll).cast("double")
          / sum(col("n_docs")).over(wAll).cast("double"), 6).cast(dec)
        batches
          .withColumn("rate",
            round(col("n_dups").cast("double") / col("n_docs").cast("double"), 6)
              .cast(dec))
          .withColumn("p", sum(col("rate") - k).over(wRun))
          // CASE, not least(): DuckDB's least() over mixed decimal widths
          // resolves through DOUBLE and costs the low bits — keep every
          // term in the summed decimal type on both engines.
          .withColumn("runmin", min(col("p")).over(wRun))
          .withColumn("cusum",
            when(col("runmin") < 0, col("p") - col("runmin")).otherwise(col("p")))
          .select(col("batch"), col("n_docs"), col("n_dups"),
            col("rate").cast("double").as("dup_rate"),
            col("cusum").cast("double").as("cusum"),
            (col("cusum") > lit(0.05).cast(dec)).as("alarm"))
          .orderBy("batch")
      },
      oracle = Some("""
        WITH w AS (
          SELECT greatest(1, (count(*) + 199) // 200) AS width
          FROM documents),
        fps AS (
          SELECT doc_id,
                 md5(array_to_string(list_slice(
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> ''), 1, 8), ' ')) AS fp
          FROM documents),
        firsts AS (SELECT fp, min(doc_id) AS first_id FROM fps GROUP BY fp),
        flags AS (
          SELECT f.doc_id // (SELECT width FROM w) AS batch,
                 CASE WHEN f.doc_id <> r.first_id THEN 1 ELSE 0 END AS is_dup
          FROM fps f JOIN firsts r USING (fp)),
        batches AS (
          SELECT batch, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(is_dup) AS BIGINT) AS n_dups
          FROM flags GROUP BY batch),
        rt AS (
          SELECT batch, n_docs, n_dups,
                 CAST(round(CAST(n_dups AS DOUBLE) / n_docs, 6)
                   AS DECIMAL(18,6)) AS rate,
                 CAST(round(CAST(sum(n_dups) OVER () AS DOUBLE)
                            / CAST(sum(n_docs) OVER () AS DOUBLE), 6)
                   AS DECIMAL(18,6)) AS k
          FROM batches),
        ps AS (
          SELECT batch, n_docs, n_dups, rate,
                 sum(rate - k) OVER (ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
          FROM rt),
        rm AS (
          SELECT batch, n_docs, n_dups, rate, p,
                 min(p) OVER (ORDER BY batch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
          FROM ps),
        cs AS (
          SELECT batch, n_docs, n_dups, rate,
                 CASE WHEN runmin < 0 THEN p - runmin ELSE p END AS cusum
          FROM rm)
        SELECT batch, n_docs, n_dups,
               CAST(rate AS DOUBLE) AS dup_rate,
               CAST(cusum AS DOUBLE) AS cusum,
               cusum > CAST(0.05 AS DECIMAL(18,6)) AS alarm
        FROM cs ORDER BY batch""")),

    // The removal pass the stats measure: reassemble each doc from tokens
    // NOT covered by a duplicated span (md5 of the cleaned text keeps the
    // result narrow; fully-duplicated docs survive as md5('')). Shares the
    // island CTE chain with dedup_span_stats verbatim.
    "dedup_span_clean" -> QueryDef(
      fn = (s, d) => Dedup.removeDuplicatedSpans(t(s, d, "documents"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        WITH $spanIslandCtes,
        covered AS (
          SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM isl_agg),
        tok_pos AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS i
                FROM toks)),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok
          FROM tok_pos t
          LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
          WHERE c.pos IS NULL),
        agg AS (
          SELECT doc_id, count(*) AS kept_tokens,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(a.kept_tokens, 0) AS kept_tokens,
               coalesce(a.clean_md5, md5('')) AS clean_md5
        FROM base b LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id""")),

    // SimHash near-dup pairs: 60-bit simhash, 4x15-bit LSH bands,
    // Hamming <= 3 (layout generated from Dedup.SimHashBits/Bands).
    "dedup_simhash" -> QueryDef(
      fn = (s, d) => Dedup.simHashPairs(t(s, d, "documents"), maxHamming = 3),
      oracle = Some(s"""
        WITH $simhashPairsCtes
        SELECT doc_a, doc_b, hamming FROM spairs
        ORDER BY doc_a, doc_b""")),

    // Incremental SimHash: odd doc_ids are the delta, even the history —
    // delta bands join (history ∪ delta) bands only, and the result must
    // be exactly the full pipeline's delta-touching pairs (same shared
    // CTEs, filtered).
    "dedup_simhash_incr" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.simHashPairsIncremental(
          history = docs.where(col("doc_id") % 2 === 0),
          delta = docs.where(col("doc_id") % 2 === 1),
          maxHamming = 3)
      },
      oracle = Some(s"""
        WITH $simhashPairsCtes
        SELECT doc_a, doc_b, hamming FROM spairs
        WHERE doc_a % 2 = 1 OR doc_b % 2 = 1
        ORDER BY doc_a, doc_b""")),

    // Span-level benchmark decontamination stats: docs with doc_id % 10 = 0
    // stand in for the eval benchmark (same split as text_contamination);
    // every corpus token window whose word-5-gram occurs anywhere in the
    // benchmark is merged into maximal spans and reported per corpus doc.
    // The benchmark gram set broadcasts; the corpus side never shuffles.
    "decontam_span_stats" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.contaminatedSpanStats(
          corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
          benchmark = docs.where(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $decontamIslandCtes,
        doc_agg AS (
          SELECT doc_id, count(*) AS n_spans,
                 CAST(sum(e - s + 1) AS BIGINT) AS contam_tokens
          FROM isl_agg GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(d.n_spans, 0) AS n_spans,
               coalesce(d.contam_tokens, 0) AS contam_tokens,
               round(coalesce(d.contam_tokens, 0) * 1.0 / b.n_tokens, 6)
                 AS contam_ratio
        FROM base b LEFT JOIN doc_agg d USING (doc_id)
        WHERE b.doc_id % 10 <> 0
        ORDER BY doc_id""")),

    // The surgical removal pass those stats measure: benchmark-overlapping
    // spans are excised and each corpus doc reassembled from surviving
    // tokens — unlike doc-level decontamination, one shared sentence does
    // not discard the whole document. Shares the island CTE chain with
    // decontam_span_stats verbatim.
    "decontam_span_clean" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        Dedup.removeContaminatedSpans(
          corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0),
          benchmark = docs.where(pmod(col("doc_id"), lit(10)) === 0))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH $decontamIslandCtes,
        covered AS (
          SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM isl_agg),
        tok_pos AS (
          SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i AS INT)] AS tok
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS i
                FROM toks WHERE doc_id % 10 <> 0)),
        kept AS (
          SELECT t.doc_id, t.pos, t.tok
          FROM tok_pos t
          LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.pos = t.pos
          WHERE c.pos IS NULL),
        agg AS (
          SELECT doc_id, count(*) AS kept_tokens,
                 md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
          FROM kept GROUP BY doc_id)
        SELECT b.doc_id, b.n_tokens,
               coalesce(a.kept_tokens, 0) AS kept_tokens,
               coalesce(a.clean_md5, md5('')) AS clean_md5
        FROM base b LEFT JOIN agg a USING (doc_id)
        WHERE b.doc_id % 10 <> 0
        ORDER BY doc_id""")),

    // URL-canonicalization dedup — stage 1 of every crawl pipeline: the
    // same page arrives under scheme/host-case/fragment/tracking-param/
    // trailing-slash variants, and canonicalizing the URL collapses them
    // BEFORE any content hashing runs. The fixtures carry no URLs, so the
    // query injects a deterministic messy URL per doc (4 variants of a
    // shared page path keyed by doc_id % 4 — same synthesis-oracle
    // pattern as text_pii_redact). Canonicalization: drop the fragment,
    // drop the scheme (http/https alias the same page), lowercase the
    // host only (paths are case-sensitive), strip utm_* tracking params
    // (real params survive — variant 3 keeps ?id=1 and correctly stays a
    // distinct page), strip the trailing slash. Everything is a
    // codegen'd regexp chain on the scan; the only shuffle is the
    // canonical-key window for the keeper choice. The oracle replays the
    // identical chain (RE2 backrefs spelled \\1 vs Java's $1).
    "dedup_url_canonical" -> QueryDef(
      fn = (s, d) => {
        val url = {
          val page = concat(lit("www.example.com/Pages/p"),
            expr("doc_id div 4").cast("string"))
          val v = pmod(col("doc_id"), lit(4))
          when(v === 0, concat(lit("http://"), upper(substring(page, 1, 15)),
              substring(page, 16, 1000), lit("?utm_source=feed")))
            .when(v === 1, concat(lit("https://"), page, lit("/")))
            .when(v === 2, concat(lit("http://"), page, lit("#section-2")))
            .otherwise(concat(lit("http://"), page,
              lit("?id=1&utm_campaign=crawl")))
        }
        def canonOf(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
          val noFrag = regexp_replace(u, "#.*$", "")
          val noScheme = regexp_replace(noFrag, "^https?://", "")
          val hostLower = concat(
            lower(regexp_extract(noScheme, "^[^/]+", 0)),
            regexp_replace(noScheme, "^[^/]+", ""))
          val noUtm = regexp_replace(hostLower, "[?&]utm_[a-z]+=[^&#]*", "")
          regexp_replace(noUtm, "/$", "")
        }
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canon_url"))
        t(s, d, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"), col("url"), canonOf(col("url")).as("canon_url"))
          .withColumn("keeper", min(col("doc_id")).over(w))
          .select(col("doc_id"), col("canon_url"), col("keeper"),
            (col("doc_id") =!= col("keeper")).as("is_dup"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH u AS (
          SELECT doc_id,
                 CASE doc_id % 4
                   WHEN 0 THEN concat('http://',
                     upper(substr(concat('www.example.com/Pages/p',
                                         CAST(doc_id // 4 AS VARCHAR)), 1, 15)),
                     substr(concat('www.example.com/Pages/p',
                                   CAST(doc_id // 4 AS VARCHAR)), 16, 1000),
                     '?utm_source=feed')
                   WHEN 1 THEN concat('https://www.example.com/Pages/p',
                     CAST(doc_id // 4 AS VARCHAR), '/')
                   WHEN 2 THEN concat('http://www.example.com/Pages/p',
                     CAST(doc_id // 4 AS VARCHAR), '#section-2')
                   ELSE concat('http://www.example.com/Pages/p',
                     CAST(doc_id // 4 AS VARCHAR), '?id=1&utm_campaign=crawl')
                 END AS url
          FROM documents),
        c AS (
          SELECT doc_id, url,
                 regexp_replace(
                   regexp_replace(
                     concat(
                       lower(regexp_extract(
                         regexp_replace(regexp_replace(url, '#.*$', ''),
                                        '^https?://', ''),
                         '^[^/]+')),
                       regexp_replace(
                         regexp_replace(regexp_replace(url, '#.*$', ''),
                                        '^https?://', ''),
                         '^[^/]+', '')),
                     '[?&]utm_[a-z]+=[^&#]*', '', 'g'),
                   '/$', '') AS canon_url
          FROM u)
        SELECT doc_id, canon_url,
               min(doc_id) OVER (PARTITION BY canon_url) AS keeper,
               doc_id <> min(doc_id) OVER (PARTITION BY canon_url) AS is_dup
        FROM c ORDER BY doc_id"""))
  )

  /** Gaps-and-islands merge of a `(doc_id, start, e)` spans CTE named
    * `src` into `isl_agg(doc_id, isl, s, e)` — THE island-merge rule,
    * emitted from one place so no two span oracles can drift on the
    * overlap-or-adjacent boundary. Mirrors Dedup.mergeIslands exactly. */
  private def islandChainSql(src: String): String = s"""
    flagged AS (
      SELECT doc_id, start, e,
             CASE WHEN start > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM $src),
    islands AS (
      SELECT doc_id, start, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      FROM flagged),
    isl_agg AS (
      SELECT doc_id, isl, min(start) AS s, max(e) AS e
      FROM islands GROUP BY doc_id, isl)"""

  // Cross-corpus decontamination pipeline as a CTE chain ending in
  // `isl_agg` (merged benchmark-covered spans over corpus docs) plus
  // `toks`/`base` — shared by the decontam stats and removal oracles.
  // Mirrors Dedup.contaminatedSpans exactly: md5 over the space-joined
  // word-5-gram, hit = gram occurs in the doc_id % 10 = 0 benchmark
  // slice, overlap-or-adjacent island merge.
  private lazy val decontamIslandCtes: String = {
    val w = Dedup.ContamGramSize
    s"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
    cgrams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             md5(array_to_string(
                   list_slice(toks, CAST(i AS INT),
                              CAST(i + ${w - 1} AS INT)), ' ')) AS gh
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - ${w - 1})) AS i
            FROM toks WHERE len(toks) >= $w)),
    bgrams AS (
      SELECT DISTINCT gh FROM cgrams WHERE doc_id % 10 = 0),
    spans AS (
      SELECT doc_id, start, start + ${w - 1} AS e
      FROM cgrams
      WHERE doc_id % 10 <> 0 AND gh IN (SELECT gh FROM bgrams)),
    ${islandChainSql("spans")}"""
  }

  // Exact-substring span pipeline as a CTE chain ending in `isl_agg
  // (doc_id, isl, s, e)` (merged duplicated spans, 1-based inclusive token
  // positions) plus `toks`/`base` — shared by the stats and removal
  // oracles so the two can't drift. Mirrors Dedup.mergedSpans exactly:
  // md5 over the space-joined w-gram, >= 2 corpus-wide occurrences,
  // overlap-or-adjacent island merge.
  /** Tokenize + gram-hash prefix shared by the within-corpus and
    * cross-snapshot span oracles: `toks`, `base`, `grams(doc_id, start,
    * gh)` over word-[[Dedup.SpanGramSize]]-grams. */
  private lazy val spanGramCtes: String = s"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM toks),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS start,
             md5(array_to_string(
                   list_slice(toks, CAST(i AS INT),
                              CAST(i + ${Dedup.SpanGramSize - 1} AS INT)), ' ')) AS gh
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - ${Dedup.SpanGramSize - 1})) AS i
            FROM toks WHERE len(toks) >= ${Dedup.SpanGramSize}))"""

  private lazy val spanIslandCtes: String = s"""
    $spanGramCtes,
    dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
    spans AS (
      SELECT doc_id, start, start + ${Dedup.SpanGramSize - 1} AS e
      FROM grams WHERE gh IN (SELECT gh FROM dup)),
    ${islandChainSql("spans")}"""

  // SimHash pipeline as a CTE chain ending in `spairs(doc_a, doc_b,
  // hamming)` — shared by the full and incremental oracles.
  private lazy val simhashPairsCtes: String = s"""
    words AS (
      SELECT DISTINCT doc_id, w
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS w
            FROM documents)
      WHERE w <> ''),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(w), 1, ${Dedup.SimHashBits / 4}) AS BIGINT) AS h
      FROM words),
    votes AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, range(0, ${Dedup.SimHashBits}) r(b)
      GROUP BY doc_id, b),
    sims AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN v > 0
                           THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id),
    banded AS (
      SELECT doc_id, simhash, band,
             (simhash >> CAST(band * ${Dedup.SimHashBits / Dedup.SimHashBands} AS INT))
               & ${(1 << (Dedup.SimHashBits / Dedup.SimHashBands)) - 1} AS band_val
      FROM sims, range(0, ${Dedup.SimHashBands}) r(band)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS h_a, b.simhash AS h_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id),
    spairs AS (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
      FROM pairs WHERE bit_count(xor(h_a, h_b)) <= 3)"""
}
