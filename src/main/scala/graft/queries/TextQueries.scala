package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.dedup.Dedup
import graft.text.TextAnalysis

/** Text-analysis queries over `documents` (north-star: token counting,
  * quality scoring, language ID, fingerprinting). Oracle SQL is generated
  * from the same stopword spec as the Spark expressions, so the two can't
  * drift. */
object TextQueries {
  import QueryDef._

  /** DuckDB token/hit counters (Spark side uses regexp_count). */
  private def hitsSql(words: Seq[String]): String =
    s"len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b'))"
  private val tokSql = "len(regexp_extract_all(text, '\\S+'))"
  private val alphaSql = "len(regexp_extract_all(text, '[a-z]'))"

  /** DuckDB mirror of TextAnalysis.qualityScore — shared by every oracle
    * that scores quality (gate, caps, calibration, curation funnel). */
  private[queries] def qualitySql: String =
    s"""round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
         / $tokSql * 0.5
       + least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) * 0.5, 6)"""

  /** The language-ID CASE chain, generated from TextAnalysis.LangStopwords
    * with the same precedence-on-ties order. */
  private val langCaseSql: String = {
    val scores = TextAnalysis.LangStopwords.map { case (lang, ws) => lang -> hitsSql(ws) }
    val branches = scores.zipWithIndex.dropRight(1).map { case ((lang, s), i) =>
      val later = scores.drop(i + 1).map(_._2)
      s"WHEN ${later.map(o => s"$s >= $o").mkString(" AND ")} THEN '$lang'"
    }
    s"CASE ${branches.mkString(" ")} ELSE '${TextAnalysis.LangStopwords.last._1}' END"
  }

  /** Scan-side word n-gram rows (doc_id, w1..wn): consecutive tokens of
    * the lowercased whitespace split, derived by array transform +
    * explode — a pure narrow map (the [[graft.dedup.Dedup.wordShingles]]
    * shape with the tokens kept as separate columns). Replaces the
    * posexplode + doc-partitioned lead() window the LM queries used,
    * which shuffled AND sorted the whole exploded token relation by
    * doc_id once per n-gram derivation (guide §2.4: remove shuffles
    * outright). Emits exactly the same row multiset: consecutive
    * token n-tuples per doc, docs with < n tokens contribute none. */
  private def wordNgrams(docs: org.apache.spark.sql.DataFrame, n: Int,
      pred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val fields = (0 until n).map(j => s"tk[i + $j] AS w${j + 1}").mkString(", ")
    docs.where(pred)
      .select(col("doc_id"),
        expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("tk"))
      .where(size(col("tk")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, size(tk) - $n), i -> struct($fields))")).as("g"))
      .select(col("doc_id") +: (1 to n).map(j => col(s"g.w$j")): _*)
  }

  /** Scan-side token rows (doc_id, w) — the no-window unigram sibling of
    * [[wordNgrams]]. */
  private def wordTokens(docs: org.apache.spark.sql.DataFrame,
      pred: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame =
    docs.where(pred).select(col("doc_id"),
      explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))

  /** Quoted pipe literals for BPE oracle SQL. The registry applies
    * stripMargin to every oracle string, which would eat a literal `|`
    * landing first-on-line; routing every pipe through these (and the
    * placeholder substitution in [[bpeRoundsCtes]]) keeps the templates
    * margin-safe by construction. */
  private val bpeP = "'|'"
  private val bpePP = "'||'"

  /** Shared DuckDB replay of Bpe.trainFromVocab, used by BOTH bpe_train
    * and bpe_encode so the learned merges cannot drift between them:
    * words (corpus word frequencies) → v0 (pipe-delimited char
    * segmentation, `word` carried through) → k unrolled merge rounds —
    * p{r} adjacent-pair counts, b{r} the deterministic argmax
    * (cnt DESC, a, b), v{r} the greedy non-overlapping replace, which is
    * exactly Bpe.applyMergeExpr's fold semantics (a merged symbol cannot
    * re-match its own rule because b is non-empty). The corpus is
    * verified pipe-free at every SF, so the delimiters cannot collide
    * with symbols. */
  private def bpeRoundsCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""
        p$r AS (
          SELECT sy[CAST(i AS INT)] AS a, sy[CAST(i + 1 AS INT)] AS b,
                 CAST(sum(f) AS BIGINT) AS cnt
          FROM (SELECT f, sy, unnest(generate_series(1, len(sy) - 1)) AS i
                FROM (SELECT f, string_split(trim(seg, '$$PIPE$$'), '$$PIPE$$$$PIPE$$') AS sy
                      FROM v${r - 1})
                WHERE len(sy) >= 2)
          GROUP BY 1, 2),
        b$r AS (SELECT $r AS step, a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        v$r AS (
          SELECT word, f, replace(seg, '$$PIPE$$' $$CAT$$ b$r.a $$CAT$$ '$$PIPE$$$$PIPE$$' $$CAT$$ b$r.b $$CAT$$ '$$PIPE$$',
                            '$$PIPE$$' $$CAT$$ b$r.a $$CAT$$ b$r.b $$CAT$$ '$$PIPE$$') AS seg
          FROM v${r - 1}, b$r)"""
    }.mkString(",")
    val sql = s"""words AS (
          SELECT w AS word, count(*) AS f
          FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> x <> '')) AS w
                FROM documents)
          GROUP BY w),
        v0 AS (
          SELECT word, f, '$$PIPE$$' $$CAT$$ array_to_string(string_split(word, ''), '$$PIPE$$$$PIPE$$') $$CAT$$ '$$PIPE$$' AS seg
          FROM words),$rounds"""
    sql.replace("$CAT$", "||").replace("$PIPE$", "|")
  }

  /** DuckDB replay of LogReg.trainOnFeatures — the gradient rounds
    * unrolled as CTEs from the same feature SQL generators (tokSql /
    * hitsSql) the quality oracles use, so neither the features nor the
    * arithmetic can drift from the Spark side. */
  private def lrZSql = "w.b + w.wl * x2 + w.ws * x3"

  /** The LR training chain as a WITH-body prefix ending in `w$iters` —
    * shared by the train and score oracles so neither the features nor
    * the replayed weights can drift between them. */
  private def lrRoundsCtes(iters: Int): String = {
    val x3 = s"CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE) / $tokSql"
    val zs = lrZSql
    val rounds = (1 to iters).map { r =>
      s"""
        g$r AS (
          SELECT sum(CAST(round((y - 1.0 / (1.0 + exp(-($zs)))) * 1.0, 6)
                          AS DECIMAL(18,6))) AS gb,
                 sum(CAST(round((y - 1.0 / (1.0 + exp(-($zs)))) * x2, 6)
                          AS DECIMAL(18,6))) AS gl,
                 sum(CAST(round((y - 1.0 / (1.0 + exp(-($zs)))) * x3, 6)
                          AS DECIMAL(18,6))) AS gs
          FROM f, w${r - 1} w),
        w$r AS (
          SELECT round(w.b + CAST(g.gb AS DOUBLE) / n.n, 6) AS b,
                 round(w.wl + CAST(g.gl AS DOUBLE) / n.n, 6) AS wl,
                 round(w.ws + CAST(g.gs AS DOUBLE) / n.n, 6) AS ws
          FROM w${r - 1} w, g$r g, n)"""
    }.mkString(",")
    s"""f AS (
          SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) AS x2,
                 $x3 AS x3
          FROM documents),
        n AS (SELECT count(*) AS n FROM f),
        w0 AS (SELECT 0.0 AS b, 0.0 AS wl, 0.0 AS ws),$rounds"""
  }

  /** Shared per-doc verdict CTE chain for the two in-engine classifiers —
    * ends at `lr(doc_id, a)`, `nb(doc_id, b)`, `lab(doc_id, y)` — used by
    * the kappa agreement AND the McNemar error-rate comparison, so both
    * readouts grade the identical classifier pair and neither can drift
    * from quality_lr_* / quality_nb_*. */
  private def lrNbOracleCtes: String = s"""${lrRoundsCtes(5)},
        lr AS (
          SELECT doc_id,
                 CASE WHEN w.b
                        + w.wl * least(CAST($tokSql AS DOUBLE) / 100.0, 1.0)
                        + w.ws * (CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)}
                                  AS DOUBLE) / $tokSql) > 0
                      THEN 1 ELSE 0 END AS a
          FROM documents, w5 w),
        tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        bk AS (
          SELECT doc_id,
                 CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % 16 AS bucket
          FROM tok),
        cnt AS (
          SELECT doc_id, bucket, count(*) AS cnt FROM bk GROUP BY 1, 2),
        lab AS (
          SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        m AS (
          SELECT bucket,
                 sum(CASE WHEN l.y = 0 THEN c.cnt ELSE 0 END) AS c0,
                 sum(CASE WHEN l.y = 1 THEN c.cnt ELSE 0 END) AS c1
          FROM cnt c JOIN lab l USING (doc_id)
          GROUP BY bucket),
        mw AS (
          SELECT bucket, c0, c1,
                 sum(c0) OVER () AS t0, sum(c1) OVER () AS t1
          FROM m),
        mm AS (
          SELECT bucket,
                 CAST(round(ln(CAST(c0 + 1 AS DOUBLE)
                   / CAST(t0 + 16 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp0,
                 CAST(round(ln(CAST(c1 + 1 AS DOUBLE)
                   / CAST(t1 + 16 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp1
          FROM mw),
        pr AS (
          SELECT count(*) AS nd,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nd1
          FROM documents),
        nb AS (
          SELECT c.doc_id,
                 CASE WHEN sum(c.cnt * mm.lp1)
                          + (SELECT CAST(round(ln(CAST(nd1 AS DOUBLE)
                             / CAST(nd AS DOUBLE)), 6) AS DECIMAL(18,6))
                             FROM pr)
                        > sum(c.cnt * mm.lp0)
                          + (SELECT CAST(round(ln(CAST(nd - nd1 AS DOUBLE)
                             / CAST(nd AS DOUBLE)), 6) AS DECIMAL(18,6))
                             FROM pr)
                      THEN 1 ELSE 0 END AS b
          FROM cnt c JOIN mm USING (bucket)
          GROUP BY c.doc_id)"""

  /** The Spark twin of [[lrNbOracleCtes]]: per-doc verdicts of the two
    * in-engine classifiers plus the truth — (doc_id, a = LR says en,
    * b = NB says en, y = labeled en). LR trains exactly as quality_lr_*,
    * NB scores exactly as quality_nb_score; the result is
    * `localCheckpoint`ed so both consumers aggregate off materialized
    * rows with the training caches already released. */
  private def lrNbPerDoc(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = graft.Blocks.scope { scope =>
    import org.apache.spark.sql.expressions.Window
    import graft.text.LogReg
    val width = 16
    val dec = DecimalType(18, 6)
    val docs = t(s, d, "documents")
    // Rater A: logistic regression, trained exactly as quality_lr_*.
    // ONE per-doc feature scan (guide §2.1, r15): label + both LR
    // features computed once WITH doc_id and persisted — the training
    // rounds, the LR verdict, the class priors, and the label join all
    // read this cache. The old shape re-scanned documents (and re-ran the
    // tokenCount/stopwordRatio tokenization) separately for the verdict,
    // the priors, and the label join.
    val f = scope.persist(docs.select(col("doc_id"),
        when(col("lang") === "en", lit(1.0)).otherwise(lit(0.0)).as("y"),
        least(TextAnalysis.tokenCount(col("text")).cast("double")
          / lit(100.0), lit(1.0)).as("x2"),
        TextAnalysis.stopwordRatio(col("text")).as("x3")))
    val wts = LogReg.trainOnFeatures(f, iters = 5)
    val lr = f.select(col("doc_id"),
      when((lit(wts(0)) + lit(wts(1)) * col("x2")
        + lit(wts(2)) * col("x3")) > 0, 1L).otherwise(0L).as("a"))
    // Rater B: Naive Bayes, scored exactly as quality_nb_score.
    val pr = f.agg(count(lit(1)),
      sum(when(col("y") === 1.0, 1L).otherwise(0L))).head()
    val (nd, nd1) = (pr.getLong(0), pr.getLong(1))
    // the NB tf relation is the one remaining tokenize scan: its exploded
    // shape cannot share the per-doc feature rows without caching
    // corpus-sized token arrays (the 100 TB rule)
    val cnt = scope.persist(docs
      .select(col("doc_id"),
        explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
          .as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long")
          % width).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt")))
    val enDocs = f.select(col("doc_id"),
      when(col("y") === 1.0, 1L).otherwise(0L).as("y"))
    val model = cnt.join(enDocs, "doc_id")
      .groupBy("bucket")
      .agg(sum(when(col("y") === 0L, col("cnt")).otherwise(0L)).as("c0"),
        sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("c1"))
      .select(col("bucket"), col("c0"), col("c1"),
        sum(col("c0")).over(Window.partitionBy()).as("t0"),
        sum(col("c1")).over(Window.partitionBy()).as("t1"))
      .select(col("bucket"),
        round(log((col("c0") + 1).cast("double")
          / (col("t0") + width).cast("double")), 6).cast(dec).as("lp0"),
        round(log((col("c1") + 1).cast("double")
          / (col("t1") + width).cast("double")), 6).cast(dec).as("lp1"))
    val prior0 = round(log(lit((nd - nd1).toDouble / nd.toDouble)), 6)
      .cast(dec)
    val prior1 = round(log(lit(nd1.toDouble / nd.toDouble)), 6).cast(dec)
    val nb = cnt.join(model, "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("lp0")).as("s0raw"),
        sum(col("cnt") * col("lp1")).as("s1raw"))
      .select(col("doc_id"),
        when(col("s1raw") + prior1 > col("s0raw") + prior0, 1L)
          .otherwise(0L).as("b"))
    // the returned plan reads this checkpoint: it stays with the caller
    lr.join(nb, "doc_id").join(enDocs, "doc_id").localCheckpoint(true)
  }

  private def lrOracleSql(iters: Int): String =
    s"""
        WITH ${lrRoundsCtes(iters)},
        acc AS (
          SELECT count(*) AS n_docs,
                 sum(CASE WHEN (($lrZSql) > 0) = (y = 1.0) THEN 1 ELSE 0 END)
                   AS n_correct
          FROM f, w$iters w)
        SELECT w.b AS w_bias, w.wl AS w_len, w.ws AS w_stop,
               CAST(a.n_docs AS BIGINT) AS n_docs,
               CAST(a.n_correct AS BIGINT) AS n_correct,
               round(CAST(a.n_correct AS DOUBLE) / a.n_docs, 6) AS train_acc
        FROM w$iters w, acc a"""

  val defs: Map[String, QueryDef] = Map(

    // Quality-classifier training INSIDE the engine (the GPT-3-style
    // curation pattern: a linear model over cheap text features, trained
    // once, scored across the whole crawl): 5 rounds of batch gradient
    // descent on the log-loss, label = the doc's language tag, features =
    // the quality-score components. Each round is ONE aggregate over the
    // persisted feature relation (the gradient is 3 scalars); weights are
    // driver-held and 6dp-quantized per round; per-row gradient terms
    // round into DECIMAL — the repo's trainer determinism contract, so
    // the learned weights AND the training accuracy hash-match the
    // oracle's unrolled replay. The accuracy verdict is z > 0 (no
    // transcendental in the decision).
    "quality_lr_train" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import graft.text.LogReg
        val f = scope.persist(LogReg.features(t(s, d, "documents")))
        val w = LogReg.trainOnFeatures(f, iters = 5)
        scope.result(LogReg.accuracyAgg(f, w)
          .select(lit(w(0)).as("w_bias"), lit(w(1)).as("w_len"),
            lit(w(2)).as("w_stop"), col("n_docs"), col("n_correct"),
            round(col("n_correct").cast("double") / col("n_docs"), 6)
              .as("train_acc")))
      },
      oracle = Some(lrOracleSql(5))),

    // The scoring pass of that classifier — the disagreement audit: the
    // top-20 docs NOT labeled 'en' that the trained model scores most
    // English-like (mislabeled docs, code-switching, or label noise; the
    // triage list a curation pass reviews before trusting either signal).
    // Ranking is by the linear score z (monotone in σ — no transcendental
    // anywhere in the scored path); training replays through the same
    // shared CTE chain.
    "quality_lr_score" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import graft.text.LogReg
        val docs = t(s, d, "documents")
        val f = scope.persist(LogReg.features(docs))
        val w = LogReg.trainOnFeatures(f, iters = 5)
        scope.result(docs
          .where(col("lang") =!= "en")
          .select(col("doc_id"), col("lang"),
            round(lit(w(0)) +
              lit(w(1)) * least(TextAnalysis.tokenCount(col("text"))
                .cast("double") / lit(100.0), lit(1.0)) +
              lit(w(2)) * TextAnalysis.stopwordRatio(col("text")), 6)
              .as("en_score"))
          .orderBy(col("en_score").desc, col("doc_id")).limit(20))
      },
      oracle = Some(s"""
        WITH ${lrRoundsCtes(5)},
        sc AS (
          SELECT doc_id, lang,
                 round(w.b + w.wl * least(CAST($tokSql AS DOUBLE) / 100.0, 1.0)
                       + w.ws * (CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                                 / $tokSql), 6) AS en_score
          FROM documents, w5 w
          WHERE lang <> 'en')
        SELECT doc_id, lang, en_score FROM sc
        ORDER BY en_score DESC, doc_id LIMIT 20""")),

    // Multinomial Naive Bayes over HASHED token features (McCallum &
    // Nigam AAAI'98 workshop; hashing trick per Weinberger ICML'09) — the
    // second in-engine classifier, complementing quality_lr: NB training
    // is a PURE AGGREGATION (no gradient rounds, no driver iteration), so
    // it is the classifier you can fit in one pass over 100 TB. Label
    // y = (lang = 'en'); features are md5-hashed token buckets (width 16
    // — no vocabulary build, bounded model by construction). Output: the
    // learned model table — per bucket, class-conditional counts and
    // Laplace-smoothed log-likelihoods log((c_y,b + 1)/(c_y + W)).
    // Class totals come from a window over the 16-row bucket relation,
    // never a second corpus pass. ln rounds to 6dp (the repo's
    // transcendental discipline).
    "quality_nb_train" -> QueryDef(
      fn = (s, d) => {
        import graft.text.NaiveBayes
        NaiveBayes.modelFromCounts(
            NaiveBayes.countsFromDocs(t(s, d, "documents")))
          .orderBy("bucket")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        b AS (
          SELECT y, CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % 16
                   AS bucket
          FROM tok),
        m AS (
          SELECT bucket,
                 sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS c0,
                 sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS c1
          FROM b GROUP BY bucket),
        w AS (
          SELECT bucket, c0, c1,
                 sum(c0) OVER () AS t0, sum(c1) OVER () AS t1
          FROM m)
        SELECT bucket, CAST(c0 AS BIGINT) AS c0, CAST(c1 AS BIGINT) AS c1,
               round(ln(CAST(c0 + 1 AS DOUBLE) / CAST(t0 + 16 AS DOUBLE)), 6)
                 AS logp0,
               round(ln(CAST(c1 + 1 AS DOUBLE) / CAST(t1 + 16 AS DOUBLE)), 6)
                 AS logp1
        FROM w ORDER BY bucket""")),

    // The NB scoring pass — train-set confusion matrix: every doc scored
    // by both class log-posteriors (log prior + Σ tf·log-likelihood over
    // its hashed buckets), predicted class by exact DECIMAL comparison
    // (per-bucket log-likelihoods round to 6dp into DECIMAL; tf-weighted
    // sums are then exact integer-weighted decimal sums — accumulation
    // order cannot flip a verdict, so the confusion counts are
    // bit-stable). The (doc, bucket) tf relation is persisted and shared
    // by the model aggregation and the scoring join (one tokenize pass);
    // the model is 16 rows, priors are two pulled scalars.
    "quality_nb_score" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import org.apache.spark.sql.expressions.Window
        val width = 16
        val dec = DecimalType(18, 6)
        val docs = t(s, d, "documents")
        val pr = docs.agg(count(lit(1)),
          sum(when(col("lang") === "en", 1L).otherwise(0L))).head()
        val (nd, nd1) = (pr.getLong(0), pr.getLong(1))
        val cnt = scope.persist(docs
          .select(col("doc_id"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w"))
          .select(col("doc_id"), col("y"),
            (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long")
              % width).as("bucket"))
          .groupBy("doc_id", "y", "bucket")
          .agg(count(lit(1)).as("cnt")))
        val model = cnt.groupBy("bucket")
          .agg(sum(when(col("y") === 0L, col("cnt")).otherwise(0L)).as("c0"),
            sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("c1"))
          .select(col("bucket"),
            col("c0"), col("c1"),
            sum(col("c0")).over(Window.partitionBy()).as("t0"),
            sum(col("c1")).over(Window.partitionBy()).as("t1"))
          .select(col("bucket"),
            round(log((col("c0") + 1).cast("double")
              / (col("t0") + width).cast("double")), 6).cast(dec).as("lp0"),
            round(log((col("c1") + 1).cast("double")
              / (col("t1") + width).cast("double")), 6).cast(dec).as("lp1"))
        val prior0 = round(log(lit((nd - nd1).toDouble / nd.toDouble)), 6)
          .cast(dec)
        val prior1 = round(log(lit(nd1.toDouble / nd.toDouble)), 6).cast(dec)
        scope.result(cnt.join(model, "bucket")
          .groupBy("doc_id", "y")
          .agg(sum(col("cnt") * col("lp0")).as("s0raw"),
            sum(col("cnt") * col("lp1")).as("s1raw"))
          .select(col("y"),
            when(col("s1raw") + prior1 > col("s0raw") + prior0, 1L)
              .otherwise(0L).as("y_hat"))
          .groupBy("y", "y_hat").agg(count(lit(1)).as("n_docs"))
          .select(col("y").as("y_true"), col("y_hat"), col("n_docs"))
          .orderBy("y_true", "y_hat"))
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        bk AS (
          SELECT doc_id, y,
                 CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % 16 AS bucket
          FROM tok),
        cnt AS (
          SELECT doc_id, y, bucket, count(*) AS cnt
          FROM bk GROUP BY 1, 2, 3),
        m AS (
          SELECT bucket,
                 sum(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS c0,
                 sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS c1
          FROM cnt GROUP BY bucket),
        w AS (
          SELECT bucket, c0, c1,
                 sum(c0) OVER () AS t0, sum(c1) OVER () AS t1
          FROM m),
        mm AS (
          SELECT bucket,
                 CAST(round(ln(CAST(c0 + 1 AS DOUBLE)
                   / CAST(t0 + 16 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp0,
                 CAST(round(ln(CAST(c1 + 1 AS DOUBLE)
                   / CAST(t1 + 16 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lp1
          FROM w),
        pr AS (
          SELECT count(*) AS nd,
                 sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nd1
          FROM documents),
        sc AS (
          SELECT c.doc_id, c.y,
                 sum(c.cnt * mm.lp0) AS s0raw,
                 sum(c.cnt * mm.lp1) AS s1raw
          FROM cnt c JOIN mm USING (bucket)
          GROUP BY 1, 2),
        fin AS (
          SELECT y,
                 CASE WHEN s1raw + (SELECT CAST(round(ln(CAST(nd1 AS DOUBLE)
                          / CAST(nd AS DOUBLE)), 6) AS DECIMAL(18,6)) FROM pr)
                        > s0raw + (SELECT CAST(round(ln(CAST(nd - nd1 AS DOUBLE)
                          / CAST(nd AS DOUBLE)), 6) AS DECIMAL(18,6)) FROM pr)
                      THEN 1 ELSE 0 END AS y_hat
          FROM sc)
        SELECT CAST(y AS BIGINT) AS y_true, CAST(y_hat AS BIGINT) AS y_hat,
               count(*) AS n_docs
        FROM fin GROUP BY 1, 2 ORDER BY y_true, y_hat""")),

    // Calibration / reliability table for the LR classifier (the
    // reliability diagram of Guo et al. ICML'17's ECE, binned): docs
    // bucketed by predicted probability decile, each bin reporting mean
    // confidence vs empirical accuracy and the |acc − conf| gap — the
    // table that says whether "0.9 confident" means 90% right before a
    // probability threshold is trusted as a quality gate. Mechanics: one
    // scoring pass over the persisted feature relation, a 10-group
    // rollup. σ(z) rounds to 6dp per row (transcendental discipline) and
    // accumulates in DECIMAL; y-sums are exact integer-valued doubles;
    // per-bin closing divisions are scalar IEEE.
    "quality_reliability" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import graft.text.LogReg
        val dec = DecimalType(18, 6)
        val f = scope.persist(LogReg.features(t(s, d, "documents")))
        val w = LogReg.trainOnFeatures(f, iters = 5)
        val z = lit(w(0)) + lit(w(1)) * col("x2") + lit(w(2)) * col("x3")
        val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
        scope.result(f
          .select(col("y"), p.as("p"),
            least(floor(p * 10), lit(9L)).cast("long").as("bin"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("p").cast(dec)).as("psum"),
            sum(col("y")).as("ysum"))
          .select(col("bin"), col("n_docs"),
            round(col("psum").cast("double")
              / col("n_docs").cast("double"), 6).as("conf"),
            round(col("ysum") / col("n_docs").cast("double"), 6).as("acc"),
            (round(abs(col("ysum") / col("n_docs").cast("double")
              - col("psum").cast("double") / col("n_docs").cast("double")),
              6) + lit(0.0)).as("gap"))
          .orderBy("bin"))
      },
      oracle = Some(s"""
        WITH ${lrRoundsCtes(5)},
        sc AS (
          SELECT y, round(1.0 / (1.0 + exp(-($lrZSql))), 6) AS p
          FROM f, w5 w),
        b AS (
          SELECT y, p,
                 least(CAST(floor(p * 10) AS BIGINT), 9) AS bin
          FROM sc),
        g AS (
          SELECT bin, count(*) AS n_docs,
                 sum(CAST(p AS DECIMAL(18,6))) AS psum,
                 sum(y) AS ysum
          FROM b GROUP BY bin)
        SELECT bin, n_docs,
               round(CAST(psum AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                 AS conf,
               round(ysum / CAST(n_docs AS DOUBLE), 6) AS acc,
               round(abs(ysum / CAST(n_docs AS DOUBLE)
                         - CAST(psum AS DOUBLE) / CAST(n_docs AS DOUBLE)), 6)
                 + 0.0 AS gap
        FROM g ORDER BY bin""")),

    // ROC AUC of the token-count heuristic vs the en label, computed
    // EXACTLY via the Mann–Whitney rank-sum identity (Hanley & McNeil,
    // Radiology 1982: AUC = P(score_pos > score_neg) + P(equal)/2) in
    // the GROUPED form — group docs by their integer score, one ordered
    // cumulative window over the score-group relation (bounded by
    // distinct scores, never a global per-doc ranking — the events_gini
    // block-rank-sum discipline), then
    //   AUC = Σ_g pos_g · (2·cumneg_below + neg_g) / (2·P·N)
    // with the ×2 scaling keeping the tie term integer. Everything is
    // exact integer arithmetic until ONE closing division, so the number
    // is bit-stable at any partitioning — the metric a gate's threshold
    // sweep is summarized by. The numerator can reach 2·P·N ≈ 2·(n/2)²,
    // past BIGINT at ~4.3e9 docs, so it accumulates through
    // DECIMAL(38,0) on BOTH engines (the modularity/assortativity moment
    // discipline) — exact to ~1e19 docs, far past any corpus.
    "quality_roc_auc" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val g = docs.select(
            TextAnalysis.tokenCount(col("text")).as("sc"),
            when(col("lang") === "en", 1L).otherwise(0L).as("y"))
          .groupBy("sc")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
          .select(col("sc"), col("pos"), (col("n") - col("pos")).as("neg"))
        val w = Window.orderBy("sc")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = g.select(col("sc"), col("pos"), col("neg"),
          (sum(col("neg")).over(w) - col("neg")).as("negbelow"))
        cum.agg(
            sum(col("pos")).as("p"), sum(col("neg")).as("nn"),
            sum(col("pos").cast(DecimalType(18, 0))
                * (lit(2) * col("negbelow") + col("neg")).cast(DecimalType(19, 0)))
              .as("num2"))
          .select(col("p").as("n_pos"), col("nn").as("n_neg"),
            when(col("p") > 0 && col("nn") > 0,
              round(col("num2").cast("double")
                / (lit(2.0) * col("p") * col("nn")), 6))
              .otherwise(lit(null).cast("double")).as("auc"))
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT CAST($tokSql AS BIGINT) AS sc,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents),
        g AS (
          SELECT sc, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS pos
          FROM sc GROUP BY sc),
        cum AS (
          SELECT sc, pos, n - pos AS neg,
                 CAST(sum(n - pos) OVER (ORDER BY sc
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - (n - pos) AS BIGINT) AS negbelow
          FROM g),
        agg AS (
          SELECT CAST(sum(pos) AS BIGINT) AS p,
                 CAST(sum(neg) AS BIGINT) AS nn,
                 sum(CAST(pos AS DECIMAL(18,0))
                     * CAST(2 * negbelow + neg AS DECIMAL(19,0))) AS num2
          FROM cum)
        SELECT p AS n_pos, nn AS n_neg,
               CASE WHEN p > 0 AND nn > 0
                    THEN round(CAST(num2 AS DOUBLE) / (2.0 * p * nn), 6)
               END AS auc
        FROM agg""")),

    // Brier score decomposition (Brier'50; Murphy, "A new vector
    // partition of the probability score", J. Appl. Meteor. 1973): the
    // one-row score card for the same heuristic forecast the isotonic
    // query calibrates — total Brier plus its reliability (calibration
    // gap, lower better), resolution (how much the forecast separates
    // outcomes, higher better), and uncertainty (outcome base-rate
    // entropy, the forecast-independent floor) components over the
    // 20-bin partition. Determinism: the forecast rounds to 6dp once;
    // every squared term (per-doc Brier, per-bin reliability/resolution)
    // rounds to 6dp and accumulates in exact DECIMAL, so summation order
    // cannot perturb any component; closing divisions are scalar IEEE.
    // One corpus scan + a <=20-row rollup.
    "quality_brier" -> QueryDef(
      fn = (s, d) => {
        import graft.text.LogReg
        val dec = DecimalType(18, 6)
        val f6 = round(col("x2"), 6)
        val base = LogReg.features(t(s, d, "documents"))
          .select(col("y"), f6.as("f"),
            least(floor(f6 * 20), lit(19L)).cast("long").as("bin"))
          .localCheckpoint(true) // three aggregates read it
        val tot = base.agg(count(lit(1)).as("n"), sum(col("y")).as("ys"),
          sum(round((col("f") - col("y")) * (col("f") - col("y")), 6)
            .cast(dec)).as("bsum")).head()
        val (n, ys, bsum) =
          (tot.getLong(0), tot.getDouble(1), tot.getDecimal(2))
        val baseRate = ys / n
        val bins = base.groupBy("bin")
          .agg(count(lit(1)).as("nk"), sum(col("y")).as("ysk"),
            sum(col("f").cast(dec)).as("fsum"))
        val fbar = col("fsum").cast("double") / col("nk").cast("double")
        val acc = col("ysk") / col("nk").cast("double")
        val parts = bins.agg(
          sum(round(col("nk") * (fbar - acc) * (fbar - acc), 6).cast(dec))
            .as("rel"),
          sum(round(col("nk") * (acc - lit(baseRate)) * (acc - lit(baseRate)),
            6).cast(dec)).as("res"))
        parts.select(lit(n).as("n_docs"),
          round(lit(bsum).cast("double") / n, 6).as("brier"),
          round(col("rel").cast("double") / n, 6).as("reliability"),
          round(col("res").cast("double") / n, 6).as("resolution"),
          lit(BigDecimal(baseRate * (1.0 - baseRate))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            .as("uncertainty"))
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 round(least(CAST($tokSql AS DOUBLE) / 100.0, 1.0), 6) AS f
          FROM documents),
        b AS (
          SELECT y, f, least(CAST(floor(f * 20) AS BIGINT), 19) AS bin
          FROM sc),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n, sum(y) AS ys,
                 sum(CAST(round((f - y) * (f - y), 6) AS DECIMAL(18,6)))
                   AS bsum
          FROM b),
        bins AS (
          SELECT bin, CAST(count(*) AS BIGINT) AS nk, sum(y) AS ysk,
                 sum(CAST(f AS DECIMAL(18,6))) AS fsum
          FROM b GROUP BY bin),
        parts AS (
          SELECT
            sum(CAST(round(nk * (CAST(fsum AS DOUBLE) / CAST(nk AS DOUBLE)
                                 - ysk / CAST(nk AS DOUBLE))
                              * (CAST(fsum AS DOUBLE) / CAST(nk AS DOUBLE)
                                 - ysk / CAST(nk AS DOUBLE)), 6)
                     AS DECIMAL(18,6))) AS rel,
            sum(CAST(round(nk * (ysk / CAST(nk AS DOUBLE)
                                 - (SELECT ys / n FROM tot))
                              * (ysk / CAST(nk AS DOUBLE)
                                 - (SELECT ys / n FROM tot)), 6)
                     AS DECIMAL(18,6))) AS res
          FROM bins)
        SELECT tot.n AS n_docs,
               round(CAST(tot.bsum AS DOUBLE) / tot.n, 6) AS brier,
               round(CAST(parts.rel AS DOUBLE) / tot.n, 6) AS reliability,
               round(CAST(parts.res AS DOUBLE) / tot.n, 6) AS resolution,
               round((tot.ys / tot.n) * (1.0 - tot.ys / tot.n), 6)
                 AS uncertainty
        FROM tot, parts""")),

    // Isotonic (PAV) calibration of the LR classifier (Zadrozny & Elkan
    // KDD'02 brought isotonic regression to classifier calibration;
    // Ayer et al. Ann. Math. Stat. 1955 for PAV itself): the
    // reliability table above DIAGNOSES miscalibration — this fits the
    // monotone repair. The score being calibrated is the RAW length-
    // saturation heuristic x2 = min(tokens/100, 1) against the en label
    // — the realistic shape ("turn a heuristic into a probability"): at
    // sf0.01 it occupies 18 of 20 bins with many rate inversions, so
    // the pooling genuinely fires (the trained-LR score collapses into
    // 2 bins and exercises nothing). Scores bin to 20 buckets (one
    // corpus scan); the isotonic fit is then computed via the MINIMAX
    // characterization of isotonic regression, fit(i) = max_{a<=i}
    // min_{b>=i} pooledRate(a, b) — equivalent to sequential
    // pool-adjacent-violators but expressible as bounded relational
    // algebra: interval pooled rates from prefix sums over the <=20-bin
    // relation, a theta join bounded by BIN COUNT (never data volume),
    // two nested min/max aggregates. Every pooled rate is one division
    // of exact integer-valued sums, so both engines compute the
    // identical quotient set and the same minimax winner — bit-exact
    // with zero sequential driver code. Output is monotone by
    // construction: the calibrated rate a quality gate can threshold
    // without the non-monotone raw-rate inversions.
    "quality_isotonic" -> QueryDef(
      fn = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.text.LogReg
        val bins = LogReg.features(t(s, d, "documents"))
          .select(col("y"),
            least(floor(col("x2") * 20), lit(19L)).cast("long").as("bin"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"), sum(col("y")).as("ys"))
          .localCheckpoint(true) // scanned by 4 downstream arms
        val wcum = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pre = bins.select(col("bin"), col("n"), col("ys"),
          sum(col("n")).over(wcum).as("cn"), sum(col("ys")).over(wcum).as("cy"))
        val lo = pre.select(col("bin").as("a"),
          (col("cn") - col("n")).as("cn0"), (col("cy") - col("ys")).as("cy0"))
        val hi = pre.select(col("bin").as("b"),
          col("cn").as("cn1"), col("cy").as("cy1"))
        val iv = lo.join(hi, col("a") <= col("b"))
          .select(col("a"), col("b"),
            ((col("cy1") - col("cy0"))
              / (col("cn1") - col("cn0")).cast("double")).as("pooled"))
        val fit = bins.select(col("bin").as("r"))
          .join(iv, col("a") <= col("r") && col("b") >= col("r"))
          .groupBy("r", "a").agg(min(col("pooled")).as("mn"))
          .groupBy("r").agg(max(col("mn")).as("iso"))
        bins.join(fit, col("bin") === col("r"))
          .select(col("bin"), col("n").as("n_docs"),
            col("ys").cast("long").as("n_pos"),
            round(col("ys") / col("n").cast("double"), 6).as("raw_rate"),
            round(col("iso"), 6).as("iso_rate"))
          .orderBy("bin")
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
                 least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) AS x2
          FROM documents),
        bins AS (
          SELECT least(CAST(floor(x2 * 20) AS BIGINT), 19) AS bin,
                 CAST(count(*) AS BIGINT) AS n, sum(y) AS ys
          FROM sc GROUP BY 1),
        pre AS (
          SELECT bin, n, ys,
                 sum(n) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                 sum(ys) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cy
          FROM bins),
        iv AS (
          SELECT lo.bin AS a, hi.bin AS b,
                 (hi.cy - (lo.cy - lo.ys))
                   / CAST(hi.cn - (lo.cn - lo.n) AS DOUBLE) AS pooled
          FROM pre lo JOIN pre hi ON lo.bin <= hi.bin),
        inner_min AS (
          SELECT r.bin AS r, iv.a, min(iv.pooled) AS mn
          FROM bins r JOIN iv ON iv.a <= r.bin AND iv.b >= r.bin
          GROUP BY r.bin, iv.a),
        fit AS (SELECT r, max(mn) AS iso FROM inner_min GROUP BY r)
        SELECT b.bin, b.n AS n_docs, CAST(b.ys AS BIGINT) AS n_pos,
               round(b.ys / CAST(b.n AS DOUBLE), 6) AS raw_rate,
               round(f2.iso, 6) AS iso_rate
        FROM bins b JOIN fit f2 ON f2.r = b.bin
        ORDER BY b.bin""")),

    // Inter-classifier agreement (Cohen'60 kappa): the two in-engine
    // English classifiers — the 5-round logistic regression (z > 0) and
    // the hashed-feature Naive Bayes (decimal log-posterior compare) —
    // scored per doc and cross-tabulated, with chance-corrected kappa.
    // The ensemble-health readout a curation pass checks before trusting
    // either model's gate: high kappa → the cheap model can stand in for
    // the expensive one; low kappa → their disagreement set IS the
    // label-noise triage queue. Confusion cells are exact integers; po /
    // pe / kappa are scalar IEEE derivations both engines repeat
    // identically from those integers; both training replays reuse the
    // shared CTE generators so neither model can drift from its own
    // registry entry.
    "quality_kappa" -> QueryDef(
      fn = (s, d) => {
        val cells = lrNbPerDoc(s, d)
          .agg(count(lit(1)).as("n"),
            sum(when(col("a") === 1L && col("b") === 1L, 1L).otherwise(0L))
              .as("n11"),
            sum(when(col("a") === 0L && col("b") === 0L, 1L).otherwise(0L))
              .as("n00"),
            sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
              .as("n10"),
            sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
              .as("n01"))
        val nD = col("n").cast("double")
        val po = (col("n11") + col("n00")).cast("double") / nD
        val pe = ((col("n11") + col("n10")).cast("double") / nD) *
          ((col("n11") + col("n01")).cast("double") / nD) +
          ((col("n00") + col("n01")).cast("double") / nD) *
          ((col("n00") + col("n10")).cast("double") / nD)
        cells.select(col("n").as("n_docs"),
          col("n11").as("n_both_en"), col("n00").as("n_both_other"),
          col("n10").as("n_lr_only"), col("n01").as("n_nb_only"),
          round(po, 6).as("po"), round(pe, 6).as("pe"),
          round((po - pe) / (lit(1.0) - pe), 6).as("kappa"))
      },
      oracle = Some(s"""
        WITH $lrNbOracleCtes,
        cells AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11,
                 sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00,
                 sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
                 sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01
          FROM lr JOIN nb USING (doc_id))
        SELECT CAST(n AS BIGINT) AS n_docs,
               CAST(n11 AS BIGINT) AS n_both_en,
               CAST(n00 AS BIGINT) AS n_both_other,
               CAST(n10 AS BIGINT) AS n_lr_only,
               CAST(n01 AS BIGINT) AS n_nb_only,
               round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
               round((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(n00 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n00 + n10 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 AS pe,
               round(((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
                      - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                         + (CAST(n00 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(n00 + n10 AS DOUBLE) / CAST(n AS DOUBLE))))
                     / (1.0
                        - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                           * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                           + (CAST(n00 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                             * (CAST(n00 + n10 AS DOUBLE)
                                / CAST(n AS DOUBLE)))), 6) AS kappa
        FROM cells""")),

    // Paired error-rate comparison (McNemar, Psychometrika 1947; the
    // classifier-comparison form in Dietterich, Neural Computation 1998):
    // kappa asks "do LR and NB AGREE" — this asks the decision question
    // "is one MORE ACCURATE than the other", which only the discordant
    // cells answer: b = LR right & NB wrong, c = LR wrong & NB right
    // (concordant docs cancel). chi² = (b−c)²/(b+c) without continuity
    // correction (the formula is pinned; NULL when b + c = 0). Shares
    // lrNbPerDoc / lrNbOracleCtes with quality_kappa, so both readouts
    // grade the identical classifier pair. All cells exact integers; one
    // scalar IEEE close.
    "quality_mcnemar" -> QueryDef(
      fn = (s, d) => {
        val aOk = col("a") === col("y")
        val bOk = col("b") === col("y")
        val cells = lrNbPerDoc(s, d)
          .agg(count(lit(1)).as("n"),
            sum(when(aOk && !bOk, 1L).otherwise(0L)).as("n_lr_right_nb_wrong"),
            sum(when(!aOk && bOk, 1L).otherwise(0L)).as("n_nb_right_lr_wrong"),
            sum(when(aOk && bOk, 1L).otherwise(0L)).as("n_both_right"),
            sum(when(!aOk && !bOk, 1L).otherwise(0L)).as("n_both_wrong"))
        val b = col("n_lr_right_nb_wrong")
        val c = col("n_nb_right_lr_wrong")
        cells.select(col("n").as("n_docs"),
          col("n_both_right"), col("n_both_wrong"), b, c,
          when(b + c > 0,
            round(((b - c) * (b - c)).cast("double")
              / (b + c).cast("double"), 6))
            .otherwise(lit(null).cast("double")).as("chi2"))
      },
      oracle = Some(s"""
        WITH $lrNbOracleCtes,
        v AS (
          SELECT CASE WHEN lr.a = lab.y THEN 1 ELSE 0 END AS aok,
                 CASE WHEN nb.b = lab.y THEN 1 ELSE 0 END AS bok
          FROM lr JOIN nb USING (doc_id) JOIN lab USING (doc_id)),
        cells AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN aok = 1 AND bok = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS b,
                 CAST(sum(CASE WHEN aok = 0 AND bok = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS c,
                 CAST(sum(CASE WHEN aok = 1 AND bok = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS bothr,
                 CAST(sum(CASE WHEN aok = 0 AND bok = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS bothw
          FROM v)
        SELECT n AS n_docs, bothr AS n_both_right, bothw AS n_both_wrong,
               b AS n_lr_right_nb_wrong, c AS n_nb_right_lr_wrong,
               CASE WHEN b + c > 0
                    THEN round(CAST((b - c) * (b - c) AS DOUBLE)
                               / CAST(b + c AS DOUBLE), 6) END AS chi2
        FROM cells""")),

    // Gopher-style rule-gate report (Rae et al., arXiv:2112.11446 Table A1
    // — public methodology): the classic hand-tuned quality rules as one
    // per-rule failure census — word-count band, mean-word-length band,
    // stopword presence, alphabetic-character ratio (thresholds adapted to
    // the fixture's short synthetic docs; production swaps the constants).
    // The report a curation pass reads to see WHICH rule does the cutting
    // before composing them into a gate. One scan, a 4-struct explode per
    // doc, group-bounded rollup; every predicate is integer or a fixed
    // IEEE division both engines compute identically.
    "quality_gopher_gate" -> QueryDef(
      fn = (s, d) => {
        val text = col("text")
        val tc = TextAnalysis.tokenCount(text)
        val mwl = TextAnalysis.avgTokenLen(text)
        val ar = TextAnalysis.alphaCount(text).cast("double") / length(text)
        val sw = TextAnalysis.wordHits(text, TextAnalysis.LangStopwords.head._2)
        def rule(name: String, fail: org.apache.spark.sql.Column) =
          struct(lit(name).as("rule"), when(fail, 1L).otherwise(0L).as("f"))
        t(s, d, "documents")
          .select(explode(array(
            rule("word_count_min30", tc < 30),
            rule("mean_word_len_4_5", mwl < 4.0 || mwl > 5.0),
            rule("stopword_presence", sw < 1),
            rule("alpha_ratio_082", ar < 0.82))).as("r"))
          .groupBy(col("r.rule").as("rule"))
          .agg(count(lit(1)).as("n_docs"), sum(col("r.f")).as("n_fail"))
          .select(col("rule"), col("n_docs"), col("n_fail"),
            round(col("n_fail").cast("double") / col("n_docs"), 6)
              .as("fail_rate"))
          .orderBy("rule")
      },
      oracle = Some(s"""
        WITH st AS (
          SELECT $tokSql AS tc,
                 CAST($alphaSql AS DOUBLE) / $tokSql AS mwl,
                 CAST($alphaSql AS DOUBLE) / len(text) AS ar,
                 ${hitsSql(TextAnalysis.LangStopwords.head._2)} AS sw
          FROM documents),
        r AS (
          SELECT 'word_count_min30' AS rule,
                 CASE WHEN tc < 30 THEN 1 ELSE 0 END AS f FROM st
          UNION ALL
          SELECT 'mean_word_len_4_5',
                 CASE WHEN mwl < 4.0 OR mwl > 5.0 THEN 1 ELSE 0 END FROM st
          UNION ALL
          SELECT 'stopword_presence',
                 CASE WHEN sw < 1 THEN 1 ELSE 0 END FROM st
          UNION ALL
          SELECT 'alpha_ratio_082',
                 CASE WHEN ar < 0.82 THEN 1 ELSE 0 END FROM st)
        SELECT rule, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f) AS BIGINT) AS n_fail,
               round(CAST(sum(f) AS DOUBLE) / count(*), 6) AS fail_rate
        FROM r GROUP BY rule ORDER BY rule""")),

    // Token counting: \S+ runs + alpha chars + mean token length.
    // Character-level Shannon entropy — the CCNet-family quality signal
    // that catches what length/punctuation ratios miss: gibberish and
    // key-mashing score low, base64/hex blobs score implausibly high and
    // flat, natural prose sits in a narrow band. Determinism: each
    // (doc, char) term (c/n)·ln(c/n) is a float of integer ratios both
    // engines compute identically, rounded to 6 dp and summed in exact
    // DECIMAL so per-doc accumulation order cannot drift. One explode +
    // two doc-keyed aggregations, all scan-side.
    "text_entropy" -> QueryDef(
      fn = (s, d) => {
        // Per-char explode over the BINARY cast: substring on a STRING
        // locates its start by scanning codepoints from the front — O(i)
        // per call, O(len²) per document — while substring on BINARY is
        // one O(1) offset + O(k) copy (guide §1.2 per-task work; kernel
        // A/B in OPTIMIZATION_r15.md). Byte == char for this corpus
        // (documents.text is pure ASCII at every SF — the same verified
        // fixture guarantee the md5 shingle/token hashing already relies
        // on), so the emitted char multiset is identical.
        val chars = t(s, d, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("tb"))
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, length(tb)), i -> cast(substring(tb, i, 1) as string))"))
              .as("ch"))
        val cnt = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
        // n = Σc over the per-char counts — derived from the aggregate
        // (distinct-chars-per-doc rows), so the character explode (the
        // dominant cost) executes exactly once; no second scan, no join.
        cnt
          .withColumn("n", sum(col("c")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
          .select(col("doc_id"), col("n"),
            round((col("c") / col("n"))
              * log(col("c").cast("double") / col("n")), 6)
              .cast(DecimalType(18, 6)).as("term"))
          .groupBy("doc_id")
          .agg(max(col("n")).as("n_chars_counted"),
            (-sum(col("term"))).cast("double").as("char_entropy"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH ch AS (
          SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
          FROM (SELECT doc_id, text,
                       unnest(generate_series(1, length(text))) AS i
                FROM documents)),
        cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        tot AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY 1),
        t AS (
          SELECT c.doc_id, t.n,
                 CAST(round((c.c / t.n) * ln(CAST(c.c AS DOUBLE) / t.n), 6)
                      AS DECIMAL(18,6)) AS term
          FROM cnt c JOIN tot t USING (doc_id))
        SELECT doc_id, max(n) AS n_chars_counted,
               CAST(-sum(term) AS DOUBLE) AS char_entropy
        FROM t GROUP BY doc_id ORDER BY doc_id""")),

    "text_stats" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        docs.select(
          col("doc_id"),
          col("n_chars"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
          TextAnalysis.alphaCount(col("text")).cast("long").as("n_alpha"),
          round(TextAnalysis.avgTokenLen(col("text")), 6).as("avg_token_len"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id, n_chars,
               CAST($tokSql AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text,
                 '${TextAnalysis.BpePattern.replace("'", "''")}')) AS BIGINT)
                 AS n_bpe_tokens,
               CAST($alphaSql AS BIGINT) AS n_alpha,
               round(CAST($alphaSql AS DOUBLE) / $tokSql, 6) AS avg_token_len
        FROM documents ORDER BY doc_id"""),
      bench = true),

    // Quality scoring: stopword fraction + length band, branch-free.
    "text_quality" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id,
               round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                     / $tokSql, 6) AS stopword_ratio,
               round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                       / $tokSql * 0.5
                     + least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) * 0.5,
                     6) AS quality
        FROM documents ORDER BY doc_id""")),

    // Language ID: stopword-hit argmax with fixed tie precedence.
    "text_langid" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"), col("lang"),
          TextAnalysis.langId(lower(col("text"))).as("lang_pred"))
          .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id, lang, $langCaseSql AS lang_pred
        FROM documents ORDER BY doc_id""")),

    // Classifier evaluation as a corpus query: the confusion matrix of
    // the language-ID heuristic against the fixture's lang label, with
    // per-cell share of the labeled language — how every production
    // lang-ID / quality-classifier gets validated before it gates data.
    // One grouped count over the scored scan; the matrix is
    // |langs|² rows, driver-safe at any corpus size.
    "text_langid_confusion" -> QueryDef(
      fn = (s, d) => {
        val scored = t(s, d, "documents").select(
          col("lang"), TextAnalysis.langId(lower(col("text"))).as("lang_pred"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        scored.groupBy("lang", "lang_pred")
          .agg(count(lit(1)).as("n"))
          .withColumn("lang_total", sum(col("n")).over(w))
          .select(col("lang"), col("lang_pred"), col("n"),
            round(col("n").cast("double") / col("lang_total"), 6).as("share"))
          .orderBy("lang", "lang_pred")
      },
      oracle = Some(s"""
        WITH scored AS (
          SELECT lang, $langCaseSql AS lang_pred FROM documents),
        cells AS (
          SELECT lang, lang_pred, count(*) AS n
          FROM scored GROUP BY lang, lang_pred)
        SELECT lang, lang_pred, n,
               round(CAST(n AS DOUBLE) /
                     sum(n) OVER (PARTITION BY lang), 6) AS share
        FROM cells ORDER BY lang, lang_pred""")),

    // Gopher-style repetition signals: duplicate-token fraction and
    // top-token fraction per document — the classic filters for
    // low-quality repetitive text in training-data curation (public
    // Gopher/MassiveText methodology). Shape: token explode (narrow) then
    // a two-level aggregate — (doc, word) counts partial-aggregate
    // map-side before the shuffle, and the second aggregate runs over the
    // tiny distinct-words-per-doc relation, so cost is O(tokens) with no
    // skew hazard; repetition is inherently a per-doc multiset statistic,
    // which a scan-side regex cannot express.
    "text_repetition" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents").select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))
        toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(
            sum("c").as("n_tokens"),
            count(lit(1)).as("n_distinct"),
            max("c").as("top_c"))
          .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
            round((col("n_tokens") - col("n_distinct")).cast("double")
              / col("n_tokens"), 6).as("dup_token_frac"),
            round(col("top_c").cast("double") / col("n_tokens"), 6)
              .as("top_token_frac"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        counts AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_distinct,
               round((sum(c) - count(*)) * 1.0 / sum(c), 6) AS dup_token_frac,
               round(max(c) * 1.0 / sum(c), 6) AS top_token_frac
        FROM counts GROUP BY doc_id ORDER BY doc_id""")),

    // Document chunking: fixed-width sliding windows (200 chars, stride
    // 150 — 50-char overlap) — the unit-of-work split every long-document
    // pipeline needs before tokenization/embedding. Pure scan-side
    // sequence+transform+posexplode; chunk content is reported as md5 to
    // keep the result narrow.
    "text_chunk" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents")
          .where(length(col("text")) >= 1)
          .select(col("doc_id"),
            posexplode(expr(
              "transform(sequence(1, length(text), 150), s -> substring(text, s, 200))"))
              .as(Seq("chunk_no", "chunk")))
          .select(col("doc_id"), col("chunk_no").cast("long").as("chunk_no"),
            length(col("chunk")).cast("long").as("chunk_len"),
            md5(col("chunk")).as("chunk_md5"))
          .orderBy("doc_id", "chunk_no"),
      oracle = Some("""
        SELECT doc_id, CAST((s - 1) // 150 AS BIGINT) AS chunk_no,
               CAST(length(substr(text, CAST(s AS INT), 200)) AS BIGINT)
                 AS chunk_len,
               md5(substr(text, CAST(s AS INT), 200)) AS chunk_md5
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, length(text), 150)) AS s
              FROM documents WHERE length(text) >= 1)
        ORDER BY doc_id, chunk_no""")),

    // Sequence packing (concat-and-split batch construction): documents
    // are concatenated in deterministic order per language and split every
    // 512 BPE tokens; each doc is assigned the training sequence where it
    // STARTS (exclusive running token count DIV 512). One window over the
    // scan — the same shape at any corpus size, partitioned by the
    // grouping key.
    "text_pack" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.bpeTokenCount(col("text")).cast("long").as("n_tokens"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("lang"), col("n_tokens"),
            expr("(cum - n_tokens) DIV 512").as("seq_id"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.BpePattern.replace("'", "''")}')) AS BIGINT)
                   AS n_tokens
          FROM documents)
        SELECT doc_id, lang, n_tokens,
               CAST((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) // 512 AS BIGINT) AS seq_id
        FROM toks ORDER BY doc_id""")),

    // Train/eval contamination check (GPT-3-style decontamination): find
    // training docs sharing any exact word 5-gram with the held-out split
    // (doc_id % 10 == 0 plays the benchmark). This is a different op from
    // near-dup Jaccard — a single verbatim overlap is a hit regardless of
    // overall similarity. 100 TB shape: benchmark suites are tiny compared
    // to the corpus, so the eval n-gram set BROADCASTS and the train side
    // is a pure scan→explode→broadcast-hash-join — the corpus side is
    // NEVER shuffled: its shingles stay raw (narrow explode, no distinct),
    // and dedup happens after the join on the tiny matched set. Joining on
    // the md5 of the shingle keeps the broadcast and join keys
    // fixed-width.
    "text_contamination" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val train = Dedup.wordShingles(
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0), n = 5, dedup = false)
          .select(col("doc_id").as("train_doc_id"), md5(col("shingle")).as("h"))
        val eval = Dedup.wordShingles(
          docs.where(pmod(col("doc_id"), lit(10)) === 0), n = 5)
          .select(col("doc_id").as("eval_doc_id"), md5(col("shingle")).as("h"))
        train.join(broadcast(eval), Seq("h"))
          .select("train_doc_id", "eval_doc_id", "h").distinct()
          .groupBy("train_doc_id", "eval_doc_id")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("train_doc_id", "eval_doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)], toks[CAST(i+3 AS INT)],
                           toks[CAST(i+4 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 4)) AS i
                FROM toks WHERE len(toks) >= 5))
        SELECT s1.doc_id AS train_doc_id, s2.doc_id AS eval_doc_id,
               count(*) AS n_shared
        FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
        WHERE s1.doc_id % 10 <> 0 AND s2.doc_id % 10 = 0
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Deterministic stratified sampling for training-data mixtures: keep
    // 60% of English docs and 30% of everything else, selected by an
    // md5-derived hash bucket of the doc id — reproducible across engines
    // and runs (no RNG state), trivially parallel, and the standard way
    // to draw a fixed mixture from a 100 TB corpus without a shuffle or a
    // reservoir. Pure scan-side filter; codegen'd.
    "sample_stratified" -> QueryDef(
      fn = (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100
        t(s, d, "documents")
          .withColumn("bucket", bucket)
          .where(col("bucket") <
            when(col("lang") === "en", lit(60)).otherwise(lit(30)))
          .select(col("doc_id"), col("lang"), col("bucket"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                 % 100 AS bucket
        FROM documents
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                 % 100 < CASE WHEN lang = 'en' THEN 60 ELSE 30 END
        ORDER BY doc_id""")),

    // Temperature-resampled language mixture: each language is kept at
    // rate min(1, sqrt(64/count_lang)) — dominant languages downsample
    // toward a fixed per-language budget, rare ones pass through, the
    // T=2 special case of count^(1-1/T) mixture reweighting (sqrt and
    // double division are IEEE-exact on both engines, so the rates are
    // bit-identical — no cross-language summation whose order could
    // drift). Per-doc acceptance reuses the md5 hash-bucket trick above:
    // reproducible, stateless, scan-side. The per-language rates are a
    // language-sized aggregate broadcast back onto the corpus.
    "sample_temperature" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val rates = docs.groupBy("lang")
          .agg(least(lit(1.0), sqrt(lit(64.0) / count(lit(1)))).as("rate"))
        val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").cast("double") / 65536.0
        docs.join(broadcast(rates), "lang")
          .where(frac < col("rate"))
          .select(col("doc_id"), col("lang"), col("rate"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH rates AS (
          SELECT lang, least(1.0, sqrt(64.0 / count(*))) AS rate
          FROM documents GROUP BY lang)
        SELECT doc_id, d.lang AS lang, rate
        FROM documents d JOIN rates USING (lang)
        WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                / 65536.0 < rate
        ORDER BY doc_id""")),

    // Mixture upsampling (epoch repetition): low-resource languages are
    // REPEATED to equalize per-language training volume — the standard
    // multilingual recipe (repeat factor = largest language's chars /
    // this language's chars, capped at 4 epochs so no doc over-repeats).
    // Whole epochs materialize via sequence-explode; the fractional final
    // epoch admits each doc by the same md5 coin as rate-based sampling.
    // Scale shape: the per-language rate table broadcasts; the explode
    // multiplies only the rows it keeps (≤4×); no shuffle of the corpus.
    // The epoch column makes downstream global shuffles see repeated docs
    // as distinct training rows.
    "mixture_upsample" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val lc = docs.groupBy("lang")
          .agg(sum("n_chars").cast("double").as("chars"))
        // one-row scalar (largest language) via the watermark-pull pattern
        val m = lc.agg(max(col("chars"))).head.getDouble(0)
        val rates = lc.select(col("lang"),
          least(lit(4.0), lit(m) / col("chars")).as("rate"))
        val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").cast("double") / 65536.0
        docs.join(broadcast(rates), "lang")
          .withColumn("epoch",
            explode(expr("sequence(CAST(1 AS BIGINT), CAST(ceil(rate) AS BIGINT))")))
          .where(col("epoch") <= floor(col("rate")) ||
            frac < (col("rate") - floor(col("rate"))))
          .select(col("doc_id"), col("lang"), col("epoch"), col("rate"))
          .orderBy("doc_id", "epoch")
      },
      oracle = Some("""
        WITH lc AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS chars
                    FROM documents GROUP BY 1),
        rates AS (SELECT lang,
                         least(CAST(4.0 AS DOUBLE),
                               (SELECT max(chars) FROM lc) / chars) AS r
                  FROM lc)
        SELECT doc_id, d.lang AS lang, epoch, r AS rate
        FROM documents d JOIN rates USING (lang),
             unnest(generate_series(1, CAST(ceil(r) AS BIGINT))) AS t(epoch)
        WHERE epoch <= floor(r)
           OR CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                / 65536.0 < r - floor(r)
        ORDER BY doc_id, epoch""")),

    // Exact-count per-group sampling: exactly N docs per language,
    // selected by md5-hash rank — the deterministic way to carve a
    // fixed-size eval set out of a 100 TB corpus (rate-based sampling
    // above gives proportions; this gives exact counts). One window per
    // group ordered by the hash (uniform, reproducible, no RNG state),
    // doc_id tie-break makes the rank total.
    "sample_fixed_per_group" -> QueryDef(
      fn = (s, d) => {
        val h = md5(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
        t(s, d, "documents")
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 20)
          .select(col("doc_id"), col("lang"), col("rnk"))
          .orderBy("lang", "rnk")
      },
      oracle = Some("""
        SELECT doc_id, lang, rnk FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
          FROM documents)
        WHERE rnk <= 20 ORDER BY lang, rnk""")),

    // Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    // IPL 2006): each doc races an exponential clock -ln(u)/w — the k
    // smallest arrival times are EXACTLY a weight-proportional sample
    // without replacement. Here w = n_chars (longer docs proportionally
    // likelier — the char-budget view of corpus sampling) and u is the
    // md5(doc_id) uniform, so there is no RNG: both engines derive the
    // same race. The key rounds to 12 decimals before ranking (doc_id
    // tie-break) so a last-ulp ln() divergence cannot flip an ordering.
    // orderBy+limit plans as TakeOrderedAndProject — per-partition top-k
    // merge, no global sort; the one-key selection is exactly how a
    // 100 TB weighted draw should run.
    "sample_weighted" -> QueryDef(
      fn = (s, d) => {
        val scored = t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"))
          .withColumn("h",
            conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast("long"))
          .withColumn("es_key",
            round(-log((col("h") + 1).cast("double") / lit(281474976710656.0))
              / col("n_chars"), 12))
        val top = scored.orderBy(col("es_key"), col("doc_id")).limit(20)
        top
          .withColumn("rnk", row_number()
            .over(Window.orderBy(col("es_key"), col("doc_id"))).cast("long"))
          .select(col("rnk"), col("doc_id"), col("n_chars"), col("es_key"))
          .orderBy("rnk")
      },
      oracle = Some("""
        WITH s AS (
          SELECT doc_id, n_chars,
                 CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                      AS BIGINT) AS h
          FROM documents),
        k AS (
          SELECT doc_id, n_chars,
                 round(-ln((h + 1) / 281474976710656.0) / n_chars, 12)
                   AS es_key
          FROM s)
        SELECT row_number() OVER (ORDER BY es_key, doc_id) AS rnk,
               doc_id, n_chars, es_key
        FROM k ORDER BY es_key, doc_id LIMIT 20""")),

    // DSIR-style importance ranking (Xie et al., NeurIPS'23 "Data
    // Selection for Language Models via Importance Resampling"): rank the
    // raw pool (lang != 'en') by how target-like (lang = 'en') each doc's
    // hashed-unigram distribution is — per-doc Σ ln(p̂_target(b)/p̂_raw(b))
    // over md5-hashed token buckets with add-one smoothing. The domain-
    // adaptation selection signal that needs NO trained classifier: both
    // n-gram models are one bucket-bounded aggregate (B=64 rows) over the
    // tokenized scan, the log-ratio table is bucket-sized (AQE broadcasts
    // it un-hinted), and scoring is one more pass over the SAME persisted
    // tokens. At 100 TB: two bounded aggregates + one scan — no
    // vocabulary build, no per-doc model inference. Determinism: each
    // bucket's log-ratio rounds to 6dp; per-doc sums accumulate in
    // DECIMAL(18,6) (order-independent), top-20 by rounded weight with
    // doc_id tie-break.
    "sample_dsir" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val B = 64
        val toks = scope.persist(t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w"))
          .select(col("doc_id"), col("lang"),
            (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long")
              % B).as("b")))
        val raw = toks.where(col("lang") =!= "en")
        // ONE aggregate pass over the cache derives all four count
        // relations the old shape computed in four separate jobs (ct, cs
        // and the two total-count scalars — guide §2.1): counts by
        // (bucket, is-target), 2B rows, checkpointed so the ratio join
        // and the scalar pulls read a leaf.
        val cnts = scope.checkpoint(toks
          .groupBy(col("b"), (col("lang") === "en").as("tgt"))
          .agg(count(lit(1)).as("c")))
        val ct = cnts.where(col("tgt")).select(col("b"), col("c").as("ctb"))
        val cs = cnts.where(!col("tgt")).select(col("b"), col("c").as("csb"))
        // a null lang groups as tgt = NULL and counts toward NEITHER
        // total, exactly like the old ===/=!= filters excluded it
        val tot = cnts.groupBy("tgt").agg(sum(col("c")).as("t")).collect()
          .filterNot(_.isNullAt(0))
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        val tt: Long = tot.getOrElse(true, 0L)
        val ts: Long = tot.getOrElse(false, 0L)
        val ratios = s.range(B).select(col("id").as("b"))
          .join(ct, Seq("b"), "left").join(cs, Seq("b"), "left")
          .select(col("b"),
            round(log(
              ((coalesce(col("ctb"), lit(0L)) + 1).cast("double")
                / lit((tt + B).toDouble)) /
              ((coalesce(col("csb"), lit(0L)) + 1).cast("double")
                / lit((ts + B).toDouble))), 6)
              .cast(DecimalType(18, 6)).as("term"))
        scope.result(raw.join(ratios, "b")
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_toks"),
            sum(col("term")).as("lw"))
          .select(col("doc_id"), col("lang"), col("n_toks"),
            round(col("lw").cast("double"), 6).as("logw"))
          .orderBy(col("logw").desc, col("doc_id")).limit(20))
      },
      oracle = Some("""
        WITH tb AS (
          SELECT doc_id, lang,
                 CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % 64 AS b
          FROM (SELECT doc_id, lang,
                       unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x <> '')) AS w
                FROM documents)),
        ct AS (SELECT b, count(*) AS ctb FROM tb WHERE lang = 'en' GROUP BY b),
        cs AS (SELECT b, count(*) AS csb FROM tb WHERE lang <> 'en' GROUP BY b),
        tt AS (SELECT count(*) AS t FROM tb WHERE lang = 'en'),
        ts AS (SELECT count(*) AS t FROM tb WHERE lang <> 'en'),
        r AS (
          SELECT g.b,
                 CAST(round(ln(
                   (CAST(COALESCE(ct.ctb, 0) + 1 AS DOUBLE)
                     / CAST(tt.t + 64 AS DOUBLE)) /
                   (CAST(COALESCE(cs.csb, 0) + 1 AS DOUBLE)
                     / CAST(ts.t + 64 AS DOUBLE))), 6)
                   AS DECIMAL(18,6)) AS term
          FROM (SELECT unnest(generate_series(0, 63)) AS b) g
          LEFT JOIN ct ON ct.b = g.b
          LEFT JOIN cs ON cs.b = g.b, tt, ts),
        sc AS (
          SELECT tb.doc_id, tb.lang, count(*) AS n_toks, sum(r.term) AS lw
          FROM tb JOIN r ON r.b = tb.b
          WHERE tb.lang <> 'en'
          GROUP BY 1, 2)
        SELECT doc_id, lang, CAST(n_toks AS BIGINT) AS n_toks,
               round(CAST(lw AS DOUBLE), 6) AS logw
        FROM sc ORDER BY logw DESC, doc_id LIMIT 20""")),

    // Per-source document cap: keep the top 10 docs per source by quality
    // (doc_id tie-break) — the standard crawl-curation guard against any
    // single domain dominating the mixture. One window per source over the
    // scored scan; at 100 TB the same shape holds, partitioned by the
    // source key (high cardinality, no skew hazard — each partition is one
    // domain's docs).
    "sample_source_cap" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .withColumn("rnk", row_number().over(w).cast("long"))
          .where(col("rnk") <= 10)
          .orderBy("source", "rnk")
      },
      oracle = Some(s"""
        SELECT doc_id, source, quality, rnk FROM (
          SELECT doc_id, source, quality,
                 row_number() OVER (PARTITION BY source
                   ORDER BY quality DESC, doc_id) AS rnk
          FROM (SELECT doc_id, source,
                       round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                               / $tokSql * 0.5
                             + least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) * 0.5,
                             6) AS quality
                FROM documents))
        WHERE rnk <= 10 ORDER BY source, rnk""")),

    // Deterministic train/val/test split: an md5 bucket of the doc id maps
    // 90% of docs to train, 5% to val, 5% to test — reproducible across
    // engines/runs and stable under corpus growth (a doc's split never
    // changes when other docs arrive, unlike rank-based splits). Reported
    // as per-language split counts; the assignment itself is a scan-side
    // codegen'd expression.
    "split_assign" -> QueryDef(
      fn = (s, d) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100
        t(s, d, "documents")
          .withColumn("split",
            when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang", "split")
      },
      oracle = Some("""
        SELECT lang,
               CASE WHEN b < 90 THEN 'train'
                    WHEN b < 95 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs
        FROM (SELECT lang,
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                          AS BIGINT) % 100 AS b
              FROM documents)
        GROUP BY 1, 2 ORDER BY lang, split""")),

    // Corpus-level quality gate: drop documents scoring below the corpus
    // mean quality. The threshold is an exact-decimal mean (bit-identical
    // across engines — no percentile interpolation to drift), computed as
    // a one-row distributed aggregate and pulled to the driver as a
    // literal (the watermark-pull pattern), so the filter itself stays a
    // broadcast-free codegen'd scan. The regex-heavy scoring projection is
    // PERSISTED (narrow: doc_id + one double) before the threshold action,
    // so the corpus text is scanned and scored exactly once — at 100 TB the
    // second full scan the naive shape pays is the dominant cost. The
    // scoring cache is released before returning: the survivor RESULT
    // (same narrow schema) is materialized from it and stays cached —
    // that one cache intentionally outlives the builder because the
    // returned plan reads it.
    "quality_gate" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val scored = scope.persist(t(s, d, "documents").select(
          col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality")))
        val thr: Double = scored
          .agg((sum(col("quality").cast(DecimalType(18, 6))).cast("double") /
            count(lit(1))).as("t"))
          .head.getDouble(0)
        scope.result(scored.where(col("quality") >= lit(thr)).orderBy("doc_id"))
      },
      oracle = Some(s"""
        WITH scored AS (
          SELECT doc_id,
                 round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                         / $tokSql * 0.5
                       + least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) * 0.5,
                       6) AS quality
          FROM documents)
        SELECT doc_id, quality FROM scored
        WHERE quality >= (SELECT CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                                   / count(*) FROM scored)
        ORDER BY doc_id""")),

    // Budget-constrained selection: fill a per-language char budget with
    // the highest-quality documents first — the data-selection primitive
    // ("best data under the token budget"), distinct from rate- and
    // count-based sampling. One window per language ordered by (quality
    // DESC, doc_id); a doc is kept iff it STARTS under the budget, so the
    // set is prefix-closed and deterministic. The running sum shuffles
    // once on the language key.
    "sample_quality_budget" -> QueryDef(
      fn = (s, d) => {
        val budget = 20000L
        val scored = t(s, d, "documents").select(
          col("doc_id"), col("lang"), col("n_chars"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        scored
          .withColumn("cum_chars", sum(col("n_chars")).over(w))
          .where(col("cum_chars") - col("n_chars") < budget)
          .select("doc_id", "lang", "n_chars", "quality", "cum_chars")
          .orderBy("lang", "cum_chars", "doc_id")
      },
      oracle = Some(s"""
        WITH scored AS (
          SELECT doc_id, lang, n_chars, $qualitySql AS quality
          FROM documents),
        cum AS (
          SELECT doc_id, lang, n_chars, quality,
                 CAST(sum(n_chars) OVER (PARTITION BY lang
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_chars
          FROM scored)
        SELECT doc_id, lang, n_chars, quality, cum_chars
        FROM cum WHERE cum_chars - n_chars < 20000
        ORDER BY lang, cum_chars, doc_id""")),

    // Vocabulary coverage: per-doc out-of-vocabulary rate against the
    // corpus's top-200 words — the tokenizer-fit signal (a doc whose
    // tokens mostly miss the vocabulary inflates token counts and
    // training cost). The vocabulary is a TakeOrdered top-k (never a full
    // sort), broadcasts to the token scan, and the per-doc rollup is one
    // grouped aggregate of the token relation.
    "text_oov_rate" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w"))
        val vocab = toks.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(200)
          .select(col("w"), lit(true).as("in_v"))
        toks.join(broadcast(vocab), Seq("w"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_toks"), col("n_oov"),
            (col("n_oov").cast("double") / col("n_toks")).as("oov_rate"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        vocab AS (
          SELECT w FROM (SELECT w, count(*) AS c FROM toks
                         GROUP BY 1 ORDER BY c DESC, w LIMIT 200)),
        agg AS (
          SELECT doc_id, count(*) AS n_toks,
                 CAST(sum(CASE WHEN w IN (SELECT w FROM vocab)
                          THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
          FROM toks GROUP BY 1)
        SELECT doc_id, n_toks, n_oov,
               CAST(n_oov AS DOUBLE) / n_toks AS oov_rate
        FROM agg ORDER BY doc_id""")),

    // Snapshot diff for corpus versioning: two fingerprint maps
    // full-outer-joined on the key -> added / removed / changed /
    // unchanged per doc (the "what moved between releases" report).
    // Old/new snapshots are deterministic slices of the fixture, with a
    // simulated edit on every 10th doc so all four statuses occur. At
    // scale this is one co-partitioned join of two narrow (key, md5)
    // relations — text never crosses the shuffle.
    "corpus_diff" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val old = docs.where(col("doc_id") % 3 =!= 0)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(col("text")).as("fp_old"))
        val nw = docs.where(col("doc_id") % 2 === 0)
          .select(col("doc_id"),
            TextAnalysis.fingerprint(
              when(col("doc_id") % 10 === 0, concat(col("text"), lit(" rev2")))
                .otherwise(col("text"))).as("fp_new"))
        old.join(nw, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("fp_old").isNull, "added")
              .when(col("fp_new").isNull, "removed")
              .when(col("fp_old") =!= col("fp_new"), "changed")
              .otherwise("unchanged").as("status"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH old AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp_old
          FROM documents WHERE doc_id % 3 <> 0),
        nw AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(
                   CASE WHEN doc_id % 10 = 0 THEN text || ' rev2' ELSE text END),
                   '\s+', ' ', 'g'))) AS fp_new
          FROM documents WHERE doc_id % 2 = 0)
        SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
               CASE WHEN fp_old IS NULL THEN 'added'
                    WHEN fp_new IS NULL THEN 'removed'
                    WHEN fp_old <> fp_new THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
        ORDER BY doc_id""")),

    // Per-source boilerplate detection: leading word-8-grams shared by a
    // meaningful fraction of one source's documents are crawl boilerplate
    // (site headers, navigation, license banners) — the classic
    // remove-by-prefix signal. One narrow projection (first window only,
    // no explode) plus a (source, prefix)-keyed count against the
    // source's total; at 100 TB both aggregates partial-combine map-side
    // and the shuffled state is one row per distinct (source, prefix).
    "boilerplate_prefixes" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
          .where(size(col("toks")) >= 8)
          .select(col("doc_id"), col("source"),
            md5(expr("concat_ws(' ', slice(toks, 1, 8))")).as("prefix"))
        val totals = docs.groupBy("source").agg(count(lit(1)).as("total"))
        docs.groupBy("source", "prefix").agg(count(lit(1)).as("n"))
          .join(totals, "source")
          .where(col("n") >= greatest(lit(2), col("total") * 0.05))
          .select(col("source"), col("prefix"), col("n"),
            round(col("n") * lit(1.0) / col("total"), 6).as("frac"))
          .orderBy("source", "prefix")
      },
      oracle = Some("""
        WITH pre AS (
          SELECT doc_id, source,
                 md5(array_to_string(list_slice(
                   list_filter(string_split_regex(lower(text), '\s+'),
                               x -> x <> ''), 1, 8), ' ')) AS prefix
          FROM documents
          WHERE len(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) >= 8),
        totals AS (SELECT source, count(*) AS total FROM pre GROUP BY 1)
        SELECT p.source, p.prefix, count(*) AS n,
               round(count(*) * 1.0 / any_value(t.total), 6) AS frac
        FROM pre p JOIN totals t ON t.source = p.source
        GROUP BY p.source, p.prefix
        HAVING count(*) >= greatest(2, any_value(t.total) * 0.05)
        ORDER BY p.source, p.prefix""")),

    // The removal pass boilerplate_prefixes measures: docs carrying a
    // flagged per-source shared 8-token prefix (crawl headers/banners)
    // are reassembled WITHOUT it; everything else passes through
    // untouched. Same detect logic as the stats query, then one
    // membership semi-join and a scan-side slice — reported as
    // kept-token count + md5 like the span-removal family, so the
    // result stays narrow at any corpus size.
    "boilerplate_clean" -> QueryDef(
      fn = (s, d) => {
        val base = t(s, d, "documents")
          .select(col("doc_id"), col("source"),
            expr("filter(split(lower(text), '\\\\s+'), x -> x != '')").as("toks"))
        val pre = base.where(size(col("toks")) >= 8)
          .select(col("doc_id"), col("source"),
            md5(expr("concat_ws(' ', slice(toks, 1, 8))")).as("prefix"))
        val totals = pre.groupBy("source").agg(count(lit(1)).as("total"))
        val flagged = pre.groupBy("source", "prefix").agg(count(lit(1)).as("n"))
          .join(totals, "source")
          .where(col("n") >= greatest(lit(2), col("total") * 0.05))
          .select("source", "prefix")
        val strip = pre.join(flagged, Seq("source", "prefix"), "left_semi")
          .select(col("doc_id"), lit(1).as("strip"))
        base.join(strip, Seq("doc_id"), "left")
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_tokens"),
            when(col("strip").isNotNull,
              expr("slice(toks, 9, size(toks))")).otherwise(col("toks"))
              .as("kept"))
          .select(col("doc_id"), col("n_tokens"),
            size(col("kept")).cast("long").as("kept_tokens"),
            md5(concat_ws(" ", col("kept"))).as("clean_md5"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, source,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        pre AS (
          SELECT doc_id, source,
                 md5(array_to_string(list_slice(toks, 1, 8), ' ')) AS prefix
          FROM toks WHERE len(toks) >= 8),
        totals AS (SELECT source, count(*) AS total FROM pre GROUP BY 1),
        flagged AS (
          SELECT p.source, p.prefix
          FROM pre p JOIN totals t ON t.source = p.source
          GROUP BY p.source, p.prefix
          HAVING count(*) >= greatest(2, any_value(t.total) * 0.05)),
        strip AS (
          SELECT pre.doc_id FROM pre JOIN flagged USING (source, prefix))
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(len(CASE WHEN s.doc_id IS NOT NULL
                             THEN list_slice(t.toks, 9, len(t.toks))
                             ELSE t.toks END) AS BIGINT) AS kept_tokens,
               md5(array_to_string(
                 CASE WHEN s.doc_id IS NOT NULL
                      THEN list_slice(t.toks, 9, len(t.toks))
                      ELSE t.toks END, ' ')) AS clean_md5
        FROM toks t LEFT JOIN strip s ON s.doc_id = t.doc_id
        ORDER BY t.doc_id""")),

    // Per-language quality CALIBRATION: gate each doc on its quality
    // percentile WITHIN its language (keep the top half per language)
    // instead of one global threshold — raw quality scores are not
    // comparable across languages (stopword lists and length norms bias
    // them), and a global cut silently skews the language mixture. One
    // window per language; percent_rank's (rank-1)/(n-1) is an exact
    // small-integer ratio, identical across engines under a total order.
    "quality_calibrated" -> QueryDef(
      fn = (s, d) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("quality"), col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            TextAnalysis.qualityScore(col("text")).as("quality"))
          .withColumn("q_pct", round(percent_rank().over(w), 6))
          .where(col("q_pct") >= 0.5)
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id, lang, quality, q_pct FROM (
          SELECT doc_id, lang, quality,
                 round(percent_rank() OVER (PARTITION BY lang
                   ORDER BY quality, doc_id), 6) AS q_pct
          FROM (SELECT doc_id, lang,
                       round(CAST(${hitsSql(TextAnalysis.LangStopwords.head._2)} AS DOUBLE)
                               / $tokSql * 0.5
                             + least(CAST($tokSql AS DOUBLE) / 100.0, 1.0) * 0.5,
                             6) AS quality
                FROM documents))
        WHERE q_pct >= 0.5 ORDER BY doc_id""")),

    // Binned per-doc quality percentile — the 100 TB-safe form of the
    // normalization quality_calibrated's exact percent_rank gives: that
    // window sorts EVERY doc per language; here scores bin at 3dp, the
    // CDF is computed over the bounded (lang, bin) relation (≤1001 rows
    // per language regardless of corpus size), and docs pick up their
    // percentile by a (lang, bin) join — a bounded build side AQE can
    // broadcast. Percentile = CDF at the doc's bin (fraction of same-
    // language docs scoring ≤ this bin), so the column is a drop-in
    // mixture-preserving normalized feature.
    "quality_percentile_binned" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        // the regex-heavy scoring projection feeds BOTH the CDF build and
        // the join back — persist the narrow (doc_id, lang, bin) so the
        // corpus text is scored once; both plan branches then read the
        // same InMemoryRelation (the quality_gate pattern)
        val scored = scope.persist(t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            round(TextAnalysis.qualityScore(col("text")), 3).as("bin")))
        val cnt = scored.groupBy("lang", "bin").agg(count(lit(1)).as("c"))
        val wc = Window.partitionBy("lang").orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wt = Window.partitionBy("lang")
        val cdf = cnt
          .withColumn("cum", sum(col("c")).over(wc))
          .withColumn("tot", sum(col("c")).over(wt))
          .select(col("lang"), col("bin"),
            round(col("cum").cast("double") / col("tot").cast("double"), 6)
              .as("q_pct"))
        scope.result(scored.join(cdf, Seq("lang", "bin"))
          .select(col("doc_id"), col("lang"), col("bin"), col("q_pct"))
          .orderBy("doc_id"))
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT doc_id, lang, round($qualitySql, 3) AS bin
          FROM documents),
        cnt AS (
          SELECT lang, bin, count(*) AS c FROM sc GROUP BY lang, bin),
        cdf AS (
          SELECT lang, bin,
                 round(CAST(sum(c) OVER (PARTITION BY lang ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) /
                       CAST(sum(c) OVER (PARTITION BY lang) AS DOUBLE), 6)
                   AS q_pct
          FROM cnt)
        SELECT sc.doc_id, sc.lang, sc.bin, cdf.q_pct
        FROM sc JOIN cdf USING (lang, bin)
        ORDER BY sc.doc_id""")),

    // The "data card" rollup every curation run ends with: per-language
    // doc counts, token volume, and near-duplicate rate — composed from
    // the dedup clustering (non-keeper docs) and the token counter. One
    // pass over the corpus plus the pair-sized clustering; the oracle
    // reuses the shared MinHash CTE chain end-to-end.
    "corpus_report" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        // an armed bench worker reads the standing pair index instead of
        // re-deriving (graft.dedup.BenchShared; Verify always derives)
        val pairs = graft.dedup.BenchShared.pairs(s, d).getOrElse(
          Dedup.minHashLshPairs(docs, threshold = 0.8))
        val dupDocs = Dedup.connectedComponents(pairs)
          .where(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id"), lit(1L).as("is_dup"))
        // dupDocs is unbounded (30-50% of a dup-heavy corpus) — no
        // broadcast hint; AQE chooses the join strategy from actual size.
        docs.join(dupDocs, Seq("doc_id"), "left")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
            sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
          .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_dup_docs"),
            round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
              .as("dup_frac"))
          .orderBy("lang")
      },
      oracle = Some(s"""
        WITH RECURSIVE ${DedupQueries.minhashPairsCtes(0.8)},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON r.node = e2.b),
        dropped AS (
          SELECT node FROM reach GROUP BY node HAVING min(lbl) <> node)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                 AS n_tokens,
               CAST(sum(CASE WHEN doc_id IN (SELECT node FROM dropped)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
               round(sum(CASE WHEN doc_id IN (SELECT node FROM dropped)
                              THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                 AS dup_frac
        FROM documents GROUP BY lang ORDER BY lang""")),

    // Corpus-level n-gram statistics: the top-20 word bigrams by occurrence
    // — the vocabulary report every tokenizer/curation run wants. Shape:
    // narrow shingle explode (no per-doc distinct), then a two-level
    // aggregate — (bigram) counts partial-aggregate map-side before the
    // shuffle, and the vocabulary relation after it is tiny (vocab², not
    // corpus-sized), so the global top-k sort is a no-op at any corpus
    // size. Deterministic total order: count DESC then the bigram itself.
    "corpus_ngrams" -> QueryDef(
      fn = (s, d) =>
        Dedup.wordShingles(t(s, d, "documents"), n = 2, dedup = false)
          .groupBy(col("shingle").as("bigram"))
          .agg(count(lit(1)).as("n_occurrences"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy(col("n_occurrences").desc, col("bigram"))
          .limit(20),
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        grams AS (
          SELECT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)])
                   AS bigram
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM toks WHERE len(toks) >= 2))
        SELECT bigram, count(*) AS n_occurrences,
               count(DISTINCT doc_id) AS n_docs
        FROM grams GROUP BY bigram
        ORDER BY n_occurrences DESC, bigram LIMIT 20""")),

    // Per-doc n-gram novelty: the fraction of a doc's distinct word
    // 3-grams whose FIRST corpus occurrence (min doc_id — ingestion
    // order) is this doc. The memorization/contribution signal data
    // curation ranks by: a doc whose grams all appeared earlier adds no
    // new n-gram mass (novelty 0), a fresh doc scores 1. Shape: one
    // shuffle keyed by gram for the global first-seen aggregate, one
    // groupBy back to docs — both with map-side partials, no window over
    // the corpus, no self-join. At 100 TB the first-seen relation is the
    // same standing gram-count table the span-dedup pipeline maintains,
    // so the incremental form is a delta-vs-standing lookup. Ratios are
    // int/int IEEE divisions — bit-identical cross-engine.
    "text_ngram_novelty" -> QueryDef(
      fn = (s, d) => graft.text.Novelty.score(t(s, d, "documents")),
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM toks WHERE len(toks) >= 3)),
        first AS (
          SELECT shingle, min(doc_id) AS first_doc FROM grams GROUP BY shingle),
        pd AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN f.first_doc = g.doc_id
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          FROM grams g JOIN first f USING (shingle)
          GROUP BY g.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 1.0
                    ELSE round(CAST(pd.n_novel AS DOUBLE) /
                               CAST(pd.n_grams AS DOUBLE), 6) END AS novelty
        FROM documents d LEFT JOIN pd USING (doc_id)
        ORDER BY d.doc_id""")),

    // Two-sample Kolmogorov–Smirnov drift monitor over the quality-score
    // distribution: previous snapshot (even doc_ids) vs current (odd),
    // KS = max |CDF_A - CDF_B|. The scorer-health check a curation
    // pipeline runs per release — a quality model that silently shifts
    // moves the whole CDF even when means barely change (the complement
    // of emb_centroid_drift, which watches the embedding space). Scores
    // bin at 3dp, so the CDF relation is bounded (≤1001 bins over [0,1])
    // and the cumulative window is sketch-sized no matter the corpus;
    // side totals are pulled to the driver (threshold-pull pattern) so
    // no one-row cross join appears. CDF ratios are int/int IEEE
    // divisions — bit-identical cross-engine.
    // Code-vs-prose detection signals (the CodeParrot/StarCoder-style
    // pre-filter heuristics — public methodology): per doc, code-symbol
    // density ({};()=[]<>), programming-keyword hits, and indented-line
    // count, with the composed is_code verdict (symbol density > 3% or
    // >= 3 keywords). The routing signal an LLM corpus needs before
    // text-only quality rules mis-score source files. Pure codegen'd
    // regexp counting on the scan — no shuffle, no explode; integer
    // counts + one rounded density division.
    "text_code_detect" -> QueryDef(
      fn = (s, d) => {
        val sym = regexp_count(col("text"), lit("[{}();=\\[\\]<>]"))
        val kw = regexp_count(lower(col("text")),
          lit("\\b(def|class|import|return|lambda|void|function|public|static|val|var)\\b"))
        val ind = regexp_count(col("text"), lit("(?m)^  "))
        t(s, d, "documents")
          .select(col("doc_id"), sym.cast("long").as("n_sym"),
            kw.cast("long").as("n_kw"), ind.cast("long").as("n_indent"),
            round(sym.cast("double") / length(col("text")), 6)
              .as("sym_ratio"),
            (sym.cast("double") / length(col("text")) > 0.03 ||
              kw >= 3).as("is_code"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 len(regexp_extract_all(text, '[{}();=\[\]<>]')) AS n_sym,
                 len(regexp_extract_all(lower(text),
                   '\b(def|class|import|return|lambda|void|function|public|static|val|var)\b'))
                   AS n_kw,
                 len(regexp_extract_all(text, '(?m)^  ')) AS n_indent,
                 length(text) AS nc
          FROM documents)
        SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
               CAST(n_kw AS BIGINT) AS n_kw,
               CAST(n_indent AS BIGINT) AS n_indent,
               round(CAST(n_sym AS DOUBLE) / nc, 6) AS sym_ratio,
               (CAST(n_sym AS DOUBLE) / nc > 0.03 OR n_kw >= 3) AS is_code
        FROM m ORDER BY doc_id""")),

    "quality_psi_drift" -> QueryDef(
      // Population Stability Index between the two snapshot halves — the
      // OTHER industry drift metric next to the KS statistic (KS reports
      // the worst single CDF gap; PSI = Σ (p−q)·ln(p/q) accumulates
      // drift across the whole distribution — the score-monitoring
      // number with the 0.1/0.25 action thresholds every model-risk
      // handbook quotes). Scores bin at 1dp (the conventional ~10-bucket
      // granularity); counts are add-one smoothed over the observed bin
      // set so an empty side cannot produce ln(0). Shape: one scored
      // scan, one bin-bounded aggregate, a window for the bin count —
      // per-bin terms (which are ≥ 0 by construction) round to 6dp into
      // DECIMAL, so the index is an exact sum.
      fn = (s, d) => graft.Blocks.scope { scope =>
        val dec = DecimalType(18, 6)
        val scored = scope.persist(t(s, d, "documents")
          .select(round(TextAnalysis.qualityScore(col("text")), 1).as("bin"),
            (col("doc_id") % 2).as("side")))
        val tot = scored.groupBy("side").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (nA, nB) = (tot.getOrElse(0L, 0L), tot.getOrElse(1L, 0L))
        val counts = scored.groupBy("bin")
          .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("a"),
            sum(when(col("side") === 1, 1L).otherwise(0L)).as("b"))
          .withColumn("k",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy()))
        val p = (col("a") + 1).cast("double") / (lit(nA) + col("k")).cast("double")
        val q = (col("b") + 1).cast("double") / (lit(nB) + col("k")).cast("double")
        scope.result(counts
          .select(col("k"),
            round((p - q) * log(p / q), 6).cast(dec).as("term"))
          .groupBy("k").agg(sum(col("term")).as("psum"))
          .select(lit(nA).as("n_a"), lit(nB).as("n_b"),
            col("k").as("n_bins"),
            col("psum").cast("double").as("psi")))
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT round($qualitySql, 1) AS bin, doc_id % 2 AS side
          FROM documents),
        tot AS (
          SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
          FROM sc),
        cnt AS (
          SELECT bin,
                 CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b
          FROM sc GROUP BY bin),
        ck AS (SELECT *, count(*) OVER () AS k FROM cnt),
        pq AS (
          SELECT k,
                 CAST(a + 1 AS DOUBLE) / CAST(na + k AS DOUBLE) AS p,
                 CAST(b + 1 AS DOUBLE) / CAST(nb + k AS DOUBLE) AS q
          FROM ck, tot),
        tm AS (
          SELECT k, CAST(round((p - q) * ln(p / q), 6) AS DECIMAL(18,6))
                   AS term
          FROM pq)
        SELECT (SELECT na FROM tot) AS n_a,
               (SELECT nb FROM tot) AS n_b,
               CAST(k AS BIGINT) AS n_bins,
               CAST(sum(term) AS DOUBLE) AS psi
        FROM tm GROUP BY k""")),

    "quality_ks_drift" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val scored = scope.persist(t(s, d, "documents")
          .select(round(TextAnalysis.qualityScore(col("text")), 3).as("bin"),
            (col("doc_id") % 2).as("side")))
        val tot = scored.groupBy("side").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (nA, nB) = (tot.getOrElse(0L, 0L), tot.getOrElse(1L, 0L))
        val counts = scored.groupBy("bin")
          .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("a"),
            sum(when(col("side") === 1, 1L).otherwise(0L)).as("b"))
        val w = Window.orderBy("bin")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ks = counts
          .withColumn("ca", sum(col("a")).over(w))
          .withColumn("cb", sum(col("b")).over(w))
          .agg(round(max(abs(
            col("ca").cast("double") / lit(nA.toDouble) -
              col("cb").cast("double") / lit(nB.toDouble))), 6).as("ks_stat"))
          .select(lit(nA).as("n_a"), lit(nB).as("n_b"), col("ks_stat"))
        scope.result(ks)
      },
      oracle = Some(s"""
        WITH sc AS (
          SELECT round($qualitySql, 3) AS bin, doc_id % 2 AS side
          FROM documents),
        tot AS (
          SELECT CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
          FROM sc),
        cnt AS (
          SELECT bin,
                 CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b
          FROM sc GROUP BY bin),
        cum AS (
          SELECT bin,
                 sum(a) OVER (ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS ca,
                 sum(b) OVER (ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cb
          FROM cnt)
        SELECT tot.na AS n_a, tot.nb AS n_b,
               round(max(abs(CAST(ca AS DOUBLE) / tot.na -
                             CAST(cb AS DOUBLE) / tot.nb)), 6) AS ks_stat
        FROM cum, tot GROUP BY tot.na, tot.nb""")),

    // Incremental novelty — the delta form of text_ngram_novelty: score a
    // new batch (odd doc_ids) against an already-ingested history (even
    // ids) whose gram→first-doc table is standing state. A delta gram's
    // effective first-seen is least(history first-seen, delta first-seen)
    // — the history corpus is reduced once to its narrow gram table and
    // never re-grouped per batch, so per-batch work is O(delta grams +
    // matched standing rows). Must equal the full pipeline filtered to
    // delta docs (what the oracle computes), because min is associative:
    // min over (history ∪ delta) = least(min history, min delta).
    "text_ngram_novelty_incr" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        graft.text.Novelty.scoreIncremental(
          delta = docs.where(col("doc_id") % 2 === 1),
          standing = graft.text.Novelty.firstSeen(
            docs.where(col("doc_id") % 2 === 0)))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id,
                 concat_ws(' ', toks[CAST(i AS INT)], toks[CAST(i+1 AS INT)],
                           toks[CAST(i+2 AS INT)]) AS shingle
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM toks WHERE len(toks) >= 3)),
        first AS (
          SELECT shingle, min(doc_id) AS first_doc FROM grams GROUP BY shingle),
        pd AS (
          SELECT g.doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN f.first_doc = g.doc_id
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
          FROM grams g JOIN first f USING (shingle)
          WHERE g.doc_id % 2 = 1
          GROUP BY g.doc_id)
        SELECT d.doc_id,
               CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
               CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 1.0
                    ELSE round(CAST(pd.n_novel AS DOUBLE) /
                               CAST(pd.n_grams AS DOUBLE), 6) END AS novelty
        FROM documents d LEFT JOIN pd USING (doc_id)
        WHERE d.doc_id % 2 = 1
        ORDER BY d.doc_id""")),

    // Vocabulary coverage curve: what fraction of corpus token mass the
    // top-N vocabulary types cover, for a ladder of N — the tokenizer-
    // sizing curve (pick the smallest vocab whose coverage clears the
    // OOV budget; the aggregate view text_oov_rate gives per-doc for one
    // fixed N). Ranking is confined to the top-5000 head via limit, so
    // no global vocabulary sort; the total-mass denominator is one
    // driver-pulled scalar.
    "corpus_vocab_coverage" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val ladder = Seq(10, 50, 100, 500, 1000)
        val toks = t(s, d, "documents").select(
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .as("w"))
        val total: Long = toks.count()
        val head = toks.groupBy("w").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w")).limit(5000)
          .withColumn("rnk",
            row_number().over(Window.orderBy(col("c").desc, col("w")))
              .cast("long"))
        val cum = scope.persist(head.withColumn("cum",
          sum(col("c")).over(Window.orderBy("rnk")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
        // a ladder step past the actual vocabulary saturates at the last
        // rank (full head mass) instead of silently dropping its row
        val maxRnk: Long = cum.agg(max(col("rnk"))).head.getLong(0)
        val steps = ladder.map(n =>
          cum.where(col("rnk") === math.min(n.toLong, maxRnk))
            .select(lit(n.toLong).as("n_vocab"),
              col("cum").as("covered_tokens"),
              round(col("cum").cast("double") / lit(total.toDouble), 6)
                .as("coverage")))
        scope.result(steps.reduce(_ unionByName _).orderBy("n_vocab"))
      },
      oracle = Some("""
        WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        tot AS (SELECT count(*) AS n FROM tok),
        head AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rnk
          FROM (SELECT w, count(*) AS c FROM tok GROUP BY w)
          ORDER BY c DESC, w LIMIT 5000),
        cum AS (
          SELECT rnk, sum(c) OVER (ORDER BY rnk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM head),
        mx AS (SELECT max(rnk) AS m FROM cum),
        ladder AS (SELECT unnest([10, 50, 100, 500, 1000]) AS n_vocab)
        SELECT CAST(l.n_vocab AS BIGINT) AS n_vocab,
               CAST(c.cum AS BIGINT) AS covered_tokens,
               round(CAST(c.cum AS DOUBLE) / t.n, 6) AS coverage
        FROM ladder l, mx
        JOIN cum c ON c.rnk = least(l.n_vocab, mx.m), tot t
        ORDER BY n_vocab""")),

    // Windowed PMI word-pair mining (Church & Hanks, CL'90): pointwise
    // mutual information ln(p(a,b)/(p(a)p(b))) over unordered token
    // pairs co-occurring within a 4-token forward window — the
    // distributional-association statistic SGNS embeddings implicitly
    // factorize (Levy & Goldberg, NIPS'14), and the collocation signal
    // phrase-mining/tokenizer pipelines rank by. Pair generation is a
    // scan-side nested-transform (no self-join); counts aggregate with
    // map-side partials; the N/P normalizers are two driver-pulled
    // scalars DERIVED FROM THE AGGREGATES (P = sum(c_ab) before the
    // count floor, N = sum(cw) over the unigram counts), so the
    // O(tokens x window) pair explode and the token explode each run
    // exactly once — no second corpus pass for normalization, no
    // one-row cross join. Floor c_ab >= 5 kills the low-count PMI
    // explosion; identical division order both engines.
    "corpus_pmi" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        // ONE corpus scan (guide §2.1 one-pass aggregation; the r15 fix
        // for r14's two-scan regression): unigrams and windowed pairs
        // derive from a single tagged explode — a struct(a, b) row with
        // b = NULL tags a unigram, b != NULL a pair — aggregated ONCE by
        // (a, b) with map-side partials. No corpus-sized token-array
        // cache (the r14 100 TB rule stands), no second tokenize scan
        // (the r14 local cost). The combined count table is vocab +
        // vocab²-bounded and checkpointed: its five consumers (N and P
        // normalizers, the floored pair relation, the two PMI join sides)
        // each read a leaf.
        val toksDf = t(s, d, "documents")
          .select(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
            .as("toks"))
          .where(size(col("toks")) >= 2)
        // key encoding: a unigram row is the token itself (no allocation —
        // the existing array element), a pair row is "a b" (one space);
        // tokens cannot contain whitespace (split on \s+), so the two key
        // kinds cannot collide and the pair decodes unambiguously. A single
        // string key also hashes/compares cheaper in the aggregate than a
        // two-string struct.
        val counts = scope.checkpoint(toksDf.select(explode(expr("""
            concat(
              toks,
              flatten(
                transform(sequence(1, size(toks) - 1),
                  i -> transform(sequence(i + 1, least(i + 4, size(toks))),
                    j -> concat(
                      least(element_at(toks, i), element_at(toks, j)), ' ',
                      greatest(element_at(toks, i), element_at(toks, j)))))))
          """)).as("k"))
          .groupBy("k").agg(count(lit(1)).as("c")))
        val isPair = col("k").contains(" ")
        val uni = counts.where(!isPair)
          .select(col("k").as("w"), col("c").as("cw"))
        val pairCounts = counts.where(isPair)
          .select(substring_index(col("k"), " ", 1).as("a"),
            substring_index(col("k"), " ", -1).as("b"),
            col("c").as("c_ab"))
        val p: Long = pairCounts.agg(sum("c_ab")).head.getLong(0)
        val n: Long = uni.agg(sum("cw")).head.getLong(0)
        scope.result(pairCounts
          .where(col("c_ab") >= 5)
          .join(uni.select(col("w").as("a"), col("cw").as("ca")), "a")
          .join(uni.select(col("w").as("b"), col("cw").as("cb")), "b")
          .select(col("a"), col("b"), col("c_ab"),
            round(log((col("c_ab").cast("double") / lit(p.toDouble)) /
              ((col("ca").cast("double") / lit(n.toDouble)) *
                (col("cb").cast("double") / lit(n.toDouble)))), 6).as("pmi"))
          .orderBy(col("pmi").desc, col("a"), col("b"))
          .limit(20))
      },
      oracle = Some("""
        WITH tk AS (
          SELECT list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        tk2 AS (SELECT toks FROM tk WHERE len(toks) >= 2),
        uni AS (
          SELECT w, count(*) AS cw
          FROM (SELECT unnest(toks) AS w FROM tk2) GROUP BY w),
        n AS (SELECT count(*) AS nt FROM (SELECT unnest(toks) FROM tk2)),
        p1 AS (
          SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
          FROM tk2),
        p2 AS (
          SELECT toks, i,
                 unnest(generate_series(i + 1, least(i + 4, len(toks)))) AS j
          FROM p1),
        pr AS (
          SELECT least(toks[CAST(i AS INT)], toks[CAST(j AS INT)]) AS a,
                 greatest(toks[CAST(i AS INT)], toks[CAST(j AS INT)]) AS b
          FROM p2),
        pc AS (
          SELECT a, b, count(*) AS c_ab FROM pr GROUP BY a, b
          HAVING count(*) >= 5),
        pt AS (SELECT count(*) AS np FROM pr)
        SELECT pc.a, pc.b, pc.c_ab,
               round(ln((CAST(pc.c_ab AS DOUBLE) / np) /
                        ((CAST(ua.cw AS DOUBLE) / nt) *
                         (CAST(ub.cw AS DOUBLE) / nt))), 6) AS pmi
        FROM pc
        JOIN uni ua ON ua.w = pc.a
        JOIN uni ub ON ub.w = pc.b, n, pt
        ORDER BY pmi DESC, pc.a, pc.b LIMIT 20""")),

    // Feature hashing (the "hashing trick", Weinberger et al. ICML'09):
    // per-doc term-frequency vectors over a FIXED-width hashed feature
    // space — the vectorizer that needs no vocabulary build, no
    // dictionary broadcast, and no fit/transform split, which is what
    // makes it the 100 TB text-featurization default (any tokens, any
    // language, one scan, map-side partial counts). Emitted long-form
    // (doc_id, bucket, cnt) with zero buckets omitted; downstream
    // learners consume it as a sparse vector. md5-derived bucket ids
    // replay exactly in the oracle.
    "text_hash_features" -> QueryDef(
      fn = (s, d) => {
        val width = 16
        t(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w"))
          .select(col("doc_id"),
            (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long")
              % width).as("bucket"))
          .groupBy("doc_id", "bucket")
          .agg(count(lit(1)).as("cnt"))
          .orderBy("doc_id", "bucket")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents)
        SELECT doc_id,
               CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % 16 AS bucket,
               count(*) AS cnt
        FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket""")),

    // Zipf-fit corpus health check: OLS slope/intercept of ln(freq) vs
    // ln(rank) over the frequency-ranked vocabulary head. Natural text
    // sits near slope -1; synthetic/templated/spam corpora bend the curve
    // — the one-row distributional fingerprint to track across corpus
    // versions. Scale: ranking is confined to the top-K head (limit 1000)
    // — a global window over the full vocabulary (billions of types at
    // 100 TB) would single-partition sort it; the head is all Zipf needs.
    // Determinism: per-point lns round to 6dp into DECIMAL and all four
    // regression moments accumulate in exact decimal (products included),
    // so accumulation order cannot perturb the fit; the closing
    // slope/intercept arithmetic is identical scalar IEEE on both sides.
    "text_zipf_fit" -> QueryDef(
      fn = (s, d) => {
        val toks = t(s, d, "documents").select(
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .as("w"))
        val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
        val head = cnt.orderBy(col("c").desc, col("w")).limit(1000)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("c").desc, col("w")))
              .cast("long"))
        val x = round(log(col("rank").cast("double")), 6)
          .cast(DecimalType(18, 6))
        val y = round(log(col("c").cast("double")), 6)
          .cast(DecimalType(18, 6))
        val m = head.select(x.as("x"), y.as("y"))
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
        m.select(col("n").as("n_head"),
            round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")), 6)
              .as("slope"),
            round((col("sy").cast("double") -
              ((col("n").cast("double") * col("sxy").cast("double") -
                col("sx").cast("double") * col("sy").cast("double")) /
                (col("n").cast("double") * col("sxx").cast("double") -
                  col("sx").cast("double") * col("sx").cast("double"))) *
                col("sx").cast("double")) / col("n").cast("double"), 6)
              .as("intercept"))
      },
      oracle = Some("""
        WITH tok AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        head AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rank
          FROM cnt ORDER BY c DESC, w LIMIT 1000),
        pts AS (
          SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))
                   AS x,
                 CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
          FROM head),
        m AS (
          SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts)
        SELECT n AS n_head,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
               round((CAST(sy AS DOUBLE) -
                      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
                       CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                 AS intercept
        FROM m""")),

    // Term burstiness census (Church & Gale'95 "Poisson mixtures" —
    // public methodology): for every vocabulary term with df >= 10, the
    // mean within-doc frequency over CONTAINING docs (burst = cf/df) and
    // the Fano dispersion of those counts ((E[tf²]−E[tf]²)/E[tf]; Poisson
    // scatter ≈ 1, bursty/templated terms ≫ 1). The boilerplate/spam-term
    // detector a curation pass reads: content words repeat within few
    // docs, template artifacts blanket many. Two grouped aggregates over
    // the token explode (per-(doc,term) then per-term — both map-side
    // combinable); the top-25 is a bounded TakeOrdered on the ROUNDED
    // burst with a term tie-break. All aggregates are exact integers;
    // the two closing ratios are scalar IEEE both engines compute
    // identically; `+ 0.0` after the round folds a −0.0 from an exactly
    // Poisson-degenerate variance.
    "corpus_burstiness" -> QueryDef(
      fn = (s, d) => {
        val tf = t(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        val mean = col("cf").cast("double") / col("df").cast("double")
        tf.groupBy("w")
          .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
            sum(col("tf") * col("tf")).as("s2"))
          .where(col("df") >= 10)
          .select(col("w").as("term"), col("df"), col("cf"),
            round(mean, 6).as("burst"),
            (round((col("s2").cast("double") / col("df").cast("double")
              - mean * mean) / mean, 6) + lit(0.0)).as("dispersion"))
          .orderBy(col("burst").desc, col("term")).limit(25)
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        tw AS (
          SELECT w, count(*) AS df, sum(tf) AS cf, sum(tf * tf) AS s2
          FROM tf GROUP BY w HAVING count(*) >= 10)
        SELECT w AS term, CAST(df AS BIGINT) AS df, CAST(cf AS BIGINT) AS cf,
               round(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS burst,
               round((CAST(s2 AS DOUBLE) / CAST(df AS DOUBLE)
                      - (CAST(cf AS DOUBLE) / CAST(df AS DOUBLE))
                        * (CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)))
                     / (CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)), 6) + 0.0
                 AS dispersion
        FROM tw
        ORDER BY burst DESC, term LIMIT 25""")),

    // Heaps'-law vocabulary-growth curve (Heaps'78; the V(N) ≈ K·N^β
    // sizing law): vocabulary size vs token count at a doc-id-prefix
    // ladder — the tokenizer/vocab budget curve next to
    // corpus_vocab_coverage (coverage fixes N and varies the vocab
    // budget; this grows N and watches the vocabulary). Scale shape: the
    // whole curve derives from TWO bounded relations off ONE persisted
    // tokenize — per-term FIRST-occurrence doc (vocab-sized) and per-doc
    // token counts (doc-sized) — so V(k) = |{terms: first < k}| and
    // N(k) = Σ_{doc<k} nt come from two conditional aggregates, never a
    // distinct-count per ladder step. Ladder steps beyond the corpus
    // saturate (repeat the full-corpus point). Driver-side ln rounds
    // HALF_UP to 6dp, matching the oracle's round(ln(int), 6).
    "corpus_heaps_curve" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        import s.implicits._
        val ks = Seq(32, 64, 128, 256, 512, 1024, 2048, 4096)
        val toks = scope.persist(t(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
              .as("w")))
        val nAggs = ks.map(k =>
          sum(when(col("doc_id") < k, col("nt")).otherwise(0L)))
        val nRow = toks.groupBy("doc_id").agg(count(lit(1)).as("nt"))
          .agg(nAggs.head, nAggs.tail: _*).head()
        val vAggs = ks.map(k => sum(when(col("fd") < k, 1L).otherwise(0L)))
        val vRow = toks.groupBy("w").agg(min(col("doc_id")).as("fd"))
          .agg(vAggs.head, vAggs.tail: _*).head()
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val rows = ks.indices.flatMap { i =>
          val n = nRow.getLong(i); val v = vRow.getLong(i)
          if (n > 0)
            Some((ks(i).toLong, n, v, r6(math.log(n.toDouble)),
              r6(math.log(v.toDouble))))
          else None
        }
        rows.toDF("k", "n_tokens", "vocab", "ln_tokens", "ln_vocab")
          .orderBy("k")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        fw AS (SELECT w, min(doc_id) AS fd FROM tok GROUP BY w),
        pd AS (SELECT doc_id, count(*) AS nt FROM tok GROUP BY doc_id),
        ks AS (SELECT unnest([32, 64, 128, 256, 512, 1024, 2048, 4096]) AS k),
        pn AS (
          SELECT k, CAST(sum(CASE WHEN pd.doc_id < ks.k THEN pd.nt ELSE 0 END)
                   AS BIGINT) AS n_tokens
          FROM ks, pd GROUP BY k),
        pv AS (
          SELECT k, CAST(sum(CASE WHEN fw.fd < ks.k THEN 1 ELSE 0 END)
                   AS BIGINT) AS vocab
          FROM ks, fw GROUP BY k)
        SELECT CAST(pn.k AS BIGINT) AS k, n_tokens, vocab,
               round(ln(CAST(n_tokens AS DOUBLE)), 6) AS ln_tokens,
               round(ln(CAST(vocab AS DOUBLE)), 6) AS ln_vocab
        FROM pn JOIN pv USING (k)
        WHERE n_tokens > 0 ORDER BY k""")),

    // BPE pair statistics (Bpe.pairCounts over the char-split word vocab):
    // the top-20 most frequent adjacent character pairs weighted by word
    // frequency — iteration 0 of BPE tokenizer training, hash-checking the
    // vocab build, the pair explode, and the deterministic (cnt DESC, a,
    // b) argmax ordering the iterative trainer (Bpe.train, spec-verified)
    // applies each round. Counting runs over the DISTINCT-WORD vocab, not
    // the corpus — the posture that makes tokenizer training affordable at
    // 100 TB.
    "bpe_pair_counts" -> QueryDef(
      fn = (s, d) =>
        graft.text.Bpe.pairCounts(graft.text.Bpe.charVocab(t(s, d, "documents")))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(20),
      oracle = Some("""
        WITH words AS (
          SELECT w AS word, count(*) AS f
          FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                          x -> x <> '')) AS w
                FROM documents)
          GROUP BY w),
        pos AS (
          SELECT word, f, unnest(generate_series(1, len(word) - 1)) AS i
          FROM words WHERE len(word) >= 2),
        pc AS (
          SELECT substr(word, CAST(i AS INT), 1) AS a,
                 substr(word, CAST(i + 1 AS INT), 1) AS b,
                 CAST(sum(f) AS BIGINT) AS cnt
          FROM pos GROUP BY 1, 2)
        SELECT a, b, cnt FROM pc
        ORDER BY cnt DESC, a, b LIMIT 20""")),

    // Full iterative BPE tokenizer training (Sennrich et al. ACL'16),
    // oracle-replayed end-to-end like the k-means/PCA/PageRank trainers:
    // 8 merge rounds over the char-split word vocab, each round = one
    // vocab-sized pair aggregate + a 1-row argmax pull + a narrow re-merge
    // map (Bpe.train). The oracle unrolls the same 8 rounds as CTEs over
    // a pipe-delimited segmentation string: DuckDB's non-overlapping
    // left-to-right replace('|a||b|','|ab|') is exactly the fold-merge
    // semantics of Bpe.applyMergeExpr (a merged symbol can never re-match
    // its own rule — b is non-empty), and the corpus is verified
    // pipe-free at every SF so the '|' delimiters cannot collide with
    // symbols. Result: the ordered merge table — the training artifact a
    // tokenizer build persists; identical argmax tie-break (cnt DESC,
    // a, b) on both engines makes it bit-reproducible.
    "bpe_train" -> QueryDef(
      fn = (s, d) => {
        import s.implicits._
        val merges = graft.text.Bpe.train(t(s, d, "documents"), numMerges = 8)
        merges.map(m => (m.step.toLong, m.a, m.b, m.cnt))
          .toDF("step", "a", "b", "cnt")
          .orderBy("step")
      },
      oracle = Some(s"""
        WITH ${bpeRoundsCtes(8)}
        SELECT CAST(step AS BIGINT) AS step, a, b, cnt
        FROM (${(1 to 8).map(r => s"SELECT * FROM b$r").mkString(" UNION ALL ")})
        ORDER BY step""")),

    // The ENCODE side of the tokenizer, closing the train→apply loop:
    // segment the word vocab with the 8 learned merges (chained scan-side
    // fold-merges — K narrow maps, no shuffles) and report the corpus
    // fertility metrics every tokenizer evaluation starts from: subword/
    // word ratio and chars/subword compression. ONE corpus scan total —
    // the word vocab is persisted and shared by training and encoding;
    // all sums are exact integers weighted by word frequency, the two
    // closing ratios are single IEEE divisions. The oracle reuses the
    // SAME unrolled training CTEs (carrying `word` through the rounds),
    // so the learned merges and their application cannot drift between
    // the two entries.
    "bpe_encode" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val wv = scope.persist(graft.text.Bpe.wordVocab(t(s, d, "documents")))
        val merges = graft.text.Bpe.trainFromVocab(wv, numMerges = 8)
        val segK = graft.text.Bpe.applyMerges(graft.text.Bpe.charSplit(wv), merges)
        scope.result(segK
          .select(col("f"), size(col("toks")).cast("long").as("n_sub"),
            length(col("word")).cast("long").as("n_chars"))
          .agg(sum(col("f")).as("n_words"),
            sum(col("f") * col("n_sub")).as("n_subtokens"),
            sum(col("f") * col("n_chars")).as("n_chars_total"))
          .select(col("n_words"), col("n_subtokens"), col("n_chars_total"),
            round(col("n_subtokens").cast("double") / col("n_words"), 6)
              .as("fertility"),
            round(col("n_chars_total").cast("double") / col("n_subtokens"), 6)
              .as("chars_per_token")))
      },
      oracle = Some(s"""
        WITH ${bpeRoundsCtes(8)},
        enc AS (
          SELECT word, f,
                 len(string_split(trim(seg, ${bpeP}), ${bpePP})) AS n_sub,
                 len(word) AS n_chars
          FROM v8)
        SELECT CAST(sum(f) AS BIGINT) AS n_words,
               CAST(sum(f * n_sub) AS BIGINT) AS n_subtokens,
               CAST(sum(f * n_chars) AS BIGINT) AS n_chars_total,
               round(CAST(sum(f * n_sub) AS DOUBLE) / sum(f), 6) AS fertility,
               round(CAST(sum(f * n_chars) AS DOUBLE) / sum(f * n_sub), 6)
                 AS chars_per_token
        FROM enc""")),

    // BM25 retrieval scoring (Robertson & Walker SIGIR'94; the Okapi
    // ranking function every lexical retrieval baseline uses): top-20
    // docs for a fixed 3-term query, k1 = 1.2, b = 0.75, idf =
    // ln((N − df + 0.5)/(df + 0.5) + 1). Shape for 100 TB: per-term tf
    // and doc length are SCAN-SIDE array arithmetic (no tokenize
    // explode, no shuffle anywhere); the corpus stats (N, Σdl, per-term
    // df) come from ONE aggregate pass pulled to the driver (the
    // threshold-pull pattern — 5 integers), and scoring is a second pure
    // scan closed by a bounded TakeOrdered(20). Determinism: all stats
    // are exact integers; avgdl/idf are single IEEE derivations both
    // engines repeat; each term's contribution rounds to 6dp into
    // DECIMAL before the 3-term sum, so ln()'s last ulp cannot reach the
    // hash.
    "text_bm25" -> QueryDef(
      fn = (s, d) => {
        val terms = Seq("hash", "join", "scan")
        def tf(term: String) = expr(
          s"size(filter(split(lower(text), '\\\\s+'), x -> x = '$term'))")
        val dl = TextAnalysis.tokenCount(col("text"))
        val docs = t(s, d, "documents")
        val st = docs.agg(
          count(lit(1)), sum(dl.cast("long")),
          sum(when(tf(terms(0)) > 0, 1L).otherwise(0L)),
          sum(when(tf(terms(1)) > 0, 1L).otherwise(0L)),
          sum(when(tf(terms(2)) > 0, 1L).otherwise(0L))).head()
        val n = st.getLong(0)
        val avgdl = st.getLong(1).toDouble / n.toDouble
        def contrib(term: String, df: Long) = {
          val idfArg = ((n - df) + 0.5) / (df + 0.5) + 1.0
          val tfd = tf(term).cast("double")
          round(log(lit(idfArg)) * (tfd * lit(2.2) /
            (tfd + lit(1.2) * (lit(0.25) +
              lit(0.75) * (dl.cast("double") / lit(avgdl))))), 6)
            .cast(DecimalType(18, 6))
        }
        docs.select(col("doc_id"),
            (contrib(terms(0), st.getLong(2)) + contrib(terms(1), st.getLong(3))
              + contrib(terms(2), st.getLong(4))).cast("double").as("score"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
      },
      oracle = Some {
        val terms = Seq("hash", "join", "scan")
        def tfSql(t: String) =
          s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x = '$t'))"
        val tfCols = terms.zipWithIndex
          .map { case (t, i) => s"${tfSql(t)} AS tf$i" }.mkString(", ")
        val dfCols = terms.indices
          .map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
          .mkString(", ")
        val contribs = terms.indices.map { i =>
          s"""CAST(round(ln((st.n - d.df$i + 0.5) / (d.df$i + 0.5) + 1.0)
              * (CAST(tf$i AS DOUBLE) * 2.2 /
                 (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 +
                  0.75 * (CAST(dl AS DOUBLE) / st.avgdl)))), 6)
             AS DECIMAL(18,6))"""
        }.mkString(" + ")
        s"""
        WITH tfs AS (
          SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS dl, $tfCols
          FROM documents),
        st AS (
          SELECT count(*) AS n,
                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
          FROM tfs),
        d AS (SELECT $dfCols FROM tfs)
        SELECT doc_id, CAST($contribs AS DOUBLE) AS score
        FROM tfs, st, d
        ORDER BY score DESC, doc_id LIMIT 20"""
      }),

    // TF-IDF keywords: top-3 terms per document by tf·idf — the classic
    // relevance signal (quality scoring, topic tagging, search). tf is the
    // in-doc frequency; idf = ln(N/df) over the corpus. Shape: token
    // explode → (doc, term) counts (map-side partials), per-doc totals by
    // window; document frequency aggregates the SAME (doc, term) relation
    // down to the vocabulary; corpus size N is one count scalar. The
    // vocabulary is NOT bounded (Heaps' law: a web-scale corpus has
    // billions of distinct tokens), so the df join carries no broadcast
    // hint — AQE broadcasts while it fits and shuffles past that. All
    // ratios are int/int IEEE divisions + ln — bit-identical on both
    // engines, so the score hash-matches.
    "text_tfidf" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.count()
        val tf = docs
          .select(col("doc_id"),
            explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
          .withColumn("n_tok", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
        val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
        val byDoc = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("w"))
        tf.join(df, "w")
          .select(col("doc_id"), col("w"),
            round(col("c").cast("double") / col("n_tok")
              * log(lit(n.toDouble) / col("df")), 6).as("tfidf"))
          .withColumn("rnk", row_number().over(byDoc).cast("long"))
          .where(col("rnk") <= 3)
          .select("doc_id", "rnk", "w", "tfidf")
          .orderBy("doc_id", "rnk")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        tf AS (
          SELECT doc_id, w, count(*) AS c,
                 sum(count(*)) OVER (PARTITION BY doc_id) AS n_tok
          FROM tok GROUP BY doc_id, w),
        df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, w,
                 round(c * 1.0 / n_tok * ln(CAST(n.n AS DOUBLE) / df.df), 6)
                   AS tfidf
          FROM tf JOIN df USING (w), n),
        ranked AS (
          SELECT doc_id, w, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, w) AS rnk
          FROM scored)
        SELECT doc_id, rnk, w, tfidf FROM ranked
        WHERE rnk <= 3 ORDER BY doc_id, rnk""")),

    // Unigram LM quality scoring — the perplexity-filtering proxy (CCNet
    // methodology, public): per-doc mean log-probability under the
    // corpus's own unigram distribution; low scores flag gibberish /
    // vocabulary outliers. Shape: token explode → corpus unigram counts
    // (vocabulary-sized — unbounded under Heaps' law, so the join back is
    // AQE's choice, no forced broadcast) → per-doc mean. Determinism:
    // ln(c/total) is IEEE-identical on both engines from integer inputs;
    // each token's logp is rounded to 6 dp and accumulated EXACTLY in
    // DECIMAL(18,6), so the per-doc sum can't drift with accumulation
    // order; the mean divides once at the end.
    "text_unigram_logprob" -> QueryDef(
      fn = (s, d) => {
        // (r15 examined: a one-scan variant — vocab-bounded count table
        // checkpointed, N = Σc from the aggregate, eager materialization
        // + deterministic release — removed one of the three tokenize
        // scans but measured SLOWER in the interleaved same-JVM A/B
        // (0.73-0.92 s → 1.05-1.47 s): the checkpoint
        // materialization job plus losing the lazy count()'s column
        // pruning cost more than the saved page-cached scan at sf0.1.
        // Kept the lazy three-scan form.)
        val toks = t(s, d, "documents").select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")).as("w"))
        val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
        val total = toks.count()
        toks.join(cnt, "w")
          .select(col("doc_id"),
            round(log(col("c").cast("double") / lit(total.toDouble)), 6)
              .cast(DecimalType(18, 6)).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("avg_logprob"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        tot AS (SELECT count(*) AS n FROM tok),
        lp AS (
          SELECT t.doc_id,
                 CAST(round(ln(CAST(c AS DOUBLE) / n), 6) AS DECIMAL(18,6))
                   AS lp
          FROM tok t JOIN cnt USING (w), tot)
        SELECT doc_id, count(*) AS n_tokens,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Bigram LM scoring with add-one smoothing — one conditioning step up
    // from text_unigram_logprob, and a materially better fluency/
    // perplexity proxy (word-salad docs score near the unigram model but
    // collapse under a bigram one). logp(w2|w1) = ln((c12+1)/(c1+V)):
    // bigram/context counts are corpus integers, V the distinct vocab, so
    // ln() sees identical rationals on both engines; per-token logps
    // round to 6 dp and accumulate in exact DECIMAL like the unigram
    // query. Shape: bigrams derive SCAN-SIDE (array transform + explode —
    // no window, no token shuffle; r14 replaced the doc-partitioned lead
    // window that shuffled+sorted the exploded token relation three
    // times); counts join back by bigram key (AQE's choice); docs with
    // <2 tokens have no bigrams and drop out on both sides.
    "text_bigram_logprob" -> QueryDef(
      fn = (s, d) => {
        val docs = t(s, d, "documents")
        // (r15 examined: both a tagged one-scan variant — unigram +
        // "w1 w2" concat keys in one explode — and a middle form keeping
        // two-column grouping but re-aggregating ctx from a checkpointed
        // bcnt were interleave-A/B'd and LOST (old 1.19-2.02 s vs
        // 2.21-2.46 / 1.76-2.53 s): at sf0.1 the
        // checkpoint materialization job plus the eager persist (which
        // forfeits the lazy count()'s pruning) cost more than the saved
        // page-cached scans. Kept the lazy multi-scan form; the sibling
        // HELD-OUT queries (backoff/kneser_ney), whose old shapes already
        // paid eager checkpoints and corpus-sized distincts, DID win from
        // the one-scan rewrite.)
        val big = wordNgrams(docs, 2, lit(true))
        val bcnt = big.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        val ctx = big.groupBy("w1").agg(count(lit(1)).as("c1"))
        val v = wordTokens(docs, lit(true)).select("w").distinct().count()
        big.join(bcnt, Seq("w1", "w2")).join(ctx, Seq("w1"))
          .select(col("doc_id"),
            round(log((col("c12") + 1).cast("double")
              / (col("c1") + lit(v)).cast("double")), 6)
              .cast(DecimalType(18, 6)).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("avg_logprob"))
          .orderBy("doc_id")
      },
      oracle = Some("""
        WITH tl AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        big AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM tl)),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
        cx AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        vv AS (SELECT count(DISTINCT w) AS v
               FROM (SELECT unnest(toks) AS w FROM tl)),
        lp AS (
          SELECT b.doc_id,
                 CAST(round(ln((c12 + 1.0) / (c1 + v)), 6) AS DECIMAL(18,6))
                   AS lp
          FROM big b JOIN bc USING (w1, w2) JOIN cx USING (w1), vv)
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Stupid-backoff trigram LM (Brants et al., EMNLP'07 — the web-scale
    // LM smoothing that needs NO discount tuning), scored HELD-OUT:
    // counts train on the even-doc_id half, the odd half is scored — so
    // unseen trigrams genuinely back off (scoring the training corpus
    // itself would make the top branch always fire and the backoff dead
    // code). S(w3|w1w2) = c123/c12, else 0.4·(c23/c2), else
    // 0.4·0.4·(c3+1)/(N+V) (add-one unigram floor for OOV). The
    // perplexity-proxy ladder's top rung: unigram → bigram → backoff
    // trigram. Shape: the train explode is persisted and feeds the
    // tri/bi/uni count tables; the scoring stream left-joins the three
    // count relations on their n-gram keys (vocab-sized, AQE's choice);
    // N and V are two pulled scalars. Per-position ln rounds to 6dp into
    // DECIMAL; every branch is an integer ratio times exact literals.
    "text_backoff_logprob" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val docs = t(s, d, "documents")
        // n-grams derive SCAN-SIDE (array transform + explode, no window —
        // r14 removed the persisted posexplode + three doc-partitioned
        // lead windows that each shuffled+sorted the token relation); the
        // scoring stream still reads via wordNgrams. The checkpointed
        // combined count table cuts every consumer's plan to a leaf scan
        // (see graft.dedup.Dedup.ngramJaccardPairs for the measured
        // rationale).
        val even = col("doc_id") % 2 === 0
        // ONE tagged tokenize scan over the training half (guide §2.1,
        // the corpus_pmi one-scan pattern; r15): a key with no space is a
        // unigram, one space a bigram, two a trigram — tokens split on
        // \s+ cannot contain whitespace, so the kinds cannot collide and
        // each decodes unambiguously. The combined count table is
        // vocab^n-bounded and checkpointed; the three count relations and
        // the N/V scalars all read that leaf. The old shape ran THREE
        // separate tokenize scans (tri/bi/uni) over the training half.
        val trainCnts = scope.checkpoint(docs.where(even)
          .select(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
            .as("tk"))
          .select(explode(expr(
            """concat(tk,
                 case when size(tk) >= 2
                   then transform(sequence(0, size(tk) - 2),
                          i -> concat(tk[i], ' ', tk[i + 1]))
                   else slice(tk, 1, 0) end,
                 case when size(tk) >= 3
                   then transform(sequence(0, size(tk) - 3),
                          i -> concat(tk[i], ' ', tk[i + 1], ' ', tk[i + 2]))
                   else slice(tk, 1, 0) end)""")).as("k"))
          .groupBy("k").agg(count(lit(1)).as("c"))
          .withColumn("nw", size(split(col("k"), " "))))
        val triCnt = trainCnts.where(col("nw") === 3)
          .select(substring_index(col("k"), " ", 1).as("w1"),
            substring_index(substring_index(col("k"), " ", 2), " ", -1)
              .as("w2"),
            substring_index(col("k"), " ", -1).as("w3"),
            col("c").as("c123"))
        val bigCnt = trainCnts.where(col("nw") === 2)
          .select(substring_index(col("k"), " ", 1).as("wa"),
            substring_index(col("k"), " ", -1).as("wb"), col("c").as("cab"))
        val uni = trainCnts.where(col("nw") === 1)
          .select(col("k").as("w"), col("c").as("cw"))
        val st = uni.agg(sum(col("cw")), count(lit(1))).head()
        val nTrain = st.getLong(0)
        val vTrain = st.getLong(1)
        val floorDen = (nTrain + vTrain).toDouble
        val lp = when(col("c123").isNotNull,
            log(col("c123").cast("double") / col("c12").cast("double")))
          .when(col("c23").isNotNull,
            log(lit(0.4) *
              (col("c23").cast("double") / col("c2").cast("double"))))
          .otherwise(log(lit(0.4) * (lit(0.4) *
            ((coalesce(col("c3"), lit(0L)) + 1).cast("double")
              / lit(floorDen)))))
        scope.result(wordNgrams(docs, 3, col("doc_id") % 2 === 1)
          .join(triCnt, Seq("w1", "w2", "w3"), "left")
          .join(bigCnt.select(col("wa").as("w1"), col("wb").as("w2"),
            col("cab").as("c12")), Seq("w1", "w2"), "left")
          .join(bigCnt.select(col("wa").as("w2"), col("wb").as("w3"),
            col("cab").as("c23")), Seq("w2", "w3"), "left")
          .join(uni.select(col("w").as("w2"), col("cw").as("c2")),
            Seq("w2"), "left")
          .join(uni.select(col("w").as("w3"), col("cw").as("c3")),
            Seq("w3"), "left")
          .select(col("doc_id"),
            round(lp, 6).cast(DecimalType(18, 6)).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_trigrams"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("avg_logprob"))
          .orderBy("doc_id"))
      },
      oracle = Some("""
        WITH tl AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        tr3 AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2,
                 toks[CAST(i AS INT) + 2] AS w3
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM tl WHERE doc_id % 2 = 0)),
        tc AS (SELECT w1, w2, w3, count(*) AS c123 FROM tr3 GROUP BY 1, 2, 3),
        bg AS (
          SELECT toks[CAST(i AS INT)] AS wa, toks[CAST(i AS INT) + 1] AS wb
          FROM (SELECT toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM tl WHERE doc_id % 2 = 0)),
        bc AS (SELECT wa, wb, count(*) AS cab FROM bg GROUP BY 1, 2),
        un AS (
          SELECT w, count(*) AS cw
          FROM (SELECT unnest(toks) AS w FROM tl WHERE doc_id % 2 = 0)
          GROUP BY w),
        st AS (SELECT sum(cw) AS n, count(*) AS v FROM un),
        sc3 AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2,
                 toks[CAST(i AS INT) + 2] AS w3
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM tl WHERE doc_id % 2 = 1)),
        lp AS (
          SELECT s.doc_id,
                 CAST(round(CASE
                   WHEN tc.c123 IS NOT NULL THEN
                     ln(CAST(tc.c123 AS DOUBLE) / CAST(b12.cab AS DOUBLE))
                   WHEN b23.cab IS NOT NULL THEN
                     ln(0.4 * (CAST(b23.cab AS DOUBLE)
                               / CAST(u2.cw AS DOUBLE)))
                   ELSE
                     ln(0.4 * (0.4 *
                       (CAST(coalesce(u3.cw, 0) + 1 AS DOUBLE)
                        / CAST(st.n + st.v AS DOUBLE))))
                 END, 6) AS DECIMAL(18,6)) AS lp
          FROM sc3 s
          LEFT JOIN tc ON tc.w1 = s.w1 AND tc.w2 = s.w2 AND tc.w3 = s.w3
          LEFT JOIN bc b12 ON b12.wa = s.w1 AND b12.wb = s.w2
          LEFT JOIN bc b23 ON b23.wa = s.w2 AND b23.wb = s.w3
          LEFT JOIN un u2 ON u2.w = s.w2
          LEFT JOIN un u3 ON u3.w = s.w3, st)
        SELECT doc_id, count(*) AS n_trigrams,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Interpolated Kneser–Ney bigram LM (Kneser–Ney ICASSP'95 smoothing in
    // the interpolated form of Chen–Goodman TR-10-98) scored HELD-OUT like
    // the backoff trigram: counts train on the even-doc half, the odd half
    // scores. KN's insight over add-one/backoff: the lower-order
    // distribution should be CONTINUATION counts (in how many distinct
    // contexts does w appear), not raw frequency — "francisco" is frequent
    // but follows only "san", so it gets a small continuation weight.
    //   P(w|v) = (max(c(vw)−D, 0) + D·N1+(v·)·Pcont(w)) / c(v)
    // with fixed discount D = 3/4 and Pcont(w) = (N1+(·w)+1)/(N1pp+V)
    // (add-one on continuation counts as the OOV floor, same convention
    // as the backoff query's unigram floor). With D = 3/4 the whole term
    // is ONE integer ratio — scale by 4: max(4·c(vw)−3, 0) is exact for
    // integer counts — so both engines take ln() of identical rationals:
    //   P = (max(4c12−3,0)·S + 3·N1v·(N1w+1)) / (4·c1·S),  S = N1pp+V.
    // An unseen context falls back to Pcont alone. Per-position lps round
    // to 6dp into DECIMAL. Shape: ONE tagged train scan into a
    // checkpointed vocab²-bounded count table that every training
    // relation (bigram / context / continuation counts) re-aggregates;
    // N1pp and V are two pulled scalars off the same leaf; the scoring
    // stream left-joins three bounded count relations (AQE's choice) —
    // the same join plan at 100 TB.
    "text_kneser_ney_logprob" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val docs = t(s, d, "documents")
        // ONE tagged tokenize scan over the training half (guide §2.1,
        // the corpus_pmi one-scan pattern; r15): a key with no space is
        // a unigram, "w1 w2" a bigram — tokens split on \s+ cannot
        // contain whitespace. EVERY training relation then derives from
        // the vocab²-bounded aggregate, never from the corpus-sized
        // bigram stream: c1 = Σ c12 per w1 (= the bigram-stream count by
        // w1), n1v = rows per w1 (= countDistinct(w2)), n1w = rows per
        // w2, N1pp = the bigram row count, V = the unigram row count.
        // The old shape checkpointed the CORPUS-SIZED bigram stream and
        // ran a countDistinct + two distinct()s over it, plus a second
        // tokenize scan for V.
        val counts = scope.checkpoint(docs.where(col("doc_id") % 2 === 0)
          .select(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
            .as("tk"))
          .select(explode(expr(
            """concat(tk,
                 case when size(tk) >= 2
                   then transform(sequence(0, size(tk) - 2),
                          i -> concat(tk[i], ' ', tk[i + 1]))
                   else slice(tk, 1, 0) end)""")).as("k"))
          .groupBy("k").agg(count(lit(1)).as("c")))
        val isPair = col("k").contains(" ")
        val bcnt = counts.where(isPair)
          .select(substring_index(col("k"), " ", 1).as("w1"),
            substring_index(col("k"), " ", -1).as("w2"), col("c").as("c12"))
        val ctx = bcnt.groupBy("w1")
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1v"))
        val cont = bcnt.groupBy("w2").agg(count(lit(1)).as("n1w"))
        val scal = counts.agg(count(when(isPair, lit(1))),
          count(when(!isPair, lit(1)))).head()
        val n1pp = scal.getLong(0)
        val v = scal.getLong(1)
        val sS = n1pp + v // Pcont denominator S = N1pp + V, a train constant
        val n1wS = coalesce(col("n1w"), lit(0L)) + 1
        val lp = when(col("c1").isNull,
            // unseen context: pure smoothed continuation probability
            log(n1wS.cast("double") / lit(sS.toDouble)))
          .otherwise(log(
            (greatest(lit(0L), lit(4L) * coalesce(col("c12"), lit(0L)) - 3)
              * lit(sS) + lit(3L) * col("n1v") * n1wS).cast("double")
              / (lit(4L) * col("c1") * lit(sS)).cast("double")))
        scope.result(wordNgrams(docs, 2, col("doc_id") % 2 === 1)
          .join(bcnt, Seq("w1", "w2"), "left")
          .join(ctx, Seq("w1"), "left")
          .join(cont, Seq("w2"), "left")
          .select(col("doc_id"),
            round(lp, 6).cast(DecimalType(18, 6)).as("lp"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("lp")).cast("double") / count(lit(1)), 6)
              .as("avg_logprob"))
          .orderBy("doc_id"))
      },
      oracle = Some("""
        WITH tl AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS toks
          FROM documents),
        big AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM tl WHERE doc_id % 2 = 0)),
        bc AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
        cx AS (SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1v
               FROM big GROUP BY 1),
        bt AS (SELECT DISTINCT w1, w2 FROM big),
        ct AS (SELECT w2, count(*) AS n1w FROM bt GROUP BY 1),
        st AS (SELECT (SELECT count(*) FROM bt)
                      + (SELECT count(DISTINCT w)
                         FROM (SELECT unnest(toks) AS w FROM tl
                               WHERE doc_id % 2 = 0)) AS s),
        sc AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM tl WHERE doc_id % 2 = 1)),
        lp AS (
          SELECT b.doc_id,
                 CAST(round(CASE
                   WHEN cx.c1 IS NULL THEN
                     ln(CAST(coalesce(ct.n1w, 0) + 1 AS DOUBLE)
                        / CAST(st.s AS DOUBLE))
                   ELSE
                     ln(CAST(greatest(4 * coalesce(bc.c12, 0) - 3, 0) * st.s
                             + 3 * cx.n1v * (coalesce(ct.n1w, 0) + 1)
                          AS DOUBLE)
                        / CAST(4 * cx.c1 * st.s AS DOUBLE))
                 END, 6) AS DECIMAL(18,6)) AS lp
          FROM sc b
          LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
          LEFT JOIN cx ON cx.w1 = b.w1
          LEFT JOIN ct ON ct.w2 = b.w2, st)
        SELECT doc_id, count(*) AS n_bigrams,
               round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id ORDER BY doc_id""")),

    // Jensen–Shannon divergence between two snapshots' UNIGRAM
    // distributions (even-doc vs odd-doc halves as the two snapshots) —
    // the vocabulary-level drift monitor next to quality_psi_drift's
    // score-level PSI and quality_ks_drift's worst-gap statistic: JS is
    // symmetric, bounded by ln 2, and (unlike KL) finite when either side
    // has vocabulary the other lacks, which is exactly the drift case.
    // Everything inside ln() is an integer ratio — p/m = 2·cp·NQ /
    // (cp·NQ + cq·NP) with corpus-count products < 2^53 — so both engines
    // ln() identical rationals; per-term cp·ln(·) rounds to 6dp into
    // DECIMAL; the two closing divisions by 2·N are IEEE on identical
    // operands. One tokenize explode, two vocab-bounded aggregates, a
    // vocab-sized full-outer join — no corpus-sized shuffle.
    "corpus_js_divergence" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val dec = DecimalType(18, 6)
        val toks = t(s, d, "documents").select(col("doc_id"),
          explode(expr("filter(split(lower(text), '\\\\s+'), x -> x != '')"))
            .as("w"))
        val cp = toks.where(col("doc_id") % 2 === 0)
          .groupBy("w").agg(count(lit(1)).as("cp"))
        val cq = toks.where(col("doc_id") % 2 === 1)
          .groupBy("w").agg(count(lit(1)).as("cq"))
        val j = scope.persist(cp.join(cq, Seq("w"), "full_outer")
          .select(coalesce(col("cp"), lit(0L)).as("cp"),
            coalesce(col("cq"), lit(0L)).as("cq")))
        val st = j.agg(sum(col("cp")), sum(col("cq")),
          sum(when(col("cp") > 0, 1L).otherwise(0L)),
          sum(when(col("cq") > 0, 1L).otherwise(0L))).head()
        val np = st.getLong(0); val nq = st.getLong(1)
        val va = st.getLong(2); val vb = st.getLong(3)
        val zero = lit(0).cast(dec)
        val t1 = sum(when(col("cp") > 0,
          round(col("cp").cast("double")
            * log((lit(2L) * col("cp") * lit(nq)).cast("double")
              / (col("cp") * lit(nq) + col("cq") * lit(np)).cast("double")),
            6).cast(dec)).otherwise(zero))
        val t2 = sum(when(col("cq") > 0,
          round(col("cq").cast("double")
            * log((lit(2L) * col("cq") * lit(np)).cast("double")
              / (col("cp") * lit(nq) + col("cq") * lit(np)).cast("double")),
            6).cast(dec)).otherwise(zero))
        scope.result(j.agg(t1.as("t1"), t2.as("t2"))
          .select(lit(va).as("vocab_a"), lit(vb).as("vocab_b"),
            (round(col("t1").cast("double") / lit(2.0 * np)
              + col("t2").cast("double") / lit(2.0 * nq), 6) + lit(0.0))
              .as("js_nats")))
      },
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                    x -> x <> '')) AS w
          FROM documents),
        cpt AS (SELECT w, count(*) AS cp FROM tok WHERE doc_id % 2 = 0
                GROUP BY w),
        cqt AS (SELECT w, count(*) AS cq FROM tok WHERE doc_id % 2 = 1
                GROUP BY w),
        j AS (
          SELECT coalesce(cpt.cp, 0) AS cp, coalesce(cqt.cq, 0) AS cq
          FROM cpt FULL OUTER JOIN cqt ON cpt.w = cqt.w),
        st AS (
          SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq,
                 CAST(sum(CASE WHEN cp > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS va,
                 CAST(sum(CASE WHEN cq > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS vb
          FROM j),
        ts AS (
          SELECT
            sum(CASE WHEN cp > 0 THEN
                  CAST(round(cp * ln(CAST(2 * cp * st.nq AS DOUBLE)
                    / CAST(cp * st.nq + cq * st.np AS DOUBLE)), 6)
                    AS DECIMAL(18,6))
                ELSE CAST(0 AS DECIMAL(18,6)) END) AS t1,
            sum(CASE WHEN cq > 0 THEN
                  CAST(round(cq * ln(CAST(2 * cq * st.np AS DOUBLE)
                    / CAST(cp * st.nq + cq * st.np AS DOUBLE)), 6)
                    AS DECIMAL(18,6))
                ELSE CAST(0 AS DECIMAL(18,6)) END) AS t2
          FROM j, st)
        SELECT st.va AS vocab_a, st.vb AS vocab_b,
               round(CAST(ts.t1 AS DOUBLE) / (2.0 * st.np)
                     + CAST(ts.t2 AS DOUBLE) / (2.0 * st.nq), 6) + 0.0
                 AS js_nats
        FROM ts, st""")),

    // Mutual information between the language and source mixtures — the
    // metadata-association number next to corpus_diversity's per-column
    // entropies: MI ≈ 0 means sources are language-balanced (a language
    // gate won't silently drop a source, and vice versa); high MI means
    // the two dimensions confound and per-(lang, source) budgets are
    // needed. MI = Σ (n_ls/N)·ln(n_ls·N / (n_l·n_s)) computed as integer
    // products inside ln (identical rationals on both engines), per-cell
    // terms n_ls·ln(·) rounded to 6dp into DECIMAL, ONE closing division
    // by N. The joint table is |langs|×|sources|-bounded (map-side
    // partials at any corpus size); marginals re-aggregate the joint, not
    // the corpus. MI ≥ 0 in exact arithmetic but the rounded sum can land
    // an ulp under zero on independent mixtures → the +0.0 guard after
    // the round, the −0.0 rule the engine uses everywhere.
    "corpus_lang_source_mi" -> QueryDef(
      fn = (s, d) => graft.Blocks.scope { scope =>
        val dec = DecimalType(18, 6)
        val joint = scope.persist(t(s, d, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("nls")))
        val nTot = joint.agg(sum(col("nls"))).head.getLong(0)
        val nl = joint.groupBy("lang").agg(sum(col("nls")).as("nl"))
        val ns = joint.groupBy("source").agg(sum(col("nls")).as("ns"))
        val logv = log((col("nls") * lit(nTot)).cast("double")
          / (col("nl") * col("ns")).cast("double"))
        scope.result(joint.join(nl, "lang").join(ns, "source")
          .select(round(col("nls").cast("double") * logv, 6).cast(dec)
            .as("term"))
          .agg(sum(col("term")).as("tsum"))
          .select(lit(nTot).as("n_docs"),
            (round(col("tsum").cast("double") / lit(nTot.toDouble), 6)
              + lit(0.0)).as("mi_nats")))
      },
      oracle = Some("""
        WITH joint AS (
          SELECT lang, source, count(*) AS nls
          FROM documents GROUP BY 1, 2),
        nl AS (SELECT lang, CAST(sum(nls) AS BIGINT) AS nl
               FROM joint GROUP BY 1),
        ns AS (SELECT source, CAST(sum(nls) AS BIGINT) AS ns
               FROM joint GROUP BY 1),
        nt AS (SELECT CAST(sum(nls) AS BIGINT) AS n FROM joint),
        terms AS (
          SELECT CAST(round(CAST(j.nls AS DOUBLE)
                   * ln(CAST(j.nls * nt.n AS DOUBLE)
                        / CAST(nl.nl * ns.ns AS DOUBLE)), 6)
                 AS DECIMAL(18,6)) AS term
          FROM joint j
          JOIN nl ON nl.lang = j.lang
          JOIN ns ON ns.source = j.source, nt)
        SELECT nt.n AS n_docs,
               round(CAST((SELECT sum(term) FROM terms) AS DOUBLE)
                     / CAST(nt.n AS DOUBLE), 6) + 0.0 AS mi_nats
        FROM nt""")),

    // Bootstrap confidence interval for the corpus mean quality score —
    // error bars on the data-card number, via the BAYESIAN bootstrap
    // (Rubin, Ann. Stat.'81: per-doc Exp(1) weights instead of integer
    // multinomial multiplicities — same first-order behavior as Efron'79,
    // and deterministic here because the weights derive from md5):
    // resample b gives doc i weight w = −ln(u_ib), u_ib = (h+1)/2^48 off
    // the md5 48-bit prefix (division by 2^48 is exact, so both engines
    // ln() the identical double), and the resample mean is Σw·q / Σw with
    // both sums 6dp-DECIMAL-accumulated. With B = 32 resamples the
    // reported interval is the resample-mean RANGE (min/max ≈ the
    // 2.5/97.5 order statistics at this B). At 100 TB: the B weights are
    // computed scan-side, the aggregate is one B-group shuffle with
    // map-side partials — the corpus is scanned once regardless of B.
    "quality_bootstrap_ci" -> QueryDef(
      fn = (s, d) => {
        val dec = DecimalType(18, 6)
        val B = 32
        val q = t(s, d, "documents")
          .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
        val st = q.agg(count(lit(1)), sum(col("q").cast(dec))).head()
        val n = st.getLong(0)
        val meanQ = st.getDecimal(1).doubleValue / n
        val w = -log(
          (conv(substring(md5(concat_ws("_", col("doc_id"), col("b"))),
            1, 12), 16, 10).cast("long") + 1).cast("double")
            / lit(281474976710656.0))
        val means = q
          .select(col("doc_id"), col("q"),
            explode(sequence(lit(1), lit(B))).as("b"))
          .select(col("b"),
            round(w * col("q"), 6).cast(dec).as("wq"),
            round(w, 6).cast(dec).as("wr"))
          .groupBy("b")
          .agg((sum(col("wq")).cast("double") / sum(col("wr")).cast("double"))
            .as("m"))
        means.agg(round(min(col("m")), 6).as("ci_lo"),
            round(max(col("m")), 6).as("ci_hi"))
          .select(lit(n).as("n_docs"), lit(B.toLong).as("n_resamples"),
            round(lit(meanQ), 6).as("mean_q"), col("ci_lo"), col("ci_hi"))
      },
      oracle = Some(s"""
        WITH q AS (SELECT doc_id, $qualitySql AS q FROM documents),
        r AS (SELECT doc_id, q, unnest(generate_series(1, 32)) AS b FROM q),
        w AS (
          SELECT b, q,
                 -ln(CAST(CAST(concat('0x', substr(md5(concat(
                        CAST(doc_id AS VARCHAR), '_', CAST(b AS VARCHAR))),
                        1, 12)) AS BIGINT)
                        + 1 AS DOUBLE) / 281474976710656.0) AS w
          FROM r),
        m AS (
          SELECT b,
                 CAST(sum(CAST(round(w * q, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(sum(CAST(round(w, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   AS m
          FROM w GROUP BY b),
        st AS (SELECT count(*) AS n_docs,
                      CAST(sum(CAST(q AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*) AS mq
               FROM q)
        SELECT st.n_docs, CAST(32 AS BIGINT) AS n_resamples,
               round(st.mq, 6) AS mean_q,
               round((SELECT min(m) FROM m), 6) AS ci_lo,
               round((SELECT max(m) FROM m), 6) AS ci_hi
        FROM st""")),

    // Canonical fingerprint: md5 over normalized text.
    "text_fingerprint" -> QueryDef(
      fn = (s, d) =>
        t(s, d, "documents").select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents ORDER BY doc_id""")),

    // PII scrub as a hash-checked operator: the synthetic corpus contains
    // no PII by construction (TextPiiSpec covers the regex semantics), so
    // the query INJECTS deterministic synthetic PII — an email, an IPv4
    // and a phone number derived from doc_id — into every document, then
    // redacts and counts on the shared precedence chain (emails → IPs →
    // digit-run phones; see TextAnalysis.redactPii). The oracle replays
    // the identical injection and the same Java/RE2-compatible regexes,
    // checking per-class counts and the md5 of the redacted text
    // bit-for-bit. Scale shape: a pure codegen'd regexp_replace chain on
    // the scan — no shuffle, no UDF.
    "text_pii_redact" -> QueryDef(
      fn = (s, d) => {
        val pii = concat_ws(" ",
          col("text"),
          concat(lit("user"), col("doc_id").cast("string"),
            lit("@example.com")),
          concat(lit("10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), pmod(col("doc_id"), lit(100)).cast("string"),
            lit(".1")),
          concat(lit("+1 555 "),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 7, "0")))
        t(s, d, "documents")
          .select(col("doc_id"), pii.as("pt"))
          .select(col("doc_id"),
            TextAnalysis.piiCounts(col("pt")).as("c"),
            md5(TextAnalysis.redactPii(col("pt"))).as("clean_md5"))
          .select(col("doc_id"),
            col("c.n_email").cast("long").as("n_email"),
            col("c.n_ip").cast("long").as("n_ip"),
            col("c.n_phone").cast("long").as("n_phone"),
            col("clean_md5"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH p AS (
          SELECT doc_id,
                 concat(text, ' user', CAST(doc_id AS VARCHAR), '@example.com',
                        ' 10.', CAST(doc_id % 256 AS VARCHAR), '.',
                        CAST(doc_id % 100 AS VARCHAR), '.1',
                        ' +1 555 ', lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0'))
                   AS pt
          FROM documents),
        r1 AS (
          SELECT doc_id, pt,
                 regexp_replace(pt, '${TextAnalysis.EmailRe}', '[EMAIL]', 'g') AS t1
          FROM p),
        r2 AS (
          SELECT doc_id, pt, t1,
                 regexp_replace(t1, '${TextAnalysis.Ipv4Re}', '[IP]', 'g') AS t2
          FROM r1)
        SELECT doc_id,
               len(regexp_extract_all(pt, '${TextAnalysis.EmailRe}')) AS n_email,
               len(regexp_extract_all(t1, '${TextAnalysis.Ipv4Re}')) AS n_ip,
               len(regexp_extract_all(t2, '${TextAnalysis.PhoneRe}')) AS n_phone,
               md5(regexp_replace(t2, '${TextAnalysis.PhoneRe}', '[PHONE]', 'g'))
                 AS clean_md5
        FROM r2 ORDER BY doc_id"""))
  )
}
