package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Blocks

/** Near-duplicate detection for training-data pipelines: exact hash dedup,
  * MinHash+LSH, SimHash, and exact shingle-Jaccard verification.
  *
  * Design for 100 TB:
  *  - Never compare all pairs. Candidates come from LSH band buckets
  *    (MinHash) or band-equal hash chunks (SimHash); exact Jaccard runs
  *    only on candidates. Cost is O(corpus) + O(collisions), not O(n²).
  *  - Signatures are computed scan-side by native expressions —
  *    [[graft.functions.MinHashSigs]] / [[graft.functions.WordMinHashSigs]]
  *    (one O(len·k) pass per document) and [[graft.functions.SimHashSig]]
  *    (one tokenize+vote pass) — no shingle/token explode, no distinct,
  *    no shuffle. Shingle sets are materialized only for candidate docs
  *    during exact verification. (Two lessons are baked in: deriving the k
  *    hashes as h1 + i·h2 à la Kirsch–Mitzenmacher does NOT work for
  *    banding — adjacent derived hashes order the shingle universe almost
  *    identically, so P(band collision) degrades from J^r to ≈J, 454k
  *    candidates instead of ~650 on the sf0.1 corpus; independent odd
  *    multipliers mod 2^61 keep the orderings independent.)
  *  - The hashes are content-derived (md5), not JVM-dependent, so results
  *    are reproducible across engines/runs — and expressible in the DuckDB
  *    oracle.
  *  - The candidate docs' shingle set is computed once and checkpointed
  *    for the three sides of the verify join (both set sides and the size
  *    aggregate).
  *
  * Every public pair builder here, in [[graft.sim.CosineLsh]] and in
  * [[graft.mm.Multimodal]] runs in one [[graft.Blocks.scope]]: its
  * intermediates are released when it returns or throws, and its result
  * follows the one-shot result contract stated there.
  */
object Dedup {
  /** Char n-gram shingle size; 8 is enough to make random collisions rare
    * even over a small vocabulary. */
  val ShingleSize = 8
  /** MinHash signature length and LSH banding (16 = 4 bands x 4 rows:
    * P(candidate | j=0.8) ≈ 1-(1-0.8^4)^4 ≈ 0.93, near zero for j<0.4). */
  val NumHashes = 16
  val NumBands = 4

  /** Distinct (doc_id, shingle) pairs: sliding char n-grams via a
    * higher-order transform — no UDF, no explode of precomputed arrays.
    * Used only for exact-Jaccard verification (and there only for docs
    * that appear in a candidate pair).
    *
    * The window slides over the BINARY cast of the text: substring on a
    * STRING locates its start by scanning codepoints from the front —
    * O(i) per call, O(len²) per document — while substring on BINARY is
    * one O(1) offset + O(n) copy (guide §1.2 per-task work; r15 kernel
    * A/B). The corpus is pure ASCII at every SF (the verified fixture
    * guarantee the md5 hashing already relies on), so byte n-grams ==
    * char n-grams and the cast back to string is byte-identical;
    * non-ASCII callers would get byte-grams (consistent, but sliced at
    * byte rather than codepoint boundaries). */
  def shingles(docs: DataFrame, textCol: String = "text", n: Int = ShingleSize): DataFrame =
    docs
      .where(length(col(textCol)) >= n)
      .select(col("doc_id"), col(textCol).cast("binary").as("tb"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, length(tb) - ${n - 1}), i -> cast(substring(tb, i, $n) as string))"))
          .as("shingle"))
      .distinct()

  /** Distinct (doc_id, shingle) pairs over word `n`-grams: tokens are
    * maximal non-space runs of the lowercased text, shingle i is tokens
    * [i, i+n) joined by one space. `dedup = false` skips the distinct —
    * the explode stays a pure narrow map (no shuffle), for consumers that
    * deduplicate later on a smaller relation (e.g. after a selective
    * join). */
  def wordShingles(
      docs: DataFrame, textCol: String = "text", n: Int = 3,
      dedup: Boolean = true): DataFrame = {
    val idx = (0 until n).map(j => s"toks[i - 1 + $j]").mkString(", ")
    val exploded = docs
      .select(col("doc_id"),
        expr(s"filter(split(lower($textCol), '\\\\s+'), x -> x != '')").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(1, size(toks) - ${n - 1}), i -> concat_ws(' ', $idx))"))
          .as("shingle"))
    if (dedup) exploded.distinct() else exploded
  }

  /** Per-doc MinHash signature over an arbitrary pre-shingled relation in
    * ONE aggregation pass: ONE 48-bit md5-derived base hash per shingle,
    * then k min-aggregates over the same odd-multiplier mod-2^61 scramble
    * family [[graft.functions.MinHashSigs]] uses (independent orderings —
    * see the class doc for why h1 + i·h2 is not an option). The generic
    * fallback for shingle shapes with no native expression. */
  def minHashSignaturesAgg(sh: DataFrame, k: Int = NumHashes): DataFrame = {
    // scramble61 is a native expression: the scramble multiply wraps mod
    // 2^64 by design, which ANSI-mode Column arithmetic would reject.
    val h = conv(substring(md5(col("shingle")), 1, 12), 16, 10).cast("long")
    val aggs = (0 until k).map(i =>
      min(call_function("scramble61", h, lit(i))).as(s"m$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-doc word-ngram MinHash signature computed scan-side by the
    * native [[graft.functions.WordMinHashSigs]] expression — like the
    * char-gram path, a pure projection: no shingle explode, no shuffle. */
  def wordMinHashSignatures(
      docs: DataFrame, textCol: String = "text",
      k: Int = NumHashes, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"),
        call_function("word_minhash_sigs", col(textCol), lit(n), lit(k)).as("sig"))
      .where(col("sig").isNotNull) // fewer than n tokens -> no shingles
      .select(col("doc_id") +:
        (0 until k).map(i => col("sig").getItem(i).as(s"m$i")): _*)

  /** Word-n-gram Jaccard near-dup pairs: LSH candidates from scan-side
    * word MinHash, exact Jaccard computed only on shingle sets of docs
    * that appear in a candidate pair.
    *
    * Intermediates are `localCheckpoint`ed (eager), not persisted: each is
    * referenced 2-3 times downstream, and with persist every reference
    * re-inlines the FULL upstream pipeline into the consumer's analyzed
    * plan — the verify tail's tree re-embeds the band/candidate subtrees
    * hundreds of times and per-action plan canonicalization (the
    * CacheManager lookup is O(tree) per reference) dominates the wall
    * clock, not data (r14 A/B on the sibling incremental pipeline:
    * 4.2-5.0 s → 1.4 s at sf0.1, identical pairs). Checkpointing cuts each
    * consumer's plan back to a leaf. Same executor-memory footprint as the
    * old pins; the builder's [[graft.Blocks.scope]] releases the blocks as
    * soon as the result is materialized. Fault-tolerance trade (lost
    * executor = failed job, no lineage recompute) is the documented
    * localCheckpoint cost and acceptable for intra-job intermediates. */
  def ngramJaccardPairs(
      docs: DataFrame, threshold: Double = 0.5, n: Int = 3): DataFrame =
    ngramPairs(docs, threshold, n, JaccardScore)

  /** Word-n-gram CONTAINMENT near-dup pairs: same LSH candidate machinery
    * as [[ngramJaccardPairs]], but scored with directional containment
    * |A∩B| / min(|A|,|B|) — the measure that catches SUBSET duplication
    * (one doc quoting or wholly containing another), where skewed sizes
    * keep Jaccard low: a 100-token doc embedded verbatim in a 10k-token
    * doc has J ≈ 0.01 but containment 1.0. Candidates still come from the
    * symmetric Jaccard-tuned bands (scale path: bucketed, never
    * all-pairs), so the operator's contract is "containment-scored LSH
    * candidates"; the oracle replays the identical band machinery, making
    * engine and oracle agree on the candidate universe by construction. */
  def ngramContainmentPairs(
      docs: DataFrame, threshold: Double = 0.6, n: Int = 3): DataFrame =
    ngramPairs(docs, threshold, n, ContainmentScore)

  /** The body of both word-n-gram builders: bands and candidates are
    * checkpointed (rationale at [[ngramJaccardPairs]]), then `score`d
    * over the word shingle sets of candidate docs only. */
  private def ngramPairs(
      docs: DataFrame, threshold: Double, n: Int, score: Score): DataFrame =
    Blocks.scope { s =>
      val bands = s.checkpoint(bandKeys(wordMinHashSignatures(docs, n = n)))
      val cand = s.checkpoint(candidatePairs(bands))
      verifiedTail(s, docs, cand, wordShingles(_, n = n), score, threshold)
    }

  /** Delta-aware containment near-dedup: the same banded candidate
    * machinery as [[ngramContainmentPairs]], but candidate generation only
    * probes band collisions that TOUCH the delta (delta×history plus
    * delta×delta) — O(delta) band joins against the standing band table,
    * never a full corpus re-pair. Result equals the full pipeline's pairs
    * restricted to pairs with at least one delta side (history-history
    * collisions were already reported in previous batches), which is what
    * the oracle replays. */
  def ngramContainmentPairsIncremental(
      history: DataFrame, delta: DataFrame,
      threshold: Double = 0.6, n: Int = 3,
      historySigs: Option[DataFrame] = None): DataFrame =
    Blocks.scope { s =>
      // bandsH is consumed exactly once (the dh join): never pin the
      // corpus-sized standing side for a single scan
      val bandsH = bandKeys(
          historySigs.getOrElse(wordMinHashSignatures(history, n = n)))
      // delta-side intermediates are checkpointed (rationale at
      // [[ngramJaccardPairs]]); supplied standing sides stay lazy
      val bandsD = s.checkpoint(bandKeys(wordMinHashSignatures(delta, n = n)))
      val cand = s.checkpoint(deltaCandidates(bandsD, bandsH))
      verifiedTail(s, history.unionByName(delta), cand,
        wordShingles(_, n = n), ContainmentScore, threshold)
    }

  /** Band-bucket candidate pairs that touch the delta, the shared
    * candidate step of the MinHash-band incrementals: delta×history (every
    * collision, canonicalized to doc_a < doc_b) ∪ delta×delta (ordered),
    * distinct. */
  private def deltaCandidates(bandsD: DataFrame, bandsH: DataFrame): DataFrame = {
    val dh = bandsD.as("a").join(bandsH.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    val dd = bandsD.as("a").join(bandsD.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    dh.union(dd).distinct()
  }

  /** A shingle-set pair score: its output column and its value from the
    * intersection size |A∩B| and the set sizes |A|, |B|. */
  private final case class Score(name: String, value: (Column, Column, Column) => Column)
  private val JaccardScore = Score("jaccard", (i, na, nb) => i / (na + nb - i))
  private val ContainmentScore = Score("containment", (i, na, nb) => i / least(na, nb))

  /** Exact directional containment |A∩B| / min(|A|,|B|) for candidate
    * pairs over the shingle sets (Broder's containment measure). */
  def containment(cand: DataFrame, sh: DataFrame): DataFrame =
    scored(cand, sh, ContainmentScore)

  /** Exact Jaccard for given candidate pairs over the shingle sets. */
  def jaccard(cand: DataFrame, sh: DataFrame): DataFrame =
    scored(cand, sh, JaccardScore)

  /** Candidate pairs with their shingle intersection count and both set
    * sizes, scored: (doc_a, doc_b, <score.name>) rounded to 6 places. */
  private def scored(cand: DataFrame, sh: DataFrame, score: Score): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val s1 = sh.as("s1")
    val s2 = sh.as("s2")
    val inter = cand.as("c")
      .join(s1, col("c.doc_a") === col("s1.doc_id"))
      .join(s2, col("c.doc_b") === col("s2.doc_id") && col("s2.shingle") === col("s1.shingle"))
      .groupBy(col("c.doc_a"), col("c.doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("doc_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(score.value(col("i"), col("na.n"), col("nb.n")), 6).as(score.name))
  }

  /** Shared verify tail of the shingle-scored builders: shingle sets for
    * the candidate docs only (checkpointed — three join sides read them),
    * scored, cut at `threshold`, and returned as the scope's result. The
    * semi-join prunes the corpus before the explode; the candidate docs
    * can reach 30-50% of a dup-heavy corpus, so it carries no broadcast
    * hint — AQE picks the strategy from its actual size. */
  private def verifiedTail(
      s: Blocks.Scope, docs: DataFrame, cand: DataFrame,
      shingle: DataFrame => DataFrame, score: Score,
      threshold: Double): DataFrame = {
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sh = s.checkpoint(shingle(docs.join(candDocs, Seq("doc_id"), "left_semi")))
    s.result(scored(cand, sh, score)
      .where(col(score.name) >= lit(threshold))
      .orderBy("doc_a", "doc_b"))
  }

  /** Per-doc MinHash signature computed scan-side by the native
    * [[graft.functions.MinHashSigs]] expression: one row per doc with
    * columns m0..m{k-1}, NO shingle explode and NO shuffle — the whole
    * signature stage is a projection. */
  def minHashSignatures(
      docs: DataFrame, textCol: String = "text",
      k: Int = NumHashes, n: Int = ShingleSize): DataFrame =
    docs
      .where(length(col(textCol)) >= n)
      .select(col("doc_id"),
        call_function("minhash_sigs", col(textCol), lit(n), lit(k)).as("sig"))
      .select(col("doc_id") +:
        (0 until k).map(i => col("sig").getItem(i).as(s"m$i")): _*)

  /** LSH band keys from the signature row: band j joins the contiguous
    * slice m[j·r .. j·r+r-1]. A `bands`-row explode per doc (narrow). */
  def bandKeys(sig: DataFrame, k: Int = NumHashes, bands: Int = NumBands): DataFrame = {
    val r = k / bands
    val entries = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        concat_ws("-",
          (0 until r).map(p => col(s"m${j * r + p}").cast("string")): _*).as("band_key"))
    }
    sig.select(col("doc_id"), explode(array(entries: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate pairs: docs sharing any LSH band bucket (a < b). */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Minimum number of equal signature coordinates a candidate pair must
    * show to reach the exact verify — the standard LSH two-stage filter.
    * Signature agreement (fraction of equal minhashes) is an unbiased
    * estimate of Jaccard with σ = sqrt(J(1-J)/k), so pairs whose agreement
    * sits ≥0.3 below the threshold are overwhelmingly below it for real
    * (at k=16, t=0.8 a true J=0.8 pair fails `agree ≥ 8` with p ≈ 2e-4);
    * the false positives from a single lucky band are mostly ≤ r equal
    * coordinates and die here without ever materializing shingles. */
  def minAgree(k: Int, threshold: Double): Int =
    math.max(1, math.ceil(k * math.max(0.0, threshold - 0.3)).toInt)

  /** Full MinHash-LSH near-dup pipeline: sign (scan-side, no shuffle) →
    * band → candidate → signature-agreement pre-filter → exact-verify,
    * keeping pairs with Jaccard >= threshold. The expensive shingle sets
    * are materialized ONLY for docs that survive the pre-filter
    * (semi-join), so verify cost scales with *plausible* collisions, not
    * corpus size and not raw band-bucket collisions. */
  def minHashLshPairs(docs: DataFrame, threshold: Double = 0.8,
      precomputedSigs: Option[DataFrame] = None): DataFrame =
    Blocks.scope { s =>
      // Signatures feed banding AND both sides of the agreement filter; in
      // DERIVED mode they are checkpointed (rationale at
      // [[ngramJaccardPairs]]) so each of the three consumers reads
      // materialized blocks behind a leaf-sized plan. Callers that need the
      // signatures themselves (estimator evals, standing indexes) pass a
      // relation via `precomputedSigs`; that side is caller-owned — never
      // pinned, never materialized here.
      val sigs = precomputedSigs.getOrElse(s.checkpoint(minHashSignatures(docs)))
      val bands = s.checkpoint(bandKeys(sigs))
      verifiedPairs(s, docs, candidatePairs(bands), sigs, threshold)
    }

  /** Incremental near-dup detection — the 100 TB production shape: dedup a
    * DELTA batch against an already-ingested history WITHOUT re-hashing or
    * re-joining the history against itself. Candidates come from two
    * joins, delta-bands × history-bands (every collision) and delta-bands
    * × delta-bands (ordered), so band work is O(delta × band-occupancy),
    * never O(history²); history docs are touched again only if they share
    * a band bucket with a delta doc. Returns exactly the pairs the full
    * pipeline would emit that involve at least one delta doc (doc_a <
    * doc_b, same verification). In production the history signatures/bands
    * are persisted tables maintained by the ingest path (16 longs + 4
    * band keys per doc) — pass them via `historySigs`/`historyBands` to
    * skip the history scan entirely. */
  def minHashLshPairsIncremental(
      history: DataFrame, delta: DataFrame, threshold: Double = 0.8,
      historySigs: Option[DataFrame] = None,
      historyBands: Option[DataFrame] = None): DataFrame =
    Blocks.scope { s =>
      // The history signatures are read up to three times below (the band
      // derivation plus both verify sides). In DERIVED mode re-computing
      // them means re-scanning corpus text, so the one-time checkpoint of
      // the narrow 16-long rows is worth it — and it cuts every consumer's
      // analyzed plan back to a leaf (rationale at [[ngramJaccardPairs]]).
      // A SUPPLIED standing table is already a cheap narrow scan that must
      // be neither pinned nor materialized (corpus-sized executor memory)
      // — the caller owns its lifecycle.
      val sigsH = historySigs.getOrElse(s.checkpoint(minHashSignatures(history)))
      val sigsD = s.checkpoint(minHashSignatures(delta))
      // consumed exactly once (the dh join) — materializing would only add
      // a pass; it pipelines off sigsH / the standing scan
      val bandsH = historyBands.getOrElse(bandKeys(sigsH))
      val bandsD = s.checkpoint(bandKeys(sigsD))
      // by NAME: caller-provided history signature tables may order their
      // columns differently than minHashSignatures emits them. The verify
      // stage scans this union twice (both sides of the agreement join); in
      // derived mode both inputs are this call's own checkpointed blocks,
      // so re-scanning the union is two cheap leaf reads — no second pin
      // (round 11's 3.80 → 5.36 s un-pin regression re-evaluated FULL
      // upstream pipelines per scan; checkpointed leaves removed that
      // hazard).
      verifiedPairs(s, history.unionByName(delta), deltaCandidates(bandsD, bandsH),
        sigsH.unionByName(sigsD), threshold)
    }

  /** Shared verify tail of the MinHash pipelines: signature-agreement
    * pre-filter, shingle materialization for surviving docs only, exact
    * Jaccard, threshold cut. `sigs` must cover every doc id appearing in
    * `cand0`. */
  private def verifiedPairs(
      s: Blocks.Scope, docs: DataFrame, cand0: DataFrame, sigs: DataFrame,
      threshold: Double): DataFrame = {
    // Stage 1 candidates arrive raw from band buckets. Stage 2: keep only
    // pairs whose signature agreement is plausibly at the threshold —
    // computed from the already-materialized signatures, zero extra corpus
    // scans.
    val agree = (0 until NumHashes)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    // checkpointed, not persisted: cand feeds three downstream subtrees
    // (rationale at [[ngramJaccardPairs]])
    val cand = s.checkpoint(cand0
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .where(agree >= lit(minAgree(NumHashes, threshold)))
      .select("doc_a", "doc_b"))
    verifiedTail(s, docs, cand, shingles(_), JaccardScore, threshold)
  }

  /** Size gate for [[connectedComponents]]: a pair relation at or below
    * this count is clustered driver-side with union-find — the same
    * size-based strategy switch as a broadcast join, and for the same
    * reason: below the gate the data is megabytes and per-round job
    * latency dominates any distributed plan. 2^20 pairs ≈ 16 MB. */
  val LocalCcThreshold: Long = 1L << 20

  /** Duplicate-cluster assignment: connected components over a near-dup
    * pair relation (`doc_a`, `doc_b`), labeling every doc that appears in
    * a pair with the SMALLEST doc_id reachable through pair edges — the
    * canonical "keeper" of its duplicate cluster. This is the step between
    * pairwise dedup and actually dropping rows: near-duplication is
    * transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}), and pair
    * output alone can't tell you which rows to keep.
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min of its own label and its neighbors', until a fixpoint.
    * Rounds needed = component diameter; near-dup clusters are small and
    * star-ish (diameter a handful), so this converges in a few rounds of
    * small self-joins over the PAIR relation, which is orders of magnitude
    * smaller than the corpus. The fixpoint (min reachable id) is unique,
    * so results are deterministic and oracle-checkable. For adversarial
    * graphs (long chains) the public large-star/small-star (CC-MR)
    * algorithm converges in O(log n) rounds and would slot in here; for
    * dedup workloads the simple propagation is the right cost.
    *
    * 100 TB posture: every round is one equi-join + one groupBy over the
    * edge/label relations (both O(pairs)); the label relation is
    * lineage-truncated each round (`localCheckpoint`) — without that the
    * logical plan doubles per round and the DRIVER dies on plan
    * explosion long before any executor sweats (the standard iterative-
    * algorithm hazard; a reliable `checkpoint` dir is the durable variant
    * for multi-hour jobs). No driver-side data beyond the per-round
    * change counter. */
  def connectedComponents(
      pairs: DataFrame, maxRounds: Int = 50,
      localThreshold: Long = LocalCcThreshold): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // The pair relation is orders of magnitude smaller than the corpus;
    // size the iteration's partitioning to IT, not to the session's
    // corpus-scale shuffle width — per-round job overhead otherwise
    // dominates wall time (32-way shuffles over a few hundred rows).
    val nPairs = pairs.count()
    if (nPairs <= localThreshold) return localConnectedComponents(pairs)
    val parts = math.max(1, math.min((nPairs / 100000L).toInt + 1,
      pairs.sparkSession.sparkContext.defaultParallelism))
    Blocks.scope { s =>
      // undirected: propagate labels both ways
      val edges = s.persist(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
          .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
          .repartition(parts))
      var labels = s.checkpoint(edges.select(col("a").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
        .repartition(parts))
      // Convergence probe: labels only ever DECREASE under min-propagation,
      // so the label sum is strictly monotone until the fixpoint — one tiny
      // aggregate per round instead of a change-counting self-join.
      // DECIMAL(38,0): 10^12 nodes x 10^12 ids must not wrap a long.
      def lblSum(df: DataFrame): java.math.BigDecimal = {
        val r = df.agg(sum(col("lbl").cast(DecimalType(38, 0)))).head()
        if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
      }
      var prevSum = lblSum(labels)
      var converged = false
      var round = 0
      while (!converged && round < maxRounds) {
        // neighbor-min step: each node takes the min of its own and its
        // neighbors' labels. localCheckpoint(eager) materializes AND cuts
        // the plan back to the checkpointed blocks — constant per-round
        // planning cost.
        //
        // Measured dead end, do not re-add: a pointer-doubling chase
        // (label := label's label, O(log diameter) rounds) was 14x SLOWER
        // here at 1M edges — the chase join's key distribution degenerates
        // as components converge (a giant component hashes every row to one
        // label), and the extra per-round shuffle + checkpoint swamps the
        // round savings; dup-cluster graphs have tiny diameters anyway.
        val next = s.checkpoint(edges.join(labels, edges("b") === labels("node"))
          .select(edges("a").as("node"), col("lbl"))
          .union(labels)
          .groupBy("node").agg(min(col("lbl")).as("lbl")))
        val total = lblSum(next)
        converged = total.compareTo(prevSum) == 0
        prevSum = total
        s.release(labels) // next is materialized; labels is dead
        labels = next
        round += 1
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds")
      // the last round's checkpoint backs the result: the caller's to
      // release (the returned-checkpoint contract)
      s.keep(labels).select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    }
  }

  /** Driver-side union-find for small pair relations (below
    * [[LocalCcThreshold]]). Union-by-min keeps every root the smallest id
    * of its component, so the result is the identical fixpoint the
    * distributed propagation converges to. */
  private def localConnectedComponents(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // smaller root wins: the canonical keeper
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.toSeq.sorted
      .map(n => (n, find(n)))
      .toDF("doc_id", "cluster_id")
  }

  /** SimHash width: 60 bits = 4 bands × 15 bits. Width sets both
    * precision and the LSH bucket count (2^15 per band): 48 bits was
    * measurably degenerate on this corpus (425k Hamming≤3 pairs at
    * sf0.1), and at large n candidate volume is Σ C(bucket_occ, 2) per
    * band, so 15-bit bands postpone the occupancy wall 8×. 60 keeps the
    * value positive in a BIGINT on both engines; `maxHamming + 1` bands
    * guarantee a clean band for any pair within the radius (pigeonhole). */
  val SimHashBits = 60
  val SimHashBands = 4

  /** 60-bit SimHash per doc computed scan-side by the native
    * [[graft.functions.SimHashSig]] expression — one pass over the
    * document's distinct lowercase tokens, NO token explode and NO
    * shuffle: the whole signature stage is a projection (same shape as
    * the MinHash pipelines). Docs with no tokens are dropped (`\S`
    * filter) to match the explode formulation, where they produce no
    * token rows. */
  def simHash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .where(col(textCol).rlike("\\S"))
      .select(col("doc_id"),
        call_function("simhash_sig", lower(col(textCol)), lit(SimHashBits))
          .as("simhash"))

  /** Banded form of [[simHash]]: one row per (doc, band) with the band's
    * bit-slice value — the LSH bucketing relation for both the full and
    * incremental pipelines (and the layout a production history table
    * stores). */
  def simHashBands(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val r = SimHashBits / SimHashBands
    simHash(docs, textCol)
      .withColumn("band", explode(expr(s"sequence(0, ${SimHashBands - 1})")))
      .withColumn("band_val", expr(s"shiftright(simhash, band * $r) & ${(1 << r) - 1}"))
  }

  /** Incremental SimHash near-dup pairs — same delta-vs-history shape as
    * [[minHashLshPairsIncremental]]: delta bands join (history ∪ delta)
    * bands, so band work is O(delta × occupancy) and history is never
    * self-joined. Emits exactly the full pipeline's pairs that involve a
    * delta doc. Pass a persisted band table via `historyBands` to skip
    * re-hashing the history. */
  def simHashPairsIncremental(
      history: DataFrame, delta: DataFrame, maxHamming: Int = 3,
      historyBands: Option[DataFrame] = None): DataFrame =
    Blocks.scope { s =>
      // consumed exactly once (the delta × history collide) — persisting
      // the CORPUS-sized standing side would add a materialization pass
      // and pin standing state to executor memory for nothing (the same
      // single-use pin the media-incr A/B measured as pure overhead)
      val bh = historyBands.getOrElse(simHashBands(history))
      // checkpointed: bd feeds three join sides (rationale at
      // [[ngramJaccardPairs]])
      val bd = s.checkpoint(simHashBands(delta))
      def collide(l: DataFrame, r0: DataFrame, ordered: Boolean) = {
        val cond0 = col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val")
        val cond = if (ordered) cond0 && col("a.doc_id") < col("b.doc_id")
        else cond0 && col("a.doc_id") =!= col("b.doc_id")
        l.as("a").join(r0.as("b"), cond)
          .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
            // hamming is symmetric: safe to compute before the id ordering
            bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      }
      s.result(collide(bd, bh, ordered = false)
        .union(collide(bd, bd, ordered = true))
        .distinct()
        .where(col("hamming") <= lit(maxHamming))
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b"))
    }

  /** SimHash near-dup pairs: candidates share one of 4 15-bit bands, then
    * Hamming distance (bit_count of xor) <= maxHamming. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    Blocks.scope { s =>
      // checkpointed: both sides of the self-join would otherwise re-run
      // the full token+vote pipeline, and a pin would re-inline it into the
      // plan twice (rationale at [[ngramJaccardPairs]]). 4 rows/doc — small.
      val banded = s.checkpoint(simHashBands(docs))
      s.result(banded.as("a").join(banded.as("b"),
          col("a.band") === col("b.band") && col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("h_a"), col("b.simhash").as("h_b"))
        .distinct()
        .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
        .where(col("hamming") <= lit(maxHamming))
        .select(col("doc_a"), col("doc_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("doc_a", "doc_b"))
    }

  /** Shared prelude of the winnowing pair pipelines: per-doc winnowed
    * fingerprints (distinct), with the stop-fingerprint document-frequency
    * cap applied BEFORE any pair join — a corpus-wide fingerprint (a
    * boilerplate header in thousands of docs) must never fan out
    * quadratically. Requires the `winnow` SQL function
    * ([[graft.GraftSession.tune]] registers it). Docs shorter than
    * k + w − 1 chars have no complete winnow window and are dropped. */
  private[graft] def winnowKeep(docs: DataFrame, k: Int, w: Int,
      dfCap: Int): DataFrame = {
    val fps = docs.where(length(col("text")) >= k + w - 1)
      .select(col("doc_id"), explode(expr(s"winnow(text, $k, $w)")).as("fp"))
      .distinct()
    val df = fps.groupBy("fp").agg(count(lit(1)).as("df"))
    fps.join(df.where(col("df") <= dfCap), "fp")
      .select(col("doc_id"), col("fp"))
  }

  /** Winnowing positional near-dup pairs (Schleimer–Wilkerson–Aiken,
    * SIGMOD'03 "Winnowing: Local Algorithms for Document Fingerprinting"
    * — public methodology): k-gram rolling hashes winnowed to one
    * fingerprint per w-window, stop-fingerprint df cap, pairs sharing
    * ≥ minShared fingerprints scored by resemblance. Every join is equi
    * on the fingerprint or doc key; the fingerprint relation is ~1/w the
    * gram volume by construction. */
  def winnowPairs(docs: DataFrame, k: Int = 16, w: Int = 16,
      dfCap: Int = 10, minShared: Int = 3): DataFrame =
    winnowResemblance(docs, k, w, dfCap, minShared) { keep =>
      keep.as("a").join(keep.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    }

  /** Incremental winnow near-dup — the delta-vs-standing shape of
    * [[winnowPairs]]: only pairs with at least one DELTA side are
    * enumerated (delta×history every collision, delta×delta once in
    * canonical order — no post-hoc DISTINCT), so the pair join is
    * O(delta × fingerprint-occupancy), never O(corpus²). Equals the full
    * pipeline restricted to delta-involving pairs. `deltaPred` marks the
    * delta docs by id (in production the standing fingerprint table
    * carries the split; df caps and sizes still come from the UNION
    * corpus, exactly as a maintained standing df table would). */
  def winnowPairsIncremental(docs: DataFrame,
      deltaPred: Column => Column, k: Int = 16, w: Int = 16,
      dfCap: Int = 10, minShared: Int = 3): DataFrame =
    winnowResemblance(docs, k, w, dfCap, minShared) { keep =>
      keep.where(deltaPred(col("doc_id"))).as("a").join(keep.as("b"),
          col("a.fp") === col("b.fp") &&
            col("a.doc_id") =!= col("b.doc_id") &&
            (!deltaPred(col("b.doc_id")) ||
              col("a.doc_id") < col("b.doc_id")))
        .groupBy(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    }

  /** Body of the winnow pipelines: the capped fingerprints are
    * checkpointed (they feed both join sides + the size aggregate;
    * rationale at [[ngramJaccardPairs]]), `pairs` groups the fingerprint
    * collisions by (doc_a, doc_b), and pairs sharing ≥ minShared
    * fingerprints are scored resemblance = shared / (na + nb − shared). */
  private def winnowResemblance(
      docs: DataFrame, k: Int, w: Int, dfCap: Int, minShared: Int)(
      pairs: DataFrame => org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    Blocks.scope { s =>
      val keep = s.checkpoint(winnowKeep(docs, k, w, dfCap))
      val sizes = keep.groupBy("doc_id").agg(count(lit(1)).as("n"))
      s.result(pairs(keep)
        .agg(count(lit(1)).as("shared"))
        .where(col("shared") >= minShared)
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("shared"),
          round(col("shared").cast("double")
            / (col("na") + col("nb") - col("shared")).cast("double"), 6)
            .as("resemblance"))
        .orderBy("doc_a", "doc_b"))
    }

  /** Word-gram width for [[duplicatedSpanStats]]: long enough that random
    * token runs rarely collide even over a small vocabulary, short enough
    * to catch copied passages well below document length. */
  val SpanGramSize = 8

  /** Exact duplicated-substring coverage (the within-corpus exact-substring
    * dedup of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — public methodology): mark every word
    * `w`-gram whose content occurs at least `minCount` times corpus-wide,
    * merge each document's marked windows into maximal spans
    * (gaps-and-islands over window positions), and report per-doc span
    * count, duplicated-token coverage, and coverage ratio — the signal an
    * exact-substring removal pass acts on.
    *
    * 100 TB posture: the gram relation is one row per token (narrow
    * explode, no distinct), shuffled ONCE on a 128-bit content hash to
    * count occurrences — the same linear-shuffle cost class as suffix-array
    * construction, with md5 keeping the shuffle key 32 bytes regardless of
    * gram width. The repeated-gram table that joins back is only the
    * duplicated tail, and span merging is one window per doc partitioned
    * by doc_id. No stage is quadratic in corpus size.
    */
  def duplicatedSpanStats(
      docs: DataFrame, textCol: String = "text",
      w: Int = SpanGramSize, minCount: Int = 2): DataFrame = {
    val toks = tokenArrays(docs, textCol)
    coverageStats(toks, mergedSpans(toks, w, minCount),
      spansCol = "n_spans", tokensCol = "dup_tokens", ratioCol = "dup_ratio")
  }

  /** Shared reporting tail of the span pipelines: per-doc span count,
    * covered-token count, and coverage ratio over a merged-island relation
    * (`doc_id`, `s`, `e`). Column names are caller-chosen so the
    * within-corpus (dup_*) and cross-corpus (contam_*) variants keep their
    * established oracle-facing schemas. */
  private def coverageStats(
      toks: DataFrame, islands: DataFrame,
      spansCol: String, tokensCol: String, ratioCol: String): DataFrame = {
    val base = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val perDoc = islands
      .select(col("doc_id"), (col("e") - col("s") + 1).as("covered"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("cov"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as(spansCol),
        coalesce(col("cov"), lit(0L)).as(tokensCol),
        round(coalesce(col("cov"), lit(0L)) * lit(1.0) / col("n_tokens"), 6)
          .as(ratioCol))
  }

  /** The removal pass [[duplicatedSpanStats]] measures: drop every token
    * covered by a duplicated span and reassemble each document from its
    * surviving tokens (reported as a count + md5, keeping the result
    * narrow). A document that is entirely duplicated text survives as the
    * empty string — the aggressive variant of Lee et al.'s removal; a
    * keep-one-occurrence policy is a different corpus-level choice, not a
    * per-doc one.
    *
    * 100 TB posture: coverage positions explode to at most one row per
    * token; the kept-token anti-join is co-partitioned on (doc, position);
    * reassembly is one collect_list bounded by document length — the same
    * unit of work any per-doc transform has. Nothing exceeds the linear
    * gram shuffle the stats pass already pays. */
  def removeDuplicatedSpans(
      docs: DataFrame, textCol: String = "text",
      w: Int = SpanGramSize, minCount: Int = 2): DataFrame = {
    val toks = tokenArrays(docs, textCol)
    cleanedDocs(toks, mergedSpans(toks, w, minCount))
  }

  /** Shared removal tail of the span pipelines: drop every token covered
    * by a merged island and reassemble each document from its surviving
    * tokens (count + md5 — the result stays narrow). */
  private def cleanedDocs(toks: DataFrame, islands: DataFrame): DataFrame = {
    val base = toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val covered = islands
      .select(col("doc_id"), explode(expr("sequence(s, e)")).as("pos"))
    val tokPos = toks
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"), col("tok"))
    val cleaned = tokPos.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_tokens"),
        expr("md5(array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' '))")
          .as("clean_md5"))
    base.join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  /** Word-gram width for the cross-corpus decontamination pipeline — the
    * same 5-gram width `text_contamination`'s doc-level audit uses, so the
    * two views of benchmark overlap agree on what counts as a hit. */
  val ContamGramSize = 5

  /** Cross-corpus exact-substring decontamination stats: mark every corpus
    * token window whose `w`-gram content occurs ANYWHERE in the benchmark
    * relation, merge marked windows into maximal spans, and report per-doc
    * span count / contaminated-token count / contamination ratio. Where
    * `text_contamination` flags whole train docs that share any eval
    * n-gram, this is the span-level view the surgical removal pass
    * ([[removeContaminatedSpans]]) acts on — the decontamination variant
    * of the Lee et al. exact-substring machinery.
    *
    * 100 TB posture: benchmark suites are tiny next to a training corpus,
    * so the DISTINCT benchmark gram-hash set BROADCASTS and flagging is a
    * scan-side semi-join on the corpus's narrow token explode — the corpus
    * is never shuffled to find contaminated windows; only the flagged span
    * relation (a vanishing fraction) passes through the per-doc island
    * merge window. */
  def contaminatedSpanStats(
      corpus: DataFrame, benchmark: DataFrame, textCol: String = "text",
      w: Int = ContamGramSize): DataFrame = {
    val toks = tokenArrays(corpus, textCol)
    coverageStats(toks, mergeIslands(contaminatedSpans(toks, benchmark, textCol, w)),
      spansCol = "n_spans", tokensCol = "contam_tokens", ratioCol = "contam_ratio")
  }

  /** The removal pass [[contaminatedSpanStats]] measures: drop every token
    * covered by a benchmark-overlapping span and reassemble the document
    * from what survives — benchmark text is excised, the rest of the
    * document is kept (unlike doc-level decontamination, which discards
    * whole documents over one shared sentence). */
  def removeContaminatedSpans(
      corpus: DataFrame, benchmark: DataFrame, textCol: String = "text",
      w: Int = ContamGramSize): DataFrame = {
    val toks = tokenArrays(corpus, textCol)
    cleanedDocs(toks, mergeIslands(contaminatedSpans(toks, benchmark, textCol, w)))
  }

  /** Corpus windows covered by benchmark grams, pre-island-merge:
    * (doc_id, start, e). The benchmark side reduces to DISTINCT gram
    * hashes (fixed-width 32-byte keys) and broadcasts. */
  private def contaminatedSpans(
      toks: DataFrame, benchmark: DataFrame, textCol: String, w: Int): DataFrame = {
    val benchGrams = windowGrams(tokenArrays(benchmark, textCol), w)
      .select("gh").distinct()
    windowGrams(toks, w)
      .join(broadcast(benchGrams), Seq("gh"), "left_semi")
      .select(col("doc_id"), col("start"), (col("start") + (w - 1)).as("e"))
  }

  /** Incremental [[duplicatedSpanStats]] — the delta-vs-history shape the
    * other dedup pipelines have: span coverage for DELTA documents only,
    * using the history's gram-count table instead of re-scanning history
    * text. A delta gram is duplicated when history count + delta count
    * reaches `minCount`, which is exactly the full pipeline's corpus-wide
    * cut, so results equal the full run filtered to delta docs. In
    * production the count table is maintained by the ingest path (pass it
    * via `historyGramCounts`: one (hash, count) row per distinct history
    * gram); only delta grams shuffle per batch — O(delta), never
    * O(history). */
  def duplicatedSpanStatsIncremental(
      history: DataFrame, delta: DataFrame, textCol: String = "text",
      w: Int = SpanGramSize, minCount: Int = 2,
      historyGramCounts: Option[DataFrame] = None): DataFrame = {
    val toksD = tokenArrays(delta, textCol)
    val base = toksD.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val gramsD = windowGrams(toksD, w)
    val hCounts = historyGramCounts.getOrElse(spanGramCounts(history, textCol, w))
    val dup = gramsD.groupBy("gh").agg(count(lit(1)).as("dc"))
      .join(hCounts, Seq("gh"), "left")
      .where(col("dc") + coalesce(col("hc"), lit(0L)) >= minCount)
      .select("gh")
    val spans = gramsD.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("start"), (col("start") + (w - 1)).as("e"))
    val perDoc = mergeIslands(spans)
      .select(col("doc_id"), (col("e") - col("s") + 1).as("covered"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("dup_tokens"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) * lit(1.0) / col("n_tokens"), 6)
          .as("dup_ratio"))
  }

  /** Cross-SNAPSHOT exact-substring containment: for each document of the
    * current snapshot, the spans whose `w`-gram content already existed
    * ANYWHERE in the previous snapshot — "how much of today's crawl is
    * yesterday's text", the between-crawl counterpart of the Lee et al.
    * within-corpus machinery ([[duplicatedSpanStats]]) and of the
    * cross-corpus decontamination ([[contaminatedSpanStats]]). Reports
    * per-current-doc span count, carried-token count, and carried ratio.
    *
    * Differs from [[duplicatedSpanStatsIncremental]] semantically: there a
    * delta gram is duplicated when history+delta TOTALS reach minCount
    * (within-corpus duplication including the batch itself); here a span
    * counts only if its grams exist in the PREVIOUS snapshot — same-batch
    * repetition is invisible, exactly what a crawl-freshness metric wants.
    *
    * 100 TB posture: unlike decontamination, BOTH sides are corpus-scale,
    * so the previous snapshot's gram set carries NO broadcast hint — the
    * flagging is one hint-free semi-join keyed on the 32-byte gram hash
    * (AQE may still broadcast at small SF; at corpus scale it shuffles). In
    * production pass the standing gram table via `prevGrams` (the
    * [[spanGramCounts]] relation the ingest path already maintains,
    * bucketed by hash): only current-snapshot grams shuffle per run,
    * O(current), never O(previous). */
  def crossSnapshotSpanStats(
      prev: DataFrame, curr: DataFrame, textCol: String = "text",
      w: Int = SpanGramSize, prevGrams: Option[DataFrame] = None): DataFrame = {
    val toks = tokenArrays(curr, textCol)
    val prevGh = prevGrams.getOrElse(spanGramCounts(prev, textCol, w)).select("gh")
    val spans = windowGrams(toks, w)
      .join(prevGh, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("start"), (col("start") + (w - 1)).as("e"))
    coverageStats(toks, mergeIslands(spans),
      spansCol = "n_spans", tokensCol = "carried_tokens", ratioCol = "carried_ratio")
  }

  /** The persisted index [[duplicatedSpanStatsIncremental]] consumes: one
    * (gh, hc) row per distinct history gram hash. An ingest path maintains
    * it additively — counts for a new batch are computed the same way and
    * merged by summing per hash. */
  def spanGramCounts(
      docs: DataFrame, textCol: String = "text", w: Int = SpanGramSize): DataFrame =
    windowGrams(tokenArrays(docs, textCol), w)
      .groupBy("gh").agg(count(lit(1)).as("hc"))

  /** Lowercased whitespace tokens as an array column — shared head of the
    * span pipelines. */
  private def tokenArrays(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"),
      expr(s"filter(split(lower($textCol), '\\\\s+'), x -> x != '')").as("toks"))

  /** Maximal duplicated spans per document: (doc_id, s, e) in 1-based
    * token positions. Windows whose `w`-gram content occurs >= `minCount`
    * times corpus-wide are merged when overlapping or adjacent
    * (gaps-and-islands over one per-doc window). */
  private def mergedSpans(toks: DataFrame, w: Int, minCount: Int): DataFrame = {
    val grams = windowGrams(toks, w)
    val dupGrams = grams.groupBy("gh").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount).select("gh")
    mergeIslands(
      grams.join(dupGrams, Seq("gh"), "left_semi")
        .select(col("doc_id"), col("start"), (col("start") + (w - 1)).as("e")))
  }

  /** (doc_id, start, gram-hash) for every `w`-token window (1-based). */
  private def windowGrams(toks: DataFrame, w: Int): DataFrame =
    toks
      .where(size(col("toks")) >= w)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(1, size(toks) - ${w - 1}), i -> md5(concat_ws(' ', slice(toks, i, $w))))"))
          .as(Seq("pos", "gh")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("start"), col("gh"))

  /** Gaps-and-islands merge of (doc_id, start, e) windows: a new island
    * starts where the window clears the running coverage (overlapping or
    * adjacent windows merge — coverage is contiguous). */
  private def mergeIslands(spans: DataFrame): DataFrame = {
    val order = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val prevMax = max(col("e")).over(
      order.rowsBetween(Window.unboundedPreceding, -1))
    spans
      .withColumn("brk",
        when(col("start") > coalesce(prevMax, lit(-1L)) + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("start")).as("s"), max(col("e")).as("e"))
      .select("doc_id", "s", "e")
  }

  /** Bloom-accelerated incremental exact dedup: the delta documents whose
    * canonical fingerprint does NOT already appear in history. A Bloom
    * filter over the history fingerprints (built distributed, a few MB of
    * bits — [[graft.operators.BloomJoin]]) splits the delta at the scan:
    * Bloom misses are DEFINITELY new (no false negatives) and skip the
    * history entirely; only Bloom hits — true duplicates plus ~1% false
    * positives — are anti-joined against history. At 100 TB this turns
    * "join every delta row against the full history" into "join ~the
    * duplicate fraction of the delta", with results EXACTLY equal to the
    * plain anti-join (the `dedup_exact_delta` oracle is that anti-join). */
  def exactDeltaNew(history: DataFrame, delta: DataFrame): DataFrame = {
    import graft.operators.BloomJoin
    import graft.text.TextAnalysis
    val hFp = history.select(TextAnalysis.fingerprint(col("text")).as("fp"))
    val bits = BloomJoin.buildBits(hFp, "fp", BloomJoin.sizeFor(hFp.count()))
    val d = delta.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val definiteNew = d.where(!BloomJoin.mightContain(col("fp"), bits))
    val maybeDup = d.where(BloomJoin.mightContain(col("fp"), bits))
      .join(hFp.distinct(), Seq("fp"), "left_anti")
    definiteNew.unionByName(maybeDup)
  }
}
