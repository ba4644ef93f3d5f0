package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Blocks

/** Distributed graph centrality for corpus curation. A web-scale training
  * corpus carries an implicit graph (pages link pages, users touch
  * suppliers, documents share sources), and link-structure centrality is a
  * standard document-quality prior — the classic PageRank signal
  * (Brin & Page, "The anatomy of a large-scale hypertextual Web search
  * engine", WWW 1998 — public methodology).
  *
  * Determinism: ranks are FIXED-POINT BIGINTs (caller-chosen scale), every
  * step is integer multiply / integer divide / integer sum — all exactly
  * associative — so the result is bit-identical across partitionings,
  * engines, and runs, and a SQL oracle can replay the iterations as
  * chained CTEs (the same replay trick the IVF training oracle uses).
  * Float PageRank cannot be hash-checked cross-engine: IEEE summation
  * order differs per shuffle.
  */
object Graph {
  /** Default fixed-point scale: 1.0 of rank = 10^12. Headroom rule: the
    * damping multiply bounds intermediates by 85 × N × scale, so callers
    * at N nodes need scale ≤ Long.MaxValue / (100 × N) — at the default,
    * safe past 10^5 nodes; a 10^9-node crawl graph wants scale = 10^6,
    * which still carries 6 decimal digits of rank resolution. */
  val DefaultScale = 1000000000000L

  /** Soft cap on how many destinations one grouped-adjacency row carries
    * in [[pageRank]] (a hub source is split into `od DIV cap` buckets, so
    * rows stay ≤ ~2·cap destinations ≈ 160 KB of longs). A row-size/
    * aggregation-buffer bound, not a parallelism constant — independent
    * of core count and scale factor. */
  val PrGroupCap = 10000L

  /** Lineage truncation cadence of the LINEAR round loops — [[pageRank]]
    * and the BPE trainer ([[graft.text.Bpe.trainFromVocab]]):
    * localCheckpoint every this-many rounds (pageRank's final round always
    * truncates — the returned frame is materialized). Each round reads
    * the previous state once, so this is a plan-depth bound, not a
    * correctness guard; 2 halves the materialization jobs against
    * truncating every round (interleaved same-JVM A/B at sf0.1) while
    * keeping the inlined window small. */
  val PrCkptRounds = 2

  /** Damped PageRank over an edge multigraph, `iters` synchronous
    * iterations from a uniform start (rank 1.0 per node):
    *
    *   rank'(v) = 0.15 + 0.85 · Σ_{(u,v) ∈ E} rank(u) / outdeg(u)
    *
    * in fixed-point: `(15·scale) div 100 + (85 · Σ (rank div outdeg)) div
    * 100`. Parallel edges act as weights (each row one unit). Nodes with
    * no out-edges leak their damped mass (no dangling redistribution) —
    * deterministic, and moot for symmetrized graphs where every node has
    * an out-edge.
    *
    * 100 TB posture: the adjacency is grouped ONCE by source into
    * (src, od, dsts array) rows — bucketed so no row's array exceeds
    * ~[[PrGroupCap]] destinations even at hub sources — and each
    * iteration joins that per-source relation (|V|-ish rows, not |E|)
    * against the rank relation, explodes the destinations AFTER the join
    * (guide rule: join on the un-exploded key, explode after), and takes
    * one groupBy on the destination. Per round this shuffles O(sources)
    * join rows instead of O(edges), computes `rank DIV od` once per
    * source instead of once per edge, and still does O(edges) aggregate
    * work map-side — interleave-A/B'd at 1.45x over the flat
    * (src, dst, od) form with bit-identical ranks (the contribution
    * multiset is unchanged). Rank lineage is truncated per round
    * (`localCheckpoint`) so the plan stays constant-size — the same
    * iterative-algorithm hazard rule as
    * [[graft.dedup.Dedup.connectedComponents]]. Nothing is collected to
    * the driver.
    *
    * @param edges (src: long, dst: long) rows; parallel rows = weight
    * @param iters fixed iteration count (fixed, not convergence-probed, so
    *              an oracle can replay exactly the same number of steps)
    * @return (node: long, rank: long) — rank in fixed-point `scale` units
    */
  def pageRank(
      edges: DataFrame, iters: Int = 5, scale: Long = DefaultScale): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("od"))
    // one relation joined every round: the adjacency GROUPED by source —
    // (src, od, dsts array), so each round joins |V|-ish rows against the
    // rank relation and explodes after the join instead of shipping the
    // whole O(edges) relation through the join (guide §3.3; interleaved
    // A/B: 4.4-4.9 s flat vs 3.1-3.4 s grouped, ranks bit-identical — the
    // per-edge contribution multiset is unchanged, parallel edges
    // included, since every bucket row carries the TOTAL od). Bucketing
    // (`pmod(xxhash64(dst), max(1, od DIV PrGroupCap))`) bounds any one
    // row's array at ~2·PrGroupCap destinations so a 100 TB hub source
    // cannot balloon an aggregation buffer — at bench scale (max od ~600)
    // no source splits. localCheckpoint (not persist) so every round's
    // plan references a LEAF, not the derivation re-inlined per round —
    // the plan-truncation rationale as graft.dedup.Dedup.ngramJaccardPairs.
    // (A persist+count variant — real InMemoryRelation stats letting the
    // planner broadcast the rank side per round — was interleave-A/B'd
    // this round and LOST: the two extra materialization jobs plus the
    // per-round InMemoryTableScan cost more than the saved exchanges at
    // bench scale, 4.7-5.3 s → 5.0-7.2 s. Kept the checkpoint leaf.)
    Blocks.scope { s =>
      val ed = s.checkpoint(e.join(outdeg, "src")
        .groupBy(col("src"),
          pmod(xxhash64(col("dst")),
            greatest(lit(1L), expr(s"od DIV $PrGroupCap"))).as("bkt"))
        .agg(first(col("od")).as("od"), collect_list(col("dst")).as("dsts")))
      val nodes = s.checkpoint(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
      val base = (15L * scale) / 100L
      var ranks = s.checkpoint(nodes.select(col("node"), lit(scale).as("rank")))
      // Checkpoint CADENCE (r15, interleave-A/B'd): each round references
      // the previous ranks exactly ONCE, so the un-truncated plan grows
      // only LINEARLY in rounds — unlike kCore's branching reads there is
      // no exponential hazard, and truncating every round just pays a
      // materialization job per round. Truncating every PrCkptRounds
      // rounds keeps the plan ≤ that many rounds deep and drops half the
      // materialization jobs: 3.25-5.24 s → 2.92-3.46 s on the full query
      // at sf0.1 (cadence 5 measured the same as 2 — 2 is kept as the
      // conservative depth bound). Ranks bit-identical (same integer
      // arithmetic, equivalence asserted at sf0.01 + sf0.1).
      var lastCkpt = ranks
      for (i <- 0 until iters) {
        val contribs = ed.join(ranks, ed("src") === ranks("node"))
          .select(explode(col("dsts")).as("node"), expr("rank DIV od").as("c"))
          .groupBy("node").agg(sum(col("c")).as("insum"))
        ranks = nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            (lit(base) + expr(s"85 * coalesce(insum, 0L) DIV 100")).as("rank"))
        if ((i + 1) % PrCkptRounds == 0 || i == iters - 1) {
          ranks = s.checkpoint(ranks) // eager: consumes prior rounds
          s.release(lastCkpt)
          lastCkpt = ranks
        }
      }
      // the standing relations die with the scope; the RETURNED ranks
      // checkpoint is the caller's (the returned-checkpoint contract)
      s.keep(ranks)
    }
  }

  /** k-core peeling (Seidman, "Network structure and minimum degree",
    * Social Networks 1983 — public methodology): iteratively remove nodes
    * of degree < k, reporting per-round census rows. A fixed `rounds`
    * count (like [[pageRank]]'s fixed `iters`) keeps the computation
    * oracle-replayable as chained CTEs; a zero-removal round means the
    * core converged, and the round rows make that visible.
    *
    * 100 TB posture: per-round cost is one degree aggregate + two
    * key-semi-joins over the CURRENT edge set (shrinking monotonically) —
    * all shuffles on node keys, nothing driver-side but four report
    * scalars per round. The edge relation is `localCheckpoint`ed once and
    * each round's survivor set is checkpointed again, so the analyzed plan
    * is CONSTANT-SIZE per round — without this, each round's plan embeds
    * ~5 copies of the previous round's tree (the degree aggregate reads it
    * twice and both semi-join key sets derive from that aggregate), an
    * O(5^rounds) blow-up that OOMs the driver long before the executors
    * see data. Same iterative-lineage hazard rule as [[pageRank]],
    * [[graft.dedup.Dedup.connectedComponents]], and the BPE trainer.
    *
    * @param edges (a: long, b: long) with a < b, distinct (a simple graph)
    * @param k     minimum surviving degree
    * @param rounds fixed synchronous peel count (oracle-replayable)
    * @return (round, n_nodes, n_removed, n_edges_after) — one row per round
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = collection.mutable.Buffer.empty[(Int, Long, Long, Long)]
    Blocks.scope { s =>
      var prev = s.checkpoint(simple(edges))
      var r = 1
      while (r <= rounds) {
        val (nNodes, nRemoved, next) = peel(s, prev, k)
        val nEdges = next.count()
        // FIXPOINT: a zero-removal round leaves the edge set identical,
        // and every census value is a deterministic function of it — so
        // each remaining round MUST emit exactly this row. Emit them
        // without re-running the peel (guide §1.2: don't compute what you
        // throw away); the result is provably equal to the full unrolled
        // replay the oracle runs.
        val upTo = if (nRemoved == 0L) rounds else r
        (r to upTo).foreach(i => rows += ((i, nNodes, nRemoved, nEdges)))
        prev = next
        r = upTo + 1
      }
    }
    rows.toSeq.toDF("round", "n_nodes", "n_removed", "n_edges_after")
  }

  /** (a, b) cast to long — the simple-graph edge form every builder reads. */
  private def simple(edges: DataFrame): DataFrame =
    edges.select(col("a").cast("long"), col("b").cast("long"))

  /** (u, dg): node degrees of an (a, b) edge relation. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("a"), col("b"))).as("u"))
      .groupBy("u").agg(count(lit(1)).as("dg"))

  /** One synchronous k-core peel round inside `s`, shared by [[kCore]] and
    * [[kCoreFixpoint]]: the degree census (ONE job for both scalars) and
    * the surviving edge set — checkpointed through `s` so the plan stays
    * one round deep, with `prev` retired — or `prev` itself when the round
    * removes nothing. Returns (n_nodes, n_removed, survivors). */
  private def peel(s: Blocks.Scope, prev: DataFrame, k: Int): (Long, Long, DataFrame) = {
    val deg = s.persist(degrees(prev))
    val cens = deg.agg(count(lit(1)).as("n"),
      count(when(col("dg") < k, lit(1))).as("r")).head()
    val next = if (cens.getLong(1) == 0L) prev else {
      val keep = deg.where(col("dg") >= k)
      // re-select: a USING-column semi-join hoists its key column first
      val survivors = s.checkpoint(prev
        .join(keep.select(col("u").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("u").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
      s.release(prev)
      survivors
    }
    s.release(deg)
    (cens.getLong(0), cens.getLong(1), next)
  }

  /** k-truss peeling (Cohen, "Trussness: cohesive subgraphs for social
    * network analysis", NSA tech report 2008 — public methodology): keep
    * only edges supported by at least k−2 triangles, iterated a fixed
    * number of synchronous rounds; the census rows report the peel. A
    * k-truss is a strictly stronger cohesion certificate than the
    * (k−1)-core — each surviving EDGE (not node) sits in k−2 mutually
    * adjacent wedges — the standard next rung on the dense-subgraph
    * ladder after [[kCore]].
    *
    * Per-round support counting reuses [[triangleStats]]'s degree-ordered
    * orientation (Schank–Wagner): each triangle enumerates exactly once,
    * forward out-degrees are O(√m), and the triple carries its three
    * CANONICAL (a<b) edge keys so support lands back on undirected edges
    * with one explode + one groupBy. All counts integer — a SQL oracle
    * replays the rounds as chained CTEs bit-exactly.
    *
    * 100 TB posture: every step is an equi-join / aggregate on node or
    * edge keys over the CURRENT (monotonically shrinking) edge set;
    * per-round lineage is truncated (`localCheckpoint`) exactly like
    * [[kCore]] — see that method's Scaladoc for why a persist() is NOT
    * enough. Driver state: four census scalars per round.
    *
    * @param edges (a: long, b: long) with a < b, distinct (a simple graph)
    * @param k      truss order (edge survives with ≥ k−2 triangles)
    * @param rounds fixed synchronous peel count (oracle-replayable)
    * @return (round, n_edges, n_removed, n_edges_after) — one row per round
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = collection.mutable.Buffer.empty[(Int, Long, Long, Long)]
    Blocks.scope { s =>
      var prev = s.checkpoint(simple(edges))
      var r = 1
      var carried = -1L // round r's edge count IS round r−1's nAfter
      while (r <= rounds) {
        val nEdges = if (carried >= 0L) carried else prev.count()
        if (nEdges == 0L) {
          // empty graph is trivially the fixpoint: every remaining round
          // counts zero triangles over zero edges — emit the rows directly
          // (provably identical to the unrolled replay; same rule as kCore)
          (r to rounds).foreach(i => rows += ((i, 0L, 0L, 0L)))
          r = rounds + 1
        } else {
          val deg = degrees(prev)
          val da = deg.select(col("u").as("a"), col("dg").as("da"))
          val db = deg.select(col("u").as("b"), col("dg").as("db"))
          val fwdCond = col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b"))
          // oriented edge + its canonical key, persisted: three self-join arms
          val fwd = s.persist(prev.join(da, "a").join(db, "b")
            .select(col("a"), col("b"),
              when(fwdCond, col("a")).otherwise(col("b")).as("s"),
              when(fwdCond, col("b")).otherwise(col("a")).as("t")))
          val e1 = fwd.select(col("s").as("x"), col("t").as("y"),
            col("a").as("a1"), col("b").as("b1"))
          val e2 = fwd.select(col("s").as("y"), col("t").as("z"),
            col("a").as("a2"), col("b").as("b2"))
          val e3 = fwd.select(col("s").as("x"), col("t").as("z"),
            col("a").as("a3"), col("b").as("b3"))
          val support = e1.join(e2, "y").join(e3, Seq("x", "z"))
            .select(explode(array(
              struct(col("a1").as("a"), col("b1").as("b")),
              struct(col("a2").as("a"), col("b2").as("b")),
              struct(col("a3").as("a"), col("b3").as("b")))).as("e"))
            .select(col("e.a"), col("e.b"))
            .groupBy("a", "b").agg(count(lit(1)).as("sup"))
          val next = s.checkpoint(prev.join(support, Seq("a", "b"), "left")
            .where(coalesce(col("sup"), lit(0L)) >= lit((k - 2).toLong))
            .select(col("a"), col("b"))) // truncate: plan stays one round deep
          val nAfter = next.count()
          s.release(fwd)
          s.release(prev) // next is materialized; prev is dead
          // FIXPOINT: zero removals mean the support recount over the
          // unchanged edge set must repeat verbatim — emit the remaining
          // census rows without re-running it (same proof as kCore)
          val upTo = if (nAfter == nEdges) rounds else r
          (r to upTo).foreach(i => rows += ((i, nEdges, nEdges - nAfter, nAfter)))
          prev = next
          carried = nAfter
          r = upTo + 1
        }
      }
    }
    rows.toSeq.toDF("round", "n_edges", "n_removed", "n_edges_after")
  }

  /** [[kCore]] run to convergence instead of a fixed round count: peels
    * until a round removes zero nodes (the k-core fixpoint) or `maxRounds`
    * is hit, and returns the SURVIVING EDGE SET rather than the census —
    * the production form (the census form exists because a fixed round
    * count is what a SQL oracle can replay). Edge count shrinks
    * monotonically round-over-round, so termination is guaranteed in at
    * most `n_nodes` rounds; each round is checkpoint-truncated exactly
    * like [[kCore]].
    *
    * @return (a: long, b: long) — edges of the k-core subgraph
    */
  def kCoreFixpoint(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Blocks.scope { s =>
      var prev = s.checkpoint(simple(edges))
      var converged = false
      var r = 0
      while (!converged && r < maxRounds) {
        val (_, nRemoved, next) = peel(s, prev, k)
        converged = nRemoved == 0L
        prev = next
        r += 1
      }
      // prev is the RESULT: its checkpoint is the caller's to release
      s.keep(prev)
    }
  }

  /** Synchronous label-propagation community detection (Raghavan, Albert
    * & Kumara, "Near linear time algorithm to detect community structures
    * in large-scale networks", Phys. Rev. E 2007 — public methodology),
    * determinized: every node starts labeled with its own id; each round
    * every node adopts the label MOST FREQUENT among its neighbors, ties
    * broken by MINIMUM label. The min-label tie-break replaces the paper's
    * random choice, so the whole run is reproducible and a SQL oracle can
    * replay the rounds as chained CTEs — all label/count arithmetic is
    * integer, bit-exact cross-engine. Synchronous (all nodes update from
    * the PREVIOUS round's labels), like [[pageRank]].
    *
    * 100 TB posture: each round is one equi-join of the directed edge
    * relation against the label relation + two node-keyed aggregates (the
    * per-(node, label) count, then the argmax-with-min-tie-break resolved
    * as max-count join-back + min) — O(edges) per round, shuffles only on
    * node keys, nothing driver-side. The directed edge relation is
    * persisted once; each round's labels are `localCheckpoint`ed so the
    * analyzed plan stays one round deep — the iterative-lineage rule of
    * [[kCore]]'s Scaladoc.
    *
    * @param edges  (a: long, b: long) with a < b, distinct (a simple graph)
    * @param rounds fixed synchronous update count (oracle-replayable)
    * @return (node: long, label: long) after `rounds` updates
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    Blocks.scope { s =>
      val dir = lpaDirected(s, edges)
      var labels = lpaStart(s, dir)
      for (_ <- 0 until rounds) {
        val next = lpaStep(s, dir, labels) // eager: consumes the previous round
        s.release(labels)
        labels = next
      }
      // the RETURNED labels checkpoint is the caller's to release
      s.keep(labels)
    }
  }

  /** [[labelPropagation]] with a per-round convergence census instead of
    * the final labels: (round, n_labels, n_changed) — distinct surviving
    * labels and nodes that switched label that round. A zero-changed round
    * means the propagation converged; the census makes that visible (the
    * same census-vs-result split as [[kCore]] vs [[kCoreFixpoint]]).
    * Always emits exactly `rounds` rows — zeros on an empty graph.
    *
    * STREAMING form: the loop holds only the previous and current label
    * states (each a narrow checkpointed node→label relation), emits the
    * round's census row, and releases the previous state before iterating
    * — O(1) live states at any round count, the production monitor shape
    * for a huge graph. */
  def labelPropagationCensus(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = collection.mutable.Buffer.empty[(Int, Long, Long)]
    Blocks.scope { s =>
      val dir = lpaDirected(s, edges)
      var labels = lpaStart(s, dir)
      var r = 1
      while (r <= rounds) {
        val prev = labels
        labels = lpaStep(s, dir, labels)
        // ONE census job per round instead of two: both readouts aggregate
        // the same (new label, prev label) relation — the join is inner on
        // node, and every round relabels every node, so the distinct-label
        // count over the join equals the count over the new labels alone
        val census = labels
          .join(prev.select(col("node"), col("label").as("pl")), "node")
          .agg(countDistinct(col("label")).as("nl"),
            count(when(col("label") =!= col("pl"), lit(1))).as("nch"))
          .head()
        val (nLabels, nChanged) = (census.getLong(0), census.getLong(1))
        // prev is consumed by the census join: release its checkpoint NOW —
        // only (prev, cur) are ever live together, deterministically
        s.release(prev)
        // FIXPOINT: labels_{r+1} = F(labels_r) and labels_r = labels_{r-1}
        // pin every later round to the identical labeling — emit the
        // remaining census rows without re-stepping (same proof as kCore)
        val upTo = if (nChanged == 0L) rounds else r
        (r to upTo).foreach(i => rows += ((i, nLabels, nChanged)))
        r = upTo + 1
      }
    }
    rows.toSeq.toDF("round", "n_labels", "n_changed")
  }

  /** [[labelPropagation]] run to convergence instead of a fixed round
    * count: propagates until a round changes zero labels (the LPA
    * fixpoint) or `maxRounds` is hit, and returns the final labels — the
    * production form (the census form exists because a fixed round count
    * is what a SQL oracle can replay), the [[kCoreFixpoint]] analog. Like
    * the census it holds only two label states at a time; each round is
    * checkpoint-truncated, so the plan stays one round deep at any depth.
    * Note LPA has no monotone progress measure, so unlike k-core peeling
    * termination is NOT guaranteed (two-colorable components can
    * oscillate under synchronous updates — Raghavan et al. §IV) —
    * `maxRounds` is the backstop, and callers that need the round count
    * can read it from the census form. */
  def labelPropagationFixpoint(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Blocks.scope { s =>
      val dir = lpaDirected(s, edges)
      var labels = lpaStart(s, dir)
      var converged = false
      var r = 0
      while (!converged && r < maxRounds) {
        val next = lpaStep(s, dir, labels)
        converged = next
          .join(labels.select(col("node"), col("label").as("pl")), "node")
          .where(col("label") =!= col("pl")).count() == 0L
        s.release(labels) // at the fixpoint next is identical to it
        labels = next
        r += 1
      }
      // the RETURNED labels checkpoint is the caller's to release
      s.keep(labels)
    }
  }

  /** Directed (both-orientation) neighborhood relation, materialized once
    * (localCheckpoint) — the relation every LPA round joins behind a
    * leaf-sized plan (plan-truncation rationale at
    * [[graft.dedup.Dedup.ngramJaccardPairs]]). A persist+count variant
    * (real stats for the per-round join) was interleave-A/B'd this round
    * inside the fused census shape and LOST (2.2-2.6 s → 3.0-3.6 s) —
    * same verdict as [[pageRank]]'s standing relations. */
  private def lpaDirected(s: Blocks.Scope, edges: DataFrame): DataFrame = {
    val e = simple(edges)
    // both directions: u's neighborhood is every v sharing an edge
    s.checkpoint(e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v"))))
  }

  /** Round-0 labels: every node labeled with its own id. */
  private def lpaStart(s: Blocks.Scope, dir: DataFrame): DataFrame =
    s.checkpoint(dir.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label")))

  /** One synchronous LPA round: every node adopts the label most frequent
    * among its neighbors, ties broken by minimum label; the result is
    * checkpointed through `s` so the plan stays one round deep.
    *
    * The argmax-with-min-tie-break is ONE struct aggregate:
    * min over (−cnt, label) is lexicographic, so it picks the maximum
    * count first and the minimum label among the tied — provably the same
    * labeling as the count → per-node max → join-back → min unrolling the
    * SQL oracle replays (counts are ≥ 1, so −cnt cannot overflow). The
    * fused form drops a per-round aggregate + join-back (two exchanges)
    * and the per-round persist (guide §2.4); interleaved same-JVM A/B at
    * sf0.1: 2.46–2.77 → 1.41–1.57 s for the 3-round propagation, labelings
    * row-identical. */
  private def lpaStep(s: Blocks.Scope, dir: DataFrame, labels: DataFrame): DataFrame =
    s.checkpoint(dir.join(labels, dir("v") === labels("node"))
      .groupBy(dir("u").as("u"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("u").as("node"))
      .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
      .select(col("node"), col("m.label").as("label")))

  /** Newman modularity of a labeling over an undirected simple graph
    * (Newman & Girvan, "Finding and evaluating community structure in
    * networks", Phys. Rev. E 2004 — public methodology):
    *
    *   Q = Σ_c [ e_c/m − (d_c / 2m)² ]  =  (4m·Σe_c − Σd_c²) / 4m²
    *
    * where e_c = intra-community edges, d_c = total degree of community c,
    * m = |E|. The right-hand form keeps everything integer until ONE
    * closing IEEE division, so the readout hash-matches cross-engine; the
    * integer products go through DECIMAL(38,0) — Σd_c² exceeds BIGINT on
    * billion-edge graphs.
    *
    * 100 TB posture: two label-keyed joins on the edge relation + one
    * label-keyed degree aggregate + scalar closes — all shuffles on graph
    * keys, output is one row.
    *
    * @param edges  (a: long, b: long) with a < b, distinct
    * @param labels (node: long, label: long), e.g. [[labelPropagation]]'s
    * @return one row: n_communities, n_edges, intra_edges, modularity
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = Blocks.scope { s =>
    import org.apache.spark.sql.types.DecimalType
    val e = s.persist(simple(edges))
    val la = labels.select(col("node").as("a"), col("label").as("la"))
    val lb = labels.select(col("node").as("b"), col("label").as("lb"))
    val m = e.count()
    val intra = e.join(la, "a").join(lb, "b")
      .where(col("la") === col("lb")).count()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("dg"))
    val byC = deg.join(labels, "node")
      .groupBy("label").agg(sum(col("dg")).as("dc"))
      .agg(count(lit(1)).as("nc"),
        coalesce(sum(col("dc").cast(DecimalType(38, 0)) * col("dc")),
          lit(0).cast(DecimalType(38, 0))).as("sumdc2"))
    val fourM = BigDecimal(4L * m)
    byC.select(col("nc").as("n_communities"), lit(m).as("n_edges"),
      lit(intra).as("intra_edges"),
      (if (m > 0)
        round((lit(fourM.bigDecimal) * lit(intra) - col("sumdc2"))
          .cast("double") / lit((fourM * m).toDouble), 6)
      else lit(null).cast("double")).as("modularity"))
  }

  /** Degree assortativity (Newman, "Assortative mixing in networks",
    * Phys. Rev. Lett. 2002 — public methodology): the Pearson correlation
    * of endpoint degrees over the DIRECTED edge list (each undirected
    * edge in both orientations),
    *
    *   r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²),  M = 2m
    *
    * positive = hubs attach to hubs (social cores), negative = hubs
    * attach to leaves (star/broadcast topologies, the bot-fanout shape).
    * Every moment is an exact integer sum — Σjk and Σj² go through
    * DECIMAL(38,0), products of billion-scale degrees exceed BIGINT —
    * down to ONE closing IEEE division, so the one-row readout
    * hash-matches cross-engine; NULL when the graph is degree-regular
    * (zero variance ⇒ r undefined).
    *
    * 100 TB posture: one degree aggregate + two node-keyed joins on the
    * edge relation + one global aggregate — all shuffles on graph keys.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val e = simple(edges)
    val deg = degrees(e)
    val da = deg.select(col("u").as("a"), col("dg").as("da"))
    val db = deg.select(col("u").as("b"), col("dg").as("db"))
    val dir = e.join(da, "a").join(db, "b")
      .select(col("da").as("j"), col("db").as("k"))
      .unionAll(e.join(da, "a").join(db, "b")
        .select(col("db").as("j"), col("da").as("k")))
    val agg = dir.agg(count(lit(1)).as("m2"),
      coalesce(sum(col("j").cast(dec)), lit(0).cast(dec)).as("sj"),
      coalesce(sum((col("j").cast(dec) * col("k"))), lit(0).cast(dec))
        .as("sjk"),
      coalesce(sum((col("j").cast(dec) * col("j"))), lit(0).cast(dec))
        .as("sj2"))
    val num = col("m2").cast(dec) * col("sjk") - col("sj") * col("sj")
    val den = col("m2").cast(dec) * col("sj2") - col("sj") * col("sj")
    agg.select(expr("m2 DIV 2").as("n_edges"),
      when(den =!= lit(0).cast(dec),
        round(num.cast("double") / den.cast("double"), 6))
        .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /** Maintain a standing degree table under edge INSERTS — the base case
    * of incremental graph maintenance (every dedup family here has a
    * delta-vs-standing form; this gives the graph suite its first).
    * `delta` is canonicalized to (min, max) orientation, deduplicated,
    * and anti-joined against the (likewise canonicalized) standing edge
    * set, so the update is IDEMPOTENT (re-applying a delta whose edges
    * already landed adds nothing — even when a retry delivers the SAME
    * edge in the opposite orientation) as well as ADDITIVE (applying a
    * delta in chunks composes to the one-shot result) — the two
    * properties that make a standing table safe under retries and
    * out-of-order batches. Without the canonicalization, idempotence
    * would be a doc-only precondition a reversed-orientation producer
    * silently violates, permanently inflating both endpoints' degrees.
    *
    * 100 TB posture: O(|delta|) new-edge work (one anti-join on the edge
    * key against the standing edge set — at scale a key-bucketed standing
    * table makes that a co-located join) + a degree merge keyed on node;
    * the standing history is never re-aggregated edge-by-edge — it
    * contributes its existing (node, degree) rows.
    *
    * @param standingDegrees (u: long, dg: long) — degrees of the standing graph
    * @param standingEdges   (a: long, b: long), any orientation — the standing edge set
    * @param delta           (a: long, b: long), any orientation — edges to insert
    * @return (u: long, dg: long) — degrees of standing ∪ delta
    */
  def degreeMaintain(
      standingDegrees: DataFrame, standingEdges: DataFrame,
      delta: DataFrame): DataFrame = {
    def canon(e: DataFrame) = e.select(
      least(col("a"), col("b")).cast("long").as("a"),
      greatest(col("a"), col("b")).cast("long").as("b"))
    val fresh = canon(delta)
      .distinct()
      .join(canon(standingEdges), Seq("a", "b"), "left_anti")
    degreeMerge(standingDegrees, fresh)
  }

  /** Degree-merge tail of [[degreeMaintain]] for a delta that is ALREADY
    * canonical, distinct, and anti-joined — callers that cleaned the
    * batch themselves (wedgeViewMaintain) must not pay a second O(m)
    * anti-join scan of the standing edge set just to recompute it. */
  private[operators] def degreeMerge(
      standingDegrees: DataFrame, freshCanon: DataFrame): DataFrame =
    standingDegrees.select(col("u").cast("long"), col("dg").cast("long"))
      .unionAll(freshCanon.select(explode(array(col("a"), col("b"))).as("u"),
        lit(1L).as("dg")))
      .groupBy("u").agg(sum(col("dg")).as("dg"))

  /** Triangle census under edge INSERTS: triangles of history ∪ delta
    * WITHOUT re-enumerating the history's triangles. Every triangle that
    * touches at least one delta edge is charged to its lexicographically
    * LARGEST delta edge (canonical (a, b) order), so each is counted
    * exactly once: for delta edge e = (a, b), count common neighbors w
    * whose two closing edges are each either history edges or delta edges
    * strictly smaller than e. The delta joins the standing adjacency; the
    * history never self-joins — the same delta-vs-standing bound as the
    * dedup `_incr` family.
    *
    * DEGREE-ORDERED PROBE (pass `standingDegrees` — the table
    * [[degreeMaintain]] maintains from the same insert batches): each
    * delta edge expands the adjacency of its LOWER-(standing-degree, id)
    * endpoint and key-probes the closing edge from the other (fan-out ≤ 1
    * per candidate), so per-edge expansion is min(deg a, deg b) instead
    * of deg(a) — the Chiba–Nishizeki ordering (SICOMP'85; arboricity
    * bound Σ_edges min-degree = O(m·√m), i.e. amortized O(√m) per edge).
    * On a hub-heavy graph this is THE scale difference: a leaf→hub insert
    * costs O(deg leaf), not O(deg hub). Measured on the sf0.1
    * co-occurrence graph (23k edges): max per-delta-edge expansion 57→48,
    * total 144.6k→129.0k rows. Without `standingDegrees` the probe
    * anchors at endpoint `a` (the maintenance-free form). Honesty note:
    * exact counting cannot bound per-edge fan-out by the forward
    * OUT-degree cap alone (sf0.1: cap 26 < min-degree max 48) — a
    * closing-delta triangle needs one endpoint's neighborhood examined,
    * so this form's O(√m) is AMORTIZED only (Chiba–Nishizeki bounds the
    * sum, not any single edge). For a worst-case O(√m) per edge — e.g. a
    * hub–hub insert — use [[triangleInsertBounded]] with a standing
    * [[wedgeViewBuild]] view (the IVM^ε heavy/light machinery).
    *
    * @param history (a: long, b: long) with a < b, distinct; its triangle
    *                count arrives as `standingTriangles` — in production a
    *                stored scalar maintained by this very operator
    * @param delta   (a: long, b: long) with a < b, distinct, DISJOINT
    *                from history (insert-only; route retries through the
    *                [[degreeMaintain]]-style anti-join first)
    * @param standingDegrees optional (u: long, dg: long) standing degrees
    *                of the history graph ([[degreeMaintain]]'s output);
    *                nodes absent from it count as degree 0
    * @return one row: n_tri_history, n_tri_delta, n_tri_total
    */
  def triangleInsert(
      history: DataFrame, delta: DataFrame, standingTriangles: Long,
      standingDegrees: Option[DataFrame] = None): DataFrame = Blocks.scope { s =>
    val spark = history.sparkSession
    val h = simple(history)
    val d0 = simple(delta)
    // probe side s / key side t per delta edge: degree-ordered when
    // standing degrees are available, endpoint a otherwise. The order is
    // a total order ((dg, id) lexicographic), so s is deterministic.
    val d = s.persist(standingDegrees.map { degs =>
      val dg = degs.select(col("u").cast("long").as("u"),
        col("dg").cast("long").as("dg"))
      val lower = coalesce(col("dga"), lit(0L)) < coalesce(col("dgb"), lit(0L)) ||
        (coalesce(col("dga"), lit(0L)) === coalesce(col("dgb"), lit(0L)) &&
          col("a") < col("b"))
      d0.join(dg.select(col("u").as("a"), col("dg").as("dga")), Seq("a"), "left")
        .join(dg.select(col("u").as("b"), col("dg").as("dgb")), Seq("b"), "left")
        .select(col("a"), col("b"),
          when(lower, col("a")).otherwise(col("b")).as("s"),
          when(lower, col("b")).otherwise(col("a")).as("t"))
    }.getOrElse(d0.select(col("a"), col("b"), col("a").as("s"), col("b").as("t"))))
    // adjacency of history ∪ delta in both directions, carrying the
    // canonical edge key + the delta flag the order filter needs
    def directed(e: DataFrame, isD: Boolean) = {
      val base = e.select(col("a"), col("b"), lit(isD).as("isd"),
        col("a").as("ka"), col("b").as("kb"))
      base.select(col("a").as("u"), col("b").as("w"), col("isd"),
          col("ka"), col("kb"))
        .unionAll(base.select(col("b").as("u"), col("a").as("w"), col("isd"),
          col("ka"), col("kb")))
    }
    val adj = s.persist(
      directed(h, isD = false).unionAll(directed(d0, isD = true)))
    // closing edge admissible for delta edge (a, b): from history, or a
    // strictly smaller delta edge — the exactly-once charging rule
    // (keyed on the CANONICAL (a, b), independent of probe orientation)
    def admissible(side: String) =
      !col(s"$side.isd") ||
        col(s"$side.ka") < col("d.a") ||
        (col(s"$side.ka") === col("d.a") && col(s"$side.kb") < col("d.b"))
    val nNew = d.as("d")
      .join(adj.as("x"), col("x.u") === col("d.s") && admissible("x"))
      .join(adj.as("y"),
        col("y.u") === col("d.t") && col("y.w") === col("x.w") &&
          admissible("y"))
      .count()
    spark.range(1).select(
      lit(standingTriangles).as("n_tri_history"),
      lit(nNew).as("n_tri_delta"),
      lit(standingTriangles + nNew).as("n_tri_total"))
  }

  /** Heavy-node threshold for the standing wedge view: θ = ⌈√(2m)⌉, the
    * balance point of the IVM^ε construction at ε = 1/2 (Kara, Ngo,
    * Nikolic, Olteanu, Zhang — "Counting Triangles under Updates in
    * Worst-Case Optimal Time", ICDT'19 / SIGMOD'19 followups; public
    * methodology): at most 2m/θ = √(2m) nodes can have degree ≥ θ, so a
    * light endpoint expands < θ adjacency rows and a heavy-pair lookup
    * scans ≤ √(2m) heavy neighbors during maintenance — both O(√m). */
  def wedgeTheta(nEdges: Long): Long =
    math.max(1L, math.ceil(math.sqrt(2.0 * nEdges)).toLong)

  /** Standing HEAVY-PAIR wedge view: for every unordered pair (u, v) of
    * heavy nodes (standing degree ≥ θ) with at least one common neighbor,
    * the exact common-neighbor count |N(u) ∩ N(v)| — the auxiliary view
    * that turns a heavy-heavy edge insert's triangle count into ONE key
    * lookup instead of a hub-sized neighborhood scan. Centers w are NOT
    * class-restricted (the view counts every common neighbor); only the
    * pair endpoints are, which is what bounds the view: ≤ √(2m) heavy
    * nodes → ≤ 2m pairs, and the build enumerates wedges with both outer
    * endpoints heavy — Σ_w min(deg w, √(2m))² ≤ 2m·√(2m) rows, the
    * IVM^ε O(m^{3/2}) one-time/space bound.
    *
    * 100 TB posture: two self-joins on node keys, nothing collected; the
    * view is a standing table bucketed by its (u, v) key at scale, the
    * same posture as the dedup MinHashIndex.
    *
    * @param edges           (a: long, b: long) with a < b, distinct
    * @param standingDegrees (u: long, dg: long) degrees of `edges`
    * @param theta           heavy threshold (≥ 1); [[wedgeTheta]] of m
    * @return (u: long, v: long, wedges: long) with u < v, both heavy
    */
  def wedgeViewBuild(
      edges: DataFrame, standingDegrees: DataFrame, theta: Long): DataFrame = {
    require(theta >= 1, s"theta must be >= 1, got $theta")
    val e = edges.select(col("a").cast("long"), col("b").cast("long"))
    val heavy = standingDegrees
      .select(col("u").cast("long"), col("dg").cast("long"))
      .where(col("dg") >= theta).select(col("u"))
    val arms = e.select(col("a").as("w"), col("b").as("u"))
      .unionAll(e.select(col("b").as("w"), col("a").as("u")))
      .join(heavy, Seq("u"), "left_semi")
    arms.as("x").join(arms.as("y"),
        col("x.w") === col("y.w") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("u"), col("y.u").as("v"))
      .agg(count(lit(1)).as("wedges"))
  }

  /** Maintain the heavy-pair wedge view under edge INSERTS without
    * rebuilding: the view gains one wedge per (delta arm, standing arm)
    * and per (delta arm, delta arm) pair sharing a center — both joins
    * anchor at the DELTA arms, and the standing side is pre-filtered to
    * heavy outer endpoints, so per-center fan-out is ≤ √(2m) (the number
    * of heavy nodes), never deg(center): the IVM^ε O(√m)-per-edge
    * maintenance bound. Nodes the batch pushes ACROSS θ (light → heavy;
    * inserts never demote) get their pairs built from scratch over the
    * new graph, restricted to the promoted nodes' arms — the batch
    * analogue of IVM^ε's minor rebalancing, charged to the promotion
    * rather than to every update. Canonicalization + anti-join make the
    * update idempotent and additive, exactly like [[degreeMaintain]].
    *
    * @param view            current view ((u, v, wedges), u < v) — valid
    *                        for `standingEdges` at `theta` under
    *                        `standingDegrees`
    * @param standingEdges   (a: long, b: long), any orientation
    * @param standingDegrees (u: long, dg: long) degrees of standingEdges
    * @param delta           (a: long, b: long), any orientation
    * @param theta           the SAME heavy threshold the view was built at
    * @return the view of standing ∪ delta, classified by the UPDATED
    *         degrees at `theta` (pair with [[degreeMaintain]]'s output) —
    *         materialized and cached under the one-shot result contract
    *         ([[graft.Blocks]]): `unpersist` it once consumed
    */
  def wedgeViewMaintain(
      view: DataFrame, standingEdges: DataFrame, standingDegrees: DataFrame,
      delta: DataFrame, theta: Long): DataFrame = Blocks.scope { s =>
    require(theta >= 1, s"theta must be >= 1, got $theta")
    def canon(e: DataFrame) = e.select(
      least(col("a"), col("b")).cast("long").as("a"),
      greatest(col("a"), col("b")).cast("long").as("b"))
    val h = canon(standingEdges)
    // checkpointed, each read by several arms below; all three die with
    // the scope once the returned view is materialized
    val fresh = s.checkpoint(canon(delta).distinct()
      .join(h, Seq("a", "b"), "left_anti"))
    val dg0 = standingDegrees
      .select(col("u").cast("long"), col("dg").cast("long"))
    val dgNew = degreeMerge(dg0, fresh)
    val heavyOld = dg0.where(col("dg") >= theta).select(col("u"))
    val heavyNew = dgNew.where(col("dg") >= theta).select(col("u"))
    val promoted = s.checkpoint(heavyNew.join(heavyOld, Seq("u"), "left_anti"))
    def armsOf(e: DataFrame) =
      e.select(col("a").as("w"), col("b").as("u"))
        .unionAll(e.select(col("b").as("w"), col("a").as("u")))
    // wedges GAINED at old-heavy pairs: one delta arm + one standing arm
    // (counted once — the delta arm identifies the wedge), or two delta
    // arms (x.u < y.u counts each unordered pair once; distinct edges
    // sharing both endpoints cannot exist, so u = v is impossible)
    val armsD = s.checkpoint(armsOf(fresh).join(heavyOld, Seq("u"), "left_semi"))
    val armsH = armsOf(h).join(heavyOld, Seq("u"), "left_semi")
    val mixed = armsD.as("x").join(armsH.as("y"),
        col("x.w") === col("y.w"))
      .select(least(col("x.u"), col("y.u")).as("u"),
        greatest(col("x.u"), col("y.u")).as("v"))
    val dd = armsD.as("x").join(armsD.as("y"),
        col("x.w") === col("y.w") && col("x.u") < col("y.u"))
      .select(col("x.u").as("u"), col("y.u").as("v"))
    val gained = mixed.unionAll(dd)
      .groupBy("u", "v").agg(count(lit(1)).as("dw"))
    val base = view.select(col("u").cast("long"), col("v").cast("long"),
      col("wedges").cast("long"))
    val mergedOld = base.join(gained, Seq("u", "v"), "full_outer")
      .select(col("u"), col("v"),
        (coalesce(col("wedges"), lit(0L)) + coalesce(col("dw"), lit(0L)))
          .as("wedges"))
    // promoted pairs (≥ 1 endpoint newly heavy — DISJOINT from every
    // old-heavy pair): built from scratch over the new graph, anchored at
    // the promoted nodes' arms; a both-promoted pair is deduped by id
    // order, a promoted×old-heavy pair counts once because the old-heavy
    // endpoint can never be the x side
    val eNew = h.unionAll(fresh)
    val armsNew = armsOf(eNew)
    val armsProm = armsNew.join(promoted, Seq("u"), "left_semi")
    val promFlag = promoted.select(col("u"), lit(true).as("prom"))
    val armsHN = armsNew.join(heavyNew, Seq("u"), "left_semi")
      .join(promFlag, Seq("u"), "left")
      .select(col("w"), col("u"), coalesce(col("prom"), lit(false)).as("prom"))
    val promPairs = armsProm.as("x").join(armsHN.as("y"),
        col("x.w") === col("y.w") && col("x.u") =!= col("y.u") &&
          (!col("y.prom") || col("x.u") < col("y.u")))
      .select(least(col("x.u"), col("y.u")).as("u"),
        greatest(col("x.u"), col("y.u")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("wedges"))
    s.result(mergedOld.where(col("wedges") > 0).unionAll(promPairs))
  }

  /** [[triangleInsert]] with a WORST-CASE per-edge bound — the heavy/light
    * split the plain operator's scaladoc names as its honest gap. The
    * degree-ordered probe is O(√m) per delta edge only AMORTIZED
    * (Chiba–Nishizeki bounds the SUM of min-degrees; a single hub–hub
    * insert still scans a hub neighborhood). Here every delta edge is
    * O(√m) WORST CASE (IVM^ε at ε = 1/2, Kara et al. — see
    * [[wedgeTheta]]): new triangles split into
    *
    *  - exactly-one-delta-edge triangles (both closing edges standing) =
    *    the standing wedge count of the edge's endpoints:
    *    LIGHT edge (either endpoint's standing degree < θ) → expand the
    *    lighter endpoint's standing adjacency (< θ rows BY DEFINITION — a
    *    theorem, unlike the ordered probe's cap) and key-probe the
    *    closing edge; HEAVY-HEAVY edge → ONE lookup in the standing
    *    [[wedgeViewBuild]] view (pairs absent from it have zero wedges).
    *  - ≥-two-delta-edge triangles, charged to their LARGEST delta edge
    *    (canonical order): both enumerations anchor at a smaller DELTA
    *    arm of one endpoint (delta-degree fan-out, independent of
    *    standing hub degrees) and key-probe the third edge — arm at `a`
    *    closes through standing-or-smaller-delta, arm at `b` closes
    *    through standing only, so delta-delta closings count once.
    *
    * Same contract and output as [[triangleInsert]]; the view must have
    * been built (or maintained) against exactly this `history`,
    * `standingDegrees`, and `theta`.
    *
    * @param history           (a: long, b: long) with a < b, distinct
    * @param delta             (a: long, b: long) with a < b, distinct,
    *                          DISJOINT from history
    * @param standingTriangles stored triangle count of `history`
    * @param standingDegrees   (u: long, dg: long) — [[degreeMaintain]]'s
    *                          standing output; absent nodes are degree 0
    * @param wedgeView         (u, v, wedges) — [[wedgeViewBuild]] /
    *                          [[wedgeViewMaintain]] output for `history`
    * @param theta             the view's heavy threshold
    * @return one row: n_tri_history, n_tri_delta, n_tri_total
    */
  def triangleInsertBounded(
      history: DataFrame, delta: DataFrame, standingTriangles: Long,
      standingDegrees: DataFrame, wedgeView: DataFrame,
      theta: Long): DataFrame = Blocks.scope { s =>
    require(theta >= 1, s"theta must be >= 1, got $theta")
    val spark = history.sparkSession
    val h = s.persist(simple(history))
    val d0 = simple(delta)
    val dg = standingDegrees
      .select(col("u").cast("long"), col("dg").cast("long"))
    val d = s.persist(d0
      .join(dg.select(col("u").as("a"), col("dg").as("dga")), Seq("a"), "left")
      .join(dg.select(col("u").as("b"), col("dg").as("dgb")), Seq("b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("dga"), lit(0L)).as("dga"),
        coalesce(col("dgb"), lit(0L)).as("dgb")))
    // ---- exactly-one-delta-edge triangles: standing wedges of (a, b)
    val viewK = wedgeView.select(col("u").as("a"), col("v").as("b"),
      col("wedges").cast("long").as("wedges"))
    val t1Heavy = d.where(col("dga") >= theta && col("dgb") >= theta)
      .join(viewK, Seq("a", "b"), "left")
      .agg(coalesce(sum(coalesce(col("wedges"), lit(0L))), lit(0L)))
      .head().getLong(0)
    val lower = col("dga") < col("dgb") ||
      (col("dga") === col("dgb") && col("a") < col("b"))
    val lt = d.where(col("dga") < theta || col("dgb") < theta)
      .select(col("a"), col("b"),
        when(lower, col("a")).otherwise(col("b")).as("s"),
        when(lower, col("b")).otherwise(col("a")).as("t"))
    val adjH = h.select(col("a").as("u"), col("b").as("w"))
      .unionAll(h.select(col("b").as("u"), col("a").as("w")))
    val hKeys = h.select(col("a").as("ka"), col("b").as("kb"))
    val t1Light = lt.join(adjH, col("u") === col("s"))
      .where(col("w") =!= col("t"))
      .join(hKeys,
        col("ka") === least(col("t"), col("w")) &&
          col("kb") === greatest(col("t"), col("w")))
      .count()
    // ---- ≥-two-delta-edge triangles, charged to the largest delta edge
    val adjD = s.persist(d0.select(col("a").as("u"), col("b").as("w"),
        col("a").as("ka"), col("b").as("kb"))
      .unionAll(d0.select(col("b").as("u"), col("a").as("w"),
        col("a").as("ka"), col("b").as("kb"))))
    def smaller(side: String) =
      col(s"$side.ka") < col("d.a") ||
        (col(s"$side.ka") === col("d.a") && col(s"$side.kb") < col("d.b"))
    val allKeys = h.select(col("a").as("ka"), col("b").as("kb"),
        lit(false).as("isd"))
      .unionAll(d0.select(col("a").as("ka"), col("b").as("kb"),
        lit(true).as("isd")))
    // arm at `a` is a smaller delta edge; closing (b, w) is standing or a
    // smaller delta edge
    val caseA = d.as("d")
      .join(adjD.as("x"), col("x.u") === col("d.a") && smaller("x"))
      .join(allKeys.as("k"),
        col("k.ka") === least(col("d.b"), col("x.w")) &&
          col("k.kb") === greatest(col("d.b"), col("x.w")) &&
          (!col("k.isd") ||
            col("k.ka") < col("d.a") ||
            (col("k.ka") === col("d.a") && col("k.kb") < col("d.b"))))
      .count()
    // arm at `b` is a smaller delta edge; closing (a, w) standing ONLY
    // (delta-delta closings were case A's)
    val caseB = d.as("d")
      .join(adjD.as("y"), col("y.u") === col("d.b") && smaller("y"))
      .join(hKeys.as("k"),
        col("k.ka") === least(col("d.a"), col("y.w")) &&
          col("k.kb") === greatest(col("d.a"), col("y.w")))
      .count()
    val nNew = t1Heavy + t1Light + caseA + caseB
    spark.range(1).select(
      lit(standingTriangles).as("n_tri_history"),
      lit(nNew).as("n_tri_delta"),
      lit(standingTriangles + nNew).as("n_tri_total"))
  }

  /** Global triangle census over an undirected simple graph — the second
    * classic link-structure statistic next to PageRank: triangle count and
    * global clustering coefficient (3·triangles / wedges) measure local
    * cohesion, the community/spam signal curation priors use.
    *
    * Algorithm: degree-ordered edge orientation (Schank & Wagner, WEA'05
    * "Finding, Counting and Listing all Triangles in Large Graphs" —
    * public methodology): orient every edge from its lower-(degree, id)
    * endpoint to the higher, then count length-2 forward paths closed by a
    * forward edge. The orientation is acyclic, so each triangle matches
    * EXACTLY once, and forward out-degrees are bounded by O(√m) — the
    * property that makes the path join affordable on power-law graphs
    * where a naive wedge join explodes on hubs.
    *
    * 100 TB posture: one degree aggregate + two equi-joins on node keys —
    * every step shuffles on graph keys, nothing is collected except the
    * four report scalars. All counts are exact integers; the clustering
    * coefficient is one IEEE division, so the report hash-matches
    * cross-engine.
    *
    * @param edges (a: long, b: long) with a < b, distinct (a simple graph)
    * @return one row: n_nodes, n_edges, n_wedges, n_triangles, clustering
    */
  def triangleStats(edges: DataFrame): DataFrame = Blocks.scope { s =>
    val spark = edges.sparkSession
    val e = s.persist(simple(edges))
    val deg = s.persist(degrees(e))
    val nNodes = deg.count()
    val nEdges = e.count()
    // coalesce: an empty graph (possible at tiny SF) sums to null
    val nWedges = deg.agg(coalesce(sum(expr("dg * (dg - 1) DIV 2")), lit(0L)))
      .head().getLong(0)
    val da = deg.select(col("u").as("a"), col("dg").as("da"))
    val db = deg.select(col("u").as("b"), col("dg").as("db"))
    val fwdCond = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val fwd = s.persist(e.join(da, "a").join(db, "b")
      .select(when(fwdCond, col("a")).otherwise(col("b")).as("s"),
        when(fwdCond, col("b")).otherwise(col("a")).as("t")))
    val e1 = fwd.select(col("s").as("x"), col("t").as("y"))
    val e2 = fwd.select(col("s").as("y"), col("t").as("z"))
    val e3 = fwd.select(col("s").as("x"), col("t").as("z"))
    val nTri = e1.join(e2, "y").join(e3, Seq("x", "z")).count()
    spark.range(1).select(
      lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
      lit(nWedges).as("n_wedges"), lit(nTri).as("n_triangles"),
      (if (nWedges > 0)
        lit(BigDecimal(3.0 * nTri / nWedges)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else lit(null).cast("double")).as("clustering"))
  }
}
