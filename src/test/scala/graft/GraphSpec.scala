package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Unit coverage for the fixed-point PageRank operator (the harness query
  * `graph_pagerank` hash-checks the full 5-iteration replay against the
  * DuckDB oracle; these pin the algebraic properties directly). */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ranks(iters: Int, edges: (Long, Long)*): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), iters = iters)
      .as[(Long, Long)].collect().toMap

  test("2-cycle is the fixpoint: ranks stay exactly at scale") {
    // base + 0.85·scale = 0.15·scale + 0.85·scale = scale, exactly, every
    // iteration — integer arithmetic loses nothing here.
    for (it <- Seq(0, 1, 5)) {
      assert(ranks(it, (1L, 2L), (2L, 1L)) ==
        Map(1L -> Graph.DefaultScale, 2L -> Graph.DefaultScale))
    }
  }

  test("star center outranks leaves; leaves tie") {
    // symmetrized 4-leaf star: 0 receives four full contributions
    val leaves = (1L to 4L)
    val edges = leaves.flatMap(l => Seq((0L, l), (l, 0L)))
    val got = ranks(5, edges: _*)
    assert(leaves.map(got).toSet.size == 1, "leaves must tie exactly")
    assert(got(0L) > got(1L) * 2, "center must clearly dominate")
  }

  test("parallel edges act as weights") {
    // 1 splits its vote across edge ROWS: 2 gets 1/2 of it with a single
    // edge, 2/3 of it when the edge to 2 is doubled
    val single = ranks(1, (1L, 2L), (1L, 3L))
    val doubled = ranks(1, (1L, 2L), (1L, 2L), (1L, 3L))
    assert(doubled(2L) > single(2L), "doubling an out-edge must raise the target's rank")
    assert(doubled(3L) < single(3L), "the third of the vote left must shrink")
  }

  test("mass is conserved up to integer-floor leakage on a symmetric graph") {
    val edges = (1L to 20L).flatMap(i => Seq((i, i % 20 + 1), (i % 20 + 1, i)))
    val got = ranks(5, edges: _*)
    val total = got.values.sum
    val ideal = 20L * Graph.DefaultScale
    assert(total <= ideal, "integer floors can only lose mass")
    assert(total > ideal - ideal / 1000, "leakage must stay below 0.1%")
  }

  // 4-clique (every degree 3) with a pendant path 4—5—6 hanging off it:
  // the 3-core is exactly the clique, reached after one peel.
  private val cliqueTail: Seq[(Long, Long)] = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L))

  test("kCore census: clique survives, tail peels in one round") {
    val got = Graph.kCore(cliqueTail.toDF("a", "b"), k = 3, rounds = 3)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, 6L, 2L, 6L),   // 6 nodes seen, 5 and 6 removed, clique's 6 edges left
      (2, 4L, 0L, 6L),   // converged: zero removals
      (3, 4L, 0L, 6L)))  // stays at the fixpoint
  }

  test("kCore: k above max degree empties the graph; census rows show it") {
    val got = Graph.kCore(cliqueTail.toDF("a", "b"), k = 9, rounds = 2)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, 6L, 6L, 0L), (2, 0L, 0L, 0L)))
  }

  test("kTruss census: K4 edges (support 2) survive k=4; pendant triangle peels") {
    // K4 on {1..4} + a pendant triangle {4,5,6}: every K4 edge closes two
    // triangles (support 2), every pendant-triangle edge closes one
    // (support 1) — at k=4 (needs >= 2) the pendant triangle peels in
    // round one and K4 is the fixpoint.
    val g = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val got = Graph.kTruss(g.toDF("a", "b"), k = 4, rounds = 2)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1, 9L, 3L, 6L),   // pendant triangle's 3 edges drop
      (2, 6L, 0L, 6L)))  // K4 converged
  }

  test("kTruss: k=3 keeps exactly the triangle-supported edges") {
    // triangle {1,2,3} + bridge (3,4): the bridge closes no triangle and
    // is the only edge removed at k=3 (support >= 1).
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val got = Graph.kTruss(g.toDF("a", "b"), k = 3, rounds = 2)
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, 4L, 1L, 3L), (2, 3L, 0L, 3L)))
  }

  test("kCoreFixpoint returns the surviving edge set and stops at convergence") {
    val core = Graph.kCoreFixpoint(cliqueTail.toDF("a", "b"), k = 3)
      .as[(Long, Long)].collect().toSet
    assert(core == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // a graph already at its fixpoint passes through unchanged
    val again = Graph.kCoreFixpoint(core.toSeq.toDF("a", "b"), k = 3)
      .as[(Long, Long)].collect().toSet
    assert(again == core)
  }

  test("kCore plan stays constant-size per round (lineage truncated)") {
    // Without localCheckpoint each round's analyzed tree embeds ~5 copies
    // of the previous round's — O(5^rounds) nodes. With truncation the
    // last round's plan must be no deeper than round one's, regardless of
    // how many rounds ran. Probe via the surviving-edge form, whose return
    // value IS the iterated relation.
    def planSize(rounds: Int): Int = {
      var prev = cliqueTail.toDF("a", "b")
        .select($"a".cast("long"), $"b".cast("long")).localCheckpoint(true)
      // replicate kCore's per-round plan shape exactly, returning the tree
      (1 to rounds).foreach { _ =>
        val deg = prev.select(org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.array($"a", $"b")).as("u"))
          .groupBy("u").count().withColumnRenamed("count", "dg")
        val keep = deg.where($"dg" >= 3)
        prev = prev
          .join(keep.select($"u".as("a")), Seq("a"), "left_semi")
          .join(keep.select($"u".as("b")), Seq("b"), "left_semi")
          .localCheckpoint(true)
      }
      prev.queryExecution.analyzed.collect { case n => n }.size
    }
    assert(planSize(4) == planSize(1),
      "checkpointed rounds must not grow the analyzed plan")
  }

  test("labelPropagation: two bridged triangles resolve to two communities") {
    // triangles {1,2,3} and {4,5,6} + bridge (3,4). Hand-rolled synchronous
    // min-label rounds: r1 {1:2,2:1,3:1,4:3,5:4,6:4}, r2 {1:1,2:1,3:1,
    // 4:4,5:3,6:3}, r3 {1:1,2:1,3:1,4:3,5:3,6:3} — the intended split.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Graph.labelPropagation(g.toDF("a", "b"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagationCensus traces convergence; empty graph yields zero rows of zeros") {
    // same bridged triangles; hand-rolled: r1 labels {2,1,1,3,4,4} -> 4
    // distinct, 6 switched; r2 {1,1,1,4,3,3} -> 3 distinct, 4 switched;
    // r3 {1,1,1,3,3,3} -> 2 distinct, 1 switched.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = Graph.labelPropagationCensus(g.toDF("a", "b"), rounds = 3)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, 4L, 6L), (2, 3L, 4L), (3, 2L, 1L)))
    val empty = Graph.labelPropagationCensus(
      Seq.empty[(Long, Long)].toDF("a", "b"), rounds = 2)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(empty == Seq((1, 0L, 0L), (2, 0L, 0L)))
  }

  test("labelPropagationFixpoint converges to the stable labeling; census agrees round-by-round") {
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    // hand-rolled above: stable from round 3 onward ({1,1,1,3,3,3})
    val fixed = Graph.labelPropagationFixpoint(g.toDF("a", "b"), maxRounds = 16)
      .as[(Long, Long)].collect().toMap
    assert(fixed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // the O(1)-live-states census (streaming form) must equal a census
    // recomputed from independent fixed-round propagations — same rule,
    // different state management
    val census = Graph.labelPropagationCensus(g.toDF("a", "b"), rounds = 4)
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val recomputed = (1 to 4).map { r =>
      val prev = Graph.labelPropagation(g.toDF("a", "b"), rounds = r - 1)
        .as[(Long, Long)].collect().toMap
      val cur = Graph.labelPropagation(g.toDF("a", "b"), rounds = r)
        .as[(Long, Long)].collect().toMap
      (r, cur.values.toSet.size.toLong,
        cur.count { case (n, l) => prev(n) != l }.toLong)
    }
    assert(census == recomputed)
  }

  test("degreeMaintain: additive across chunks, idempotent under retries and overlap") {
    val history = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val delta = Seq((4L, 5L), (4L, 6L), (5L, 6L))
    def degrees(edges: Seq[(Long, Long)]): Map[Long, Long] =
      edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (u, xs) => u -> xs.size.toLong }
    val standing = degrees(history).toSeq.toDF("u", "dg")
    val hDf = history.toDF("a", "b")
    def run(d: Seq[(Long, Long)]) =
      Graph.degreeMaintain(standing, hDf, d.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
    val expect = degrees(history ++ delta)
    // one-shot == ground truth
    assert(run(delta) == expect)
    // additive: chunked application composes to the one-shot result
    val afterChunk1 = Graph.degreeMaintain(standing, hDf,
      delta.take(1).toDF("a", "b"))
    val chunked = Graph.degreeMaintain(afterChunk1,
        hDf.unionAll(delta.take(1).toDF("a", "b")),
        delta.drop(1).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(chunked == expect)
    // idempotent: a retried batch (duplicated rows) and already-standing
    // edges contribute nothing
    assert(run(delta ++ delta ++ history.take(2)) == expect)
    // ...even when the retry delivers the SAME edges reversed — the
    // operator canonicalizes orientation before the anti-join, so
    // (b, a) duplicates of delta or standing edges are still no-ops
    assert(run(delta ++ delta.map(_.swap) ++ history.take(2).map(_.swap))
      == expect)
    // empty delta is the identity
    assert(run(Seq.empty) == degrees(history))
  }

  test("triangleInsert counts exactly the full-graph census delta, once per triangle") {
    // history: one triangle {1,2,3} + path to 4; delta closes TWO new
    // triangles sharing delta edges — (2,4) closes {2,3,4}; (1,4) closes
    // {1,2,4} via delta (2,4) AND {1,3,4} via delta... check by census.
    val history = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val delta = Seq((2L, 4L), (1L, 4L))
    def tri(edges: Seq[(Long, Long)]): Long =
      Graph.triangleStats(edges.toDF("a", "b")).head().getLong(3)
    val hTri = tri(history)
    val got = Graph.triangleInsert(history.toDF("a", "b"),
        delta.toDF("a", "b"), hTri)
      .as[(Long, Long, Long)].collect().head
    val full = tri(history ++ delta)
    assert(got._1 == hTri)
    assert(got._3 == full, "incremental total must equal the from-scratch census")
    assert(got._2 == full - hTri)
    // delta-only triangles (all three edges new) still count exactly once
    val d3 = Seq((7L, 8L), (7L, 9L), (8L, 9L))
    val got3 = Graph.triangleInsert(history.toDF("a", "b"),
        d3.toDF("a", "b"), hTri)
      .as[(Long, Long, Long)].collect().head
    assert(got3._2 == 1L && got3._3 == hTri + 1L)
    // empty delta adds nothing
    val got0 = Graph.triangleInsert(history.toDF("a", "b"),
        Seq.empty[(Long, Long)].toDF("a", "b"), hTri)
      .as[(Long, Long, Long)].collect().head
    assert(got0._2 == 0L && got0._3 == hTri)
  }

  test("triangleInsert degree-ordered probe is exact, incl. nodes absent from standing degrees") {
    // hub 1 with leaves 2..6 + edge (2,3): standing degrees make 1 the
    // clear hub, so every delta edge touching it must probe from the
    // OTHER endpoint — and the count must not care. Delta closes {1,2,4}
    // and {1,3,4} via new node-4 edges (4 has NO standing degree row —
    // coalesce-to-0 path), plus a delta-only triangle {7,8,9}.
    val history = Seq((1L, 2L), (1L, 3L), (1L, 5L), (1L, 6L), (2L, 3L))
    val delta = Seq((1L, 4L), (2L, 4L), (3L, 4L),
      (7L, 8L), (7L, 9L), (8L, 9L))
    def tri(edges: Seq[(Long, Long)]): Long =
      Graph.triangleStats(edges.toDF("a", "b")).head().getLong(3)
    val hTri = tri(history)
    val standingDeg = history.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).toSeq
      .map { case (u, xs) => (u, xs.size.toLong) }.toDF("u", "dg")
    val ordered = Graph.triangleInsert(history.toDF("a", "b"),
        delta.toDF("a", "b"), hTri, Some(standingDeg))
      .as[(Long, Long, Long)].collect().head
    val full = tri(history ++ delta)
    assert(ordered._3 == full,
      "degree-ordered incremental total must equal the from-scratch census")
    // and it must agree with the anchor-a (maintenance-free) form: the
    // probe side is a cost choice, never a semantic one
    val anchored = Graph.triangleInsert(history.toDF("a", "b"),
        delta.toDF("a", "b"), hTri)
      .as[(Long, Long, Long)].collect().head
    assert(ordered == anchored)
  }

  test("modularity: exact rational on the two-community split; 0 for one community") {
    // m=7, intra=6 (bridge crosses), d_c = 7 each, sum d_c^2 = 98:
    // Q = (4*7*6 - 98) / (4*49) = 70/196 = 0.357143 (6dp).
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 3L), (5L, 3L), (6L, 3L)).toDF("node", "label")
    val row = Graph.modularity(g, labels).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((2L, 7L, 6L)))
    assert(row.getDouble(3) == 0.357143)
    // all nodes one community: Q = (4m*m - (2m)^2) / 4m^2 = exactly 0
    val one = (1L to 6L).map(n => (n, 0L)).toDF("node", "label")
    assert(Graph.modularity(g, one).head().getDouble(3) == 0.0)
  }

  test("dangling node leaks deterministically, result reproducible") {
    val a = ranks(4, (1L, 2L), (3L, 2L))
    val b = ranks(4, (1L, 2L), (3L, 2L))
    assert(a == b)
    // 2 absorbs but never redistributes; sources decay to the base rank
    val base = 15L * Graph.DefaultScale / 100L
    assert(a(1L) == base && a(3L) == base)
    assert(a(2L) > a(1L))
  }

  test("graph builders release their checkpointed intermediates deterministically") {
    // DedupSpec's discipline applied to the graph family: the builders pin
    // standing relations and per-round frames through a Blocks.scope,
    // which retires each dead round as the loop advances and the rest at
    // exit, NOT via the ContextCleaner — a long-lived driver calling them
    // repeatedly would otherwise accrete blocks until GC. Census and
    // one-row builders return driver-side rows, so they may leave
    // NOTHING; result-returning builders may leave exactly the result's
    // own checkpoint, released by the caller through Blocks.releaseLocal.
    // Exact-zero bounds: GC-independent.
    import org.apache.spark.sql.functions.col
    val edges = cliqueTail.toDF("a", "b")
    spark.catalog.clearCache()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    def extras() = spark.sparkContext.getPersistentRDDs.keySet -- baseline

    // census and one-row forms: everything is dead when the rows come back
    val (delta, history) = cliqueTail.partition { case (a, b) => (a + b) % 3 == 0 }
    val (hDf, dDf) = (history.toDF("a", "b"), delta.toDF("a", "b"))
    val labels = (1L to 8L).map(n => (n, n % 2)).toDF("node", "label")
    val degs = history.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (u, us) => (u, us.size.toLong) }.toSeq
      .toDF("u", "dg")
    val view = Graph.wedgeViewBuild(hDf, degs, theta = 2L)
    Seq[(String, () => Any)](
      "kCore" -> (() => Graph.kCore(edges, k = 3, rounds = 3).count()),
      "kTruss" -> (() => Graph.kTruss(edges, k = 4, rounds = 2).count()),
      "labelPropagationCensus" ->
        (() => Graph.labelPropagationCensus(edges, rounds = 3).count()),
      "modularity" -> (() => Graph.modularity(edges, labels).collect()),
      "triangleStats" -> (() => Graph.triangleStats(edges).collect()),
      "triangleInsert" -> (() =>
        Graph.triangleInsert(hDf, dDf, 0L, Some(degs)).collect()),
      "triangleInsertBounded" -> (() =>
        Graph.triangleInsertBounded(hDf, dDf, 0L, degs, view, 2L).collect())
    ).foreach { case (name, run) =>
      run()
      assert(extras().isEmpty, s"$name left ${extras().size} persistent RDDs")
    }

    // result forms: exactly the returned checkpoint lingers, caller-released
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "pageRank" -> (() => Graph.pageRank(
        edges.select(col("a").as("src"), col("b").as("dst")), iters = 3)),
      "labelPropagation" -> (() => Graph.labelPropagation(edges, rounds = 3)),
      "labelPropagationFixpoint" -> (() => Graph.labelPropagationFixpoint(edges)),
      "kCoreFixpoint" -> (() => Graph.kCoreFixpoint(edges, k = 3))
    ).foreach { case (name, build) =>
      val result = build()
      assert(extras().size == 1,
        s"$name left ${extras().size} persistent RDDs beyond its result")
      Blocks.releaseLocal(result)
      assert(extras().isEmpty, s"$name result release did not clear the block")
    }
  }
}
