package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** The heavy/light standing wedge view (IVM^ε at ε = 1/2) behind
  * [[Graph.triangleInsertBounded]] — the worst-case O(√m)-per-edge path
  * whose absence the plain triangleInsert scaladoc used to name as its
  * honest gap:
  *
  *  - [[Graph.wedgeViewBuild]] counts exactly the common neighbors of
  *    every heavy pair, at any θ (brute-force cross-check).
  *  - [[Graph.triangleInsertBounded]] equals the from-scratch census —
  *    and the amortized-only [[Graph.triangleInsert]] — across the whole
  *    θ sweep, from all-heavy (θ = 1, pure view path) to all-light
  *    (θ > max degree, pure probe path), on seeded random graphs and on
  *    the adversarial hub–hub insert the amortized bound can't cap.
  *  - [[Graph.wedgeViewMaintain]] composes: maintained ≡ rebuilt from
  *    scratch, INCLUDING nodes the batch promotes across θ; idempotent
  *    under re-applied (even orientation-flipped) deltas; additive under
  *    chunking.
  *
  * Every expectation here is computed by independent brute force over the
  * edge sets (Scala collections), never by the operators under test.
  */
class TriangleViewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- brute-force oracles over canonical edge sets -----------------
  private def canon(e: (Long, Long)): (Long, Long) =
    if (e._1 < e._2) e else e.swap
  private def degrees(edges: Set[(Long, Long)]): Map[Long, Long] =
    edges.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (u, xs) => u -> xs.size.toLong }
  private def neighbors(edges: Set[(Long, Long)]): Map[Long, Set[Long]] =
    edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).toSet }
  private def triangles(edges: Set[(Long, Long)]): Long = {
    val nb = neighbors(edges)
    edges.toSeq.map { case (a, b) =>
      (nb(a) & nb(b)).size.toLong
    }.sum / 3
  }
  private def heavyPairWedges(
      edges: Set[(Long, Long)], theta: Long): Map[(Long, Long), Long] = {
    val dg = degrees(edges)
    val nb = neighbors(edges)
    val heavy = dg.collect { case (u, d) if d >= theta => u }.toSeq.sorted
    (for {
      i <- heavy.indices; j <- (i + 1) until heavy.size
      u = heavy(i); v = heavy(j)
      cn = (nb.getOrElse(u, Set.empty) & nb.getOrElse(v, Set.empty)).size
      if cn > 0
    } yield (u, v) -> cn.toLong).toMap
  }
  private def seededGraph(seed: Int, n: Int, m: Int): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      (a, b)
    }.filter(e => e._1 != e._2).map(canon)
      .take(4 * m).toSet.take(m).toSet
  }

  private def degDf(edges: Set[(Long, Long)]) =
    degrees(edges).toSeq.toDF("u", "dg")
  private def edgeDf(edges: Set[(Long, Long)]) =
    edges.toSeq.sorted.toDF("a", "b")

  test("wedgeViewBuild counts exactly the heavy-pair common neighbors at every theta") {
    val g = seededGraph(seed = 7, n = 18, m = 40)
    for (theta <- Seq(1L, 2L, 3L, Graph.wedgeTheta(g.size), 100L)) {
      val got = Graph.wedgeViewBuild(edgeDf(g), degDf(g), theta)
        .as[(Long, Long, Long)].collect()
        .map { case (u, v, w) => (u, v) -> w }.toMap
      assert(got == heavyPairWedges(g, theta),
        s"view mismatch at theta=$theta")
    }
  }

  test("triangleInsertBounded equals the census across the theta sweep on seeded graphs") {
    for (seed <- Seq(11, 12)) {
      val all = seededGraph(seed, n = 24, m = 80)
      // deterministic ~1/5 split; delta disjoint from history by choice
      val (delta, history) = all.partition(e => (e._1 + 3 * e._2) % 5 == 0)
      val hTri = triangles(history)
      val full = triangles(all)
      val maxDeg = degrees(history).values.max
      for (theta <- Seq(1L, 2L, Graph.wedgeTheta(history.size), maxDeg + 1)) {
        val view = Graph.wedgeViewBuild(edgeDf(history), degDf(history), theta)
        val got = Graph.triangleInsertBounded(edgeDf(history), edgeDf(delta),
            hTri, degDf(history), view, theta)
          .as[(Long, Long, Long)].collect().head
        assert(got._1 == hTri && got._3 == full,
          s"seed=$seed theta=$theta: bounded total ${got._3} != census $full")
      }
      // and the amortized operator agrees (same contract, different bound)
      val amortized = Graph.triangleInsert(edgeDf(history), edgeDf(delta),
          hTri, Some(degDf(history)))
        .as[(Long, Long, Long)].collect().head
      assert(amortized._3 == full)
    }
  }

  test("hub-hub insert is exact through the pure view-lookup path") {
    // two hubs sharing every leaf: the worst case for ANY neighborhood
    // probe — min(deg a, deg b) = n. The delta edge (1, 2) is heavy-heavy
    // at theta = 3, so the bounded form answers from ONE view row.
    val leaves = (10L to 29L)
    val history = (leaves.map(w => (1L, w)) ++ leaves.map(w => (2L, w))).toSet
    val delta = Set((1L, 2L))
    val hTri = triangles(history)
    assert(hTri == 0L)
    val theta = 3L
    val view = Graph.wedgeViewBuild(edgeDf(history), degDf(history), theta)
    // exactly one heavy pair, its wedge count = the shared leaves
    assert(view.as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 2L, leaves.size.toLong)))
    val got = Graph.triangleInsertBounded(edgeDf(history), edgeDf(delta),
        hTri, degDf(history), view, theta)
      .as[(Long, Long, Long)].collect().head
    assert(got._2 == leaves.size.toLong &&
      got._3 == triangles(history ++ delta))
  }

  test("wedgeViewMaintain == rebuild, including promotions; idempotent; additive") {
    val all = seededGraph(seed = 23, n = 16, m = 56)
    val (delta, history) = all.partition(e => (2 * e._1 + e._2) % 4 == 0)
    // theta chosen so the delta PROMOTES at least one node across it
    val dg0 = degrees(history); val dg1 = degrees(all)
    val theta = {
      val cands = (1L to dg1.values.max).filter(t =>
        dg1.exists { case (u, d) => d >= t && dg0.getOrElse(u, 0L) < t })
      assert(cands.nonEmpty, "test graph must promote a node at some theta")
      cands.max // maximize the chance old-heavy and promoted pairs coexist
    }
    def viewMap(df: org.apache.spark.sql.DataFrame) =
      try df.as[(Long, Long, Long)].collect()
        .map { case (u, v, w) => (u, v) -> w }.toMap
      finally df.unpersist(false) // a maintained view is a one-shot result
    val v0 = Graph.wedgeViewBuild(edgeDf(history), degDf(history), theta)
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val maintainedDf = Graph.wedgeViewMaintain(
      v0, edgeDf(history), degDf(history), edgeDf(delta), theta)
    val maintained = viewMap(maintainedDf)
    assert(maintained == heavyPairWedges(all, theta),
      s"maintained view != rebuilt view at theta=$theta")
    // one-shot result: once viewMap has unpersisted it, none of its
    // intermediate checkpoints is left for the ContextCleaner
    val left = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(left.isEmpty, s"wedgeViewMaintain left ${left.size} persistent RDDs")
    // idempotent: re-applying the same delta (even orientation-flipped)
    // against the updated standing state changes nothing
    val again = viewMap(Graph.wedgeViewMaintain(
      edgeDf(all).sparkSession.createDataFrame(
        maintained.toSeq.map { case ((u, v), w) => (u, v, w) })
        .toDF("u", "v", "wedges"),
      edgeDf(all), degDf(all),
      delta.toSeq.map(_.swap).toDF("a", "b"), theta))
    assert(again == maintained)
    // additive: chunked application composes to the one-shot result
    val chunks = delta.toSeq.sorted.splitAt(delta.size / 2)
    val mid = history ++ chunks._1
    val after1 = Graph.wedgeViewMaintain(
      v0, edgeDf(history), degDf(history), chunks._1.toDF("a", "b"), theta)
    val after2 = viewMap(Graph.wedgeViewMaintain(
      after1, edgeDf(mid), degDf(mid), chunks._2.toDF("a", "b"), theta))
    assert(after2 == heavyPairWedges(all, theta))
    after1.unpersist(false)
  }

  test("degenerate cases: empty delta, empty view, all-light graph") {
    val history = Set((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val hTri = triangles(history)
    val theta = 10L // nothing is heavy
    val view = Graph.wedgeViewBuild(edgeDf(history), degDf(history), theta)
    assert(view.count() == 0L)
    val got0 = Graph.triangleInsertBounded(edgeDf(history),
        Seq.empty[(Long, Long)].toDF("a", "b"), hTri,
        degDf(history), view, theta)
      .as[(Long, Long, Long)].collect().head
    assert(got0 == ((hTri, 0L, hTri)))
    // all-light: the probe path alone must still be exact
    val delta = Set((2L, 4L), (1L, 4L))
    val got = Graph.triangleInsertBounded(edgeDf(history), edgeDf(delta),
        hTri, degDf(history), view, theta)
      .as[(Long, Long, Long)].collect().head
    assert(got._3 == triangles(history ++ delta))
  }
}
