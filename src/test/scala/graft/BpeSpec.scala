package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bpe

/** The iterative BPE trainer vs an independent in-memory reference
  * implementation (the harness query `bpe_pair_counts` hash-checks the
  * pair statistics; the merge LOOP has no SQL oracle — greedy fold
  * application is not expressible in DuckDB — so it is pinned here). */
class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala BPE trainer: same spec, no Spark. */
  private def refTrain(words: Seq[String], n: Int): Seq[(String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
      .map { case (w, f) => (w.map(_.toString).toVector, f) }
    val out = Seq.newBuilder[(String, String, Long)]
    var continue = true
    var step = 0
    while (continue && step < n) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, f) <- vocab; i <- 0 until toks.size - 1)
        counts((toks(i), toks(i + 1))) = counts.getOrElse((toks(i), toks(i + 1)), 0L) + f
      if (counts.isEmpty) continue = false
      else {
        val ((a, b), c) = counts.toSeq.minBy { case ((x, y), c) => (-c, x, y) }
        out += ((a, b, c))
        vocab = vocab.map { case (toks, f) =>
          val merged = Vector.newBuilder[String]
          var i = 0
          while (i < toks.size) { // greedy left-to-right, non-overlapping
            if (i + 1 < toks.size && toks(i) == a && toks(i + 1) == b) {
              merged += (a + b); i += 2
            } else { merged += toks(i); i += 1 }
          }
          (merged.result(), f)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        step += 1
      }
    }
    out.result()
  }

  private def trained(texts: Seq[String], n: Int): (Seq[Bpe.Merge], Seq[(String, String, Long)]) = {
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.train(docs, n)
    val words = texts.flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    (merges, refTrain(words, n))
  }

  test("classic low/lower corpus learns the reference merge sequence") {
    val (got, want) = trained(
      Seq("low low low low low", "lower lower", "newest newest newest",
        "newest newest newest", "widest widest"), 8)
    assert(got.map(m => (m.a, m.b, m.cnt)) == want)
    assert(got.map(_.step) == (1 to got.size))
  }

  test("repeated-character runs merge greedily left-to-right") {
    // "aaaa" with rule (a,a) must become [aa, aa], never [aa, a, a]
    val (got, want) = trained(Seq("aaaa aaaa aab"), 3)
    assert(got.map(m => (m.a, m.b, m.cnt)) == want)
    assert(got.head.a == "a" && got.head.b == "a")
  }

  test("ties break lexicographically on (a, b)") {
    // "ab" and "ba" pair counts tie; (a,b) < (b,a) must win round 1
    val (got, want) = trained(Seq("ab ab ba ba"), 2)
    assert(got.map(m => (m.a, m.b, m.cnt)) == want)
    assert((got.head.a, got.head.b) == ("a", "b"))
  }

  test("trainer stops early when every word is one symbol") {
    val (got, want) = trained(Seq("ab ab cd"), 50)
    assert(got.map(m => (m.a, m.b, m.cnt)) == want)
    assert(got.size < 50, "must exhaust, not loop")
  }

  test("fixture corpus: Spark trainer equals the reference on 6 merges") {
    val docs = spark.read.parquet(TestSpark.sf("sf0.001") + "/documents.parquet")
    val merges = Bpe.train(docs, 6)
    val words = docs.select("text").as[String].collect().toSeq
      .flatMap(_.toLowerCase.split("\\s+")).filter(_.nonEmpty)
    assert(merges.map(m => (m.a, m.b, m.cnt)) == refTrain(words, 6))
    assert(merges.size == 6)
  }

  test("training leaves no persistent RDD behind") {
    // every vocab checkpoint is released when training returns: the
    // caller gets the merge table only, so nothing is left to the GC
    val docs = Seq("low low lower newest widest", "lower newest newest")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val merges = Bpe.train(docs, 5)
    assert(merges.size == 5)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(left.isEmpty, s"Bpe.train left ${left.size} persistent RDDs")
  }
}
