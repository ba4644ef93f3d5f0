package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training over a corpus (Sennrich et al.,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL 2016
  * — public methodology): iteratively merge the most frequent adjacent
  * symbol pair, starting from characters.
  *
  * 100 TB posture: the corpus is scanned ONCE to build the distinct-word
  * frequency vocab; every subsequent step — pair counting, the argmax, the
  * merge application — runs over the VOCAB weighted by word frequency,
  * which is orders of magnitude smaller than the corpus (Heaps' law) and
  * independent of corpus bytes. Per merge: one groupBy over vocab-adjacent
  * pairs, a 1-row driver pull for the argmax (the same scalar-pull class
  * as watermark discovery), and a narrow map re-tokenizing the vocab;
  * vocab lineage is truncated every few merges (`localCheckpoint`) so the
  * plan stays bounded across iterations.
  *
  * Determinism: counts are exact integers and the argmax tie-break is
  * lexicographic on (a, b), so the learned merge table is reproducible
  * across runs, partitionings, and engines.
  */
object Bpe {
  /** One learned merge: step number (1-based), the pair, its count. */
  final case class Merge(step: Int, a: String, b: String, cnt: Long)

  /** Distinct lowercased whitespace-token vocabulary with frequencies:
    * (word, f). The single corpus-wide scan everything else derives from. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(
        expr(s"filter(split(lower($textCol), '\\\\s+'), x -> x != '')")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("f"))

  /** Per-character segmentation column over a (word, f) vocab; keeps
    * `word` so encode-side metrics (chars per word) stay joinable. */
  def charSplit(wordVocab: DataFrame): DataFrame =
    wordVocab.withColumn("toks",
      expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))

  /** Character-split form of [[wordVocab]]: (toks: array<string>, f). */
  def charVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    charSplit(wordVocab(docs, textCol)).select(col("toks"), col("f"))

  /** Adjacent symbol-pair counts over a (toks, f) vocab: each adjacent
    * position in a word contributes that word's frequency. (a, b, cnt). */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .where(size(col("toks")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> struct(toks[i-1] AS a, toks[i] AS b))"))
        .as("p"))
      .select(col("f"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("a", "b").agg(sum(col("f")).as("cnt"))

  /** SQL string literal escape for symbols embedded in the merge lambda. */
  private def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")

  /** Greedy left-to-right application of one merge (a, b) -> ab to a token
    * array, as a fold: append, except when the accumulator's last element
    * is `a` and the incoming token is `b`, in which case replace the last
    * element with the merged symbol. On a run like [a,a,a] with rule
    * (a,a) this yields [aa,a] — the standard non-overlapping greedy scan
    * (a merged symbol never re-matches `a`, because `b` is non-empty). */
  private def applyMergeExpr(a: String, b: String) =
    expr(
      s"""aggregate(toks, cast(array() as array<string>), (acc, x) ->
            CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '${esc(a)}' AND x = '${esc(b)}'
                 THEN concat(slice(acc, 1, size(acc) - 1), array('${esc(a + b)}'))
                 ELSE concat(acc, array(x)) END)""")

  /** Apply an ordered merge list to a vocab's `toks` column (other columns
    * pass through) — the ENCODE side of the tokenizer: segment words with
    * an already-learned merge table. Same greedy fold semantics as
    * training, chained scan-side (K narrow maps, no shuffles). */
  def applyMerges(vocab: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.foldLeft(vocab)((v, m) =>
      v.withColumn("toks", applyMergeExpr(m.a, m.b)))

  /** Learn `numMerges` BPE merges from the corpus: the ordered merge
    * table. Stops early if no pair remains (every word a single symbol). */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text"): Seq[Merge] =
    trainFromVocab(wordVocab(docs, textCol), numMerges)

  /** [[train]] from an already-built (word, f) vocab — callers that also
    * encode (or otherwise reuse the vocab) persist it and pay the corpus
    * scan once across both phases.
    *
    * Vocab lineage is truncated every [[graft.operators.Graph.PrCkptRounds]]
    * merges (r15, interleave-A/B'd): each skipped truncation trades one
    * vocab-sized materialization JOB for re-evaluating that many fold-merge
    * layers inline in the next round's pair aggregate — vocab-sized narrow
    * maps, far cheaper than a job round-trip at any scale. The plan stays
    * bounded (not iteration-count-dependent) and the learned merges are
    * bit-identical (the argmax inputs are the same exact integer counts).
    * The vocab after the last merge is never read, so it is never
    * materialized; every checkpoint is released when training returns. */
  def trainFromVocab(wv: DataFrame, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    graft.Blocks.scope { s =>
      var vocab = s.checkpoint(charSplit(wv).select(col("toks"), col("f")))
      var lastCkpt = vocab
      val merges = Seq.newBuilder[Merge]
      var step = 1
      var exhausted = false
      while (step <= numMerges && !exhausted) {
        val top = pairCounts(vocab)
          .orderBy(desc("cnt"), asc("a"), asc("b"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val r = top.head
          val (a, b, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          merges += Merge(step, a, b, cnt)
          vocab = vocab.select(applyMergeExpr(a, b).as("toks"), col("f"))
          if (step % graft.operators.Graph.PrCkptRounds == 0 && step < numMerges) {
            vocab = s.checkpoint(vocab)
            s.release(lastCkpt) // superseded: the new checkpoint is materialized
            lastCkpt = vocab
          }
          step += 1
        }
      }
      merges.result()
    }
  }
}
