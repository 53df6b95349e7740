package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer induction over the corpus — the
  * "train a tokenizer from the data" step every LLM pipeline runs
  * before token counting, packing, and mixing mean anything in model
  * tokens rather than whitespace words.
  *
  * Training follows the standard histogram formulation (Sennrich et
  * al. 2016; GPT-2's trainer does the same): the corpus collapses to
  * its WORD HISTOGRAM first (one explode + one hash-groupBy — the
  * only corpus-scale work), the top `maxWords` (count desc, word asc
  * — a bounded TakeOrdered, never a full sort) come to the driver,
  * and merges are learned on that dictionary with incremental
  * pair-count maintenance. The model is `numMerges` string pairs —
  * KBs of driver state; at 100 TB the histogram cut is exactly why
  * this is THE scalable formulation: merge quality depends on pair
  * counts, which the capped histogram preserves to within the
  * long-tail singletons it drops.
  *
  * Encoding applies the learned table per row through the native
  * [[graft.plans.BpeEncodeExpr]] — map-side, no shuffle, no UDF.
  *
  * No DuckDB oracle is possible (the merge loop is iterative and
  * data-dependent), so correctness is pinned by golden specs: the
  * Sennrich-style tiny corpus with hand-derived merges, determinism
  * across partitionings, and a parquet model round-trip.
  */
object Bpe {

  /** Ranked merge table; rank 0 merges first. */
  final case class BpeModel(merges: Array[(String, String)]) {
    def size: Int = merges.length
  }

  /** Learn `numMerges` merges from the corpus word histogram.
    * Deterministic: ties on pair count resolve to the
    * lexicographically smallest (left, right). Pairs seen fewer than
    * `minPairCount` times stop the loop early (merging noise pairs
    * degrades the vocabulary). */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
            maxWords: Int = 1 << 16, minPairCount: Long = 2L): BpeModel = {
    require(numMerges >= 0, "numMerges must be non-negative")
    require(maxWords > 0, "maxWords must be positive")
    val hist = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainOnHistogram(hist, numMerges, minPairCount)
  }

  /** The driver-side merge loop, exposed for spec-level goldens. */
  private[operators] def trainOnHistogram(
      hist: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): BpeModel = {
    import scala.collection.mutable
    // the SAME code-point split as the encoder (BpeSymbols) — a
    // char-level split here would learn lone-surrogate merges the
    // encoder can never apply
    val words: Array[mutable.ArrayBuffer[String]] = hist.map { case (w, _) =>
      mutable.ArrayBuffer.from(graft.plans.BpeSymbols.codePointSymbols(w))
    }
    val counts = hist.map(_._2)
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.BitSet]
    def addWordPairs(wi: Int, sign: Long): Unit = {
      val s = words(wi)
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val c = pairCount.getOrElse(p, 0L) + sign * counts(wi)
        if (c == 0L) { pairCount.remove(p); pairWords.get(p).foreach(_ -= wi) }
        else {
          pairCount(p) = c
          if (sign > 0) pairWords.getOrElseUpdate(p, mutable.BitSet.empty) += wi
        }
        i += 1
      }
    }
    words.indices.foreach(addWordPairs(_, 1L))
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      if (pairCount.isEmpty) exhausted = true
      else {
        // max count, ties to the lexicographically smallest pair —
        // a full scan of the pair map per merge (bounded by the
        // histogram's symbol inventory, fine at driver scale)
        var best: (String, String) = null
        var bestC = Long.MinValue
        pairCount.foreach { case (p, c) =>
          if (c > bestC || (c == bestC &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestC = c
          }
        }
        if (bestC < minPairCount) exhausted = true
        else {
          merges += best
          val affected = pairWords.getOrElse(best, mutable.BitSet.empty).toArray
          affected.foreach { wi =>
            addWordPairs(wi, -1L)
            val s = words(wi)
            val merged = new mutable.ArrayBuffer[String](s.length)
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == best._1 && s(i + 1) == best._2) {
                merged += best._1 + best._2
                i += 2
              } else {
                merged += s(i)
                i += 1
              }
            }
            words(wi) = merged
            addWordPairs(wi, 1L)
          }
          m += 1
        }
      }
    }
    BpeModel(merges.toArray)
  }

  /** Subword tokens of `text` under the model (array<string>). */
  def encode(model: BpeModel, text: org.apache.spark.sql.Column) =
    graft.plans.BpeEncode(text, model.merges)

  /** Model-token count of `text` — the number packing/mixing budgets
    * should be denominated in. */
  def tokenCount(model: BpeModel, text: org.apache.spark.sql.Column) =
    size(encode(model, text))

  /** Persist the ranked merge table as (rank, left, right) parquet. */
  def modelWrite(s: SparkSession, model: BpeModel, path: String): Unit = {
    import s.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }.toSeq
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a model persisted by [[modelWrite]]. */
  def modelRead(s: SparkSession, path: String): BpeModel =
    BpeModel(graft.Tables.read(s, path)
      .select("rank", "left", "right").collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))))
}
