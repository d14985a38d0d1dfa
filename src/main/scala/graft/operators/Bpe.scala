package graft.operators

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning over a text corpus — the tokenizer-
  * training primitive of an LLM data pipeline (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Scale shape — the whole design rides on one collapse:
  *  - the corpus is scanned ONCE into a (word, freq) vocabulary
  *    ([[wordCounts]]); every later round operates on the vocabulary,
  *    which is orders of magnitude smaller than a 100 TB corpus and
  *    grows sub-linearly with it (Heaps' law).
  *  - each merge round is one aggregation over the vocabulary (adjacent
  *    symbol-pair counts weighted by word frequency) plus a narrow map
  *    applying the winning rule; only the single (left, right, count)
  *    winner row ever reaches the driver.
  *  - rounds are chained through eager checkpoints, each round
  *    releasing the previous one's blocks (the connected-components loop
  *    convention, Dedup.scala), so lineage, lambda depth and pinned
  *    storage stay constant across hundreds of merges.
  *
  * Determinism: ties on pair count break lexicographically (left, then
  * right), so the learned merge table is a pure function of the corpus —
  * the property the two-round DuckDB oracle gate (q197) relies on.
  */
object Bpe {

  /** End-of-word marker symbol (its own symbol, never split). */
  val Eow = "</w>"

  /** Corpus → (word, freq) vocabulary: lowercased whitespace tokens, the
    * corpus-wide tokenization convention ([[Dedup.tokens]]); empty
    * tokens dropped. The ONLY corpus-sized computation in BPE training.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Dedup.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial symbol sequence of a word: its characters plus [[Eow]]. */
  def initialSymbols(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))),
      array(lit(Eow)))

  /** Adjacent-pair counts over a (freq, syms) vocabulary, weighted by
    * word frequency: (left_sym, right_sym, pair_count).
    */
  def pairCounts(words: DataFrame): DataFrame =
    // guard: sequence(1, 0) DESCENDS in Spark, so a fully-fused
    // single-symbol word would fabricate an index-0 pair
    words.filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(
            element_at(col("syms"), i).as("left_sym"),
            element_at(col("syms"), i + 1).as("right_sym")))).as("p"))
      .groupBy(col("p.left_sym").as("left_sym"),
        col("p.right_sym").as("right_sym"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Apply one merge rule to a symbol array: every leftmost,
    * non-overlapping adjacent (left, right) becomes the concatenated
    * symbol — a single left fold (`aggregate`), no UDF. `slice(acc,-1,1)`
    * rather than `element_at(acc,-1)` so the empty accumulator is a
    * plain non-match under ANSI semantics too.
    */
  def applyMerge(syms: Column, left: String, right: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, x) =>
        when(slice(acc, -1, 1) === array(lit(left)) && x === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(lit(left + right))))
        .otherwise(concat(acc, array(x))))

  /** Learn `nMerges` BPE merge rules. Returns (rank, left_sym,
    * right_sym, merged, pair_count) in learning order; stops early if no
    * pair remains (every word fused to one symbol).
    */
  def learnMerges(docs: DataFrame, textCol: String,
      nMerges: Int): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive: $nMerges")
    val spark = docs.sparkSession
    var words = Pin.checkpoint(wordCounts(docs, textCol)
      .select(col("freq"), initialSymbols(col("word")).as("syms")),
      eager = true)
    val rules =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 0
    var done = false
    while (r < nMerges && !done) {
      val top = pairCounts(words.frame)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val l = top(0).getString(0)
        val rt = top(0).getString(1)
        rules += ((r + 1, l, rt, l + rt, top(0).getLong(2)))
        // eager: safe to release the previous round
        val next = Pin.checkpoint(words.frame
          .select(col("freq"), applyMerge(col("syms"), l, rt).as("syms")),
          eager = true)
        words.release()
        words = next
      }
      r += 1
    }
    words.release()
    import spark.implicits._
    rules.toSeq
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** Per-document SUBWORD counts under a segmented vocabulary — the
    * bridge from tokenizer training to sequence packing: the packing
    * budget is subword tokens, not whitespace words. Documents explode
    * to words and broadcast-join the (word, syms) vocabulary; a word
    * missing from the vocabulary (scoring a NEW corpus against a frozen
    * tokenizer) falls back to character count + 1 — the upper bound an
    * untrained word segments to. Output: (id, n_words, n_subwords).
    */
  def subwordCounts(docs: DataFrame, idCol: String, textCol: String,
      segVocab: DataFrame): DataFrame = {
    val v = segVocab.select(col("word"),
      size(col("syms")).cast("long").as("__len"))
    docs.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .join(broadcast(v), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("__len"), length(col("word")) + 1))
          .as("n_subwords"))
  }

  /** Segment the corpus VOCABULARY with a learned merge table: (word,
    * freq, syms) after replaying the rules in rank order. Production
    * tokenization then broadcast-joins tokens to their `syms` — the
    * corpus itself is never folded rule-by-rule. `maxRules` bounds the
    * fold depth embedded in the plan (each rule is one `aggregate`
    * lambda; hundreds would blow analysis/codegen budgets — replay in
    * `maxRules`-sized checkpointed waves instead of raising it).
    */
  def segmentVocabulary(docs: DataFrame, textCol: String,
      merges: DataFrame, maxRules: Int = 64): DataFrame = {
    val rules = merges.select(col("rank"), col("left_sym"), col("right_sym"))
      .orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    var words = wordCounts(docs, textCol)
      .select(col("word"), col("freq"),
        initialSymbols(col("word")).as("syms"))
    var previous: Option[Pin] = None
    rules.grouped(maxRules).foreach { wave =>
      val applied = wave.foldLeft(col("syms")) { case (c, (l, rt)) =>
        applyMerge(c, l, rt)
      }
      // eager: safe to release the previous wave
      val next = Pin.checkpoint(
        words.select(col("word"), col("freq"), applied.as("syms")),
        eager = true)
      previous.foreach(_.release())
      previous = Some(next)
      words = next.frame
    }
    words
  }
}
