package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text classification for curation pipelines: a multinomial Naive Bayes
  * classifier trained on a labeled seed slice and applied to the whole
  * corpus — the "quality/domain classifier" staple of large-scale
  * training-data curation (train a cheap linear model on a trusted seed,
  * score everything, filter or reweight by the prediction).
  *
  * Everything is counts-based and add-one smoothed, so the model is a PURE
  * function of the labeled data: no random init, no float accumulation
  * during training — priors and likelihoods are exact integer ratios, and
  * the per-document log-probability sums round to 6 decimals before any
  * cross-engine comparison (the repo's established float-gate convention,
  * see q62).
  *
  * Scale design: training is one groupBy over (label, token) on the seed
  * slice (map-side combinable counts); the fitted model is tiny
  * (vocabSize+1 tokens x classes) and BROADCASTS to the scoring join —
  * the corpus is exploded to tokens, joined map-side against the model,
  * and re-aggregated per (doc, label). One wide shuffle on doc_id, whose
  * volume is tokens x classes counts, never raw text.
  */
object Classify {

  /** Default tokenizer: lowercase whitespace words. */
  val wordTokens: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    Dedup.tokens

  /** Character-trigram tokenizer over the lowercased text (spaces
    * included — word boundaries carry language signal), the
    * fasttext-langid feature regime. Backed by the native
    * [[graft.functions.CharTrigramsExpr]]: the composed
    * transform/sequence/substr form re-lowercases the document once per
    * trigram after CollapseProject inlining — measured 6.5 s for the
    * sf0.1 corpus explode vs sub-second native (PLANS.md). Docs shorter
    * than 3 chars yield no trigrams.
    */
  val charTrigrams: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    graft.functions.CharTrigramsExpr.trigrams

  /** Fit a multinomial NB model on `labeled`. Returns one row per
    * (label, token) in the smoothed vocabulary — `token` is the literal
    * vocabulary entry or the "<unk>" bucket — with columns:
    * `label`, `token`, `loglik` (ln of the add-one likelihood) and
    * `logprior` (ln of the class prior, repeated per row for a
    * self-contained single-frame artifact).
    *
    * Vocabulary = top `vocabSize` tokens of the labeled slice by
    * (count desc, token asc); everything else maps to "<unk>". Add-one
    * smoothing over the vocabSize+1 token space guarantees every
    * (label, token) cell exists, so the scoring join is never partial.
    */
  def naiveBayesModel(labeled: DataFrame, textCol: String,
                      labelCol: String, vocabSize: Int,
                      tokenizer: org.apache.spark.sql.Column =>
                        org.apache.spark.sql.Column = wordTokens): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    val spark = labeled.sparkSession
    // the tokenizer explode is the heavy map-side work of training (a
    // trigram tokenizer emits ~|chars| rows per doc) and runs inside the
    // scan stage — spread it across the cores when the scan is one file
    // (graft.core.Spread; no-op on real multi-split inputs)
    import spark.implicits._
    val toks = graft.core.Spread(
        labeled.select(col(labelCol).cast("string").as("label"),
          col(textCol).as("__graft_txt")))
      .select(col("label"), explode(tokenizer(col("__graft_txt")))
        .as("token"))

    // ONE tokenizer pass over the seed slice: fold the explode straight
    // into per-(label, token) counts — bounded by |classes| × tokenizer
    // vocabulary, a sliver of the exploded stream — and MATERIALIZE it
    // (a checkpoint, released with the model's plan when it is dropped).
    // The vocabulary top-V, the <unk>-bucketed counts and the class
    // totals all derive from this one aggregate; the unmaterialized form
    // re-ran the explode pipeline FOUR times, once per duplicated
    // broadcast subtree (q245 plan audit, OPTIMIZATION_r13.md).
    val ltCounts = graft.core.Pin.checkpoint(
      toks.groupBy(col("label"), col("token")).agg(count(lit(1)).as("n_lt")),
      eager = false).frame // materialized by the vocab collect

    // global vocabulary over the seed slice: deterministic top-V,
    // collected — it is a ≤vocabSize driver artifact by construction
    // (the prepareModel convention), and as a literal it rides every
    // consumer without re-executing the model lineage
    val vocabRows: Seq[String] = ltCounts.groupBy(col("token"))
      .agg(sum(col("n_lt")).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(vocabSize)
      .select(col("token")).as[String].collect().toSeq

    // fold OOV tokens into the <unk> bucket: a re-aggregation of the
    // tiny bucketed counts, not a second corpus pass
    val counts = ltCounts
      .join(broadcast(vocabRows.toDF("token")
        .withColumn("__in_vocab", lit(true))), Seq("token"), "left")
      .select(col("label"),
        when(col("__in_vocab"), col("token")).otherwise(lit("<unk>"))
          .as("token"), col("n_lt"))
      .groupBy("label", "token")
      .agg(sum(col("n_lt")).as("n_tok"))
    val classTotals = ltCounts.groupBy("label")
      .agg(sum(col("n_lt")).as("n_class"))
    // priors: per-class doc counts with the corpus total derived from
    // the same tiny aggregate (no separate count() action)
    val docCounts = labeled
      .groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val nDocs = docCounts.agg(sum(col("n_docs")).as("nd"))

    // dense (label x vocab+unk) grid so absent cells get the smoothed
    // floor 1/(n_class + V + 1) instead of silently vanishing
    val fullVocab = (vocabRows :+ "<unk>").toDF("token")
    val grid = classTotals.crossJoin(broadcast(fullVocab))
    // add-one smoothing over the EFFECTIVE token space: a seed slice
    // with fewer distinct tokens than vocabSize must still normalize
    // (sum of likelihoods = 1 per class) — the declared-vocabSize
    // denominator leaves a per-class mass deficit that scales with doc
    // length and can flip the argmax on small seeds. The effective
    // count (vocab rows + unk) is exact from the collected vocabulary.
    val effV1 = lit((vocabRows.size + 1).toDouble)

    grid
      .join(counts, Seq("label", "token"), "left")
      .join(docCounts, Seq("label"))
      .crossJoin(broadcast(nDocs))
      .select(col("label"), col("token"),
        log((coalesce(col("n_tok"), lit(0L)) + lit(1L)).cast("double") /
          (col("n_class").cast("double") + effV1)).as("loglik"),
        log(col("n_docs").cast("double") / col("nd").cast("double"))
          .as("logprior"))
  }

  /** Collect a fitted model into its driver-side literal form — the
    * model is a BOUNDED artifact ((vocabSize+1) x classes rows by
    * construction), and the scoring plan consumes it twice (likelihood
    * join + vocab membership). Collecting once makes both sides plan
    * literals instead of re-running the model lineage per use (measured
    * 6.21 s -> 1.82 s median on q231, PLANS.md), and lets a STREAMING
    * caller pay the collection once for the query's lifetime instead of
    * per micro-batch.
    */
  def prepareModel(model: DataFrame): Seq[(String, String, Double, Double)] = {
    val spark = model.sparkSession
    import spark.implicits._
    model.select(col("label"), col("token"), col("loglik"),
      col("logprior")).as[(String, String, Double, Double)].collect().toSeq
  }

  /** Score against an already-prepared (collected) model — the per-batch
    * workhorse shared by [[naiveBayesScore]] and the streaming face.
    */
  def scoreWithModel(docs: DataFrame,
      rows: Seq[(String, String, Double, Double)], idCol: String,
      textCol: String,
      tokenizer: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = wordTokens): DataFrame = {
    val scored = perClassScores(docs, rows, idCol, textCol, tokenizer)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(idCol), col("label").as("predicted"), col("score"))
  }

  /** The full per-(doc, class) posterior log-score table
    * (idCol, label, score) — [[scoreWithModel]] is its argmax;
    * calibration and label-noise audits ([[confidentJoint]]) consume
    * it whole.
    */
  def perClassScores(docs: DataFrame,
      rows: Seq[(String, String, Double, Double)], idCol: String,
      textCol: String,
      tokenizer: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = wordTokens): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val local = rows.toDF("label", "token", "loglik", "logprior")
    val m = broadcast(local)
    val vocabOnly = broadcast(
      rows.map(_._2).distinct.filter(_ != "<unk>").toDF("token")
        .withColumn("__in_vocab", lit(true)))

    // spread before the explode AND the tokenless probe: both re-run the
    // tokenizer over every row map-side (the probe's size() test included),
    // and a one-file scan would serialize each pass into a single task
    // (measured 2×2.7 s single-task jobs inside q245 — OPTIMIZATION_r13.md)
    val spreadDocs = graft.core.Spread(
      docs.select(col(idCol), col(textCol)))

    val toks = spreadDocs
      .select(col(idCol), explode(tokenizer(col(textCol))).as("token"))
      .join(vocabOnly, Seq("token"), "left")
      .select(col(idCol),
        when(col("__in_vocab"), col("token")).otherwise(lit("<unk>"))
          .as("token"))

    val scored = toks
      .join(m, Seq("token"))
      .groupBy(col(idCol), col("label"), col("logprior"))
      .agg(sum(col("loglik")).as("ll"))
      .select(col(idCol), col("label"),
        round(col("logprior") + col("ll"), 6).as("score"))

    // a doc whose tokenizer yields zero rows (null text; <3 chars under
    // charTrigrams) vanishes from the explode — give it the prior-only
    // posterior instead of silently dropping it from predictions and
    // accuracy audits. Token-lessness is a per-row predicate (narrow
    // filter, no join-back against the scored lineage); the classes
    // frame is a bounded literal.
    val classes = broadcast(
      rows.map(r => (r._1, r._4)).distinct.toDF("label", "logprior"))
    val tokenless = spreadDocs
      .filter(coalesce(size(tokenizer(col(textCol))), lit(0)) <= 0)
      .select(col(idCol))
      .crossJoin(classes)
      .select(col(idCol), col("label"),
        round(col("logprior"), 6).as("score"))
    scored.unionByName(tokenless)
  }

  /** Confident-joint label-noise estimate (Northcutt et al. 2021,
    * "Confident Learning: Estimating Uncertainty in Dataset Labels"):
    * per-class confidence thresholds t_j = mean self-class score of the
    * docs GIVEN label j; a document is confidently counted into cell
    * (given ỹ, suggested j) when its score for j clears t_j, with j
    * the argmax among the classes it clears (ties to the smaller
    * label). Off-diagonal mass estimates the label-error rate; the
    * cell (ỹ, j) lists where ỹ-labeled docs actually belong. Docs
    * clearing no threshold are dropped, per the method.
    *
    * Output: (given_label, suggested_label, n, off_diagonal).
    *
    * Scale: per-class scores are the one wide aggregation (docs ×
    * classes rows); thresholds are a class-sized broadcast; the argmax
    * window partitions by doc over ≤ #classes rows.
    */
  def confidentJoint(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, seedFilter: org.apache.spark.sql.Column,
      vocabSize: Int,
      tokenizer: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = wordTokens): DataFrame = {
    val model = naiveBayesModel(docs.filter(seedFilter), textCol,
      labelCol, vocabSize, tokenizer)
    val scored = perClassScores(docs, prepareModel(model), idCol,
      textCol, tokenizer)
    val given = docs.select(col(idCol),
      col(labelCol).cast("string").as("__given"))
    val thr = broadcast(scored.join(given, Seq(idCol))
      .filter(col("label") === col("__given"))
      .groupBy(col("label"))
      .agg(round(avg(col("score")), 6).as("__thr")))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("label"))
    scored.join(thr, Seq("label"))
      .filter(col("score") >= col("__thr"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .join(given, Seq(idCol))
      .groupBy(col("__given").as("given_label"),
        col("label").as("suggested_label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off_diagonal",
        col("given_label") =!= col("suggested_label"))
  }

  /** Score `docs` against a fitted model frame: per document, the
    * predicted label = argmax over classes of logprior + sum of per-token
    * logliks (OOV tokens hit the model's "<unk>" row), ties broken by
    * label asc. Output: (idCol, predicted, score) with score rounded to
    * 6 decimals.
    *
    * The collected model broadcasts; the corpus-side explode joins
    * map-side, so the only wide shuffle is the per-(doc, label) score
    * aggregation.
    */
  def naiveBayesScore(docs: DataFrame, model: DataFrame, idCol: String,
                      textCol: String,
                      tokenizer: org.apache.spark.sql.Column =>
                        org.apache.spark.sql.Column = wordTokens): DataFrame =
    scoreWithModel(docs, prepareModel(model), idCol, textCol, tokenizer)

  /** Train-on-seed / score-corpus in one call: fit on the rows where
    * `seedFilter` holds, score every row, and report the prediction next
    * to the document's own label for accuracy auditing.
    */
  def naiveBayesClassify(docs: DataFrame, idCol: String, textCol: String,
                         labelCol: String, seedFilter: org.apache.spark.sql.Column,
                         vocabSize: Int,
                         tokenizer: org.apache.spark.sql.Column =>
                           org.apache.spark.sql.Column = wordTokens): DataFrame = {
    val model = naiveBayesModel(docs.filter(seedFilter), textCol, labelCol,
      vocabSize, tokenizer)
    naiveBayesScore(docs, model, idCol, textCol, tokenizer)
      .join(docs.select(col(idCol), col(labelCol).cast("string").as("actual")),
        Seq(idCol))
      .select(col(idCol), col("predicted"), col("actual"),
        (col("predicted") === col("actual")).as("correct"), col("score"))
  }
}
