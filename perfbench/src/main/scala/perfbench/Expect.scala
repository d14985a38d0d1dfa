package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Plain-Spark recomputations and invariants the verification steps
  * compare graft's outputs with.
  */
object Expect {
  private def tokens(text: String) = split(trim(lower(col(text))), "\\s+")

  private def grams(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id).as("id"), tokens(text).as("tk"))
      .select(col("id"), explode(expr(s"transform(sequence(1, greatest(size(tk) - ${n - 1}, 1)), " +
        s"i -> array_join(slice(tk, i, $n), ' '))")).as("g"))

  /** `docs` without the docs that share an `n`-token shingle with a
    * benchmark passage (Decontaminate with min_overlap 1).
    */
  def decontaminated(docs: DataFrame, bench: DataFrame, benchText: String, n: Int): DataFrame = {
    val bad = grams(docs, "doc_id", "text", n)
      .join(grams(bench, benchText, benchText, n).select("g").distinct(), "g")
      .select(col("id").as("doc_id")).distinct()
    docs.join(bad, Seq("doc_id"), "left_anti")
  }

  /** Bm25Artifacts: (term, df, n, sdl) of whitespace tokens. */
  def bm25Artifacts(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokens("text").as("tk"))
    val corpus = t.agg(count(lit(1)).as("n"), sum(size(col("tk"))).cast("double").as("sdl"))
    t.select(col("doc_id"), explode(col("tk")).as("term")).groupBy("term")
      .agg(countDistinct("doc_id").as("df")).crossJoin(corpus)
  }

  /** DedupArtifacts without the signature values: (id, md5 digest of the
    * text, signature length), for the output and for its input.
    */
  def artifactKeys(arts: DataFrame): DataFrame =
    arts.select(col("id"), col("digest"), size(col("sig")).as("sig_len"))

  def artifactKeysOf(docs: DataFrame, k: Int = 32): DataFrame =
    docs.select(col("doc_id").as("id"), md5(col("text")).as("digest"), lit(k).as("sig_len"))

  /** `out` as `in`'s columns plus whether `ok` holds on the row, and `in`
    * with `ok` true everywhere: equal content means `out` is `in` with
    * added columns for which `ok` holds.
    */
  def extended(out: DataFrame, in: DataFrame, ok: String): (DataFrame, DataFrame) =
    (out.select(in.columns.map(c => col(s"`$c`")) :+ expr(ok).as("__ok"): _*),
      in.withColumn("__ok", lit(true)))

  /** TokenBudgetMix rows that break its contract: rows that are not
    * input rows, plus groups that keep nothing although they have input,
    * keep less than the budget while dropping rows, or keep more than a
    * row past it.
    */
  def budgetViolations(out: DataFrame, in: DataFrame, group: String, weight: String,
      budget: Double): Long = {
    val foreign = out.select(in.columns.map(c => col(s"`$c`")): _*).exceptAll(in).count()
    val kept = out.groupBy(group).agg(sum(weight).as("kept"), max(weight).as("maxw"),
      count(lit(1)).as("nk"))
    val groups = in.groupBy(group).agg(count(lit(1)).as("na"))
      .join(kept, Seq(group), "left")
      .filter(col("kept").isNull || col("kept") - col("maxw") >= budget ||
        (col("kept") < budget && col("nk") < col("na")))
      .count()
    foreign + groups
  }
}
