package graft.operators

import graft.core.{Held, Pin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: assign each document a
  * chunk id so that documents, concatenated in a stable global order, fill
  * fixed token budgets — the standard concat-and-chunk step ahead of LLM
  * pretraining batch assembly.
  *
  * The core is a DISTRIBUTED PREFIX SUM of token counts in document-id
  * order. The naive formulation — `sum() over (order by id)` with no
  * partition clause — collapses the whole corpus into ONE task (Spark
  * plans an Exchange SinglePartition for an unpartitioned ordered window):
  * a non-starter at scale. Instead:
  *
  *  1. range-repartition a NARROW (id, tokens) projection by id (so
  *     partition p holds an id-contiguous slice, in partition-index order)
  *     and persist it — the persist is load-bearing for correctness, see
  *     below,
  *  2. per-partition running totals via a window PARTITIONED by the slice
  *     (parallel),
  *  3. collect only the per-slice totals (#partitions rows) to the driver,
  *     prefix-sum them, and broadcast-join the slice offsets back
  *     (a #slices-row frame — NOT a #slices-deep CASE chain, which past
  *     ~10k slices would blow Janino's 64KB method limit and fall out of
  *     whole-stage codegen),
  *  4. re-attach the full document rows by an id equi-join.
  *
  * Why the persist is correctness, not caching: RangePartitioner samples
  * its boundaries per job with a seed derived from the RDD id, so a
  * DataFrame containing `repartitionByRange` that is executed TWICE (once
  * for the totals collect, once for the caller's final action) can assign
  * rows to DIFFERENT slices in each job once input partitions exceed the
  * reservoir sample — silently corrupting chunk ids at exactly the scale
  * this operator exists for. Persisting the sliced frame materializes the
  * slice assignment once; both the totals job and the final join read the
  * same cached rows. The cached frame is 4 narrow columns (~32 bytes/row
  * — ~30 GB cluster-wide per 10^9 docs, MEMORY_AND_DISK), and is released
  * per call by releasing the returned [[graft.core.Held]] once the output
  * is written (earlier would reopen the double-execution window).
  *
  * Token offsets are exact integer arithmetic end to end (`div`/`%` on
  * longs — double `floor(a/b)` loses exactness past 2^53, within reach of
  * a 100 TB corpus token total), so the DuckDB oracle (a plain
  * ordered-window cumsum — fine at oracle scale) reproduces chunk ids
  * bit-for-bit.
  */
object Packing {

  /** Adds `chunk_id`, `offset_in_chunk` for concat-and-chunk at
    * `budgetTokens` per chunk, in `idCol` order. A document straddling
    * a boundary belongs to the chunk where it starts (standard
    * concat-then-split semantics).
    */
  def withChunkIds(docs: DataFrame, idCol: String, tokenCountCol: String,
      budgetTokens: Long, slices: Int = 0): Held = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = if (slices > 0) slices
      else spark.sessionState.conf.numShufflePartitions
    // narrow projection: only (id, tokens) rides the range exchange and
    // the persisted prefix-sum frame; full rows re-attach by id at the end
    val sliced = docs.select(col(idCol), col(tokenCountCol))
      .repartitionByRange(n, col(idCol))
      .withColumn("__slice", spark_partition_id())
    // parallel per-slice running totals (window is PARTITIONED — no
    // single-task global sort)
    val w = Window.partitionBy(col("__slice")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = Pin.cache(sliced.withColumn("__local_cum",
        sum(col(tokenCountCol)).over(w) - col(tokenCountCol)))
    // tiny driver collect: one row per slice — this action also populates
    // the cache, pinning the slice assignment for the final job
    val totals = withLocal.frame.groupBy(col("__slice"))
      .agg(sum(col(tokenCountCol)).as("__t"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val sliceIds = totals.keys.toSeq.sorted
    val prefix = sliceIds.scanLeft(0L)((acc, s) => acc + totals(s))
    val offsets = broadcast(
      sliceIds.zip(prefix).toDF("__slice", "__offset"))
    val assigned = withLocal.frame.join(offsets, "__slice")
      .withColumn("__before", col("__offset") + col("__local_cum"))
      .select(col(idCol),
        expr(s"__before div ${budgetTokens}L").as("chunk_id"),
        (col("__before") % budgetTokens).as("offset_in_chunk"))
    Held(docs.join(assigned, Seq(idCol)), withLocal)
  }

  /** Convenience: tokenize with [[TextAnalysis.tokenCount]] then chunk. */
  def packDocuments(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): Held =
    withChunkIds(
      docs.withColumn("n_tokens", TextAnalysis.tokenCount(col(textCol))),
      idCol, "n_tokens", budgetTokens)

  /** Packing-efficiency report over a [[withChunkIds]] result: how full
    * the token-budget chunks actually are — mean fill plus exact type-1
    * quantiles of the per-chunk assigned token mass. Because a document
    * straddling a boundary belongs to the chunk where it STARTS, a
    * chunk's assigned mass can exceed the budget (the overflow rides
    * into the next chunk's space) and the final chunk is usually short —
    * this report is how a pipeline decides whether the budget matches
    * the document length distribution or burns padding. One row per
    * requested p: (p, chunk_tokens, n_chunks, total_tokens, mean_fill).
    *
    * 100 TB shape: one map-side-combinable per-chunk sum (chunk count ∝
    * corpus/budget); the quantile runs [[Sampling.quantilesPerGroup]]'s
    * histogram machinery on a constant group — its window input is the
    * distinct chunk-mass VALUES (bounded by budget + max doc), never the
    * chunk frame.
    */
  def packingStats(packedFrame: DataFrame, tokenCountCol: String,
      budgetTokens: Long, ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(budgetTokens > 0, s"budget must be positive: $budgetTokens")
    val sums = packedFrame.groupBy(col("chunk_id"))
      .agg(sum(col(tokenCountCol)).as("__ct"))
    val totals = sums.agg(count(lit(1)).as("n_chunks"),
      sum(col("__ct")).as("total_tokens"))
    val quant = graft.operators.Sampling.quantilesPerGroup(
      sums.withColumn("__g", lit("all")), "__g", "__ct", ps)
    quant.select(col("p"), col("quantile").as("chunk_tokens"))
      .crossJoin(broadcast(totals))
      .select(col("p"), col("chunk_tokens"), col("n_chunks"),
        col("total_tokens"),
        round(col("total_tokens").cast("double") /
          (col("n_chunks").cast("double") * budgetTokens), 6)
          .as("mean_fill"))
  }

  /** Sliding-window TEXT chunking — the other chunking regime (the one
    * above assigns whole documents to token-budget bins; this one SPLITS
    * each document's token sequence): windows of `chunkTokens` tokens
    * starting every `stride` tokens — (idCol, chunk_idx, chunk_text,
    * n_tokens), chunk_idx counting windows from 0. `stride < chunkTokens`
    * yields overlapping context windows (RAG / long-context prep);
    * `stride == chunkTokens` partitions the document exactly
    * ([[Dedup.chunkNovelty]] builds on that face). Trailing windows are
    * shorter than `chunkTokens`; every token belongs to at least one
    * window.
    *
    * Narrow end to end apart from [[graft.core.Spread]]'s parallelism
    * floor (which may add one round-robin exchange on an
    * under-parallelized small scan and is a passthrough at scale): the
    * token array is staged ONCE in its own projection (Catalyst does not
    * CSE through nested lambdas — [[Dedup.shinglesFromTokens]]'s rule),
    * window starts posexplode from a stride-stepped sequence, and the
    * slice projection runs AFTER the generate against the staged array,
    * so the tokenizer cost is once per document, not once per chunk.
    */
  def chunkText(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, stride: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(stride > 0, s"stride must be positive: $stride")
    graft.core.Spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), Dedup.tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        posexplode(sequence(lit(0),
            greatest(size(col("__tk")) - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "__start")))
      .select(col(idCol), col("chunk_idx"),
        concat_ws(" ",
          slice(col("__tk"), col("__start") + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("__tk")) - col("__start"))
          .cast("int").as("n_tokens"))
  }
}
