package graft.streaming

import graft.core.Pin
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** Structured-Streaming ingest path for the events table — a pure extension
  * (SURVEY §2.12: the reference has no streaming). Tumbling-window
  * aggregation with watermarking; the same transform applies to a batch
  * frame, which is how correctness is oracled (stream/batch unification).
  *
  * Every `run*Once` runner is a thin caller of one of two drains: the
  * memory drain ([[drainToMemory]]) for runners that return the settled
  * stream itself, and the per-batch drain ([[drainBatches]]) for runners
  * that act on each micro-batch. Both run AvailableNow, process
  * everything available and always stop the query; runner names are
  * uniquified per call so repeated runs (bench reps) never collide on an
  * active query name.
  */
object EventStream {

  /** The windowed aggregation, usable on both batch and streaming frames. */
  def windowedCounts(events: DataFrame, windowDur: String): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Run [[windowedCounts]] as a REAL watermarked streaming aggregation
    * (AvailableNow over parquet, memory sink, APPEND mode): a window only
    * emits once the watermark passes its end, so the settled output holds
    * every closed window and deliberately OMITS the still-open tail
    * window — that is append-mode streaming semantics, and the oracle
    * excludes the tail the same way (windows with end ≤ max event time).
    */
  def runWindowedOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, windowDur: String, horizon: String,
      queryName: String,
      prepare: DataFrame => DataFrame = identity): DataFrame =
    drainToMemory(spark, queryName, stateInputs = Seq(inputGlob)) { s =>
      windowedCounts(prepare(files(s, schema, inputGlob))
        .withWatermark("ts", horizon), windowDur)
    }

  /** Trending per window: top-k terms of each time window by count
    * (term tie-break) over a settled [[windowedCounts]] frame — the
    * "what spiked this hour" report. The rank window's input is the
    * per-window aggregate histogram (one row per (window, term)), never
    * event rows — [[graft.operators.TextAnalysis.topTermsPerGroup]]'s
    * argument with the window as the group.
    */
  def trendingPerWindow(counts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start"))
      .orderBy(col("n_events").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Streaming exact dedup by key within the watermark horizon — the
    * streaming face of the dedup family (batch: `operators.Dedup`): state
    * holds one entry per key and is dropped once the watermark passes, so
    * memory is bounded by the horizon's key cardinality, not the stream's.
    * `dropDuplicatesWithinWatermark` (Spark 3.5+) rather than plain
    * `dropDuplicates`: the latter keeps ALL keys forever — unbounded state
    * on an infinite stream.
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermarkCol: String, horizon: String): DataFrame =
    events.withWatermark(watermarkCol, horizon)
      .dropDuplicatesWithinWatermark(keyCols)

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** A parquet file stream over `path`; `maxFilesPerTrigger` bounds each
    * micro-batch (None = all available files in one batch).
    */
  private[streaming] def files(spark: SparkSession, schema: StructType,
      path: String, maxFilesPerTrigger: Option[Int] = None,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(schema).options(options)
      .options(maxFilesPerTrigger.map("maxFilesPerTrigger" -> _.toString)
        .toMap)
      .parquet(path)

  /** Scale-honest state/shuffle partitioning for a STATEFUL streaming
    * query over file sources (guide §2.2 — fewer, larger partitions; §2.5
    * in reverse). A stateful operator's partition count is frozen from
    * `spark.sql.shuffle.partitions` at the query's first batch and is NOT
    * AQE-coalesced afterwards, so the session default (= cluster cores)
    * is wildly oversized for a small stream: 32 state partitions over a
    * ~30 KB micro-batch is a trigger full of zero-data tasks paying pure
    * scheduling latency — measured as the q75/q83/q290 class running
    * FASTER at 8 cores than 32 (VERDICT r13 scaling table). Derive the
    * count from the INPUT VOLUME instead: one partition per 8 MB of
    * input, floored at 4, capped at the session's configured shuffle
    * partitions — input-size-derived, not a core-count constant, so a
    * real cluster's real stream hits the cap and is untouched, while a
    * small stream gets state partitions proportional to its data.
    * Returns a count only when it is below the configured one.
    */
  private def statePartitions(spark: SparkSession,
      inputPaths: Seq[String]): Option[Int] = scala.util.Try {
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    if (inputPaths.isEmpty || configured <= 4) None
    else {
      val hconf = spark.sparkContext.hadoopConfiguration
      val bytes = inputPaths.map { g =>
        val p = new org.apache.hadoop.fs.Path(g)
        val fs = p.getFileSystem(hconf)
        Option(fs.globStatus(p)).getOrElse(Array.empty).map { st =>
          if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
          else st.getLen
        }.sum
      }.sum
      val perPartition = 8L * 1024 * 1024
      val target = math.max(4L, (bytes + perPartition - 1) / perPartition)
      Option.when(target < configured)(target.toInt)
    }
  }.toOption.flatten

  /** The memory drain: start `build`'s stream into a memory sink under a
    * uniquified name, drain it with AvailableNow, always stop it, and
    * return the settled sink as a frame of `spark`. A stateful runner
    * passes its input paths as `stateInputs`; when they call for fewer
    * state partitions than `spark` is configured with
    * ([[statePartitions]]), `build` gets a clone of `spark` carrying that
    * count: the caller's conf is never changed, and the sink's temp view
    * is registered in the clone, not in the caller's catalog. The clone's
    * streaming listener bus is detached once the query stops.
    */
  private def drainToMemory(spark: SparkSession, queryName: String,
      stateInputs: Seq[String] = Nil, outputMode: String = "append")
      (build: SparkSession => DataFrame): DataFrame = {
    val session = statePartitions(spark, stateInputs).fold(spark)(n =>
      GraftBridge.cloneSession(spark,
        "spark.sql.shuffle.partitions" -> n.toString))
    val sink = s"${queryName}_${sinkSeq.incrementAndGet()}"
    val q = build(session).writeStream.outputMode(outputMode)
      .format("memory").queryName(sink)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable()
    finally {
      q.stop()
      if (session ne spark) GraftBridge.detachStreamingBus(session)
    }
    GraftBridge.rebind(spark, session.table(sink))
  }

  /** The per-batch drain: run `each(batch, batchId)` on every micro-batch
    * of `stream` (AvailableNow, always stopped). `checkpointLocation`
    * carries the engine's batch counter and processed-file log across
    * runs (None = a fresh temporary checkpoint per run).
    */
  private[streaming] def drainBatches(stream: DataFrame, queryName: String,
      checkpointLocation: Option[String] = None)
      (each: (DataFrame, Long) => Unit): Unit = {
    val w = stream.writeStream
      .queryName(s"${queryName}_${sinkSeq.incrementAndGet()}")
      .foreachBatch(each)
      .trigger(Trigger.AvailableNow())
    val q = checkpointLocation
      .fold(w)(cp => w.option("checkpointLocation", cp)).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Run [[dedupStream]] as a real streaming query over parquet input,
    * draining to a memory sink; returns the settled result. `prepare` maps
    * the raw streaming frame before the watermark (e.g. a nanos-long →
    * timestamp conversion that the batch loader does in
    * [[graft.core.Tables]]).
    */
  def runDedupOnce(spark: SparkSession, schema: StructType, inputDir: String,
      keyCols: Seq[String], watermarkCol: String, horizon: String,
      queryName: String,
      prepare: DataFrame => DataFrame = identity,
      readerOptions: Map[String, String] = Map.empty): DataFrame =
    drainToMemory(spark, queryName, stateInputs = Seq(inputDir)) { s =>
      val stream = files(s, schema, inputDir, options = readerOptions)
      dedupStream(prepare(stream), keyCols, watermarkCol, horizon)
    }

  /** Run [[graft.operators.Dedup.dedupStreamAgainst]] as a real streaming
    * query (AvailableNow over parquet, memory sink): arriving rows whose
    * content digest is already in the landed artifacts are dropped per
    * micro-batch. The static side is PINNED for the query's lifetime
    * ([[graft.operators.Dedup.pinDigests]]) and released after it stops —
    * stream-static joins otherwise re-evaluate the static plan per
    * micro-batch, re-scanning the landed artifacts every trigger. The
    * memory sink holds the settled rows; it does not depend on the
    * released cache.
    */
  def runStreamAgainstOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, artifacts: DataFrame, textCol: String,
      queryName: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val pinned = graft.operators.Dedup.pinDigests(artifacts)
    try drainToMemory(spark, queryName) { s =>
      graft.operators.Dedup.dedupStreamAgainst(
        files(s, schema, inputGlob, maxFilesPerTrigger), pinned, textCol)
    } finally pinned.release()
  }

  /** The NEAR-DUP streaming increment — the streaming face of
    * [[graft.operators.Dedup.dedupIncrement]] (q72's operator): each
    * micro-batch runs the full increment against the landed corpus via
    * `foreachBatch` — digest anti-join prune, cross-side-only banded
    * minhash candidates, Jaccard verification over the candidate text
    * sliver — and appends its survivors to `outDir` (the production
    * sink shape: foreachBatch → write). Because the increment generates
    * ONLY landed×batch pairs (never batch×batch — within-batch dedup is
    * dedupCorpus's job), the union of per-batch survivors is EXACTLY the
    * single-shot batch result whatever the micro-batch boundaries; the
    * oracle gates on that identity.
    *
    * The landed side is PREPARED once for the query's lifetime
    * ([[graft.operators.Dedup.prepareIncrement]]: persisted distinct
    * digests + persisted banded signatures) and released after — so each
    * micro-batch pays batch-sized work, two cached landed scans, and one
    * read of the whole landed `(id, text)` to fetch the text of its
    * candidate pairs (only those pairs are shingled). Unprepared, every
    * trigger would re-distinct the digests and re-explode the banding
    * over the whole landed artifact set.
    */
  def runNearDupIncrementOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, existing: DataFrame, artifacts: DataFrame,
      idCol: String, textCol: String, threshold: Double, outDir: String,
      queryName: String, maxFilesPerTrigger: Option[Int] = None,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    val prepared = graft.operators.Dedup.prepareIncrement(artifacts,
      shingleSize, k, bands)
    try runTransformOnce(spark, schema, inputGlob, outDir, queryName,
        maxFilesPerTrigger) { batch =>
      graft.operators.Dedup.dedupIncrementPrepared(existing, batch,
        idCol, textCol, prepared, threshold)
    } finally prepared.release()
  }

  /** Native session-window streaming aggregation (`session_window`):
    * Spark's built-in gap-merged session state, watermark-evicted —
    * distinct machinery from the q282 flatMapGroupsWithState face (state
    * merging lives in the engine, not user code). Append mode with a
    * zero-lateness watermark: a session emits once the watermark (max
    * seen event time) passes its end (last event + gap), so the settled
    * table is every session except the ones still open at end-of-input —
    * the oracle mirrors that eviction predicate exactly.
    */
  def runSessionWindowOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, keyCol: String, gap: String, queryName: String,
      prepare: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    drainToMemory(spark, queryName, stateInputs = Seq(inputGlob)) { s =>
      prepare(files(s, schema, inputGlob, maxFilesPerTrigger))
        .withWatermark("ts", "0 seconds")
        .groupBy(col(keyCol), session_window(col("ts"), gap))
        .agg(count(lit(1)).as("n_events"), max(col("ts")).as("last_ts"))
    }

  /** Sliding-window streaming counts (`window(ts, dur, slide)`): each
    * event lands in dur/slide overlapping windows. Same zero-lateness
    * append-mode emission rule as [[runSessionWindowOnce]] — windows
    * whose end the final watermark never passes stay in state, and the
    * oracle excludes them by the same predicate.
    */
  def runSlidingWindowOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, windowDur: String, slide: String,
      queryName: String,
      prepare: DataFrame => DataFrame = identity): DataFrame =
    drainToMemory(spark, queryName, stateInputs = Seq(inputGlob)) { s =>
      prepare(files(s, schema, inputGlob))
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
    }

  /** Streaming as-of enrichment — the streaming face of
    * [[graft.operators.AsOfJoin]]: probe rows arriving on the stream are
    * each matched to the latest historical right row at or before their
    * time, per key, against a PINNED static history (persisted once for
    * the query's lifetime and released after — the q235/q275
    * prepared-model convention; re-scanning the history per trigger is
    * the trap the pinning avoids). Every left row's match depends only
    * on its own (key, time) and the static history — no cross-row state
    * — so per-batch outputs union to the single-shot batch as-of for ANY
    * micro-batch boundaries (the oracle identity).
    */
  def runAsOfEnrichOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, history: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      tieBreak: String, outDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    Pin.cache(history).use { pinned =>
      pinned.count() // materialize before the first trigger
      runTransformOnce(spark, schema, inputGlob, outDir, queryName,
          maxFilesPerTrigger) { batch =>
        graft.operators.AsOfJoin(batch, pinned, col(leftKey),
          col(rightKey), col(leftTime), col(rightTime), col(tieBreak))
      }
    }
  }

  /** Streaming PQ encode — the streaming face of
    * [[graft.operators.Similarity.pqEncode]] (q271's operator):
    * embedding vectors arriving on the ingest stream are encoded per
    * micro-batch against a FROZEN codebook (built once from the landed
    * corpus — the production regime: the codebook is versioned with
    * the index, and re-deriving it per delivery would silently shift
    * code meanings). The codebook frame is persisted for the query's
    * lifetime and released after, so each trigger pays a batch-sized
    * narrow encode against the cached m·ks rows instead of re-running
    * the hash-sample selection over the landed corpus. Encode is
    * stateless per batch — no state store, no watermark — so per-batch
    * outputs union to the single-shot encode of the full stream for
    * any micro-batch boundaries (the oracle identity, same argument as
    * [[runNearDupIncrementOnce]]).
    */
  def runPqEncodeOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, codebooks: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, outDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    Pin.cache(codebooks).use { pinned =>
      pinned.count() // materialize before the first trigger
      runTransformOnce(spark, schema, inputGlob, outDir, queryName,
          maxFilesPerTrigger) { batch =>
        graft.operators.Similarity.pqEncode(batch, idCol, vecCol, dim, m,
          pinned)
      }
    }
  }

  /** Streaming benchmark decontamination — the streaming face of
    * [[graft.operators.Decontaminate.decontaminate]] (q53/q71's
    * operator): documents arriving on the ingest stream are dropped per
    * micro-batch when their n-gram overlap with the evaluation set
    * reaches `minOverlap`. The benchmark is PREPARED once for the query's
    * lifetime ([[graft.operators.Decontaminate.prepareBenchmark]]: the
    * serialized bloom plus the persisted exact shingle frame) — so each
    * trigger pays a stateless batch-sized filter (bloom prefilter
    * map-side, exact semi-join on the candidate sliver) and never
    * re-shingles the benchmark. No state store, no watermark: the filter
    * depends only on the batch and the fixed benchmark, so per-batch
    * survivors union to the single-shot batch result for any micro-batch
    * boundaries (the oracle identity, same argument as
    * [[runNearDupIncrementOnce]]).
    */
  def runDecontaminateOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, bench: DataFrame, benchTextCol: String,
      idCol: String, textCol: String, outDir: String, queryName: String,
      n: Int = 8, minOverlap: Int = 1,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val pb = graft.operators.Decontaminate.prepareBenchmark(bench,
      benchTextCol, n)
    try runTransformOnce(spark, schema, inputGlob, outDir, queryName,
        maxFilesPerTrigger) { batch =>
      graft.operators.Decontaminate.decontaminatePrepared(batch, idCol,
        textCol, pb, minOverlap)
    } finally pb.release()
  }

  /** Streaming classification — the streaming face of
    * [[graft.operators.Classify.naiveBayesScore]]: documents arriving on
    * the ingest stream are scored per micro-batch against a FIXED fitted
    * model. The model is prepared once for the query's lifetime
    * ([[graft.operators.Classify.prepareModel]]: one bounded collect),
    * so each trigger pays a stateless batch-sized explode + broadcast
    * join + per-doc aggregate — no state store, no watermark. Every
    * document's tokens arrive in one row, so per-batch scores union to
    * the single-shot batch result for any micro-batch boundaries (the
    * oracle identity, same argument as [[runDecontaminateOnce]]).
    */
  def runClassifyOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, model: DataFrame, idCol: String, textCol: String,
      outDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val prepared = graft.operators.Classify.prepareModel(model)
    runTransformOnce(spark, schema, inputGlob, outDir, queryName,
        maxFilesPerTrigger) { batch =>
      graft.operators.Classify.scoreWithModel(batch, prepared, idCol,
        textCol)
    }
  }

  /** Streaming SEMANTIC decontamination — the streaming face of
    * [[graft.operators.Decontaminate.overlapsSemantic]]: vectors
    * arriving on the ingest stream are checked per micro-batch against
    * a FIXED benchmark whose sign-LSH signatures and vectors are
    * prepared once for the query's lifetime
    * ([[graft.operators.Decontaminate.prepareSemantic]]). Stateless: a
    * row's matches depend only on itself and the benchmark, so
    * per-batch outputs union to the single-shot batch result for any
    * micro-batch boundaries (the oracle identity, same argument as
    * [[runDecontaminateOnce]]).
    */
  def runSemanticDeconOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, bench: DataFrame, benchIdCol: String,
      benchVecCol: String, idCol: String, vecCol: String,
      threshold: Double, outDir: String, queryName: String,
      bits: Int = 8, tables: Int = 4,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val ps = graft.operators.Decontaminate.prepareSemantic(bench,
      benchIdCol, benchVecCol, bits, tables)
    try runTransformOnce(spark, schema, inputGlob, outDir, queryName,
        maxFilesPerTrigger) { batch =>
      graft.operators.Decontaminate.overlapsSemanticPrepared(batch, idCol,
        vecCol, ps, threshold)
    } finally ps.release()
  }

  /** Streaming BM25 scoring — the streaming face of
    * [[graft.operators.Similarity.bm25TopK]]: documents arriving on the
    * ingest stream are scored per micro-batch against a FIXED query set
    * using FROZEN corpus statistics (a
    * [[graft.operators.Similarity.bm25Artifacts]] table). Stateless: a
    * document's score depends only on its own tf/dl and the artifact's
    * df/n/avgdl, so per-batch outputs union to the single-shot batch
    * result for any micro-batch boundaries (no global rank is emitted —
    * ranking is the landed-side consumer's window). Artifacts and
    * queries persist for the query lifetime (the PreparedBenchmark
    * convention: without the pin every trigger re-scans both), released
    * before returning.
    */
  def runBm25ScoreOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, artifacts: DataFrame, idCol: String,
      textCol: String, outDir: String, queryName: String,
      maxDfFraction: Double = 0.1,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    Pin.cache(artifacts).use(arts => Pin.cache(queries).use { qs =>
      runTransformOnce(spark, schema, inputGlob, outDir, queryName,
          maxFilesPerTrigger) { batch =>
        graft.operators.Similarity.bm25ScoreAgainst(batch, idCol, textCol,
          qs, queryIdCol, queryTextCol, arts,
          maxDfFraction = maxDfFraction)
      }
    })
  }

  /** Streaming DSIR scoring — the streaming face of
    * [[graft.operators.Dsir.importanceWeights]]: documents arriving on
    * the ingest stream are importance-weighted per micro-batch against
    * a FIXED (bucket, diff) artifact (typically read back from a
    * [[graft.operators.Dsir.diffArtifacts]] table). Stateless: the
    * weight of a document depends only on its own features and the
    * bucket table, so per-batch outputs union to the single-shot batch
    * result for any micro-batch boundaries (the oracle identity, same
    * argument as [[runClassifyOnce]]). The artifact is buckets-sized
    * and broadcast; no state store, no watermark.
    */
  def runDsirScoreOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, diff: DataFrame, idCol: String, textCol: String,
      buckets: Int, outDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runTransformOnce(spark, schema, inputGlob, outDir, queryName,
        maxFilesPerTrigger) { batch =>
      graft.operators.Dsir.scoreWithDiff(batch, diff, idCol, textCol,
        buckets)
    }

  /** Streaming quality monitoring — the q112 rule set evaluated per
    * micro-batch via `foreachBatch`, each trigger appending its
    * `(check_name, violations, total, passed, batch_id)` report row set
    * (the production shape: a quality report per landed batch, alerting
    * reads the report stream). ROW-LEVEL rules only (not_null / in_range
    * / matches / satisfies): their violation counts are batch-
    * decomposable, so the per-batch reports SUM to the global report —
    * the identity the oracle gates on. Uniqueness/referential checks
    * need the landed corpus, not a batch — that is the artifacts regime
    * ([[graft.operators.Dedup.dedupArtifacts]]), deliberately refused
    * here.
    */
  def runQualityChecksOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, rules: Seq[String], outDir: String,
      queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val checks = rules.map(graft.operators.Checks.parseRule)
    require(checks.forall(_.violates.isDefined),
      s"streaming checks must be row-level (batch-decomposable): $rules")
    def report(batch: DataFrame, batchId: Long) =
      graft.operators.Checks.run(batch, checks)
        .withColumn("batch_id", lit(batchId))
    drainBatches(files(spark, schema, inputGlob, maxFilesPerTrigger),
        queryName) { (batch, batchId) =>
      report(batch, batchId).write.mode("append").parquet(outDir)
    }
    appended(spark, outDir, report(emptyBatch(spark, schema), 0L))
  }

  /** Watermarked stream-stream INTERVAL join: each left event joins right
    * events of the same key whose time lies in [left.ts − `lookback`,
    * left.ts] — e.g. "purchases join the clicks that preceded them within
    * an hour" as both sides arrive. The time-range predicate plus both
    * watermarks is what lets Spark BOUND the join state: each side's
    * buffered rows are dropped once the other side's watermark passes the
    * interval, so state is O(traffic in the horizon), not O(stream). The
    * same expression applied to batch frames is the oracle (stream/batch
    * unification, spec-asserted).
    *
    * Column contract: the two sides carry DISJOINT column names (rename
    * before calling) — stream-stream joins cannot disambiguate duplicate
    * names post-hoc.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTs: String, rightTs: String, lookback: String,
      horizon: String): DataFrame = {
    val l = left.withWatermark(leftTs, horizon)
    val r = right.withWatermark(rightTs, horizon)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs))
  }

  /** Run [[intervalJoin]] as a real streaming query (both sides streamed
    * from parquet dirs), draining to a memory sink.
    */
  def runIntervalJoinOnce(spark: SparkSession, leftSchema: StructType,
      leftDir: String, rightSchema: StructType, rightDir: String,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      lookback: String, horizon: String, queryName: String): DataFrame =
    drainToMemory(spark, queryName, Seq(leftDir, rightDir)) { s =>
      intervalJoin(files(s, leftSchema, leftDir),
        files(s, rightSchema, rightDir), leftKey, rightKey, leftTs, rightTs,
        lookback, horizon)
    }

  /** One-shot streaming heavy hitters: Misra-Gries as a complete-mode
    * streaming aggregate — the sketch's k-counter state lives in the
    * state store and MERGES across micro-batches (the associativity the
    * batch spec pins, exercised under real incremental execution).
    * `prepare` derives the item column from the raw stream (e.g. a
    * token explode); returns the exploded (item, count_low) frame.
    */
  def runHeavyHittersOnce(spark: SparkSession, schema: StructType,
      inputDir: String, itemCol: String, k: Int, queryName: String,
      prepare: DataFrame => DataFrame = identity,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    drainToMemory(spark, queryName, Seq(inputDir), "complete") { s =>
      prepare(files(s, schema, inputDir, maxFilesPerTrigger))
        .filter(col(itemCol).isNotNull)
        .agg(graft.functions.MisraGriesAgg
          .heavyHitters(col(itemCol), k).as("hh"))
    }.select(explode(col("hh")).as("__e"))
      .select(col("__e.item").as("item"),
        col("__e.count_low").as("count_low"))

  /** ML scoring on a stream: stateless nearest-centroid assignment per
    * micro-batch. The trained centroid artifact rides in the plan as a
    * k-element literal ([[graft.operators.Similarity.nearestCentroid]])
    * — no stream-static join to re-evaluate per batch, no state store;
    * each micro-batch is one narrow map, so AvailableNow over staged
    * files (maxFilesPerTrigger forces several real batches) appends
    * exactly the batch assignment.
    */
  def runKMeansAssignOnce(spark: SparkSession, schema: StructType,
      inputDir: String, cent: DataFrame, idCol: String, vecCol: String,
      queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    drainToMemory(spark, queryName) { s =>
      files(s, schema, inputDir, maxFilesPerTrigger).select(col(idCol),
        graft.operators.Similarity.nearestCentroid(cent, col(vecCol))
          .as("cid"))
    }

  /** Streaming per-group quantiles: the KLL-style sketch runs as a
    * complete-mode aggregate whose bounded (value, weight) state MERGES
    * across real micro-batches (maxFilesPerTrigger forces several);
    * quantiles are extracted from the settled sketch table.
    */
  def runQuantileSketchOnce(spark: SparkSession, schema: StructType,
      inputDir: String, groupCol: String, valueCol: String,
      ps: Seq[Double], k: Int, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.operators.Stats.quantilesFromSketches(
      drainToMemory(spark, queryName, Seq(inputDir), "complete") { s =>
        files(s, schema, inputDir, maxFilesPerTrigger)
          .groupBy(col(groupCol))
          .agg(graft.functions.QuantileSketchAgg
            .sketch(col(valueCol).cast("double"), k).as("__sk"))
      }, groupCol, ps)

  /** Streaming k-means centroid update (mini-batch training state):
    * vectors are assigned to the FIXED centroid literal per micro-batch
    * and the quantized per-cluster sums accumulate as a complete-mode
    * aggregate whose [[graft.functions.VectorSumAgg]] state MERGES
    * across batches (exact integer arithmetic, so batching cannot
    * change the result); the settled sums finalize into exactly one
    * Lloyd step over the whole stream. The training loop's streaming
    * face: run once per ingest window, feed the output back as the next
    * window's centroids.
    */
  def runKMeansUpdateOnce(spark: SparkSession, schema: StructType,
      inputDir: String, cent: DataFrame, vecCol: String,
      queryName: String, scale: Long = 1024L,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.operators.Similarity.finalizeCentroids(cent,
      drainToMemory(spark, queryName, Seq(inputDir), "complete") { s =>
        files(s, schema, inputDir, maxFilesPerTrigger)
          .select(graft.operators.Similarity
              .nearestCentroid(cent, col(vecCol)).as("cid"),
            transform(col(vecCol),
              x => floor(x.cast("double") * scale).cast("long")).as("__q"))
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n"),
            graft.functions.VectorSumAgg.vectorSum(col("__q")).as("__s"))
      }, scale)

  /** Streaming distinct-count monitoring: per-group KMV sketches run as
    * a complete-mode aggregate whose bottom-k hash sets MERGE across
    * micro-batches ([[graft.functions.KmvAgg]] — a pure set function,
    * so the settled estimate equals the batch computation exactly at
    * ANY k, approximate regime included).
    */
  def runKmvDistinctOnce(spark: SparkSession, schema: StructType,
      inputDir: String, groupCol: String, idCol: String, k: Int,
      queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    drainToMemory(spark, queryName, Seq(inputDir), "complete") { s =>
      files(s, schema, inputDir, maxFilesPerTrigger)
        .groupBy(col(groupCol))
        .agg(graft.functions.KmvAgg.kmvSketch(idHash(idCol), k).as("__sk"))
    }.select(col(groupCol),
      graft.operators.DistinctSketch.kmvEstimateFromArray(col("__sk"), k)
        .as("est_distinct"),
      size(col("__sk")).cast("long").as("sketch_rows"))

  /** Streaming distinct-count monitoring, HLL face: per-group register
    * arrays merged across micro-batches ([[graft.functions.HllAgg]] —
    * register max is associative/commutative/idempotent, so the settled
    * registers equal the batch sketch exactly and the q284 oracle gates
    * the stream; fixed 2^p bytes of state per group at ANY cardinality,
    * vs the KMV runner's k-set).
    */
  def runHllDistinctOnce(spark: SparkSession, schema: StructType,
      inputDir: String, groupCol: String, idCol: String, p: Int,
      queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    graft.operators.DistinctSketch.hllEstimate(
      drainToMemory(spark, queryName, Seq(inputDir), "complete") { s =>
        files(s, schema, inputDir, maxFilesPerTrigger)
          .groupBy(col(groupCol))
          .agg(graft.functions.HllAgg.hllSketch(idHash(idCol), p)
            .as("registers"))
      }, groupCol, p)

  /** The 60-bit id hash both distinct-count sketches consume. */
  private def idHash(idCol: String) =
    conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")

  /** Generic STATELESS per-micro-batch transform runner: apply `fn` to
    * each batch and append the result to `outDir` — the streaming face
    * of any pure row-level operator (augmentation, redaction,
    * normalization, scoring against a pinned artifact the caller closes
    * over). Stateless by construction: batch outputs union to exactly
    * the whole-corpus result, which is what lets a q-gate share the
    * batch operator's oracle. The pinned-artifact runners above are this
    * runner with their own prepare/release around it. An empty backlog
    * returns an empty frame with `fn`'s output columns.
    */
  def runTransformOnce(spark: SparkSession, schema: StructType,
      inputGlob: String, outDir: String, queryName: String,
      maxFilesPerTrigger: Option[Int] = None)
      (fn: DataFrame => DataFrame): DataFrame = {
    drainBatches(files(spark, schema, inputGlob, maxFilesPerTrigger),
        queryName) { (batch, _) =>
      fn(batch).write.mode("append").parquet(outDir)
    }
    appended(spark, outDir, fn(emptyBatch(spark, schema)))
  }

  private def emptyBatch(spark: SparkSession, schema: StructType) =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** What the per-batch drain appended to `outDir`. An empty backlog runs
    * no micro-batch and so writes nothing: then the result is an empty
    * frame with the columns `batchOutput` (one batch's output) carries.
    */
  private def appended(spark: SparkSession, outDir: String,
      batchOutput: => DataFrame): DataFrame = {
    val out = new org.apache.hadoop.fs.Path(outDir)
    if (out.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(out))
      spark.read.parquet(outDir)
    else emptyBatch(spark, batchOutput.schema)
  }

  /** Run [[StatefulSessionize]] as a REAL stateful streaming query:
    * AvailableNow over parquet slices, per-user (lastTs, sessionId) state
    * carried ACROSS micro-batches, per-event assignments appended to a
    * memory sink. Correctness requires each user's events to arrive
    * time-ordered across batches — the caller stages ts-RANGE slices
    * written oldest-first (the file source processes by modification
    * time), and `assign` sorts within each batch; under that contract the
    * settled assignments equal the batch gap-sessionization exactly,
    * which is what the oracle checks. Input schema: (user_id, event_id,
    * ts_millis).
    */
  def runSessionizeOnce(spark: SparkSession, schema: StructType,
      inputDir: String, gapMillis: Long, queryName: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    drainToMemory(spark, queryName, stateInputs = Seq(inputDir)) { s =>
      import s.implicits._
      val events = files(s, schema, inputDir, maxFilesPerTrigger)
        .select(col("user_id").cast("long").as("userId"),
          col("event_id").cast("long").as("eventId"),
          col("ts_millis").cast("long").as("tsMillis"))
        .as[StatefulSessionize.Event]
      StatefulSessionize(events, gapMillis)(s).toDF()
    }.select(col("userId").as("user_id"),
      col("eventId").as("event_id"), col("sessionId").as("session_id"))
}
