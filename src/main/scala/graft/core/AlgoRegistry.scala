package graft.core

import graft.algos._
import graft.config.JsonConfig
import graft.fsops.FsOps
import graft.io.{AtomicWriter, DataFormat, LoadMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** An algorithm whose write stage is one atomic parquet overwrite of
  * targetDir. targetDir and outputFilesNum are by-name, so a job that
  * reads them from its params reads them when it writes.
  */
private[core] abstract class OverwriteAlgorithm(val spark: SparkSession,
    fsOps: FsOps, targetDir: => String, outputFilesNum: => Option[Int],
    targetPartitions: Seq[String] = Seq.empty)
    extends Algorithm {
  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    val w = new AtomicWriter(fsOps, targetPartitions, outputFilesNum)
    dfs.foreach(df =>
      w.write(df, DataFormat.Parquet, targetDir, LoadMode.OverwriteTable))
    dfs
  }
}

/** Read → transform → atomic-write shape shared by every registered
  * DataFrame transform (Transpose, NestedFlattener, the curation and
  * analytics operators, ...): one scan of source_dir in the job's format,
  * the transform, one atomic overwrite of target_dir. Side inputs a
  * transform needs are read inside the transform. A transform whose
  * operator pins a load-bearing intermediate (e.g. Packing's prefix-sum
  * frame) returns it as a [[Held]], which the run holds until the output
  * write has landed.
  */
private[core] object TransformAlgorithm {
  import scala.language.implicitConversions

  /** Lets pin-free transforms stay written as `df => frame`. */
  implicit def lift(frame: DataFrame): Held = Held(frame)
}

private[core] class TransformAlgorithm(session: SparkSession, fsOps: FsOps,
    sourceDir: String, targetDir: String, format: DataFormat,
    outputFilesNum: Option[Int], fn: DataFrame => Held,
    targetPartitions: Seq[String] = Seq.empty)
    extends OverwriteAlgorithm(session, fsOps, targetDir, outputFilesNum,
      targetPartitions) {
  override def read(): Vector[DataFrame] =
    Vector(format.read(spark, Map.empty, None, sourceDir))
  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
    dfs.map { df =>
      holdUntilDone(fn(df)).frame
    }
}

/** A job run only for its side effect (decompress, restore, compact,
  * vacuum, catch-up): it reads and returns no frames, and `effect` runs as
  * its write stage.
  */
private[core] final class SideEffectAlgorithm(val spark: SparkSession,
    effect: => Unit) extends Algorithm {
  override def read(): Vector[DataFrame] = Vector.empty
  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] = dfs
  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    effect
    dfs
  }
}

/** Name → algorithm dispatch, replacing the reference's string match in
  * AlgorithmFactory (reference: src/main/scala/com/adidas/analytics/AlgorithmFactory.scala:59-84).
  * Each factory takes (spark, fsOps, params-JSON) and returns a runnable
  * [[Algorithm]] (or a side-effecting job for the non-Spark ones).
  */
object AlgoRegistry {
  def create(name: String, spark: SparkSession, fsOps: FsOps,
      config: JsonConfig): Algorithm = new Dispatch(spark, fsOps, config)(name)
}

/** One params file's dispatch. Required locations (source_dir,
  * target_dir, ...) are read when the algorithm is built; operator params
  * are read lazily, in the stage that uses them.
  */
private final class Dispatch(spark: SparkSession, fsOps: FsOps,
    config: JsonConfig) {

  def apply(name: String): Algorithm = transforms.lift(name) match {
    case Some(fn) => new TransformAlgorithm(spark, fsOps,
      config.getString("source_dir"), config.getString("target_dir"),
      fmt(config), config.getIntOpt("output_files_num"), fn,
      // IVF-PQ codes land PARTITIONED BY cid (see the IvfPqCodes arm)
      if (name == "IvfPqCodes") Seq("cid") else Seq.empty)
    case None => job(name)
  }

  private def fmt(c: JsonConfig): DataFormat =
    DataFormat(c.getStringOpt("file_format").getOrElse("parquet"),
      c.getStringOpt("delimiter").getOrElse("|"),
      c.getBoolean("has_header"))

  private def schemaOf(c: JsonConfig, key: String): Option[StructType] =
    c.getOpt[Any](key).map {
      case m: Map[_, _] =>
        val json = new com.fasterxml.jackson.databind.ObjectMapper()
          .registerModule(
            new com.fasterxml.jackson.module.scala.DefaultScalaModule)
          .writeValueAsString(m)
        DataType.fromJson(json).asInstanceOf[StructType]
      case s: String => DataType.fromJson(s).asInstanceOf[StructType]
    }

  /** Side input at the path under `key`, in the job's own format. */
  private def readInput(key: String): DataFrame =
    fmt(config).read(spark, Map.empty, None, config.getString(key))

  /** Saved parquet table (artifact, query set, truth) under `key`. */
  private def readParquet(key: String): DataFrame =
    spark.read.parquet(config.getString(key))

  /** A params map of numbers; any other value fails naming `key.entry`. */
  private def numbers(key: String, m: Map[String, Any]): Map[String, Number] =
    m.map {
      case (k, n: Number) => k -> n
      case (k, other) => throw new IllegalArgumentException(
        s"$key.$k must be a number, got: $other")
    }

  /** Flatten settings, as FullLoad's nested_task_properties and
    * NestedFlattener's own params give them.
    */
  private def flattenTask(c: JsonConfig): FlattenTask = {
    val d = FlattenTask()
    FlattenTask(
      charsToReplace =
        c.getStringOpt("chars_to_replace").getOrElse(d.charsToReplace),
      replacement = c.getStringOpt("replacement_char").getOrElse(d.replacement),
      sideFlatten = numbers("side_flatten",
        c.getOpt[Map[String, Any]]("side_flatten").getOrElse(Map.empty))
        .map { case (k, n) => k -> n.intValue() })
  }

  private def sideEffect(effect: => Unit): Algorithm =
    new SideEffectAlgorithm(spark, effect)

  /** A job with its own read whose output lands like a transform's, at
    * target_dir; it lands the frames as read unless it overrides transform.
    */
  private abstract class Overwrite extends OverwriteAlgorithm(spark, fsOps,
      config.getString("target_dir"), config.getIntOpt("output_files_num")) {
    override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] = dfs
  }

  /** Full, range and query materialization differ only in their scope. */
  private def materialize(scope: => MaterializationScope): Algorithm =
    new Materialization(spark, fsOps, MaterializationParams(
      sourceDir = config.getString("source_dir"),
      targetBaseDir = config.getString("target_dir"),
      scope = scope,
      targetPartitions = config.getSeq[String]("target_partitions"),
      outputFilesNum = config.getIntOpt("output_files_num"),
      versionsToRetain = config.getIntOpt("num_versions_to_retain")
        .getOrElse(1)))

  import TransformAlgorithm.lift

  /** The DataFrame transforms: each arm is the `df => ...` body
    * [[TransformAlgorithm]] runs over source_dir.
    */
  private val transforms
      : PartialFunction[String, DataFrame => Held] = {
    case "Transpose" => df => Transpose(df,
        config.getSeq[String]("group_by_column"),
        config.getString("pivot_column"),
        config.getSeq[Any]("pivot_values"),
        config.getString("aggregation_column"))
    case "NestedFlattener" => df => {
        val t = flattenTask(config)
        NestedFlattener(df, t.charsToReplace, t.replacement,
          sideFlatten = t.sideFlatten)
      }
    case "FixedSizeStringExtractor" => df => {
        // substring_positions: ["1-12", "13-16", ...], aligned with the
        // target schema's fields (reference: FixedSizeStringExtractor.scala:30-46)
        val schema = schemaOf(config, "target_schema").getOrElse(
          throw new IllegalArgumentException(
            "FixedSizeStringExtractor needs target_schema"))
        val positions = config.getSeq[String]("substring_positions")
        require(positions.size == schema.fields.length,
          s"substring_positions has ${positions.size} entries, target_schema " +
            s"has ${schema.fields.length} fields")
        val specs = positions.zip(schema.fields).map { case (pos, f) =>
          pos.split("-", 2) match {
            case Array(a, b) => FixedSizeStringExtractor.FieldSpec(f.name,
              a.trim.toInt, b.trim.toInt, f.dataType)
            case _ => throw new IllegalArgumentException(
              s"substring_positions entry must be from-to, got: $pos")
          }
        }
        FixedSizeStringExtractor(df, config.getString("source_field"), specs)
      }
    // --- curation extensions, runnable through the same spark-submit
    // surface as the reference's 12 algorithms ---
    case "CorpusDedup" => df => graft.operators.Dedup.dedupCorpus(df,
        config.getString("id_column"), config.getString("text_column"),
        shingleSize = config.getIntOpt("shingle_size").getOrElse(3),
        k = config.getIntOpt("minhash_k").getOrElse(32),
        bands = config.getIntOpt("bands").getOrElse(8),
        threshold = config.getDouble("jaccard_threshold", 0.5))
    case "CorpusDedupClusters" => df =>
      graft.operators.Dedup.dedupCorpusByComponents(df,
        config.getString("id_column"), config.getString("text_column"),
        shingleSize = config.getIntOpt("shingle_size").getOrElse(3),
        k = config.getIntOpt("minhash_k").getOrElse(32),
        bands = config.getIntOpt("bands").getOrElse(8),
        threshold = config.getDouble("jaccard_threshold", 0.5),
        // optional survivor policy: keep the highest-scored member of
        // each cluster instead of the min id
        scoreCol = config.getStringOpt("score_column"))
    case "StratifiedSample" => df => graft.operators.Sampling.stratifiedSample(df,
        config.getString("id_column"), config.getString("strata_column"),
        fractions = numbers("fractions",
          config.getOpt[Map[String, Any]]("fractions").getOrElse(Map.empty))
          .map { case (k, n) => k -> n.doubleValue() },
        defaultFraction = config.getDouble("default_fraction", 1.0))
    case "SequencePacking" => df => graft.operators.Packing.packDocuments(df,
        config.getString("id_column"), config.getString("text_column"),
        budgetTokens = config.getInt("budget_tokens").toLong)
    // packing-efficiency report (chunk-fill quantiles + mean fill)
    case "PackingStats" => df => {
        val budget = config.getInt("budget_tokens").toLong
        val packed = graft.operators.Packing.packDocuments(df,
          config.getString("id_column"), config.getString("text_column"),
          budgetTokens = budget)
        Held(graft.operators.Packing.packingStats(packed.frame, "n_tokens",
          budget, config.getSeq[Double]("ps")), packed)
      }
    case "Decontaminate" =>
      df => config.getStringOpt("benchmark_artifacts_dir") match {
        // saved-artifact path: the benchmark is never re-shingled —
        // load the DecontaminateArtifacts table, rebuild the bloom once
        case Some(artsDir) =>
          val pb = graft.operators.Decontaminate.prepareFromArtifacts(
            spark.read.parquet(artsDir),
            config.getIntOpt("expected_shingles")
              .map(_.toLong).getOrElse(1000000L))
          Held(graft.operators.Decontaminate.decontaminatePrepared(df,
            config.getString("id_column"), config.getString("text_column"),
            pb, config.getIntOpt("min_overlap").getOrElse(1)), pb)
        case None =>
          val bench = readInput("benchmark_dir")
          graft.operators.Decontaminate.decontaminate(df,
            config.getString("id_column"), config.getString("text_column"),
            bench, config.getString("benchmark_text_column"),
            n = config.getIntOpt("ngram_size").getOrElse(8),
            minOverlap = config.getIntOpt("min_overlap").getOrElse(1),
            // bloom prefilter for eval sets too big to broadcast
            // (exactness-preserving; see Decontaminate.overlapsBloom)
            bloom = config.getBoolean("use_bloom"),
            expectedShingles = config.getIntOpt("expected_shingles")
              .map(_.toLong).getOrElse(1000000L))
      }
    // source_dir is the INCOMING batch; existing_dir the landed corpus;
    // optional artifacts_dir feeds a persisted DedupArtifacts table so
    // the landed side is never re-digested/re-signed per increment
    case "IncrementalDedup" => df => {
        val existing = readInput("existing_dir")
        graft.operators.Dedup.dedupIncrement(existing, df,
          config.getString("id_column"), config.getString("text_column"),
          threshold = config.getDouble("threshold", 0.5),
          artifacts = config.getStringOpt("artifacts_dir").map(d =>
            fmt(config).read(spark, Map.empty, None, d)))
      }
    // ordered funnel completion per user
    case "Funnel" => df => graft.operators.Funnel.funnel(df,
        config.getString("user_column"), config.getString("type_column"),
        config.getString("ts_column"), config.getSeq[String]("steps"))
    // weekly cohort retention matrix
    case "Retention" => df => graft.operators.Funnel.retentionMatrix(df,
        config.getString("user_column"), config.getString("ts_column"))
    // path mining: corpus-wide top-k event-type n-grams from per-user
    // ordered sequences
    case "PathNgrams" => df => graft.operators.Funnel.pathNgrams(df,
        config.getString("user_column"), config.getString("type_column"),
        config.getString("ts_column"), config.getString("tie_column"),
        n = config.getIntOpt("n").getOrElse(3),
        k = config.getIntOpt("k").getOrElse(10))
    // funnel completion-latency quantiles
    case "StepLatency" => df => graft.operators.Funnel.stepLatency(df,
        config.getString("user_column"), config.getString("type_column"),
        config.getString("ts_column"), config.getSeq[String]("steps"),
        ps = config.getSeq[Double]("ps"))
    // funnel drop-off curve (per-step reach + conversion rates)
    case "ConversionCurve" => df => graft.operators.Funnel.conversionCurve(df,
        config.getString("user_column"), config.getString("type_column"),
        config.getString("ts_column"), config.getSeq[String]("steps"))
    // first-order Markov transition matrix over event types
    case "TransitionMatrix" => df => graft.operators.Funnel.transitionMatrix(df,
        config.getString("user_column"), config.getString("type_column"),
        config.getString("ts_column"), config.getString("tie_column"))
    // per-label embedding-column QA (null/zero vectors, dims, norms)
    case "EmbeddingNormStats" =>
      df => graft.operators.Similarity.embeddingNormStats(df,
        config.getString("vector_column"),
        config.getString("label_column"))
    // label-centroid cosine matrix over an embedding column
    case "LabelCentroidSimilarity" =>
      df => graft.operators.Similarity.labelCentroidSimilarity(df,
        config.getString("vector_column"),
        config.getString("label_column"),
        scale = config.getIntOpt("scale").getOrElse(1024))
    // pairwise Pearson correlation over integer feature columns
    case "FeatureCorr" => df => graft.operators.Stats.corrPairs(df,
        config.getSeq[String]("columns"))
    // vocabulary drift: appeared/vanished terms vs the previous delivery
    case "VocabDiff" => df => {
        val previous = readInput("previous_dir")
        graft.operators.TextAnalysis.vocabDiff(previous, df,
          config.getString("text_column"),
          minCount = config.getIntOpt("min_count").getOrElse(2).toLong)
      }
    // per-group charset profile (ascii/digit/space fractions)
    case "CharsetProfile" => df => graft.operators.TextAnalysis.charsetProfile(df,
        config.getString("group_column"), config.getString("text_column"))
    // per-group vocabulary concentration (TTR + Simpson)
    case "VocabConcentration" =>
      df => graft.operators.TextAnalysis.vocabConcentration(df,
        config.getString("group_column"), config.getString("text_column"))
    // language id + confidence margin per document
    case "LangId" => df => {
        val text = org.apache.spark.sql.functions
          .col(config.getString("text_column"))
        df.withColumn("lang_pred",
            graft.operators.TextAnalysis.langId(text))
          .withColumn("lang_margin",
            graft.operators.TextAnalysis.langIdMargin(text))
      }
    // per-group daily-volume anomaly flags
    case "VolumeAnomaliesPerGroup" =>
      df => graft.operators.Stats.volumeAnomaliesPerGroup(df,
        config.getString("ts_column"), config.getString("group_column"),
        zThreshold = config.getDouble("z_threshold", 2.0))
    // functional-dependency profile a -> b
    case "FunctionalDependency" =>
      df => graft.operators.Stats.functionalDependency(df,
        config.getString("a_column"), config.getString("b_column"))
    // per-doc n-gram novelty against a reference corpus
    case "NoveltyScores" => df => {
        val ref = readInput("reference_dir")
        graft.operators.Decontaminate.noveltyScores(df,
          config.getString("id_column"), config.getString("text_column"),
          ref, config.getString("reference_text_column"),
          n = config.getIntOpt("ngram_size").getOrElse(3))
      }
    // k-anonymity privacy audit over quasi-identifier columns
    case "KAnonymity" => df => graft.operators.Checks.kAnonymityReport(df,
        config.getSeq[String]("quasi_columns"), config.getInt("k"))
    // exponential time-decay engagement score per entity
    case "DecayedScore" => df => graft.operators.Stats.decayedScore(df,
        config.getString("ts_column"), config.getString("key_column"),
        config.getString("value_column"),
        config.getDouble("half_life_days", 7.0))
    // bigram-LM cross-entropy quality score (order-sensitive q62)
    case "BigramQuality" =>
      df => graft.operators.TextAnalysis.bigramLogProbScore(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("model_size").getOrElse(100000),
        config.getIntOpt("history_size").getOrElse(10000),
        config.getDouble("add_k", 0.5))
    // epsilon-DP released group counts (deterministic seeded Laplace)
    case "DpCounts" => df => graft.operators.Privacy.dpCounts(df,
        config.getSeq[String]("group_columns"),
        config.getDouble("epsilon"),
        config.getStringOpt("seed").getOrElse("dp"))
    // epsilon-DP noised group sums with per-row clipping
    case "DpSum" => df => graft.operators.Privacy.dpSum(df,
        config.getSeq[String]("group_columns"),
        config.getString("value_column"), config.getDouble("clip"),
        config.getDouble("epsilon"),
        config.getStringOpt("seed").getOrElse("dp"))
    // one-pass Misra-Gries heavy hitters over an item column
    case "HeavyHitters" => df => graft.operators.Stats.heavyHitters(df,
        config.getString("item_column"), config.getInt("k"))
    // join-key skew report (the measured saltFactor input)
    case "KeySkewReport" => df => graft.operators.Stats.keySkewReport(df,
        config.getString("key_column"))
    // watermark-sizing lateness report (quantiles of event lateness)
    case "WatermarkLateness" => df => graft.operators.Stats.watermarkLateness(df,
        config.getString("ts_column"), config.getString("seq_column"),
        config.getString("key_column"),
        config.getOpt[Seq[Double]]("ps").map(_ => config.getSeq[Double]("ps"))
          .getOrElse(Seq(0.5, 0.95, 0.99)))
    // embedding-dimension covariance matrix (upper triangle)
    case "EmbeddingCovariance" =>
      df => graft.operators.Similarity.embeddingCovariance(df,
        config.getString("vector_column"),
        config.getIntOpt("scale").getOrElse(1024))
    // leading principal component of a saved covariance matrix
    case "PrincipalComponent" =>
      df => graft.operators.Similarity.principalComponent(df,
        config.getIntOpt("max_iter").getOrElse(100))
    // k-means centroid training over an embedding column (Lloyd's,
    // deterministic hash-sampled init or a warm-start centroids_dir);
    // the saved (cid, ce, n) table feeds AnnIvf-style retrieval
    case "KMeansCentroids" => df => graft.operators.Similarity.kmeansCentroids(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"),
        config.getIntOpt("max_iters").getOrElse(10),
        config.getDouble("tol", 1e-3),
        config.getIntOpt("scale").getOrElse(1024).toLong,
        // init: warm-start centroids_dir beats the seeding choice;
        // init="farthest" spreads seeds one-per-cluster (q222), default
        // stays the hash sample
        config.getStringOpt("centroids_dir")
          .map(d => spark.read.parquet(d))
          .orElse(config.getStringOpt("init").collect {
            case "farthest" =>
              graft.operators.Similarity.selectCentroidsFarthest(df,
                config.getString("id_column"),
                config.getString("vector_column"), config.getInt("k"))
                .select(org.apache.spark.sql.functions.col("cid"),
                  org.apache.spark.sql.functions.col("ce"))
          }))
    // BM25 lexical retrieval: source is the corpus, queries_dir the
    // query table; high-df query terms pruned at max_df_fraction
    case "Bm25Retrieval" => df => graft.operators.Similarity.bm25TopK(df,
        config.getString("id_column"), config.getString("text_column"),
        readParquet("queries_dir"),
        config.getString("query_id_column"),
        config.getString("query_text_column"),
        config.getInt("k"),
        config.getDouble("k1", 1.2),
        config.getDouble("b", 0.75),
        config.getDouble("max_df_fraction", 0.1))
    // BM25 corpus statistics saved as a (term, df, n, sdl) artifact —
    // build once per landed corpus, score later batches against it
    case "Bm25Artifacts" => df => graft.operators.Similarity.bm25Artifacts(df,
        config.getString("id_column"), config.getString("text_column"))
    // stateless BM25 scoring of a batch against SAVED corpus statistics
    case "Bm25Score" => df => graft.operators.Similarity.bm25ScoreAgainst(df,
        config.getString("id_column"), config.getString("text_column"),
        readParquet("queries_dir"),
        config.getString("query_id_column"),
        config.getString("query_text_column"),
        readParquet("artifacts_dir"),
        config.getDouble("k1", 1.2),
        config.getDouble("b", 0.75),
        config.getDouble("max_df_fraction", 0.1))
    // reciprocal-rank fusion: source is the FIRST ranked list
    // (query_id, doc_id, rank); other_rankings_dirs the rest
    case "FuseRankings" => df => graft.operators.Similarity.fuseRankings(
        df +: config.getSeq[String]("other_rankings_dirs")
          .map(d => spark.read.parquet(d)),
        config.getInt("k"),
        config.getDouble("rrf_k", 60.0))
    // retrieval evaluation: recall@k + MRR of results vs a truth table
    case "RetrievalEval" => df => graft.operators.Similarity.retrievalEval(df,
        readParquet("truth_dir"))
    // tokenizer fertility (subword per whitespace token) per group
    case "TokenizerFertility" =>
      df => graft.operators.TextAnalysis.tokenizerFertility(df,
        config.getString("group_column"), config.getString("text_column"))
    // writing-system character-mass profile per group
    case "ScriptProfile" => df => graft.operators.TextAnalysis.scriptProfile(df,
        config.getString("group_column"), config.getString("text_column"))
    // mixed-language (code-switching) report per document
    case "MixedLanguageReport" =>
      df => graft.operators.TextAnalysis.mixedLanguageReport(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("chunk_tokens").getOrElse(20))
    // b-bit minhash estimates: source = pair list, docs_dir = corpus
    case "BbitEstimate" => df => graft.operators.Dedup.bbitEstimatePairs(df,
        readParquet("docs_dir"),
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("shingle_size").getOrElse(3),
        config.getIntOpt("k").getOrElse(32),
        config.getIntOpt("b").getOrElse(8))
    // pair-set eval: source = candidate pairs, truth_dir = truth pairs
    case "PairSetEval" => df => graft.operators.Dedup.pairSetEval(df,
        readParquet("truth_dir"))
    // quality-nucleus selection: best docs until p of group weight mass
    case "NucleusSelect" => df => graft.operators.Sampling.nucleusPerGroup(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getString("weight_column"),
        config.getString("score_column"),
        config.getDouble("p", 0.5),
        config.getIntOpt("score_precision").getOrElse(6))
    // T5-style span-mask augmentation (seeded block md5)
    case "AugmentSpanMask" => df => graft.operators.TextAnalysis.augmentSpanMask(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getDouble("rate", 0.15),
        config.getIntOpt("block_size").getOrElse(5),
        config.getString("seed"))
    // homoglyph folding + evasion-signal count
    case "NormalizeHomoglyphs" => df => {
        import org.apache.spark.sql.functions.col
        val tc = config.getString("text_column")
        df.withColumn("n_homoglyphs",
            graft.operators.TextAnalysis.homoglyphCount(col(s"`$tc`")))
          .withColumn(tc,
            graft.operators.TextAnalysis.normalizeHomoglyphs(col(s"`$tc`")))
      }
    // l-diversity privacy audit (quasi classes x distinct sensitive)
    case "LDiversity" => df => graft.operators.Checks.lDiversityReport(df,
        config.getSeq[String]("quasi_columns"),
        config.getString("sensitive_column"),
        config.getInt("l"))
    // winnowing (MOSS) local-fingerprint candidate pairs
    case "WinnowCandidates" => df => graft.operators.Dedup.winnowCandidates(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("shingle_size").getOrElse(3),
        config.getIntOpt("window").getOrElse(4),
        config.getIntOpt("min_shared").getOrElse(2))
    // replayable token-dropout augmentation (seeded positional md5)
    case "AugmentTokenDropout" =>
      df => graft.operators.TextAnalysis.augmentTokenDropout(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getDouble("rate", 0.1),
        config.getString("seed"))
    // URL-level dedup report: canonical_url, occurrence count, surface
    // variants, min-id survivor
    case "UrlCanonicalReport" =>
      df => graft.operators.TextAnalysis.canonicalUrlReport(df,
        config.getString("id_column"), config.getString("url_column"))
    // MMR diversity re-rank: source is the candidate table
    // (query, doc, relevance, vector), k-bounded per query upstream
    case "MmrRerank" => df => graft.operators.Similarity.mmrRerank(df,
        config.getString("query_id_column"),
        config.getString("doc_id_column"),
        config.getString("relevance_column"),
        config.getString("vector_column"),
        config.getInt("k"),
        config.getDouble("lambda", 0.7))
    // ROUGE-n overlap eval: source rows carry (id, candidate, reference)
    // text columns; clipped n-gram multiset precision/recall/F1 per row
    case "RougeEval" => df => graft.operators.TextAnalysis.rougeN(df,
        config.getString("id_column"),
        config.getString("candidate_column"),
        config.getString("reference_column"),
        config.getIntOpt("ngram_size").getOrElse(2))
    // dataset-card report (exact corpus summary, tall metric/value);
    // per_group=true emits one card per source (mixture monitoring)
    case "DatasetCard" => df =>
        if (config.getOpt[Boolean]("per_group").getOrElse(false))
          graft.operators.DatasetCard.reportPerGroup(df,
            config.getString("id_column"), config.getString("text_column"),
            config.getString("source_column"))
        else graft.operators.DatasetCard.report(df,
          config.getString("id_column"), config.getString("text_column"),
          config.getString("source_column"))
    // decontamination benchmark artifacts (shingle-hash table + n)
    case "DecontaminateArtifacts" =>
      df => graft.operators.Decontaminate.benchmarkArtifacts(df,
        config.getString("text_column"),
        config.getIntOpt("ngram_size").getOrElse(8))
    // per-doc subword counts under a saved segmented vocabulary
    case "BpeTokenCounts" => df => graft.operators.Bpe.subwordCounts(df,
        config.getString("id_column"), config.getString("text_column"),
        readParquet("vocab_dir"))
    // join-size estimate from two saved CMS artifacts (AMS inner product)
    case "CmsJoinSize" => df => graft.operators.FreqSketch.cmsJoinSizeEstimate(df,
        readParquet("other_sketch_dir"))
    // k-NN label consistency (neighborhood-vote mislabel detector)
    case "KnnLabelCheck" => df => graft.operators.Similarity.knnLabelCheck(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getString("label_column"),
        config.getIntOpt("k").getOrElse(5))
    // SemDeDup: within-k-means-cluster embedding near-dup pairs
    // (centroids trained inline, or supplied via centroids_dir)
    case "SemDedup" => df => {
        val id = config.getString("id_column")
        val vec = config.getString("vector_column")
        val cent = config.getStringOpt("centroids_dir")
          .map(d => spark.read.parquet(d))
          .getOrElse(graft.operators.Similarity.kmeansCentroids(df, id,
            vec, config.getIntOpt("k").getOrElse(128),
            config.getIntOpt("max_iters").getOrElse(10)))
        graft.operators.Dedup.semDedupPairs(df, id, vec, cent,
          config.getDouble("threshold"))
      }
    // weak supervision: near-dups of labeled docs inherit the majority
    // neighbor label (near-dup pairs computed inline from the corpus)
    case "LabelPropagation" => df => {
        import org.apache.spark.sql.functions.col
        val id = config.getString("id_column")
        val text = config.getString("text_column")
        val pairs = graft.operators.Dedup.jaccardVerify(
            graft.operators.Dedup.minhashCandidates(df, id, text),
            df, id, text)
          .filter(col("jaccard") >=
            config.getDouble("jaccard_threshold", 0.5))
          .select(col("id_a"), col("id_b"))
        graft.operators.Dedup.propagateLabels(df, id,
          config.getString("label_column"), pairs)
      }
    // leakage-safe split: near-dup components share one split key
    case "LeakageSafeSplit" => df => {
        val id = config.getString("id_column")
        val text = config.getString("text_column")
        val pairs = graft.operators.Dedup.jaccardVerify(
            graft.operators.Dedup.minhashCandidates(df, id, text,
              shingleSize = config.getIntOpt("shingle_size").getOrElse(3),
              k = config.getIntOpt("minhash_k").getOrElse(32),
              bands = config.getIntOpt("bands").getOrElse(8)),
            df, id, text,
            shingleSize = config.getIntOpt("shingle_size").getOrElse(3))
          .filter(org.apache.spark.sql.functions.col("jaccard") >=
            config.getDouble("jaccard_threshold", 0.5))
          .select(org.apache.spark.sql.functions.col("id_a"),
            org.apache.spark.sql.functions.col("id_b"))
        graft.operators.Dedup.leakageSafeSplit(df, id, pairs,
          config.getSeq[Map[String, Any]]("splits").map(m =>
            m("name").toString -> m("weight").toString.toDouble))
      }
    // temperature mixture sampling (n^alpha tempered group shares)
    case "TemperatureSample" => df => graft.operators.Sampling.temperatureSample(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getDouble("alpha"))
    // hard-negative mining: k nearest different-label vectors per query
    case "HardNegatives" => df => graft.operators.Similarity.hardNegatives(
        readParquet("queries_dir"), df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getString("label_column"), config.getInt("k"))
    // product-quantization code artifact: (id, j, code) — the
    // compressed-corpus table PqSearch scans instead of vectors
    case "PqCodes" => df => {
        val (id, vec) = (config.getString("id_column"),
          config.getString("vector_column"))
        val (dim, m) = (config.getInt("dim"), config.getInt("m"))
        graft.operators.Similarity.pqEncode(df, id, vec, dim, m,
          graft.operators.Similarity.pqCodebooks(df, id, vec, dim, m,
            config.getInt("ks")))
      }
    // PQ ADC top-k: compressed exhaustive scan (queries_dir as in
    // HardNegatives)
    case "PqSearch" => df => graft.operators.Similarity.pqTopK(
        readParquet("queries_dir"), df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"), config.getInt("m"),
        config.getInt("ks"))
    // two-stage PQ retrieval: ADC shortlist + exact cosine re-rank
    case "PqSearchRerank" => df => graft.operators.Similarity.pqTopKRerank(
        readParquet("queries_dir"), df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"), config.getInt("m"),
        config.getInt("ks"), config.getInt("shortlist"))
    // JL random projection: dOut md5-plane dot products per vector
    case "RandomProjection" => df => graft.operators.Similarity.randomProjection(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("d_out"),
        config.getIntOpt("table").getOrElse(0))
    // IVF-PQ: cells prune WHICH codes are scanned, PQ compresses WHAT
    case "IvfPqSearch" => df => graft.operators.Similarity.ivfPqTopK(
        readParquet("queries_dir"), df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"), config.getInt("m"),
        config.getInt("ks"), config.getInt("centroids"),
        config.getInt("nprobe"))
    // PQ codebook artifact: (j, code, sub) — m·ks rows, written once
    // per corpus release so the query side never re-derives it
    case "PqCodebooks" => df => graft.operators.Similarity.pqCodebooks(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("dim"), config.getInt("m"), config.getInt("ks"))
    // IVF centroid artifact: (cid, ce) — the hash-sampled cell table
    case "IvfCentroids" => df => graft.operators.Similarity.selectCentroids(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("centroids"))
    // encode-time IVF-PQ codes: (id, cid, j, code) against the SAVED
    // codebook + centroid artifacts, written PARTITIONED BY cid so the
    // prepared search's probe join is partition pruning (PqProbe r9:
    // re-assigning at query time cost more than the pruned scan saved)
    case "IvfPqCodes" => df => graft.operators.Similarity.ivfPqEncodeWith(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("dim"), config.getInt("m"),
        readParquet("codebooks_dir"),
        readParquet("centroids_dir"))
    // IVF-PQ search against the prepared artifacts: query-time cost is
    // probe scoring + the pruned ADC scan only
    case "IvfPqSearchPrepared" =>
      df => graft.operators.Similarity.ivfPqTopKPrepared(
        readParquet("queries_dir"), df,
        readParquet("codebooks_dir"),
        readParquet("centroids_dir"),
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"), config.getInt("m"),
        config.getInt("nprobe"))
    // byte-level media near-dup pairs (no decode; simhash over hex chunks)
    case "MediaNearDup" => df => graft.operators.Multimodal.mediaNearDupPairs(df,
        config.getString("id_column"), config.getString("payload_column"),
        config.getIntOpt("max_hamming").getOrElse(7),
        config.getIntOpt("chunk_bytes").getOrElse(4))
    // deterministic negative sampling for contrastive training
    // (items_dir = the item universe table)
    case "NegativeSamples" => df => graft.operators.Sampling.negativeSamples(df,
        config.getString("user_column"), config.getString("item_column"),
        readParquet("items_dir"),
        config.getString("item_id_column"), config.getInt("k"))
    // class-balanced upsampling to the majority class size
    case "UpsampleBalanced" => df => graft.operators.Sampling.upsampleBalanced(df,
        config.getString("class_column"))
    // per-group quantiles via the mergeable KLL-style sketch (bounded
    // state; exact while groups hold < k values)
    case "QuantileSketch" => df => graft.operators.Stats.sketchQuantilesPerGroup(df,
        config.getString("group_column"), config.getString("value_column"),
        config.getOpt[Seq[Double]]("ps").map(_ => config.getSeq[Double]("ps"))
          .getOrElse(Seq(0.5, 0.95, 0.99)),
        config.getIntOpt("k").getOrElse(4096))
    // PageRank over an edge table (src, dst) with configurable columns
    case "PageRank" => df => {
        import org.apache.spark.sql.functions.col
        val wOpt = config.getStringOpt("weight_column")
        val cols = Seq(
          col(config.getStringOpt("src_column").getOrElse("src"))
            .as("src"),
          col(config.getStringOpt("dst_column").getOrElse("dst"))
            .as("dst")) ++ wOpt.map(w => col(w))
        graft.operators.GraphRank.pageRank(df.select(cols: _*),
          config.getIntOpt("max_iters").getOrElse(20),
          config.getDouble("tol", 1e-6),
          config.getDouble("damping", 0.85),
          weightCol = wOpt)
      }
    // HITS hubs/authorities over an edge table (bipartite importance)
    case "Hits" => df => {
        import org.apache.spark.sql.functions.col
        graft.operators.GraphRank.hitsScores(
          df.select(
            col(config.getStringOpt("src_column").getOrElse("src"))
              .as("src"),
            col(config.getStringOpt("dst_column").getOrElse("dst"))
              .as("dst")),
          config.getIntOpt("iters").getOrElse(2))
      }
    // BPE tokenizer training: learn n_merges merge rules (write once)
    case "BpeVocab" => df => graft.operators.Bpe.learnMerges(df,
        config.getString("text_column"), config.getInt("n_merges"))
    // replay a saved BPE merge table onto a corpus vocabulary
    case "BpeSegment" => df => graft.operators.Bpe.segmentVocabulary(df,
        config.getString("text_column"),
        readParquet("merges_dir"),
        config.getIntOpt("max_rules").getOrElse(64))
    // frozen bigram model build (write once, score many)
    case "BigramModel" => df => graft.operators.TextAnalysis.bigramModel(df,
        config.getString("text_column"),
        config.getIntOpt("model_size").getOrElse(100000),
        config.getIntOpt("history_size").getOrElse(10000))
    // score a corpus against a saved bigram model (model_dir)
    case "BigramScore" => df => {
        val model = readInput("model_dir")
        graft.operators.TextAnalysis.scoreWithBigramModel(df,
          config.getString("id_column"), config.getString("text_column"),
          model, config.getDouble("add_k", 0.5))
      }
    // Min-K% Prob membership signal (Shi et al. 2023): mean logprob of
    // the k% least likely transitions under a saved reference LM
    case "MinKProb" => df => {
        val model = readInput("model_dir")
        graft.operators.TextAnalysis.minKProbScore(df,
          config.getString("id_column"), config.getString("text_column"),
          model, config.getDouble("k_frac", 0.2),
          config.getDouble("add_k", 0.5))
      }
    // Flesch reading-ease quality feature per document
    case "Readability" => df => graft.operators.TextAnalysis.readabilityScores(df,
        config.getString("id_column"), config.getString("text_column"))
    // C4-style blocklist blast-radius report per term
    case "BlocklistReport" => df => graft.operators.TextAnalysis.blocklistReport(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getSeq[String]("terms"))
    // C4-style blocklist filter (keep docs with zero blocked tokens)
    case "BlocklistFilter" => df => graft.operators.TextAnalysis.blocklistFilter(df,
        config.getString("text_column"), config.getSeq[String]("terms"))
    // URL domain-mix report over a text corpus
    case "UrlDomains" => df => graft.operators.TextAnalysis.urlDomains(df,
        config.getString("id_column"), config.getString("text_column"))
    // zlib compression-ratio quality signal per document
    case "CompressionSignals" =>
      df => graft.operators.TextAnalysis.compressionSignals(df,
        config.getString("id_column"), config.getString("text_column"))
    // column-profile report (null rates + exact distinct counts)
    case "ColumnProfile" => df => graft.operators.Checks.columnProfile(df,
        config.getSeq[String]("columns"))
    // symmetric key reconciliation between two tables
    case "KeyReconciliation" => df => {
        val right = readInput("right_dir")
        graft.operators.Checks.keyReconciliation(df, right,
          config.getString("left_key"), config.getString("right_key"))
      }
    // rolling daily-volume trend (observed-day moving window)
    case "RollingVolume" => df => graft.operators.Stats.rollingDailyVolume(df,
        config.getString("ts_column"),
        window = config.getIntOpt("window_days").getOrElse(7))
    // per-group burstiness (Fano factor + CV of daily counts)
    case "Burstiness" => df => graft.operators.Stats.burstiness(df,
        config.getString("ts_column"), config.getString("group_column"))
    // daily-volume anomaly flags over a timestamp column
    case "VolumeAnomalies" => df => graft.operators.Stats.volumeAnomalies(df,
        config.getString("ts_column"),
        zThreshold = config.getDouble("z_threshold", 2.0))
    // Zipf-slope fit over the top-K term frequencies
    case "ZipfSlope" => df => graft.operators.TextAnalysis.zipfSlope(df,
        config.getString("text_column"),
        topK = config.getIntOpt("top_k").getOrElse(1000))
    // session-shape summary (bounce rate, sessions per user)
    case "SessionSummary" => df => graft.operators.Sessionize.sessionSummary(df,
        config.getString("key_column"),
        org.apache.spark.sql.functions.unix_millis(
          org.apache.spark.sql.functions.col(config.getString("ts_column"))),
        config.getString("order_column"),
        gapMillis = config.getInt("gap_millis").toLong)
    // per-group distinct-entity intensity (exact countDistinct)
    case "DistinctIntensity" => df => graft.operators.Stats.distinctIntensity(df,
        config.getString("group_column"), config.getString("id_column"))
    // top-k values per group (mode report)
    case "TopValues" => df => graft.operators.Stats.topValuesPerGroup(df,
        config.getString("group_column"), config.getString("value_column"),
        k = config.getIntOpt("k").getOrElse(10))
    // per-group Pearson correlation of two integer columns
    case "CorrPerGroup" => df => graft.operators.Stats.corrPerGroup(df,
        config.getString("group_column"), config.getString("x_column"),
        config.getString("y_column"))
    // KS distance between two samples of an integer column
    case "KsDistance" => df => {
        val other = readInput("other_dir")
        graft.operators.Stats.ksDistance(df, other,
          config.getString("value_column"))
      }
    // day-of-week x hour seasonality heat map
    case "SeasonalityProfile" => df => graft.operators.Stats.seasonalityProfile(df,
        config.getString("ts_column"))
    // per-group PII exposure report
    case "PiiStats" => df => graft.operators.Redact.piiStats(df,
        config.getString("group_column"), config.getString("text_column"))
    // confusion matrix between actual and predicted categoricals
    case "ConfusionMatrix" => df => graft.operators.Stats.confusionMatrix(df,
        config.getString("actual_column"),
        config.getString("predicted_column"),
        maxCells =
          config.getIntOpt("max_cells").getOrElse(100000).toLong)
    // corpus-mixture report (doc/token shares per group)
    case "MixtureReport" => df => graft.operators.TextAnalysis.mixtureReport(df,
        config.getString("group_column"), config.getString("text_column"))
    // per-group fixed-width histogram of a numeric column
    case "GroupedHistogram" => df => graft.operators.Stats.groupedHistogram(df,
        config.getString("group_column"), config.getString("value_column"),
        binWidth = config.getInt("bin_width").toLong)
    // Cohen's kappa agreement between two categorical columns
    case "CohenKappa" => df => graft.operators.Stats.cohenKappa(df,
        config.getString("a_column"), config.getString("b_column"),
        maxCells =
          config.getIntOpt("max_cells").getOrElse(100000).toLong)
    // entropies + mutual information for two categorical columns
    case "MutualInformation" => df => graft.operators.Stats.mutualInformation(df,
        config.getString("a_column"), config.getString("b_column"),
        maxCells =
          config.getIntOpt("max_cells").getOrElse(100000).toLong)
    // Lorenz-curve vertices of row mass across entities
    case "LorenzCurve" => df => graft.operators.Stats.lorenzCurve(df,
        config.getString("entity_column"))
    // group-mass concentration: Gini of row counts across groups
    case "GiniConcentration" => df => graft.operators.Stats.giniConcentration(df,
        config.getString("group_column"))
    // categorical association: χ² + Cramér's V for two columns
    case "ContingencyAssociation" =>
      df => graft.operators.Stats.contingencyAssociation(df,
        config.getString("a_column"), config.getString("b_column"),
        maxCells =
          config.getIntOpt("max_cells").getOrElse(100000).toLong)
    // session-duration quantile summary (gap sessionize + type-1
    // histogram quantiles); ts column must be µs since epoch
    case "SessionStats" => df => graft.operators.Sessionize.sessionStats(df,
        config.getString("user_column"),
        org.apache.spark.sql.functions
          .col(config.getString("ts_micros_column")),
        config.getString("order_column"),
        gapMicros = config.getIntOpt("gap_seconds")
          .getOrElse(1800).toLong * 1000000L,
        ps = config.getSeq[Double]("ps"))
    // market-basket association rules over user-level event-type baskets
    case "AssociationRules" => df => graft.operators.Funnel.associationRules(df,
        config.getString("user_column"), config.getString("type_column"),
        minPairUsers =
          config.getIntOpt("min_pair_users").getOrElse(2).toLong)
    // snapshot reconciliation: source_dir is the NEW delivery, diffed
    // against previous_dir
    case "SnapshotDiff" => df => {
        val previous = readInput("previous_dir")
        graft.operators.Reconcile.diffFrames(previous, df,
          config.getString("id_column"),
          config.getSeq[String]("content_columns"))
      }
    // categorical drift monitoring: source_dir is the NEW delivery,
    // compared against the previous one's category mix
    case "CategoryDrift" => df => {
        val previous = readInput("previous_dir")
        graft.operators.Reconcile.categoryDrift(previous, df,
          config.getString("category_column"))
      }
    // numeric drift monitoring over fixed [lo, hi) x n_bins binning
    case "NumericDrift" => df => {
        val previous = readInput("previous_dir")
        graft.operators.Reconcile.numericDrift(previous, df,
          config.getString("value_column"),
          lo = config.getIntOpt("lo").getOrElse(0).toLong,
          hi = config.getInt("hi").toLong,
          nBins = config.getIntOpt("n_bins").getOrElse(10))
      }
    // salted pseudonymization of identifier columns
    case "Pseudonymize" => df => graft.operators.Redact.pseudonymize(df,
        config.getSeq[String]("columns"), config.getString("salt"))
    // the artifacts generator a load pipeline runs per landed batch
    // count-min sketch build: a depth×width counter artifact; merge
    // rolls a second sketch in, estimate reads counts for a query set
    case "CmsSketch" => df => {
        val built = graft.operators.FreqSketch.cmsBuild(df,
          config.getString("item_column"),
          depth = config.getIntOpt("depth").getOrElse(4),
          width = config.getIntOpt("width").getOrElse(4096))
        config.getStringOpt("merge_dir") match {
          case Some(dir) => graft.operators.FreqSketch.cmsMerge(built,
            fmt(config).read(spark, Map.empty, None, dir))
          case None => built
        }
      }
    case "CmsEstimate" => df => graft.operators.FreqSketch.cmsEstimate(
        readInput("sketch_dir"),
        df, config.getString("item_column"),
        depth = config.getIntOpt("depth").getOrElse(4),
        width = config.getIntOpt("width").getOrElse(4096))
    // HyperLogLog register-sketch artifact (2^precision ints per group;
    // optional merge_dir max-merges a previously saved sketch in)
    case "HllSketch" => df => {
        val p = config.getIntOpt("precision").getOrElse(8)
        val g = config.getString("group_column")
        val built = graft.operators.DistinctSketch.hllSketch(df, g,
          config.getString("id_column"), p)
        config.getStringOpt("merge_dir") match {
          case Some(dir) => graft.operators.DistinctSketch.hllMerge(
            Seq(built, fmt(config).read(spark, Map.empty, None, dir)), g, p)
          case None => built
        }
      }
    // distinct-count report from a saved HLL sketch artifact
    case "HllEstimate" => df => graft.operators.DistinctSketch.hllEstimate(df,
        config.getString("group_column"),
        config.getIntOpt("precision").getOrElse(8))
    // as-of join (sort-fill): source_dir is the LEFT (probe) side,
    // right_dir the history table; latest right row at or before each
    // left row's time per key — join-free plan, one exchange. Optional
    // bucket_width (integer time units) switches to the hot-key variant
    // partitioned by (key, time bucket); backward direction only.
    case "AsOfJoin" => df => {
        import org.apache.spark.sql.functions.col
        val right = readInput("right_dir")
        val joinType = config.getStringOpt("join_type").getOrElse("left")
        val direction = config.getStringOpt("direction").getOrElse("backward")
        config.getOpt[Any]("bucket_width") match {
          case Some(_) =>
            require(direction == "backward",
              "bucket_width supports backward direction only")
            graft.operators.AsOfJoin.bucketed(df, right,
              col(config.getString("left_key")),
              col(config.getString("right_key")),
              col(config.getString("left_time")),
              col(config.getString("right_time")),
              col(config.getString("tie_break")),
              config.getLong("bucket_width"), joinType)
          case None =>
            graft.operators.AsOfJoin(df, right,
              col(config.getString("left_key")),
              col(config.getString("right_key")),
              col(config.getString("left_time")),
              col(config.getString("right_time")),
              col(config.getString("tie_break")),
              joinType, direction)
        }
      }
    // Fellegi–Sunter record linkage: blocked candidate pairs scored by
    // integer-scaled field-agreement weights, cut into match/possible
    case "RecordLinkage" => df => {
        val right = readInput("right_dir")
        // Jackson parses JSON numbers as Integer/Long/Double — coerce
        // through Number (the HashSplit convention), never toString
        def asLong(v: Any): Long = v match {
          case n: Number => n.longValue()
          case s => s.toString.toLong
        }
        val rules = config.getSeq[Map[String, Any]]("rules").map { m =>
          graft.operators.Linkage.FieldRule(
            m("left").toString, m("right").toString,
            asLong(m("agree")), asLong(m("disagree")),
            m.getOrElse("kind", "exact").toString,
            asLong(m.getOrElse("max_dist", 0)).toInt)
        }
        graft.operators.Linkage.linkTable(df, right,
          config.getSeq[String]("block_columns"), rules,
          config.getLong("upper"), config.getLong("lower"))
      }
    // range-sorted export + per-file (lo, hi) data-skipping manifest —
    // the write-side half of file pruning; readers go through
    // Layout.readPruned (manifest lookup before any data file opens)
    case "SortedExportManifest" => df => {
        graft.operators.Layout.writeSortedWithManifest(spark, df,
          config.getString("data_dir"), config.getString("sort_column"),
          config.getInt("num_files"), config.getString("manifest_dir"))
        readParquet("manifest_dir")
      }
    // as-of interpolation: left probes marked at the straight line
    // between their key's bracketing right observations
    case "AsOfInterpolate" => df => graft.operators.AsOfJoin.interpolate(df,
        readInput("right_dir"),
        config.getString("left_key"), config.getString("right_key"),
        config.getString("left_time"), config.getString("right_time"),
        config.getString("value_column"), config.getString("tie_break"))
    // ingest debounce: keep the first event of each burst per key
    // (chain semantics — the session-start rows)
    case "Debounce" => df => graft.operators.Sessionize.debounce(df,
        config.getString("key_column"),
        org.apache.spark.sql.functions.col(config.getString("ts_column")),
        config.getString("order_column"), config.getLong("gap"))
    // step-signal time-weighted average per key (exact BIGINT numerator)
    case "TimeWeightedAverage" =>
      df => graft.operators.Sessionize.timeWeightedAverage(df,
        config.getString("key_column"),
        org.apache.spark.sql.functions.col(config.getString("ts_column")),
        org.apache.spark.sql.functions.col(config.getString("value_column")),
        config.getString("order_column"),
        config.getIntOpt("scale").getOrElse(100))
    // bucketed range join, point-in-interval face: source_dir holds the
    // points, intervals_dir the ranges; bucket equi-join, never a
    // nested-loop product
    case "RangeJoinPoints" => df => graft.operators.RangeJoin.pointInInterval(df,
        readInput("intervals_dir"),
        config.getString("point_column"), config.getString("lo_column"),
        config.getString("hi_column"), config.getLong("bucket_width"),
        keyCols = config.getSeq[String]("key_columns"),
        inclusiveEnd = config.getBoolean("inclusive_end", default = true))
    // interval-overlap face: all overlapping (left, right) interval pairs,
    // deduped on the first shared bucket
    case "IntervalOverlap" => df => graft.operators.RangeJoin.intervalOverlap(df,
        readInput("right_dir"),
        config.getString("left_lo"), config.getString("left_hi"),
        config.getString("right_lo"), config.getString("right_hi"),
        config.getLong("bucket_width"),
        keyCols = config.getSeq[String]("key_columns"))
    // gaps-and-islands flatten: union of [lo, hi] ranges per key
    case "MergeIntervals" => df => graft.operators.RangeJoin.mergeIntervals(df,
        config.getSeq[String]("key_columns"),
        config.getString("lo_column"), config.getString("hi_column"))
    case "DedupArtifacts" => df => graft.operators.Dedup.dedupArtifacts(df,
        config.getString("id_column"), config.getString("text_column"))
    // splits is an ORDERED list of {"name":…,"weight":…} — bucket bounds
    // are cumulative, so a JSON object (unordered) would be ambiguous
    case "HashSplit" => df => graft.operators.Sampling.hashSplit(df,
        config.getString("id_column"),
        config.getSeq[Map[String, Any]]("splits").map(m =>
          m("name").toString -> (m("weight") match {
            case n: Number => n.doubleValue()
            case s => s.toString.toDouble
          })))
    // Bernoulli probability-proportional-to-size sampling: keep each row
    // with probability min(1, weight/threshold)
    case "WeightedSample" => df => graft.operators.Sampling.weightedSample(df,
        config.getString("id_column"), config.getString("weight_column"),
        config.getDouble("threshold"))
    // exact-size-k weighted sample per group (Duffield–Lund–Thorup
    // priority sampling) with the unbiased max(w, τ) estimator weight
    case "PrioritySample" => df => graft.operators.Sampling.prioritySample(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getString("weight_column"), config.getInt("k"))
    case "SourceCap" => df => graft.operators.Sampling.capPerGroup(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getInt("max_per_group"))
    // weight-budgeted variant (data mixing): budget_per_group in the
    // weight column's unit (tokens, bytes); crossing row kept
    case "TokenBudgetMix" => df => graft.operators.Sampling.capPerGroupWeighted(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getString("weight_column"),
        config.getDouble("budget_per_group"))
    // deterministic Poisson bootstrap resample (bagging / ablation):
    // tag names the replicate set, so an ensemble is B calls, B tags
    case "BootstrapSample" => df => graft.operators.Sampling.bootstrapReplicas(df,
        config.getString("id_column"), config.getDouble("lambda"),
        config.getStringOpt("tag").getOrElse("b0"),
        config.getIntOpt("max_k").getOrElse(8))
    // UniMax waterfill allocation (Chung et al. 2023): per-group token
    // budgets under a max-epochs repetition cap — the report face
    case "UniMaxMix" => df => graft.operators.Sampling.unimaxAllocate(df,
        config.getString("group_column"),
        config.getString("weight_column"),
        config.getLong("total_budget"), config.getInt("max_epochs"))
    // the apply face: one-epoch selection under the UniMax allocation
    case "UniMaxSelect" => df => graft.operators.Sampling.unimaxSelect(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getString("weight_column"),
        config.getLong("total_budget"), config.getInt("max_epochs"))
    // seed classifier: multinomial NB trained on the rows whose label
    // column is non-null, scored over EVERY row (predicted / actual /
    // correct / score audit columns)
    case "NaiveBayesClassify" => df => {
        import org.apache.spark.sql.functions.col
        val tok = config.getStringOpt("tokenizer").getOrElse("words") match {
          case "char_trigrams" => graft.operators.Classify.charTrigrams
          case "words" => graft.operators.Classify.wordTokens
          case other => throw new IllegalArgumentException(
            s"unknown tokenizer: $other (words | char_trigrams)")
        }
        graft.operators.Classify.naiveBayesClassify(df,
          config.getString("id_column"), config.getString("text_column"),
          config.getString("label_column"),
          col(config.getString("label_column")).isNotNull,
          config.getInt("vocab_size"), tok)
      }
    // confident-joint label-noise audit (Northcutt et al. 2021): NB
    // trained on the non-null-label slice, per-class mean-self-score
    // thresholds, (given, suggested) confident counts
    case "ConfidentJoint" => df => {
        import org.apache.spark.sql.functions.col
        graft.operators.Classify.confidentJoint(df,
          config.getString("id_column"), config.getString("text_column"),
          config.getString("label_column"),
          col(config.getString("label_column")).isNotNull,
          config.getInt("vocab_size"))
      }
    // substring-level dedup report: per-doc coverage by width-token
    // spans occurring more than once in the corpus (Lee et al. 2022)
    case "RepeatedSpans" => df => graft.operators.Dedup.repeatedSpans(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("width"))
    // span-count artifacts over the landed corpus (the delta-load face)
    case "SpanArtifacts" => df => graft.operators.Dedup.spanArtifacts(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("width"))
    // batch span report against saved artifacts: landed text never read
    case "SpanIncrement" => df => graft.operators.Dedup.repeatedSpansIncrement(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("width"),
        readParquet("artifacts_dir"))
    // the transformation face: remove every token inside a duplicated
    // span and reassemble the cleaned text
    case "RemoveRepeatedSpans" =>
      df => graft.operators.Dedup.removeRepeatedSpans(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("width"))
    // NB training as a saved artifact: the (label, token, loglik,
    // logprior) model frame written to target_dir for later scoring
    case "NaiveBayesModel" => df => {
        import org.apache.spark.sql.functions.col
        graft.operators.Classify.naiveBayesModel(
          df.filter(col(config.getString("label_column")).isNotNull),
          config.getString("text_column"),
          config.getString("label_column"), config.getInt("vocab_size"))
      }
    // scoring from a saved model artifact (train once, score many)
    case "NaiveBayesScore" => df => graft.operators.Classify.naiveBayesScore(df,
        readParquet("model_dir"),
        config.getString("id_column"), config.getString("text_column"))
    // DSIR importance weights: every source doc scored by the hashed
    // n-gram likelihood ratio of the target corpus over the source
    case "DsirWeights" => df => graft.operators.Dsir.importanceWeights(df,
        readParquet("target_corpus_dir"),
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("buckets"))
    // the DSIR model artifact: the (bucket, diff) log-ratio table
    case "DsirArtifacts" => df => graft.operators.Dsir.diffArtifacts(df,
        readParquet("target_corpus_dir"),
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("buckets"))
    // scoring from a saved DSIR artifact (amortized regime)
    case "DsirScore" => df => graft.operators.Dsir.scoreWithDiff(df,
        readParquet("model_dir"),
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("buckets"))
    // the selection face: Gumbel-top-k resample of the weighted corpus
    case "DsirSelect" => df => graft.operators.Dsir.select(df,
        readParquet("target_corpus_dir"),
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("buckets"), config.getInt("k"))
    // the Gopher quality ruleset (Rae et al. 2021): report + filter
    case "GopherRules" => df => graft.operators.TextAnalysis.gopherFlags(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("min_words").getOrElse(50),
        config.getIntOpt("max_words").getOrElse(100000),
        config.getDouble("min_mean_len", 3.0),
        config.getDouble("max_mean_len", 10.0),
        config.getDouble("max_symbol_ratio", 0.1),
        config.getDouble("min_alpha_ratio", 0.8),
        config.getIntOpt("min_stopwords").getOrElse(2))
    case "GopherFilter" => df => graft.operators.TextAnalysis.gopherFilter(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("min_words").getOrElse(50),
        config.getIntOpt("max_words").getOrElse(100000),
        config.getDouble("min_mean_len", 3.0),
        config.getDouble("max_mean_len", 10.0),
        config.getDouble("max_symbol_ratio", 0.1),
        config.getDouble("min_alpha_ratio", 0.8),
        config.getIntOpt("min_stopwords").getOrElse(2))
    // fuzzy dedup, short-text regime: minhash candidates verified by
    // exact Levenshtein distance
    case "EditDistancePairs" => df => {
        val id = config.getString("id_column")
        val text = config.getString("text_column")
        graft.operators.Dedup.editDistanceVerify(
          graft.operators.Dedup.minhashCandidates(df, id, text),
          df, id, text, config.getInt("max_distance"))
      }
    // embedding-space decontamination: drop rows whose vector is within
    // cosine threshold of any benchmark vector (sign-LSH candidates)
    case "SemanticDecontaminate" =>
      df => graft.operators.Decontaminate.decontaminateSemantic(df,
        config.getString("id_column"), config.getString("vector_column"),
        readParquet("benchmark_dir"),
        config.getString("benchmark_id_column"),
        config.getString("benchmark_vector_column"),
        config.getDouble("threshold"),
        config.getIntOpt("bits").getOrElse(8),
        config.getIntOpt("tables").getOrElse(4))
    // declarative quality checks: writes the (check_name, violations,
    // total, passed) report; rules are compact strings (not_null:c,
    // in_range:c:lo:hi, matches:c:regex, unique:a,b)
    case "QualityChecks" => df => graft.operators.Checks.run(df,
        config.getSeq[String]("rules")
          .map(graft.operators.Checks.parseRule))
    // per-group quantile-band filter: keep rows whose percent_rank of
    // score_column within group_column lies in [lo, hi]
    case "QuantileBand" => df => graft.operators.Sampling.filterByQuantileBand(df,
        config.getString("group_column"), config.getString("score_column"),
        config.getDouble("lo"), config.getDouble("hi"))
    // per-group winsorization: clip value_column into its group's
    // [lo, hi] exact quantile band (appended as <value_column>_w)
    // split-balance audit over labeled splits
    case "SplitBalance" => df => graft.operators.Sampling.splitBalance(df,
        config.getString("split_column"), config.getString("strata_column"))
    // weight-mass quantiles per group (integer weights)
    case "WeightedQuantiles" =>
      df => graft.operators.Sampling.weightedQuantilesPerGroup(df,
        config.getString("group_column"), config.getString("score_column"),
        config.getString("weight_column"), config.getSeq[Double]("ps"))
    // equi-depth score-bucket calibration report
    case "ScoreBuckets" => df => graft.operators.Sampling.scoreBucketsReport(df,
        config.getString("score_column"), config.getString("stat_column"),
        nBuckets = config.getIntOpt("n_buckets").getOrElse(10))
    // robust per-group scale: median + MAD (type-1 quantiles)
    case "MadPerGroup" => df => graft.operators.Sampling.madPerGroup(df,
        config.getString("group_column"), config.getString("score_column"))
    // cross-group score calibration onto the global quantile scale
    case "QuantileNormalize" => df => graft.operators.Sampling.quantileNormalize(df,
        config.getString("group_column"),
        config.getString("score_column"))
    case "Winsorize" => df => graft.operators.Sampling.winsorizePerGroup(df,
        config.getString("group_column"), config.getString("value_column"),
        pLo = config.getDouble("lo", 0.05),
        pHi = config.getDouble("hi", 0.95))
    // mixture reweighting: global budget split across groups by
    // proportions; unnamed groups kept whole
    case "MixtureReweight" => df => graft.operators.Sampling.mixToBudget(df,
        config.getString("id_column"), config.getString("group_column"),
        config.getString("weight_column"),
        numbers("proportions", config.get[Map[String, Any]]("proportions"))
          .map { case (k, n) => k -> n.doubleValue() },
        totalBudget = config.getDouble("total_budget"))
    // canonical text normalization: NFC + lowercase + whitespace collapse
    case "NormalizeText" => df => df.withColumn(
        config.getStringOpt("output_column").getOrElse("norm_text"),
        graft.operators.TextAnalysis.normalizeText(
          org.apache.spark.sql.functions.col(
            config.getString("text_column"))))
    // top-k frequent terms per group (vocabulary report)
    // corpus-level PMI collocations (phrase mining)
    case "Collocations" => df => graft.operators.TextAnalysis.collocations(df,
        config.getString("text_column"),
        minCount = config.getIntOpt("min_count").getOrElse(3).toLong,
        k = config.getIntOpt("k").getOrElse(20))
    // metadata-conflict audit over exact-duplicate text groups
    case "ConflictingMetadata" =>
      df => graft.operators.Dedup.conflictingMetadata(df,
        config.getString("text_column"), config.getString("attr_column"))
    // dedup telemetry: near-dup cluster-size histogram of the corpus
    case "DedupStats" => df => {
        import org.apache.spark.sql.functions.col
        val d = graft.operators.Dedup
        val id = config.getString("id_column")
        val text = config.getString("text_column")
        val survivors = d.exactDedup(df, id, text)
        val cand = d.minhashCandidates(survivors, id, text,
          shingleSize = config.getIntOpt("shingle_size").getOrElse(3),
          k = config.getIntOpt("minhash_k").getOrElse(32),
          bands = config.getIntOpt("bands").getOrElse(8))
        val near = d.jaccardVerify(cand, survivors, id, text,
            config.getIntOpt("shingle_size").getOrElse(3))
          .filter(col("jaccard") >=
            config.getDouble("jaccard_threshold", 0.5))
          .select(col("id_a"), col("id_b"))
        d.clusterStats(near)
      }
    // per-label embedding outliers (mislabel/garbage detector)
    case "EmbeddingOutliers" =>
      df => graft.operators.Similarity.embeddingOutliers(df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getString("label_column"),
        k = config.getIntOpt("k").getOrElse(5))
    case "TopTerms" => df => graft.operators.TextAnalysis.topTermsPerGroup(df,
        config.getString("group_column"), config.getString("text_column"),
        config.getInt("k"))
    // cross-document boilerplate: per-doc share of corpus-frequent n-grams
    case "Boilerplate" => df => graft.operators.TextAnalysis.boilerplateSignals(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("ngram_size").getOrElse(3),
        config.getIntOpt("min_docs").getOrElse(5))
    // sliding-window text chunking (overlapping context windows)
    case "ChunkText" => df => graft.operators.Packing.chunkText(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("chunk_tokens"),
        config.getIntOpt("stride").getOrElse(config.getInt("chunk_tokens")))
    // chunk-granularity novelty vs smaller-id documents
    case "ChunkNovelty" => df => graft.operators.Dedup.chunkNovelty(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getInt("chunk_tokens"))
    // provenance-overlap report: dup doc pairs per unordered source pair
    case "CrossSourceDups" => df => graft.operators.Dedup.crossSourceDupMatrix(df,
        config.getString("id_column"), config.getString("text_column"),
        config.getString("source_column"))
    // exact media dedup: min-id survivor per distinct payload bytes
    case "MediaDedup" => df => graft.operators.Multimodal.dedupExactMedia(df,
        config.getString("id_column"), config.getString("payload_column"))
    case "PiiRedaction" => df => graft.operators.Redact.withRedactions(df,
        config.getString("text_column"))
    case "RepetitionSignals" =>
      df => graft.operators.TextAnalysis.repetitionSignals(df,
        config.getString("id_column"), config.getString("text_column"))
    case "CorpusShuffle" => df => graft.operators.Shuffling.shuffleIntoShards(df,
        config.getString("id_column"), config.getInt("num_shards"))
    // scores against a FROZEN vocabulary when `vocabulary_dir` is given
    // (built once by UnigramVocabulary below — the production shape:
    // freeze on a reference corpus, score every later batch against it);
    // otherwise computes the vocabulary inline from the scored corpus
    case "UnigramQuality" => df => config.getStringOpt("vocabulary_dir") match {
        case Some(vocabDir) =>
          graft.operators.TextAnalysis.scoreWithVocabulary(df,
            config.getString("id_column"), config.getString("text_column"),
            spark.read.parquet(vocabDir))
        case None =>
          graft.operators.TextAnalysis.unigramLogProbScore(df,
            config.getString("id_column"), config.getString("text_column"),
            vocabSize = config.getIntOpt("vocab_size").getOrElse(10000))
      }
    case "UnigramVocabulary" =>
      df => graft.operators.TextAnalysis.unigramVocabulary(df,
        config.getString("text_column"),
        vocabSize = config.getIntOpt("vocab_size").getOrElse(10000))
    case "CorpusAdmit" =>
      df => graft.operators.CorpusMaintenance.admit(spark, fsOps, df,
        config.getString("corpus_root"),
        config.getString("artifacts_root"),
        config.getString("id_column"), config.getString("text_column"),
        config.getDouble("jaccard_threshold", 0.5),
        config.getIntOpt("shingle_size").getOrElse(3),
        config.getIntOpt("minhash_k").getOrElse(32),
        config.getIntOpt("bands").getOrElse(8))
    case "VectorIndexStaleness" =>
      df => graft.operators.VectorIndexMaintenance.staleness(spark,
        fsOps, config.getString("embeddings_root"),
        config.getString("index_root"), df,
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"),
        config.getIntOpt("m").getOrElse(8),
        config.getIntOpt("nprobe").getOrElse(4))
    case "VectorIndexSearch" =>
      df => graft.operators.VectorIndexMaintenance.searchMaintained(
        spark, fsOps, df, config.getString("index_root"),
        config.getString("id_column"), config.getString("vector_column"),
        config.getInt("k"), config.getInt("dim"),
        config.getIntOpt("m").getOrElse(8),
        config.getIntOpt("nprobe").getOrElse(4))
    // --- incremental view maintenance (operators/IncrementalAgg.scala):
    // state init + delta/CDC refresh as params-surface algorithms ---
    case "IncrementalAggInit" => df => graft.operators.IncrementalAgg.init(df,
        config.getSeq[String]("key_columns"),
        config.getSeq[String]("sum_columns"),
        config.getSeq[String]("min_columns"),
        config.getSeq[String]("max_columns"))
  }

  /** Loads, materializations, SQL, versioned-table and maintenance jobs:
    * every algorithm that is not a plain transform.
    */
  private def job(name: String): Algorithm = name match {
    case "FullLoad" => new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = config.getString("source_dir"),
      targetDir = config.getString("target_dir"),
      format = fmt(config),
      targetSchema = schemaOf(config, "target_schema"),
      partitionSourceColumn = config.getStringOpt("partition_column"),
      partitionSourceFormat = config.getStringOpt("partition_column_format")
        .getOrElse("yyyyMMdd"),
      targetPartitions = config.getSeq[String]("target_partitions"),
      readerMode = config.getStringOpt("reader_mode").getOrElse("FAILFAST"),
      outputFilesNum = config.getIntOpt("output_files_num").orElse(Some(10)),
      // optional reshaping pre-tasks (reference: DataReshapingTaskConfig +
      // DataReshapingTask.scala:25-42): flatten, then transpose, from params
      flattenTask = config.getOpt[Map[String, Any]]("nested_task_properties")
        .map(m => flattenTask(new JsonConfig(m))),
      transposeTask =
        config.getOpt[Map[String, Any]]("transpose_task_properties").map { m =>
          TransposeTask(
            groupByColumns = m("group_by_column") match {
              case s: Seq[_] => s.map(_.toString)
              case s => Seq(s.toString)
            },
            pivotColumn = m("pivot_column").toString,
            aggregationColumn = m("aggregation_column").toString)
        },
      readSchema = schemaOf(config, "schema"),
      addCorruptRecordColumn =
        config.getBoolean("add_corrupt_record_column", default = false)))
    case "AppendLoad" => new AppendLoad(spark, fsOps, AppendLoadParams(
      sourceDir = config.getString("source_dir"),
      targetDir = config.getString("target_dir"),
      headerDir = config.getString("header_dir"),
      format = fmt(config),
      targetSchema = schemaOf(config, "target_schema").getOrElse(
        throw new IllegalArgumentException("AppendLoad needs target_schema")),
      partitionRegexes = config.getSeq[String]("regex_filename"),
      targetPartitions = config.getSeq[String]("target_partitions"),
      readerMode = config.getStringOpt("reader_mode").getOrElse("DROPMALFORMED"),
      verifySchema = config.getBoolean("verify_schema", default = false),
      writeLoadMode = config.getStringOpt("write_load_mode")
        .map(LoadMode(_)).getOrElse(LoadMode.OverwritePartitions)))
    case "DeltaLoad" => new DeltaLoad(spark, fsOps, DeltaLoadParams(
      activeDir = config.getString("active_records_dir"),
      deltaDir = config.getString("delta_records_file_path"),
      format = fmt(config),
      businessKey = config.getSeq[String]("business_key"),
      technicalKey = config.getSeq[String]("technical_key"),
      targetPartitions = config.getSeq[String]("target_partitions")))
    case "DeltaMergeLoad" | "DeltaLakeLoad" =>
      new DeltaMergeLoad(spark, fsOps, DeltaMergeLoadParams(
        targetDir = config.getString("target_dir"),
        deltaDir = config.getString("source_dir"),
        format = fmt(config),
        businessKey = config.getSeq[String]("business_key"),
        technicalKey = config.getSeq[String]("technical_key"),
        partitionSourceColumn = config.getStringOpt("partition_column"),
        targetPartitions = config.getSeq[String]("target_partitions"),
        // init condensation defaults ON in the reference
        // (DeltaLakeLoadConfiguration); it is unrelated to repartitioning
        isInit = config.getBoolean("init_condensation", default = true) &&
          config.getBoolean("is_init_load", default = false)))
    case "FullMaterialization" => materialize(MaterializationScope.Full)
    case "RangeMaterialization" => materialize(MaterializationScope.Range(
      config.getString("partition_column"),
      config.getString("date_from"), config.getString("date_to")))
    case "QueryMaterialization" => materialize(MaterializationScope.Query(
      // select_conditions: [["col=value", ...], ...] — OR of ANDs
      config.getSeq[Seq[String]]("select_conditions").map(_.map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => (k, v: Any)
          case _ => throw new IllegalArgumentException(
            s"select_conditions entry must be col=value, got: $kv")
        }
      })))
    case "SQLRunner" =>
      // params shape per reference fixture: {"steps": N, "1": sql, ...}
      val s = spark
      new Algorithm {
        val spark: SparkSession = s
        override def read(): Vector[DataFrame] = Vector.empty
        override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] = {
          val n = config.getInt("steps")
          Vector(SQLRunner.run(s, (1 to n).map(i => config.getString(i.toString))))
        }
        override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
          // bounded final action, like the reference's show(1000) — the
          // result of a SQL script's last SELECT is for eyeballing, never
          // a driver-side materialization of a whole table
          dfs.foreach(_.limit(SQLRunner.IntermediateRowCap).collect()); dfs
        }
      }
    case "GzipDecompressorBytes" | "GzipDecompressor" => sideEffect {
      new GzipDecompressor(spark.sparkContext.hadoopConfiguration, fsOps,
        config.getIntOpt("thread_pool_size").getOrElse(8))
        .run(config.getString("source_dir"))
    }
    // --- versioned-table lake maintenance (catalog/VersionedTable.scala):
    // time travel, CDC, restore, vacuum as params-surface algorithms so
    // the q76-class JobRunner pipelines can compose them ---
    case "VersionWrite" =>
      val s = spark
      new Algorithm {
        val spark: SparkSession = s
        override def read(): Vector[DataFrame] = Vector(readInput("source_dir"))
        override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
          dfs
        override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
          val root = config.getString("table_root")
          val ts = config.getLong("ts")
          val op = config.getStringOpt("op").getOrElse("write")
          val parts = config.getSeq[String]("partition_cols")
          // OCC composes only with the plain layout today: silently
          // dropping expected_version for indexed/partitioned writes
          // would be exactly the lost update the option exists to prevent
          require(config.getOpt[Any]("expected_version").isEmpty
              || (config.getStringOpt("index_col").isEmpty
                && config.getStringOpt("x_col").isEmpty && parts.isEmpty),
            "expected_version is not supported together with index_col/" +
              "x_col/partition_cols — it would be silently ignored")
          (config.getStringOpt("index_col"),
              config.getStringOpt("x_col")) match {
            case (Some(ic), _) => graft.catalog.VersionedTable.writeIndexed(
              dfs.head, fsOps, root, ts, ic,
              config.getIntOpt("num_files").getOrElse(10), op)
            case (None, Some(x)) => graft.catalog.VersionedTable
              .writeZIndexed(dfs.head, fsOps, root, ts, x,
                config.getString("y_col"),
                config.getIntOpt("bits").getOrElse(16),
                config.getIntOpt("num_files").getOrElse(10), op)
            case _ if parts.nonEmpty => graft.catalog.VersionedTable
              .writePartitioned(dfs.head, fsOps, root, ts, parts, op)
            case _ => config.getOpt[Any]("expected_version") match {
              case Some(_) => graft.catalog.VersionedTable.writeIf(
                dfs.head, fsOps, root, ts,
                config.getLong("expected_version"), op)
              case None => graft.catalog.VersionedTable.write(
                dfs.head, fsOps, root, ts, op)
            }
          }
          dfs
        }
      }
    case "VersionMerge" =>
      val s = spark
      new Algorithm {
        val spark: SparkSession = s
        override def read(): Vector[DataFrame] = Vector(readInput("upserts_dir"))
        override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] =
          dfs
        override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
          val keys = config.getSeq[String]("key_columns")
          val deletes = config.getStringOpt("delete_keys_dir")
            .map(d => fmt(config).read(s, Map.empty, None, d))
            .getOrElse(dfs.head.select(keys.map(
              org.apache.spark.sql.functions.col): _*).limit(0))
          graft.catalog.VersionedTable.merge(s, fsOps,
            config.getString("table_root"), dfs.head, deletes, keys,
            config.getLong("ts"),
            config.getStringOpt("op").getOrElse("merge"))
          dfs
        }
      }
    case "VersionRead" =>
      val s = spark
      new Overwrite {
        override def read(): Vector[DataFrame] = {
          val root = config.getString("table_root")
          val vt = graft.catalog.VersionedTable
          val df = (config.getOpt[Any]("version"),
              config.getOpt[Any]("as_of_ts")) match {
            case (Some(_), _) =>
              val v = config.getLong("version")
              (config.getStringOpt("index_col"),
                  config.getStringOpt("x_col")) match {
                case (Some(ic), _) => vt.readVersionPruned(s, fsOps,
                  root, v, ic, config.getLong("lo"), config.getLong("hi"))
                case (None, Some(x)) => vt.readVersionPrunedRect(s,
                  fsOps, root, v, x, config.getString("y_col"),
                  config.getLong("x_lo"), config.getLong("x_hi"),
                  config.getLong("y_lo"), config.getLong("y_hi"))
                case _ => vt.readVersion(s, fsOps, root, v)
              }
            case (None, Some(_)) =>
              vt.readAsOf(s, fsOps, root, config.getLong("as_of_ts"))
            case _ => vt.readLatest(s, fsOps, root)
          }
          Vector(df)
        }
      }
    case "VersionDiff" =>
      val s = spark
      new Overwrite {
        override def read(): Vector[DataFrame] = {
          val vt = graft.catalog.VersionedTable
          val root = config.getString("table_root")
          val keys = config.getSeq[String]("key_columns")
          val fromV = config.getLong("from_version")
          val toV = config.getLong("to_version")
          val check = config.getBoolean("check_unique_keys",
            default = false)
          Vector(
            if (config.getStringOpt("mode").contains("changefeed"))
              vt.changeFeed(s, fsOps, root, fromV, toV, keys, check)
            else vt.diff(s, fsOps, root, fromV, toV, keys, check))
        }
      }
    case "VersionRestore" => sideEffect {
      graft.catalog.VersionedTable.restore(spark, fsOps,
        config.getString("table_root"), config.getLong("version"),
        config.getLong("ts"))
    }
    case "VersionCompact" => sideEffect {
      graft.catalog.VersionedTable.compact(spark, fsOps,
        config.getString("table_root"), config.getLong("ts"),
        config.getIntOpt("num_files").getOrElse(10),
        config.getStringOpt("index_col"))
    }
    case "MaintainedViewCatchUp" => sideEffect {
      graft.streaming.MaintainedView.catchUp(spark, fsOps,
        config.getString("table_root"),
        config.getString("state_root"),
        config.getSeq[String]("cdc_key_columns"),
        config.getSeq[String]("key_columns"),
        config.getSeq[String]("sum_columns"),
        config.getSeq[String]("min_columns"),
        config.getSeq[String]("max_columns"))
    }
    case "MaintainedViewRunOnce" => sideEffect {
      val src = config.getString("source_dir")
      graft.streaming.MaintainedView.runOnce(spark,
        spark.read.parquet(src).schema, src,
        config.getString("state_root"),
        config.getSeq[String]("key_columns"),
        config.getSeq[String]("sum_columns"),
        config.getStringOpt("query_name")
          .getOrElse("maintained_view"),
        weightCol = config.getStringOpt("weight_column"),
        maxFilesPerTrigger = config.getIntOpt("max_files_per_trigger"),
        minCols = config.getSeq[String]("min_columns"),
        maxCols = config.getSeq[String]("max_columns"),
        checkpointLocation =
          config.getStringOpt("checkpoint_location"))
    }
    case "CorpusArtifactsCatchUp" => sideEffect {
      graft.operators.CorpusMaintenance.catchUpArtifacts(spark, fsOps,
        config.getString("corpus_root"),
        config.getString("artifacts_root"),
        config.getString("id_column"), config.getString("text_column"),
        config.getIntOpt("shingle_size").getOrElse(3),
        config.getIntOpt("minhash_k").getOrElse(32),
        buckets = config.getIntOpt("buckets"))
    }
    case "VectorIndexCatchUp" => sideEffect {
      graft.operators.VectorIndexMaintenance.catchUpIndex(spark, fsOps,
        config.getString("embeddings_root"),
        config.getString("index_root"),
        config.getString("id_column"),
        config.getString("vector_column"), config.getInt("dim"),
        config.getIntOpt("m").getOrElse(8),
        config.getIntOpt("ks").getOrElse(16),
        config.getIntOpt("centroids").getOrElse(32),
        buckets = config.getIntOpt("buckets"))
    }
    case "VectorIndexRebuild" => sideEffect {
      graft.operators.VectorIndexMaintenance.rebuild(spark, fsOps,
        config.getString("embeddings_root"),
        config.getString("index_root"),
        config.getString("id_column"),
        config.getString("vector_column"), config.getInt("dim"),
        config.getIntOpt("m").getOrElse(8),
        config.getIntOpt("ks").getOrElse(16),
        config.getIntOpt("centroids").getOrElse(32))
    }
    case "VersionVacuum" => sideEffect {
      graft.catalog.VersionedTable.vacuum(fsOps,
        config.getString("table_root"), config.getInt("keep_last"),
        sweepUncommitted = config.getBoolean("sweep_uncommitted",
          default = false),
        retentionMs = config.getOpt[Any]("retention_ms")
          .map(_ => config.getLong("retention_ms"))
          .getOrElse(graft.catalog.VersionedTable.DefaultRetentionMs),
        force = config.getBoolean("force", default = false))
    }
    case "IncrementalAggRefresh" =>
      val s = spark
      new Overwrite {
        override def read(): Vector[DataFrame] =
          Vector(readParquet("state_dir"), readInput("delta_dir"))
        override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] = {
          val Vector(state, delta) = dfs
          val ia = graft.operators.IncrementalAgg
          val keys = config.getSeq[String]("key_columns")
          val sums = config.getSeq[String]("sum_columns")
          val mins = config.getSeq[String]("min_columns")
          val maxs = config.getSeq[String]("max_columns")
          val w = config.getStringOpt("weight_column")
          val out =
            if (config.getBoolean("from_changes", default = false)) {
              // CDC weights come from change_type, never a caller column
              require(w.isEmpty,
                "from_changes derives row weights from change_type; " +
                  "drop weight_column")
              config.getStringOpt("new_base_dir") match {
                case Some(nb) =>
                  // min/max under a CDC feed: touched groups recompute
                  // from the post-change base (refreshFromChangesWithRecompute)
                  require(mins.nonEmpty || maxs.nonEmpty,
                    "new_base_dir with from_changes exists for min/max " +
                      "recompute; drop it for pure count/sum state")
                  ia.refreshFromChangesWithRecompute(state, delta,
                    fmt(config).read(s, Map.empty, None, nb), keys, sums,
                    mins, maxs)
                case None =>
                  require(mins.isEmpty && maxs.isEmpty,
                    "min_columns/max_columns with from_changes need " +
                      "new_base_dir (min/max are not retractable from a " +
                      "CDC feed alone — the feed-touched groups recompute " +
                      "from the base AFTER the change batch)")
                  ia.refreshFromChanges(state, delta, keys, sums)
              }
            } else config.getStringOpt("new_base_dir") match {
              case Some(nb) => ia.refreshWithRecompute(state, delta,
                fmt(config).read(s, Map.empty, None, nb), keys, sums,
                mins, maxs, w)
              case None => ia.refresh(state, delta, keys, sums, mins,
                maxs, w)
            }
          Vector(out)
        }
      }
    case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
  }
}
