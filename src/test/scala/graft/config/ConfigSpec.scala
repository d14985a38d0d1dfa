package graft.config

import graft.SparkSpec
import graft.core.AlgoRegistry
import graft.fsops.FsOps

class JsonConfigSpec extends SparkSpec {
  test("parses typed values, lists and nested maps") {
    val c = JsonConfig.parse(
      """{"s":"x","i":5,"b":true,"l":["a","b"],"m":{"k":1},"d":2.5}""")
    c.getString("s") shouldBe "x"
    c.getInt("i") shouldBe 5
    c.getBoolean("b") shouldBe true
    c.getSeq[String]("l") shouldBe Seq("a", "b")
    c.getOpt[Map[String, Any]]("m").get("k") shouldBe 1
    c.getIntOpt("missing") shouldBe None
    an[NoSuchElementException] should be thrownBy c.get[String]("nope")
    // required getDouble: a missing key fails with the KEY NAME, not a
    // downstream sentinel-validation message
    c.getDouble("d") shouldBe 2.5
    c.getDouble("i") shouldBe 5.0
    val e = intercept[NoSuchElementException] {
      c.getDouble("budget_per_group")
    }
    e.getMessage should include("budget_per_group")
  }

  test("TokenBudgetMix without budget_per_group fails naming the key") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val src = tmp("cfg_tbm_src") + "/t"
    Seq((1L, "g", 10)).toDF("doc_id", "grp", "w").write.parquet(src)
    val tgt = tmp("cfg_tbm_tgt") + "/t"
    val algo = AlgoRegistry.create("TokenBudgetMix", spark,
      new FsOps(spark.sparkContext.hadoopConfiguration), JsonConfig.parse(
        s"""{"source_dir":"$src","target_dir":"$tgt",
           |"id_column":"doc_id","group_column":"grp",
           |"weight_column":"w"}""".stripMargin.replaceAll("\n", "")))
    val e = intercept[NoSuchElementException] { algo.run() }
    e.getMessage should include("budget_per_group")
  }

  /** Runs `name` over a one-row parquet source (doc_id, grp, w) with the
    * extra params `extra(source_dir)` (JSON object members).
    */
  private def runWith(name: String)(extra: String => String): Unit = {
    val spark2 = spark
    import spark2.implicits._
    val src = tmp("cfg_bad_src") + "/t"
    Seq((1L, "g", 10L)).toDF("doc_id", "grp", "w").write.parquet(src)
    AlgoRegistry.create(name, spark,
      new FsOps(spark.sparkContext.hadoopConfiguration), JsonConfig.parse(
        s"""{"source_dir":"$src","target_dir":"${tmp("cfg_bad_tgt")}/t",""" +
          extra(src) + "}")).run()
  }

  private def stringFields(names: String*): String =
    names.map(n =>
      s"""{"name":"$n","type":"string","nullable":true,"metadata":{}}""")
      .mkString("""{"type":"struct","fields":[""", ",", "]}")

  test("NestedFlattener with a non-numeric side_flatten fails naming it") {
    val e = intercept[IllegalArgumentException] {
      runWith("NestedFlattener")(_ => """"side_flatten":{"grp":"two"}""")
    }
    e.getMessage should include("side_flatten.grp")
  }

  test("StratifiedSample with a non-numeric fraction fails naming it") {
    val e = intercept[IllegalArgumentException] {
      runWith("StratifiedSample")(_ => """"id_column":"doc_id",""" +
        """"strata_column":"grp","fractions":{"g":"half"}""")
    }
    e.getMessage should include("fractions.g")
  }

  test("MixtureReweight with a non-numeric proportion fails naming it") {
    val e = intercept[IllegalArgumentException] {
      runWith("MixtureReweight")(_ => """"id_column":"doc_id",""" +
        """"group_column":"grp","weight_column":"w",""" +
        """"proportions":{"g":"most"},"total_budget":5""")
    }
    e.getMessage should include("proportions.g")
  }

  test("QueryMaterialization with a select_conditions entry lacking '=' " +
      "fails naming the key") {
    val e = intercept[IllegalArgumentException] {
      runWith("QueryMaterialization")(_ =>
        """"select_conditions":[["grp"]]""")
    }
    e.getMessage should include("select_conditions")
  }

  test("FixedSizeStringExtractor with a position lacking '-' fails naming " +
      "the key") {
    val e = intercept[IllegalArgumentException] {
      runWith("FixedSizeStringExtractor")(_ => """"source_field":"grp",""" +
        s""""target_schema":${stringFields("a")},""" +
        """"substring_positions":["1"]""")
    }
    e.getMessage should include("substring_positions")
  }

  test("FixedSizeStringExtractor with fewer positions than schema fields " +
      "fails naming the key instead of dropping fields") {
    val e = intercept[IllegalArgumentException] {
      runWith("FixedSizeStringExtractor")(_ => """"source_field":"grp",""" +
        s""""target_schema":${stringFields("a", "b")},""" +
        """"substring_positions":["1-1"]""")
    }
    e.getMessage should include("substring_positions")
  }

  test("NumericDrift without hi fails naming the key") {
    val e = intercept[NoSuchElementException] {
      runWith("NumericDrift")(src =>
        s""""value_column":"w","previous_dir":"$src"""")
    }
    e.getMessage should include("missing config key: hi")
  }
}

class AlgoRegistrySpec extends SparkSpec {
  import spark.implicits._

  test("FullLoad built from a params JSON runs end to end") {
    val landing = tmp("reg_landing")
    val target = tmp("reg_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "d.psv"), "1|20200605\n")
    val config = JsonConfig.parse(
      s"""{"source_dir":"$landing","target_dir":"$target",
         |"file_format":"dsv","delimiter":"|",
         |"partition_column":"date","partition_column_format":"yyyyMMdd",
         |"target_partitions":["year","month"],
         |"target_schema":{"type":"struct","fields":[
         |  {"name":"id","type":"integer","nullable":true,"metadata":{}},
         |  {"name":"date","type":"string","nullable":true,"metadata":{}},
         |  {"name":"year","type":"short","nullable":true,"metadata":{}},
         |  {"name":"month","type":"short","nullable":true,"metadata":{}}]}}
         |""".stripMargin.replaceAll("\n", ""))
    AlgoRegistry.create("FullLoad", spark,
      new FsOps(spark.sparkContext.hadoopConfiguration), config).run()
    val out = spark.read.option("basePath", target).parquet(target)
    out.select($"id", $"year".cast("int"), $"month".cast("int"))
      .as[(Int, Int, Int)].collect() shouldBe Array((1, 2020, 6))
  }

  test("Transpose and SQLRunner and QueryMaterialization from params JSON") {
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    // Transpose
    val src = tmp("reg2_src") + "/t"; val tgt = tmp("reg2_tgt") + "/t"
    Seq((1, "a", 10), (1, "b", 20)).toDF("id", "key", "v").write.parquet(src)
    AlgoRegistry.create("Transpose", spark, fsOps, JsonConfig.parse(
      s"""{"source_dir":"$src","target_dir":"$tgt","file_format":"parquet",
         |"group_by_column":["id"],"pivot_column":"key",
         |"pivot_values":["a","b"],"aggregation_column":"v"}"""
        .stripMargin.replaceAll("\n", ""))).run()
    spark.read.parquet(tgt).collect().head.toSeq shouldBe Seq(1, 10, 20)
    // SQLRunner
    AlgoRegistry.create("SQLRunner", spark, fsOps, JsonConfig.parse(
      """{"steps":2,
        |"1":"CREATE OR REPLACE TEMPORARY VIEW reg_sql AS SELECT 7 AS x",
        |"2":"SELECT x FROM reg_sql"}""".stripMargin.replaceAll("\n", ""))).run()
    // QueryMaterialization
    val msrc = tmp("reg3_src") + "/t"; val mtgt = tmp("reg3_tgt")
    Seq((1, "F"), (2, "O")).toDF("v", "st").write.partitionBy("st").parquet(msrc)
    AlgoRegistry.create("QueryMaterialization", spark, fsOps, JsonConfig.parse(
      s"""{"source_dir":"$msrc","target_dir":"$mtgt",
         |"select_conditions":[["st=F"]],"target_partitions":["st"]}"""
        .stripMargin.replaceAll("\n", ""))).run()
    val ver = fsOps.ls(mtgt).filter(_.startsWith("data_")).sorted.last
    spark.read.option("basePath", s"$mtgt/$ver").parquet(s"$mtgt/$ver")
      .select($"v").as[Int].collect() shouldBe Array(1)
  }

  /** Every name `create` accepts, aliases included. */
  private val registered = Seq(
      "FullLoad", "AppendLoad", "DeltaLoad", "DeltaMergeLoad",
      "DeltaLakeLoad", "FullMaterialization", "RangeMaterialization",
      "QueryMaterialization", "Transpose", "NestedFlattener",
      "FixedSizeStringExtractor", "SQLRunner", "CorpusDedup",
      "CorpusDedupClusters", "StratifiedSample", "SequencePacking",
      "PackingStats", "Decontaminate", "IncrementalDedup", "Funnel",
      "Retention", "PathNgrams", "StepLatency", "ConversionCurve",
      "TransitionMatrix", "EmbeddingNormStats", "LabelCentroidSimilarity",
      "FeatureCorr", "VocabDiff", "CharsetProfile", "VocabConcentration",
      "LangId", "VolumeAnomaliesPerGroup", "FunctionalDependency",
      "NoveltyScores", "KAnonymity", "DecayedScore", "BigramQuality",
      "DpCounts", "DpSum", "HeavyHitters", "KeySkewReport",
      "WatermarkLateness", "EmbeddingCovariance", "PrincipalComponent",
      "KMeansCentroids", "Bm25Retrieval", "Bm25Artifacts", "Bm25Score",
      "FuseRankings", "RetrievalEval", "TokenizerFertility", "ScriptProfile",
      "MixedLanguageReport", "BbitEstimate", "PairSetEval", "NucleusSelect",
      "AugmentSpanMask", "NormalizeHomoglyphs", "LDiversity",
      "WinnowCandidates", "AugmentTokenDropout", "UrlCanonicalReport",
      "MmrRerank", "RougeEval", "DatasetCard", "DecontaminateArtifacts",
      "BpeTokenCounts", "CmsJoinSize", "KnnLabelCheck", "SemDedup",
      "LabelPropagation", "LeakageSafeSplit", "TemperatureSample",
      "HardNegatives", "PqCodes", "PqSearch", "PqSearchRerank",
      "RandomProjection", "IvfPqSearch", "PqCodebooks", "IvfCentroids",
      "IvfPqCodes", "IvfPqSearchPrepared", "MediaNearDup", "NegativeSamples",
      "UpsampleBalanced", "QuantileSketch", "PageRank", "Hits", "BpeVocab",
      "BpeSegment", "BigramModel", "BigramScore", "MinKProb", "Readability",
      "BlocklistReport", "BlocklistFilter", "UrlDomains",
      "CompressionSignals", "ColumnProfile", "KeyReconciliation",
      "RollingVolume", "Burstiness", "VolumeAnomalies", "ZipfSlope",
      "SessionSummary", "DistinctIntensity", "TopValues", "CorrPerGroup",
      "KsDistance", "SeasonalityProfile", "PiiStats", "ConfusionMatrix",
      "MixtureReport", "GroupedHistogram", "CohenKappa", "MutualInformation",
      "LorenzCurve", "GiniConcentration", "ContingencyAssociation",
      "SessionStats", "AssociationRules", "SnapshotDiff", "CategoryDrift",
      "NumericDrift", "Pseudonymize", "CmsSketch", "CmsEstimate", "HllSketch",
      "HllEstimate", "AsOfJoin", "RecordLinkage", "SortedExportManifest",
      "AsOfInterpolate", "Debounce", "TimeWeightedAverage", "RangeJoinPoints",
      "IntervalOverlap", "MergeIntervals", "DedupArtifacts", "HashSplit",
      "WeightedSample", "PrioritySample", "SourceCap", "TokenBudgetMix",
      "BootstrapSample", "UniMaxMix", "UniMaxSelect", "NaiveBayesClassify",
      "ConfidentJoint", "RepeatedSpans", "SpanArtifacts", "SpanIncrement",
      "RemoveRepeatedSpans", "NaiveBayesModel", "NaiveBayesScore",
      "DsirWeights", "DsirArtifacts", "DsirScore", "DsirSelect",
      "GopherRules", "GopherFilter", "EditDistancePairs",
      "SemanticDecontaminate", "QualityChecks", "QuantileBand",
      "SplitBalance", "WeightedQuantiles", "ScoreBuckets", "MadPerGroup",
      "QuantileNormalize", "Winsorize", "MixtureReweight", "NormalizeText",
      "Collocations", "ConflictingMetadata", "DedupStats",
      "EmbeddingOutliers", "TopTerms", "Boilerplate", "ChunkText",
      "ChunkNovelty", "CrossSourceDups", "MediaDedup", "PiiRedaction",
      "RepetitionSignals", "CorpusShuffle", "UnigramQuality",
      "UnigramVocabulary", "GzipDecompressorBytes", "GzipDecompressor",
      "VersionWrite", "VersionMerge", "VersionRead", "VersionDiff",
      "VersionRestore", "VersionCompact", "MaintainedViewCatchUp",
      "MaintainedViewRunOnce", "CorpusArtifactsCatchUp", "CorpusAdmit",
      "VectorIndexCatchUp", "VectorIndexRebuild", "VectorIndexStaleness",
      "VectorIndexSearch", "VersionVacuum", "IncrementalAggInit",
      "IncrementalAggRefresh")

  test("every registered name dispatches; a misspelled name is unknown") {
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val empty = JsonConfig.parse("{}")
    registered.distinct.size shouldBe 209
    registered.foreach { name =>
      val failure =
        try { AlgoRegistry.create(name, spark, fsOps, empty); "" }
        catch { case e: Exception => String.valueOf(e.getMessage) }
      withClue(name) { failure should not include "unknown algorithm" }
    }
    val e = intercept[IllegalArgumentException] {
      AlgoRegistry.create("FullLaod", spark, fsOps, empty)
    }
    e.getMessage shouldBe "unknown algorithm: FullLaod"
  }
}
