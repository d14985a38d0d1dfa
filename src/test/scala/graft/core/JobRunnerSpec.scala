package graft.core

import graft.SparkSpec
import graft.algos.SQLRunner
import org.apache.spark.sql.types._

class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("main() runs FullLoad end-to-end from a params file (spark-submit parity)") {
    val landing = tmp("jr_landing")
    val target = tmp("jr_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "data.psv"),
      "1|20160601|x|5\n2|20170215|y|6\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("date", StringType),
      StructField("name", StringType), StructField("amount", IntegerType),
      StructField("year", ShortType), StructField("month", ShortType)))
    val params =
      s"""{
         |  "source_dir": "$landing",
         |  "target_dir": "$target",
         |  "file_format": "dsv",
         |  "delimiter": "|",
         |  "has_header": false,
         |  "target_schema": ${schema.json},
         |  "partition_column": "date",
         |  "target_partitions": ["year", "month"],
         |  "output_files_num": 1
         |}""".stripMargin
    val paramsPath = tmp("jr_params") + "/params.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(paramsPath), params)
    // simulate the harness case: a session already exists before main()
    spark.sparkContext
    JobRunner.main(Array("FullLoad", paramsPath))
    // under a harness, main() must not tear down the shared session
    spark.sparkContext.isStopped shouldBe false
    val out = spark.read.option("basePath", target).parquet(target)
    out.count() shouldBe 2
    out.filter($"id" === 1).select($"year".cast("int"), $"month".cast("int"))
      .collect().head.toSeq shouldBe Seq(2016, 6)
  }

  test("curation algorithms run through the params-JSON surface") {
    import org.apache.spark.sql.functions.col
    val src = tmp("jr_cd_src") + "/t"
    val target = tmp("jr_cd_tgt") + "/t"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "totally different words in this one about engines and planes"))
      .toDF("doc_id", "text").write.parquet(src)
    val params = tmp("jr_cd_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params),
      s"""{"source_dir": "$src", "target_dir": "$target",
         | "id_column": "doc_id", "text_column": "text",
         | "jaccard_threshold": 0.5, "output_files_num": 1}""".stripMargin)
    JobRunner.execute(spark, "CorpusDedup", params)
    spark.read.parquet(target).select(col("doc_id")).as[Long]
      .collect().sorted shouldBe Array(1L, 3L)

    // cluster-level variant: same corpus, one survivor per component,
    // labels cache released after the write
    val cachedBeforeCdc = spark.sparkContext.getPersistentRDDs.keySet
    val tgtCdc = tmp("jr_cdc_tgt") + "/t"
    val paramsCdc = tmp("jr_cdc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsCdc),
      s"""{"source_dir": "$src", "target_dir": "$tgtCdc",
         | "id_column": "doc_id", "text_column": "text",
         | "jaccard_threshold": 0.5, "output_files_num": 1}""".stripMargin)
    JobRunner.execute(spark, "CorpusDedupClusters", paramsCdc)
    spark.read.parquet(tgtCdc).select(col("doc_id")).as[Long]
      .collect().sorted shouldBe Array(1L, 3L)
    // no NEW persistent RDDs may survive the run (≤, not ==: the shared
    // session's ContextCleaner releases other suites' dropped blocks
    // asynchronously, so the count can legitimately SHRINK mid-test)
    (spark.sparkContext.getPersistentRDDs.keySet -- cachedBeforeCdc) shouldBe empty

    // score_column flips the survivor policy: the near-dup cluster keeps
    // its highest-quality member instead of the min id
    val srcQ2 = tmp("jr_cdq_src") + "/t"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again", 1),
      (2L, "the quick brown fox jumps over the lazy dog again and again more", 9),
      (3L, "totally different words in this one about engines and planes", 5))
      .toDF("doc_id", "text", "quality").write.parquet(srcQ2)
    val tgtQ2 = tmp("jr_cdq_tgt") + "/t"
    val paramsQ2 = tmp("jr_cdq_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsQ2),
      s"""{"source_dir": "$srcQ2", "target_dir": "$tgtQ2",
         | "id_column": "doc_id", "text_column": "text",
         | "jaccard_threshold": 0.5, "score_column": "quality",
         | "output_files_num": 1}""".stripMargin)
    JobRunner.execute(spark, "CorpusDedupClusters", paramsQ2)
    spark.read.parquet(tgtQ2).select(col("doc_id")).as[Long]
      .collect().sorted shouldBe Array(2L, 3L)

    val tgt2 = tmp("jr_ss_tgt") + "/t"
    val params2 = tmp("jr_ss_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params2),
      s"""{"source_dir": "$src", "target_dir": "$tgt2",
         | "id_column": "doc_id", "strata_column": "text",
         | "fractions": {}, "default_fraction": 1.0}""".stripMargin)
    JobRunner.execute(spark, "StratifiedSample", params2)
    spark.read.parquet(tgt2).count() shouldBe 3

    val tgt3 = tmp("jr_sp_tgt") + "/t"
    val params3 = tmp("jr_sp_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params3),
      s"""{"source_dir": "$src", "target_dir": "$tgt3",
         | "id_column": "doc_id", "text_column": "text",
         | "budget_tokens": 16}""".stripMargin)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    JobRunner.execute(spark, "SequencePacking", params3)
    // the packing operator's load-bearing persisted intermediate must be
    // released once the output write lands — a long-lived session running
    // the algorithm repeatedly must not accrete pinned caches
    // id SETS, not counts: checkpoint blocks from EARLIER tests are
    // GC-cleaned asynchronously (counts can drop mid-test and mask one
    // new pinned cache); asserting no NEW ids accrete is immune to
    // concurrent cleanup while still catching every leak
    (spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore) shouldBe empty
    val packed = spark.read.parquet(tgt3)
    packed.count() shouldBe 3
    packed.columns should contain allOf ("chunk_id", "offset_in_chunk")

    val tgt4 = tmp("jr_rs_tgt") + "/t"
    val params4 = tmp("jr_rs_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params4),
      s"""{"source_dir": "$src", "target_dir": "$tgt4",
         | "id_column": "doc_id", "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "RepetitionSignals", params4)
    spark.read.parquet(tgt4).columns should contain allOf
      ("dup_2gram_fraction", "top_2gram_fraction")

    val tgt5 = tmp("jr_cs_tgt") + "/t"
    val params5 = tmp("jr_cs_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params5),
      s"""{"source_dir": "$src", "target_dir": "$tgt5",
         | "id_column": "doc_id", "num_shards": 2}""".stripMargin)
    JobRunner.execute(spark, "CorpusShuffle", params5)
    val shuffled = spark.read.parquet(tgt5)
    shuffled.count() shouldBe 3
    shuffled.columns should contain allOf ("shard", "pos_in_shard")

    val tgt6 = tmp("jr_pr_tgt") + "/t"
    val params6 = tmp("jr_pr_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params6),
      s"""{"source_dir": "$src", "target_dir": "$tgt6",
         | "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "PiiRedaction", params6)
    spark.read.parquet(tgt6).columns should contain allOf
      ("red_text", "n_email")

    // media dedup through the params surface: min-id survivor per payload
    val srcM = tmp("jr_md_src") + "/t"
    Seq((1L, "blobA".getBytes), (2L, "blobB".getBytes),
      (3L, "blobA".getBytes)).toDF("doc_id", "payload").write.parquet(srcM)
    val tgtM = tmp("jr_md_tgt") + "/t"
    val paramsM = tmp("jr_md_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsM),
      s"""{"source_dir": "$srcM", "target_dir": "$tgtM",
         | "id_column": "doc_id", "payload_column": "payload"}""".stripMargin)
    JobRunner.execute(spark, "MediaDedup", paramsM)
    spark.read.parquet(tgtM).select(col("doc_id")).as[Long]
      .collect().sorted shouldBe Array(1L, 2L)

    val tgtHs = tmp("jr_hs_tgt") + "/t"
    val paramsHs = tmp("jr_hs_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsHs),
      s"""{"source_dir": "$src", "target_dir": "$tgtHs",
         | "id_column": "doc_id",
         | "splits": [{"name": "train", "weight": 2},
         |            {"name": "eval", "weight": 1}]}""".stripMargin)
    JobRunner.execute(spark, "HashSplit", paramsHs)
    val split = spark.read.parquet(tgtHs)
    split.count() shouldBe 3
    // every row labeled with one of the configured splits
    split.filter(col("split").isin("train", "eval")).count() shouldBe 3

    val benchDir = tmp("jr_dc_bench") + "/b"
    Seq("quick brown fox jumps over the lazy")
      .toDF("qtext").write.parquet(benchDir)
    val tgt7 = tmp("jr_dc_tgt") + "/t"
    val params7 = tmp("jr_dc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params7),
      s"""{"source_dir": "$src", "target_dir": "$tgt7",
         | "benchmark_dir": "$benchDir",
         | "id_column": "doc_id", "text_column": "text",
         | "benchmark_text_column": "qtext",
         | "ngram_size": 5, "min_overlap": 1}""".stripMargin)
    JobRunner.execute(spark, "Decontaminate", params7)
    // docs 1 and 2 contain the benchmark phrase and are dropped
    spark.read.parquet(tgt7).select(col("doc_id")).as[Long]
      .collect() shouldBe Array(3L)

    // use_bloom routes through the bloom prefilter — identical survivors
    val tgt7b = tmp("jr_dcb_tgt") + "/t"
    val params7b = tmp("jr_dcb_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params7b),
      s"""{"source_dir": "$src", "target_dir": "$tgt7b",
         | "benchmark_dir": "$benchDir",
         | "id_column": "doc_id", "text_column": "text",
         | "benchmark_text_column": "qtext",
         | "ngram_size": 5, "min_overlap": 1, "use_bloom": true}""".stripMargin)
    JobRunner.execute(spark, "Decontaminate", params7b)
    spark.read.parquet(tgt7b).select(col("doc_id")).as[Long]
      .collect() shouldBe Array(3L)

    // incremental dedup: the landed corpus disqualifies incoming dups
    val exDir = tmp("jr_inc_ex") + "/e"
    Seq((100L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text").write.parquet(exDir)
    val tgt7c = tmp("jr_inc_tgt") + "/t"
    val params7c = tmp("jr_inc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params7c),
      s"""{"source_dir": "$src", "target_dir": "$tgt7c",
         | "existing_dir": "$exDir",
         | "id_column": "doc_id", "text_column": "text",
         | "threshold": 0.5}""".stripMargin)
    JobRunner.execute(spark, "IncrementalDedup", params7c)
    // docs 1 and 2 are exact dups of the landed corpus; 3 survives
    spark.read.parquet(tgt7c).select(col("doc_id")).as[Long]
      .collect() shouldBe Array(3L)

    // artifacts flow: generate once per landed batch, feed increments
    val artDir = tmp("jr_art_tgt") + "/a"
    val paramsArt = tmp("jr_art_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsArt),
      s"""{"source_dir": "$exDir", "target_dir": "$artDir",
         | "id_column": "doc_id", "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "DedupArtifacts", paramsArt)
    val tgt7d = tmp("jr_inc2_tgt") + "/t"
    val params7d = tmp("jr_inc2_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params7d),
      s"""{"source_dir": "$src", "target_dir": "$tgt7d",
         | "existing_dir": "$exDir", "artifacts_dir": "$artDir",
         | "id_column": "doc_id", "text_column": "text",
         | "threshold": 0.5}""".stripMargin)
    JobRunner.execute(spark, "IncrementalDedup", params7d)
    spark.read.parquet(tgt7d).select(col("doc_id")).as[Long]
      .collect() shouldBe Array(3L)

    // token-budget mixing through the params surface
    val srcW = tmp("jr_tbm_src") + "/t"
    (1L to 50L).map(i => (i, "g", 10)).toDF("doc_id", "grp", "w")
      .write.parquet(srcW)
    val tgtW = tmp("jr_tbm_tgt") + "/t"
    val paramsW = tmp("jr_tbm_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsW),
      s"""{"source_dir": "$srcW", "target_dir": "$tgtW",
         | "id_column": "doc_id", "group_column": "grp",
         | "weight_column": "w", "budget_per_group": 95}""".stripMargin)
    JobRunner.execute(spark, "TokenBudgetMix", paramsW)
    // 9 rows fill 90 < 95; the 10th crosses and is kept
    spark.read.parquet(tgtW).count() shouldBe 10

    // Min-K% Prob through the params surface: model artifact built by
    // BigramModel, membership scores from the saved model
    val srcMk = tmp("jr_mink_src") + "/t"
    Seq((1L, "the cat sat on the mat"), (2L, "zxqv wvuk qqpl mmnx"))
      .toDF("doc_id", "text").write.parquet(srcMk)
    val mdlM = tmp("jr_mink_mdl") + "/m"
    val parM1 = tmp("jr_mink_par1") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(parM1),
      s"""{"source_dir": "$srcMk", "target_dir": "$mdlM",
         | "text_column": "text", "model_size": 16,
         | "history_size": 8}""".stripMargin)
    JobRunner.execute(spark, "BigramModel", parM1)
    val tgtMk = tmp("jr_mink_tgt") + "/t"
    val parM2 = tmp("jr_mink_par2") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(parM2),
      s"""{"source_dir": "$srcMk", "target_dir": "$tgtMk",
         | "model_dir": "$mdlM", "id_column": "doc_id",
         | "text_column": "text", "k_frac": 0.5}""".stripMargin)
    JobRunner.execute(spark, "MinKProb", parM2)
    val mk = spark.read.parquet(tgtMk)
    mk.count() shouldBe 2
    mk.columns should contain("mink_logprob")

    // bootstrap resample through the params surface: replicas explode,
    // zero-draw rows vanish
    val tgtB = tmp("jr_boot_tgt") + "/t"
    val paramsB = tmp("jr_boot_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsB),
      s"""{"source_dir": "$srcW", "target_dir": "$tgtB",
         | "id_column": "doc_id", "lambda": 1.0}""".stripMargin)
    JobRunner.execute(spark, "BootstrapSample", paramsB)
    val boot = spark.read.parquet(tgtB)
    boot.columns should contain("replica")
    boot.count() should be > 0L

    // UniMax waterfill through the params surface: weights a=10 b=20
    // c=100, E=2, B=100 -> a and b capped (20/40), c takes the
    // remaining 40 at 0.4 epochs
    val srcU = tmp("jr_umx_src") + "/t"
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 100))
      .toDF("doc_id", "grp", "w").write.parquet(srcU)
    val tgtU = tmp("jr_umx_tgt") + "/t"
    val paramsU = tmp("jr_umx_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsU),
      s"""{"source_dir": "$srcU", "target_dir": "$tgtU",
         | "group_column": "grp", "weight_column": "w",
         | "total_budget": 100, "max_epochs": 2}""".stripMargin)
    JobRunner.execute(spark, "UniMaxMix", paramsU)
    spark.read.parquet(tgtU)
      .select(col("grp"), col("allocated"), col("epochs"))
      .as[(String, Double, Double)].collect().sortBy(_._1) shouldBe
      Array(("a", 20.0, 2.0), ("b", 40.0, 2.0), ("c", 40.0, 0.4))
    val tgtU2 = tmp("jr_umxs_tgt") + "/t"
    val paramsU2 = tmp("jr_umxs_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsU2),
      s"""{"source_dir": "$srcU", "target_dir": "$tgtU2",
         | "id_column": "doc_id", "group_column": "grp",
         | "weight_column": "w", "total_budget": 100,
         | "max_epochs": 2}""".stripMargin)
    JobRunner.execute(spark, "UniMaxSelect", paramsU2)
    // every group's first row is its crossing row -> all kept
    spark.read.parquet(tgtU2).count() shouldBe 3

    // dedup telemetry through the params surface: the pair (1,2) is one
    // size-2 cluster
    val tgtDs = tmp("jr_ds_tgt") + "/t"
    val paramsDs = tmp("jr_ds_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsDs),
      s"""{"source_dir": "$srcQ2", "target_dir": "$tgtDs",
         | "id_column": "doc_id", "text_column": "text",
         | "jaccard_threshold": 0.5}""".stripMargin)
    JobRunner.execute(spark, "DedupStats", paramsDs)
    spark.read.parquet(tgtDs)
      .select(col("cluster_size"), col("n_clusters"), col("docs_removed"))
      .as[(Long, Long, Long)].collect() shouldBe Array((2L, 1L, 1L))

    // weighted Bernoulli sampling through the params surface: heavy rows
    // (w >= threshold) all survive, the light stratum thins
    val srcWs = tmp("jr_ws_src") + "/t"
    (1L to 200L).map(i => (i, if (i <= 100) 300 else 30))
      .toDF("doc_id", "w").write.parquet(srcWs)
    val tgtWs = tmp("jr_ws_tgt") + "/t"
    val paramsWs = tmp("jr_ws_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsWs),
      s"""{"source_dir": "$srcWs", "target_dir": "$tgtWs",
         | "id_column": "doc_id", "weight_column": "w",
         | "threshold": 300}""".stripMargin)
    JobRunner.execute(spark, "WeightedSample", paramsWs)
    val ws = spark.read.parquet(tgtWs)
    ws.filter(col("w") === 300).count() shouldBe 100
    ws.filter(col("w") === 30).count() should be < 40L

    // quality checks through the params surface: string rules parse,
    // the report lands as data
    val srcQ = tmp("jr_qc_src") + "/t"
    Seq((1L, 5.0), (2L, 500.0), (2L, 6.0)).toDF("id", "v")
      .write.parquet(srcQ)
    val tgtQ = tmp("jr_qc_tgt") + "/t"
    val paramsQ = tmp("jr_qc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsQ),
      s"""{"source_dir": "$srcQ", "target_dir": "$tgtQ",
         | "rules": ["not_null:id", "in_range:v:0:100", "unique:id"]}"""
        .stripMargin)
    JobRunner.execute(spark, "QualityChecks", paramsQ)
    val report = spark.read.parquet(tgtQ)
      .select(col("check_name"), col("violations"), col("passed"))
      .as[(String, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    report("not_null(id)") shouldBe ((0L, true))
    report("in_range(v,0.0,100.0)") shouldBe ((1L, false))
    report("unique(id)") shouldBe ((1L, false))

    val tgt8 = tmp("jr_uq_tgt") + "/t"
    val params8 = tmp("jr_uq_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params8),
      s"""{"source_dir": "$src", "target_dir": "$tgt8",
         | "id_column": "doc_id", "text_column": "text",
         | "vocab_size": 8}""".stripMargin)
    JobRunner.execute(spark, "UnigramQuality", params8)
    spark.read.parquet(tgt8).columns should contain ("unigram_logprob")

    // frozen-vocabulary flow: freeze the vocab once, then score against
    // it — byte-identical to the inline computation over the same corpus
    val vocabDir = tmp("jr_uv_tgt") + "/v"
    val params9 = tmp("jr_uv_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params9),
      s"""{"source_dir": "$src", "target_dir": "$vocabDir",
         | "text_column": "text", "vocab_size": 8}""".stripMargin)
    JobRunner.execute(spark, "UnigramVocabulary", params9)
    spark.read.parquet(vocabDir).columns shouldBe
      Array("token", "logprob", "oov_floor")
    val tgt10 = tmp("jr_uqf_tgt") + "/t"
    val params10 = tmp("jr_uqf_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(params10),
      s"""{"source_dir": "$src", "target_dir": "$tgt10",
         | "id_column": "doc_id", "text_column": "text",
         | "vocabulary_dir": "$vocabDir"}""".stripMargin)
    JobRunner.execute(spark, "UnigramQuality", params10)
    val frozenScores = spark.read.parquet(tgt10)
      .select(col("doc_id"), col("unigram_logprob"))
      .as[(Long, Double)].collect().toMap
    val inlineScores = spark.read.parquet(tgt8)
      .select(col("doc_id"), col("unigram_logprob"))
      .as[(Long, Double)].collect().toMap
    frozenScores shouldBe inlineScores

    // cross-doc boilerplate signals through the params surface: docs 1+2
    // are identical, so at min_docs=2 all their grams are common
    val tgtBp = tmp("jr_bp_tgt") + "/t"
    val paramsBp = tmp("jr_bp_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsBp),
      s"""{"source_dir": "$src", "target_dir": "$tgtBp",
         | "id_column": "doc_id", "text_column": "text",
         | "ngram_size": 3, "min_docs": 2}""".stripMargin)
    JobRunner.execute(spark, "Boilerplate", paramsBp)
    spark.read.parquet(tgtBp)
      .filter(col("doc_id") === 1L).select(col("common_fraction"))
      .as[Double].collect() shouldBe Array(1.0)

    // sliding-window chunking: stride defaults to chunk_tokens
    val tgtCt = tmp("jr_ct_tgt") + "/t"
    val paramsCt = tmp("jr_ct_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsCt),
      s"""{"source_dir": "$src", "target_dir": "$tgtCt",
         | "id_column": "doc_id", "text_column": "text",
         | "chunk_tokens": 6}""".stripMargin)
    JobRunner.execute(spark, "ChunkText", paramsCt)
    val chunksOut = spark.read.parquet(tgtCt)
    chunksOut.columns should contain allOf ("chunk_idx", "chunk_text",
      "n_tokens")
    chunksOut.filter(col("doc_id") === 1L).count() shouldBe 2 // 12 tokens

    // chunk novelty: doc 2 recycles doc 1 wholesale
    val tgtCn = tmp("jr_cn_tgt") + "/t"
    val paramsCn = tmp("jr_cn_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsCn),
      s"""{"source_dir": "$src", "target_dir": "$tgtCn",
         | "id_column": "doc_id", "text_column": "text",
         | "chunk_tokens": 6}""".stripMargin)
    JobRunner.execute(spark, "ChunkNovelty", paramsCn)
    spark.read.parquet(tgtCn).filter(col("doc_id") === 2L)
      .select(col("novel_fraction")).as[Double].collect() shouldBe
      Array(0.0)

    // cross-source dup matrix: identical docs 1 (srcA) and 2 (srcB)
    val srcXs = tmp("jr_xs_src") + "/t"
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again",
        "srcA"),
      (2L, "the quick brown fox jumps over the lazy dog again and again",
        "srcB"),
      (3L, "totally different words in this one about engines and planes",
        "srcA")).toDF("doc_id", "text", "source").write.parquet(srcXs)
    val tgtXs = tmp("jr_xs_tgt") + "/t"
    val paramsXs = tmp("jr_xs_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsXs),
      s"""{"source_dir": "$srcXs", "target_dir": "$tgtXs",
         | "id_column": "doc_id", "text_column": "text",
         | "source_column": "source"}""".stripMargin)
    JobRunner.execute(spark, "CrossSourceDups", paramsXs)
    spark.read.parquet(tgtXs)
      .as[(String, String, Long)].collect() shouldBe
      Array(("srcA", "srcB", 1L))

    // canonical normalization through the params surface
    val tgtNt = tmp("jr_nt_tgt") + "/t"
    val paramsNt = tmp("jr_nt_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsNt),
      s"""{"source_dir": "$src", "target_dir": "$tgtNt",
         | "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "NormalizeText", paramsNt)
    spark.read.parquet(tgtNt).filter(col("doc_id") === 1L)
      .select(col("norm_text")).as[String].collect().head shouldBe
      "the quick brown fox jumps over the lazy dog again and again"

    // top-terms vocabulary report through the params surface
    val tgtTt = tmp("jr_tt_tgt") + "/t"
    val paramsTt = tmp("jr_tt_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsTt),
      s"""{"source_dir": "$src", "target_dir": "$tgtTt",
         | "group_column": "doc_id", "text_column": "text",
         | "k": 1}""".stripMargin)
    JobRunner.execute(spark, "TopTerms", paramsTt)
    // doc 1's most frequent token: "again" (x2, tie with "the" x2 broken
    // by token order)
    spark.read.parquet(tgtTt).filter(col("doc_id") === 1L)
      .select(col("token")).as[String].collect() shouldBe Array("again")

    // mixture reweighting through the params surface: group 'g' budgeted
    // to 95 of 100 total (proportions normalize), absent groups whole
    val srcMx = tmp("jr_mx_src") + "/t"
    ((1L to 50L).map(i => (i, "g", 10)) ++
      (51L to 55L).map(i => (i, "other", 10)))
      .toDF("doc_id", "grp", "w").write.parquet(srcMx)
    val tgtMx = tmp("jr_mx_tgt") + "/t"
    val paramsMx = tmp("jr_mx_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsMx),
      s"""{"source_dir": "$srcMx", "target_dir": "$tgtMx",
         | "id_column": "doc_id", "group_column": "grp",
         | "weight_column": "w",
         | "proportions": {"g": 1.0}, "total_budget": 95}""".stripMargin)
    JobRunner.execute(spark, "MixtureReweight", paramsMx)
    val mx = spark.read.parquet(tgtMx)
    mx.filter(col("grp") === "g").count() shouldBe 10L  // 9 fill, 10th crosses
    mx.filter(col("grp") === "other").count() shouldBe 5L // absent = whole

    // snapshot diff through the params surface: doc 2's text changes
    val prevDir = tmp("jr_sd_prev") + "/t"
    Seq((1L, "same"), (2L, "old")).toDF("doc_id", "text")
      .write.parquet(prevDir)
    val newDir = tmp("jr_sd_new") + "/t"
    Seq((1L, "same"), (2L, "new"), (3L, "fresh")).toDF("doc_id", "text")
      .write.parquet(newDir)
    val tgtSd = tmp("jr_sd_tgt") + "/t"
    val paramsSd = tmp("jr_sd_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsSd),
      s"""{"source_dir": "$newDir", "target_dir": "$tgtSd",
         | "previous_dir": "$prevDir", "id_column": "doc_id"}""".stripMargin)
    JobRunner.execute(spark, "SnapshotDiff", paramsSd)
    spark.read.parquet(tgtSd).as[(Long, String)].collect().toMap shouldBe
      Map(1L -> "unchanged", 2L -> "changed", 3L -> "added")

    // pseudonymization through the params surface
    val tgtPs = tmp("jr_ps_tgt") + "/t"
    val paramsPs = tmp("jr_ps_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsPs),
      s"""{"source_dir": "$newDir", "target_dir": "$tgtPs",
         | "columns": ["doc_id"], "salt": "s"}""".stripMargin)
    JobRunner.execute(spark, "Pseudonymize", paramsPs)
    val toks = spark.read.parquet(tgtPs).select(col("doc_id"))
      .as[String].collect()
    toks.distinct.length shouldBe 3
    all(toks) should fullyMatch regex "[0-9a-f]{64}"

    // funnel + retention through the params surface
    val srcFn = tmp("jr_fn_src") + "/t"
    Seq((1L, "view", "2024-01-02"), (1L, "click", "2024-01-03"),
      (2L, "click", "2024-01-02"))
      .toDF("uid", "etype", "ds")
      .withColumn("ts",
        org.apache.spark.sql.functions.to_timestamp(col("ds"))).drop("ds")
      .write.parquet(srcFn)
    val tgtFn = tmp("jr_fn_tgt") + "/t"
    val paramsFn = tmp("jr_fn_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsFn),
      s"""{"source_dir": "$srcFn", "target_dir": "$tgtFn",
         | "user_column": "uid", "type_column": "etype",
         | "ts_column": "ts", "steps": ["view", "click"]}""".stripMargin)
    JobRunner.execute(spark, "Funnel", paramsFn)
    spark.read.parquet(tgtFn).select(col("uid"), col("n_completed"))
      .as[(Long, Int)].collect().toMap shouldBe Map(1L -> 2)
    val tgtRt = tmp("jr_rt_tgt") + "/t"
    val paramsRt = tmp("jr_rt_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsRt),
      s"""{"source_dir": "$srcFn", "target_dir": "$tgtRt",
         | "user_column": "uid", "ts_column": "ts"}""".stripMargin)
    JobRunner.execute(spark, "Retention", paramsRt)
    spark.read.parquet(tgtRt).select(col("n_users")).as[Long]
      .collect().sum shouldBe 2L // both users, offset 0 only

    // association rules: the one co-occurring pair (view,click) in both
    // directions at min_pair_users=1
    val tgtAr = tmp("jr_ar_tgt") + "/t"
    val paramsAr = tmp("jr_ar_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsAr),
      s"""{"source_dir": "$srcFn", "target_dir": "$tgtAr",
         | "user_column": "uid", "type_column": "etype",
         | "min_pair_users": 1}""".stripMargin)
    JobRunner.execute(spark, "AssociationRules", paramsAr)
    spark.read.parquet(tgtAr)
      .select(col("antecedent"), col("consequent"), col("pair_users"))
      .as[(String, String, Long)].collect().sorted shouldBe
      Array(("click", "view", 1L), ("view", "click", 1L))

    // feature correlation over configured integer columns
    val srcFc = tmp("jr_fc_src") + "/t"
    Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("fa", "fb").write.parquet(srcFc)
    val tgtFc = tmp("jr_fc_tgt") + "/t"
    val paramsFc = tmp("jr_fc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsFc),
      s"""{"source_dir": "$srcFc", "target_dir": "$tgtFc",
         | "columns": ["fa", "fb"]}""".stripMargin)
    JobRunner.execute(spark, "FeatureCorr", paramsFc)
    spark.read.parquet(tgtFc).select(col("x"), col("y"), col("r"))
      .as[(String, String, Double)].collect() shouldBe
      Array(("fa", "fb", 1.0))

    // categorical association for a perfectly-dependent pair
    val srcCv = tmp("jr_ct_src") + "/t"
    Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q")).toDF("ca", "cb")
      .write.parquet(srcCv)
    val tgtCv = tmp("jr_ct_tgt") + "/t"
    val paramsCv = tmp("jr_ct_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsCv),
      s"""{"source_dir": "$srcCv", "target_dir": "$tgtCv",
         | "a_column": "ca", "b_column": "cb"}""".stripMargin)
    JobRunner.execute(spark, "ContingencyAssociation", paramsCv)
    spark.read.parquet(tgtCv).select(col("chi2"), col("v"))
      .as[(Double, Double)].collect() shouldBe Array((4.0, 1.0))

    // count-min sketch: build delivery 1, merge delivery 2 in, estimate
    val srcS1 = tmp("jr_cm_s1") + "/t"
    val srcS2 = tmp("jr_cm_s2") + "/t"
    Seq.fill(5)("x").toDF("it").write.parquet(srcS1)
    (Seq.fill(3)("x") ++ Seq.fill(2)("y")).toDF("it").write.parquet(srcS2)
    val tgtS1 = tmp("jr_cm_t1") + "/t"
    val paramsS1 = tmp("jr_cm_p1") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsS1),
      s"""{"source_dir": "$srcS1", "target_dir": "$tgtS1",
         | "item_column": "it", "width": 65536}""".stripMargin)
    JobRunner.execute(spark, "CmsSketch", paramsS1)
    val tgtS2 = tmp("jr_cm_t2") + "/t"
    val paramsS2 = tmp("jr_cm_p2") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsS2),
      s"""{"source_dir": "$srcS2", "target_dir": "$tgtS2",
         | "item_column": "it", "width": 65536,
         | "merge_dir": "$tgtS1"}""".stripMargin)
    JobRunner.execute(spark, "CmsSketch", paramsS2)
    val srcQm = tmp("jr_cm_q") + "/t"
    Seq("x", "y").toDF("it").write.parquet(srcQm)
    val tgtEs = tmp("jr_cm_te") + "/t"
    val paramsEs = tmp("jr_cm_pe") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsEs),
      s"""{"source_dir": "$srcQm", "target_dir": "$tgtEs",
         | "item_column": "it", "width": 65536,
         | "sketch_dir": "$tgtS2"}""".stripMargin)
    JobRunner.execute(spark, "CmsEstimate", paramsEs)
    spark.read.parquet(tgtEs).select(col("item"), col("est"))
      .as[(String, Long)].collect().toMap shouldBe
      Map("x" -> 8L, "y" -> 2L)

    // quantile normalization: shifted sources calibrate onto the
    // global scale rank-for-rank
    val srcQn = tmp("jr_qn_src") + "/t"
    Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "b", 101L), (4L, "b", 102L))
      .toDF("id", "grp", "score").write.parquet(srcQn)
    val tgtQn = tmp("jr_qn_tgt") + "/t"
    val paramsQn = tmp("jr_qn_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsQn),
      s"""{"source_dir": "$srcQn", "target_dir": "$tgtQn",
         | "group_column": "grp", "score_column": "score"}""".stripMargin)
    JobRunner.execute(spark, "QuantileNormalize", paramsQn)
    spark.read.parquet(tgtQn).select(col("id"), col("score_qn"))
      .as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 102L, 3L -> 1L, 4L -> 102L)

    // numeric drift: new delivery vs previous over fixed bins
    val srcNd0 = tmp("jr_nd_s0") + "/t"
    val srcNd1 = tmp("jr_nd_s1") + "/t"
    Seq(5L, 15L).toDF("v").write.parquet(srcNd0)
    Seq(5L, 95L).toDF("v").write.parquet(srcNd1)
    val tgtNd = tmp("jr_nd_tgt") + "/t"
    val paramsNd = tmp("jr_nd_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsNd),
      s"""{"source_dir": "$srcNd1", "target_dir": "$tgtNd",
         | "previous_dir": "$srcNd0", "value_column": "v",
         | "lo": 0, "hi": 100, "n_bins": 10}""".stripMargin)
    JobRunner.execute(spark, "NumericDrift", paramsNd)
    spark.read.parquet(tgtNd).select(col("bin"), col("n_old"), col("n_new"))
      .as[(Long, Long, Long)].collect().sorted shouldBe
      Array((0L, 1L, 1L), (1L, 1L, 0L), (9L, 0L, 1L))

    // label-centroid cosine through the params surface
    val srcLc = tmp("jr_lc_src") + "/t"
    Seq((1L, Seq(1f, 0f), 0), (2L, Seq(0f, 1f), 1))
      .toDF("vec_id", "embedding", "label").write.parquet(srcLc)
    val tgtLc = tmp("jr_lc_tgt") + "/t"
    val paramsLc = tmp("jr_lc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsLc),
      s"""{"source_dir": "$srcLc", "target_dir": "$tgtLc",
         | "vector_column": "embedding", "label_column": "label"}"""
        .stripMargin)
    JobRunner.execute(spark, "LabelCentroidSimilarity", paramsLc)
    spark.read.parquet(tgtLc).select(col("label_a"), col("label_b"),
        col("cosine")).as[(Int, Int, Double)].collect() shouldBe
      Array((0, 1, 0.0))

    // daily-volume anomalies through the params surface
    val srcVa = tmp("jr_va_src") + "/t"
    (Seq.fill(10)("2024-01-01") ++ Seq.fill(10)("2024-01-02") ++
      Seq.fill(10)("2024-01-03") ++ Seq.fill(10)("2024-01-04") ++
      Seq.fill(10)("2024-01-05") ++ Seq.fill(90)("2024-01-06")).toDF("ds")
      .withColumn("ts",
        org.apache.spark.sql.functions.to_timestamp(col("ds"))).drop("ds")
      .write.parquet(srcVa)
    val tgtVa = tmp("jr_va_tgt") + "/t"
    val paramsVa = tmp("jr_va_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsVa),
      s"""{"source_dir": "$srcVa", "target_dir": "$tgtVa",
         | "ts_column": "ts"}""".stripMargin)
    JobRunner.execute(spark, "VolumeAnomalies", paramsVa)
    spark.read.parquet(tgtVa).filter(col("is_burst"))
      .select(col("day")).as[String].collect() shouldBe Array("20240106")

    // functional-dependency profile through the params surface
    val srcFd = tmp("jr_fd_src") + "/t"
    Seq(("s1", "en"), ("s1", "en"), ("s2", "de"), ("s2", "fr"))
      .toDF("sc", "lg").write.parquet(srcFd)
    val tgtFd = tmp("jr_fd_tgt") + "/t"
    val paramsFd = tmp("jr_fd_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsFd),
      s"""{"source_dir": "$srcFd", "target_dir": "$tgtFd",
         | "a_column": "sc", "b_column": "lg"}""".stripMargin)
    JobRunner.execute(spark, "FunctionalDependency", paramsFd)
    spark.read.parquet(tgtFd).select(col("sc"), col("is_functional"))
      .as[(String, Boolean)].collect().toMap shouldBe
      Map("s1" -> true, "s2" -> false)

    // language id + margin through the params surface
    val srcLi = tmp("jr_li_src") + "/t"
    Seq((1L, "the cat is the dog"), (2L, "xyzzy"))
      .toDF("doc_id", "text").write.parquet(srcLi)
    val tgtLi = tmp("jr_li_tgt") + "/t"
    val paramsLi = tmp("jr_li_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsLi),
      s"""{"source_dir": "$srcLi", "target_dir": "$tgtLi",
         | "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "LangId", paramsLi)
    spark.read.parquet(tgtLi).select(col("doc_id"), col("lang_pred"))
      .as[(Long, String)].collect().toMap shouldBe
      Map(1L -> "en", 2L -> "und")

    // vocabulary concentration through the params surface
    val srcVc = tmp("jr_vc_src") + "/t"
    Seq(("a", "spam spam spam"), ("b", "x y z"))
      .toDF("grp", "text").write.parquet(srcVc)
    val tgtVc = tmp("jr_vc_tgt") + "/t"
    val paramsVc = tmp("jr_vc_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsVc),
      s"""{"source_dir": "$srcVc", "target_dir": "$tgtVc",
         | "group_column": "grp", "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "VocabConcentration", paramsVc)
    spark.read.parquet(tgtVc).select(col("grp"), col("simpson"))
      .as[(String, Double)].collect().toMap shouldBe
      Map("a" -> 1.0, "b" -> 0.0)

    // vocabulary drift through the params surface
    val srcVd0 = tmp("jr_vd_s0") + "/t"
    val srcVd1 = tmp("jr_vd_s1") + "/t"
    Seq("the relic relic").toDF("text").write.parquet(srcVd0)
    Seq("the nova nova").toDF("text").write.parquet(srcVd1)
    val tgtVd = tmp("jr_vd_tgt") + "/t"
    val paramsVd = tmp("jr_vd_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsVd),
      s"""{"source_dir": "$srcVd1", "target_dir": "$tgtVd",
         | "previous_dir": "$srcVd0", "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "VocabDiff", paramsVd)
    spark.read.parquet(tgtVd).select(col("term"), col("status"))
      .as[(String, String)].collect().toMap shouldBe
      Map("nova" -> "appeared", "relic" -> "vanished")

    // session-duration quantiles through the params surface
    val srcSs = tmp("jr_ss2_src") + "/t"
    Seq((1L, 1L, 0L), (1L, 2L, 10000000L), (2L, 3L, 0L))
      .toDF("uid", "eid", "tsu").write.parquet(srcSs)
    val tgtSs = tmp("jr_ss2_tgt") + "/t"
    val paramsSs = tmp("jr_ss2_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsSs),
      s"""{"source_dir": "$srcSs", "target_dir": "$tgtSs",
         | "user_column": "uid", "ts_micros_column": "tsu",
         | "order_column": "eid", "ps": [1.0]}""".stripMargin)
    JobRunner.execute(spark, "SessionStats", paramsSs)
    spark.read.parquet(tgtSs).select(col("duration_s"), col("n_sessions"))
      .as[(Long, Long)].collect() shouldBe Array((10L, 2L))

    // charset profile through the params surface
    val srcCp = tmp("jr_cp_src") + "/t"
    Seq(("en", "abcd"), ("zh", "你好ab")).toDF("lang", "text")
      .write.parquet(srcCp)
    val tgtCp = tmp("jr_cp_tgt") + "/t"
    val paramsCp = tmp("jr_cp_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsCp),
      s"""{"source_dir": "$srcCp", "target_dir": "$tgtCp",
         | "group_column": "lang", "text_column": "text"}""".stripMargin)
    JobRunner.execute(spark, "CharsetProfile", paramsCp)
    spark.read.parquet(tgtCp).select(col("lang"), col("ascii_ratio"))
      .as[(String, Double)].collect().toMap shouldBe
      Map("en" -> 1.0, "zh" -> 0.5)

    // weighted quantiles through the params surface
    val srcWq = tmp("jr_wq_src") + "/t"
    Seq(("g", 1, 1L), ("g", 2, 1L), ("g", 3, 8L))
      .toDF("grp", "score", "w").write.parquet(srcWq)
    val tgtWq = tmp("jr_wq_tgt") + "/t"
    val paramsWq = tmp("jr_wq_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsWq),
      s"""{"source_dir": "$srcWq", "target_dir": "$tgtWq",
         | "group_column": "grp", "score_column": "score",
         | "weight_column": "w", "ps": [0.5]}""".stripMargin)
    JobRunner.execute(spark, "WeightedQuantiles", paramsWq)
    spark.read.parquet(tgtWq).select(col("quantile"), col("w"))
      .as[(Int, Long)].collect() shouldBe Array((3, 10L))

    // split-balance audit through the params surface
    val srcSb = tmp("jr_sb_src") + "/t"
    Seq(("train", "en"), ("train", "zh"), ("val", "en"))
      .toDF("split", "lang").write.parquet(srcSb)
    val tgtSb = tmp("jr_sb_tgt") + "/t"
    val paramsSb = tmp("jr_sb_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(paramsSb),
      s"""{"source_dir": "$srcSb", "target_dir": "$tgtSb",
         | "split_column": "split", "strata_column": "lang"}""".stripMargin)
    JobRunner.execute(spark, "SplitBalance", paramsSb)
    spark.read.parquet(tgtSb).count() shouldBe 3
  }

  test("round-9 profiling algorithms run through the params-JSON surface") {
    import org.apache.spark.sql.functions._
    // TransitionMatrix: ts + tie column plumbing
    val evSrc = tmp("jr_tm_src") + "/t"
    Seq((1L, 1L, "a", 1L), (2L, 1L, "b", 2L), (3L, 1L, "a", 3L),
      (4L, 2L, "a", 1L), (5L, 2L, "a", 2L))
      .toDF("event_id", "user_id", "event_type", "tsl")
      .withColumn("ts", timestamp_millis(col("tsl")))
      .write.parquet(evSrc)
    val tmTgt = tmp("jr_tm_tgt") + "/t"
    val tmPar = tmp("jr_tm_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmPar),
      s"""{"source_dir": "$evSrc", "target_dir": "$tmTgt",
         | "user_column": "user_id", "type_column": "event_type",
         | "ts_column": "ts", "tie_column": "event_id"}""".stripMargin)
    JobRunner.execute(spark, "TransitionMatrix", tmPar)
    spark.read.parquet(tmTgt)
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"))
      .as[(String, String, Long, Long)].collect().toSet shouldBe Set(
      ("a", "b", 1L, 2L), ("b", "a", 1L, 1L), ("a", "a", 1L, 2L))

    // KeyReconciliation: the right_dir second-input plumbing
    val lSrc = tmp("jr_kr_l") + "/t"
    val rSrc = tmp("jr_kr_r") + "/t"
    Seq(1L, 2L, 3L).toDF("doc_id").write.parquet(lSrc)
    Seq(2L, 3L, 9L).toDF("vec_id").write.parquet(rSrc)
    val krTgt = tmp("jr_kr_tgt") + "/t"
    val krPar = tmp("jr_kr_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(krPar),
      s"""{"source_dir": "$lSrc", "target_dir": "$krTgt",
         | "right_dir": "$rSrc",
         | "left_key": "doc_id", "right_key": "vec_id"}""".stripMargin)
    JobRunner.execute(spark, "KeyReconciliation", krPar)
    spark.read.parquet(krTgt)
      .as[(Long, Long, Long, Long, Long)].head() shouldBe
      ((3L, 3L, 2L, 1L, 1L))

    // PackingStats: the packing cache must be released after the write
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val psSrc = tmp("jr_ps_src") + "/t"
    (1L to 10L).map(i => (i, "tok tok tok")).toDF("doc_id", "text")
      .write.parquet(psSrc)
    val psTgt = tmp("jr_ps_tgt") + "/t"
    val psPar = tmp("jr_ps_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(psPar),
      s"""{"source_dir": "$psSrc", "target_dir": "$psTgt",
         | "id_column": "doc_id", "text_column": "text",
         | "budget_tokens": 4, "ps": [0.5, 1.0]}""".stripMargin)
    JobRunner.execute(spark, "PackingStats", psPar)
    // 30 tokens at budget 4: masses 6,3,3,3,6,3,3,3 (straddle pattern)
    spark.read.parquet(psTgt).count() shouldBe 2L
    // id SETS, not counts: checkpoint blocks from EARLIER tests are
    // GC-cleaned asynchronously (counts can drop mid-test and mask one
    // new pinned cache); asserting no NEW ids accrete is immune to
    // concurrent cleanup while still catching every leak
    (spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore) shouldBe empty
  }

  test("privacy/decay/bigram algorithms run through the params-JSON " +
      "surface") {
    import org.apache.spark.sql.functions._
    // KAnonymity: quasi-column list + k plumbing
    val kaSrc = tmp("jr_ka_src") + "/t"
    Seq(("en", "web"), ("en", "web"), ("fr", "book"))
      .toDF("lang", "source").write.parquet(kaSrc)
    val kaTgt = tmp("jr_ka_tgt") + "/t"
    val kaPar = tmp("jr_ka_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kaPar),
      s"""{"source_dir": "$kaSrc", "target_dir": "$kaTgt",
         | "quasi_columns": ["lang", "source"], "k": 2}""".stripMargin)
    JobRunner.execute(spark, "KAnonymity", kaPar)
    spark.read.parquet(kaTgt)
      .select(col("n_rows"), col("n_classes"), col("min_class_size"),
        col("n_risky_rows"))
      .as[(Long, Long, Long, Long)].head() shouldBe ((3L, 2L, 1L, 1L))

    // DecayedScore: half_life_days plumbing
    val dsSrc = tmp("jr_ds_src") + "/t"
    Seq((1L, 0L, 4.0), (1L, 3L, 10.0))
      .toDF("user_id", "days", "value")
      .withColumn("ts", timestamp_millis(col("days") * 86400000L))
      .write.parquet(dsSrc)
    val dsTgt = tmp("jr_ds_tgt") + "/t"
    val dsPar = tmp("jr_ds_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dsPar),
      s"""{"source_dir": "$dsSrc", "target_dir": "$dsTgt",
         | "ts_column": "ts", "key_column": "user_id",
         | "value_column": "value", "half_life_days": 3}""".stripMargin)
    JobRunner.execute(spark, "DecayedScore", dsPar)
    // newest (day 3) weight 1, day 0 is one half-life old: 10 + 4*0.5
    spark.read.parquet(dsTgt).select(col("decayed_value"))
      .as[Double].head() shouldBe 12.0

    // BigramQuality: model/history size + add_k plumbing
    val bqSrc = tmp("jr_bq_src") + "/t"
    Seq((1L, "a b a b"), (2L, "b a")).toDF("doc_id", "text")
      .write.parquet(bqSrc)
    val bqTgt = tmp("jr_bq_tgt") + "/t"
    val bqPar = tmp("jr_bq_par") + "/p.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(bqPar),
      s"""{"source_dir": "$bqSrc", "target_dir": "$bqTgt",
         | "id_column": "doc_id", "text_column": "text",
         | "model_size": 10, "history_size": 10, "add_k": 0.5}""".stripMargin)
    JobRunner.execute(spark, "BigramQuality", bqPar)
    val bq = spark.read.parquet(bqTgt)
      .select(col("doc_id"), col("n_bigrams"))
      .as[(Long, Long)].collect().toMap
    bq shouldBe Map(1L -> 3L, 2L -> 1L)
  }

  test("DeltaLoad and DeltaMergeLoad release their delta cache when the " +
      "run ends") {
    def params(json: String): String = {
      val p = tmp("jr_dl_par") + "/p.json"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json)
      p
    }
    val active = tmp("jr_dl_a") + "/t"
    val delta = tmp("jr_dl_d") + "/t"
    Seq((1, 0, "v1"), (2, 0, "v2")).toDF("k", "ver", "v").write.parquet(active)
    Seq((1, 1, "v1b", "N"), (3, 1, "v3", "N"))
      .toDF("k", "ver", "v", "recordmode").write.parquet(delta)
    // id SETS, not counts (see the SequencePacking release check)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    JobRunner.execute(spark, "DeltaLoad", params(
      s"""{"active_records_dir": "$active",
         | "delta_records_file_path": "$delta", "file_format": "parquet",
         | "business_key": ["k"], "technical_key": ["ver"]}""".stripMargin))
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    spark.read.parquet(active).select($"k", $"v").as[(Int, String)]
      .collect().sorted shouldBe Array((1, "v1b"), (2, "v2"), (3, "v3"))

    val target = tmp("jr_dml_t") + "/t"
    val beforeMerge = spark.sparkContext.getPersistentRDDs.keySet
    JobRunner.execute(spark, "DeltaMergeLoad", params(
      s"""{"target_dir": "$target", "source_dir": "$delta",
         | "file_format": "parquet", "business_key": ["k"],
         | "technical_key": ["ver"]}""".stripMargin))
    (spark.sparkContext.getPersistentRDDs.keySet -- beforeMerge) shouldBe
      empty
    spark.read.parquet(target).select($"k").as[Int].collect().sorted shouldBe
      Array(1, 3)
  }

  test("unknown algorithm names are rejected") {
    val paramsPath = tmp("jr_bad") + "/params.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(paramsPath), "{}")
    an[IllegalArgumentException] should be thrownBy
      JobRunner.execute(spark, "NoSuchAlgo", paramsPath)
  }
}

class SqlRunnerBoundSpec extends SparkSpec {

  test("intermediate SELECT over a large relation is driver-bounded") {
    spark.range(500000).createOrReplaceTempView("jr_big")
    // step 1's full result (500k rows) must NOT be collected: the runner
    // caps intermediate actions at limit(1000), like the reference's
    // show(1000) — Catalyst plans CollectLimit, not a full materialization
    val out = SQLRunner.run(spark, Seq(
      "SELECT * FROM jr_big",
      "SELECT count(*) AS n FROM jr_big"))
    out.collect().head.getLong(0) shouldBe 500000L
  }
}

class GraftExtensionsSpec extends SparkSpec {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions._

  // a session built ONLY through the extension mechanism: cleared
  // default forces a new SparkSession (shared context), whose function
  // registry holds nothing but what GraftExtensions injected
  private lazy val fresh: SparkSession = {
    val _ = spark.sparkContext // ensure the shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.Session.builder("graft-ext-test")
      .master("local[2]").getOrCreate()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    s
  }

  test("injected SQL functions work with no register() call — scalar, " +
      "codegen expression, and both native aggregates") {
    fresh.sql("SELECT simhash64(array('abc', 'def')) AS h").collect()
      .length shouldBe 1
    fresh.sql(
      "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
      .collect().head.getDouble(0) shouldBe 1.0
    val hh = fresh.sql(
      "SELECT heavy_hitters(x, 4) AS hh FROM VALUES ('a'), ('a'), ('b') t(x)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    hh.head.getString(0) shouldBe "a"
    val qs = fresh.sql(
      "SELECT quantile_sketch(CAST(x AS DOUBLE), 64) AS s " +
        "FROM VALUES (1), (2), (3) t(x)").collect().head.getStruct(0)
    qs.getLong(0) shouldBe 3L
  }

  test("CartesianGuard: off by default, fails unhinted cartesians when " +
      "enabled, allows broadcast-hinted ones") {
    import fresh.implicits._
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3, 4).toDF("y")
    a.crossJoin(b).count() shouldBe 4 // default off
    fresh.conf.set("spark.graft.failOnCartesian", "true")
    try {
      val e = intercept[Throwable] { a.crossJoin(b).count() }
      e.getMessage should include("cartesian guard")
      a.crossJoin(broadcast(b)).count() shouldBe 4 // hinted side allowed
      a.join(b, $"x" === $"y").count() shouldBe 0  // conditioned join fine
    } finally fresh.conf.set("spark.graft.failOnCartesian", "false")
    a.crossJoin(b).count() shouldBe 4
  }
}

class DecontaminateParamsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.core.JobRunner

  test("DecontaminateArtifacts -> Decontaminate(benchmark_artifacts_dir) " +
      "chain equals the direct benchmark_dir run") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words nothing shared here at all"))
      .toDF("doc_id", "text")
    val bench = Seq("beta gamma delta epsilon zeta eta").toDF("qtext")
    val base = tmp("jr_decon_arts")
    docs.write.parquet(s"$base/docs")
    bench.write.parquet(s"$base/bench")
    def run(algo: String, json: String): Unit = {
      val f = java.nio.file.Paths.get(base, s"$algo.json")
      java.nio.file.Files.writeString(f, json)
      JobRunner.execute(spark, algo, f.toString)
    }
    run("DecontaminateArtifacts",
      s"""{"source_dir": "$base/bench", "target_dir": "$base/arts",
         | "text_column": "qtext", "ngram_size": 3}""".stripMargin)
    run("Decontaminate",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/clean",
         | "id_column": "doc_id", "text_column": "text",
         | "benchmark_artifacts_dir": "$base/arts",
         | "min_overlap": 1, "use_bloom": true}""".stripMargin)
    spark.read.parquet(s"$base/clean").select($"doc_id").as[Long]
      .collect() shouldBe Array(2L)
    // no leaked persistent frames after the cleanup handle ran
    spark.sparkContext.getPersistentRDDs.values
      .map(_.name).mkString should not include "decon"
  }
}

class SqlSketchSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("sketch/bloom SQL functions: merge aggregates and the bloom " +
      "build/probe pair work end-to-end from spark.sql") {
    graft.functions.GraftFunctions.register(spark)
    (1 to 50).map(i => (i.toDouble, s"it${i % 5}"))
      .toDF("v", "item").createOrReplaceTempView("sql_sketch_t")
    // quantile sketch -> explode -> merge: exact regime round trip
    val q = spark.sql(
      """WITH parts AS (
        |  SELECT quantile_sketch(v, 64) AS sk FROM sql_sketch_t),
        |items AS (SELECT explode(sk.items) AS it FROM parts)
        |SELECT quantile_sketch_merge(it, 64).n AS n FROM items""".stripMargin)
      .collect().head.getLong(0)
    q shouldBe 50L
    val hh = spark.sql(
      """WITH parts AS (
        |  SELECT heavy_hitters(item, 16) AS hh FROM sql_sketch_t),
        |items AS (SELECT explode(hh) AS it FROM parts)
        |SELECT explode(heavy_hitters_merge(it, 16)) AS e
        |FROM items""".stripMargin)
      .selectExpr("e.item", "e.count_low").as[(String, Long)]
      .collect().toMap
    hh("it1") shouldBe 10L
    // bloom: build over longs, probe members and a non-member
    spark.range(100).createOrReplaceTempView("sql_bloom_t")
    // might_contain requires a constant/scalar-subquery filter — the
    // production shape: fold the bloom once, probe it per row
    val probes = spark.sql(
      """SELECT bloom_might_contain(
        |    (SELECT bloom_agg(id, 100) FROM sql_bloom_t),
        |    CAST(7 AS BIGINT)) AS hit7,
        |  bloom_might_contain(
        |    (SELECT bloom_agg(id, 100) FROM sql_bloom_t),
        |    CAST(1234567 AS BIGINT)) AS miss""".stripMargin)
      .collect().head
    probes.getBoolean(0) shouldBe true
    // a specific far-away value: false unless an (unlikely, fixed) FP
    probes.getBoolean(1) shouldBe false
  }
}

class Round9ParamsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.core.JobRunner

  private def run(base: String, algo: String, json: String): Unit = {
    val f = java.nio.file.Paths.get(base, s"$algo.json")
    java.nio.file.Files.writeString(f, json)
    JobRunner.execute(spark, algo, f.toString)
  }

  test("round-9 training/ML algorithms run through the params surface") {
    val base = tmp("jr_r9")
    val emb = (0 until 30).map { i =>
      val v = Array(0.0f, 0.0f); v(i % 2) = 1.0f + 0.01f * (i % 5)
      (i.toLong, v, i % 2)
    }.toDF("vec_id", "embedding", "label")
    emb.write.parquet(s"$base/emb")

    run(base, "KMeansCentroids",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/cent",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "k": 2, "max_iters": 5, "init": "farthest"}""".stripMargin)
    val cent = spark.read.parquet(s"$base/cent")
    cent.count() shouldBe 2
    cent.select(sum($"n")).head.getLong(0) shouldBe 30L

    run(base, "HardNegatives",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/hn",
         | "queries_dir": "$base/emb", "id_column": "vec_id",
         | "vector_column": "embedding", "label_column": "label",
         | "k": 2}""".stripMargin)
    spark.read.parquet(s"$base/hn").count() shouldBe 60

    run(base, "PqCodes",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/pqc",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "dim": 2, "m": 2, "ks": 4}""".stripMargin)
    spark.read.parquet(s"$base/pqc").count() shouldBe 60 // 30 ids x 2 j

    run(base, "PqSearch",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/pqs",
         | "queries_dir": "$base/emb", "id_column": "vec_id",
         | "vector_column": "embedding", "k": 2, "dim": 2, "m": 2,
         | "ks": 4}""".stripMargin)
    spark.read.parquet(s"$base/pqs").count() shouldBe 60 // 30 queries x 2

    run(base, "PqSearchRerank",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/pqr",
         | "queries_dir": "$base/emb", "id_column": "vec_id",
         | "vector_column": "embedding", "k": 2, "dim": 2, "m": 2,
         | "ks": 4, "shortlist": 5}""".stripMargin)
    spark.read.parquet(s"$base/pqr").count() shouldBe 60

    run(base, "IvfPqSearch",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/ivfpq",
         | "queries_dir": "$base/emb", "id_column": "vec_id",
         | "vector_column": "embedding", "k": 2, "dim": 2, "m": 2,
         | "ks": 4, "centroids": 4, "nprobe": 2}""".stripMargin)
    spark.read.parquet(s"$base/ivfpq").count() should be > 0L

    run(base, "RandomProjection",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/rp",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "d_out": 2}""".stripMargin)
    spark.read.parquet(s"$base/rp").count() shouldBe 30

    run(base, "KnnLabelCheck",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/knn",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "label_column": "label", "k": 3}""".stripMargin)
    spark.read.parquet(s"$base/knn")
      .filter($"flagged").count() shouldBe 0 // clean separable labels

    run(base, "SemDedup",
      s"""{"source_dir": "$base/emb", "target_dir": "$base/sd",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "k": 2, "max_iters": 3, "threshold": 0.99}""".stripMargin)
    spark.read.parquet(s"$base/sd").count() should be > 0L

    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    edges.write.parquet(s"$base/edges")
    run(base, "PageRank",
      s"""{"source_dir": "$base/edges", "target_dir": "$base/pr",
         | "max_iters": 5}""".stripMargin)
    spark.read.parquet(s"$base/pr")
      .agg(sum($"rank")).head.getDouble(0) shouldBe 1.0 +- 1e-6

    val docs = Seq((1L, "alpha beta gamma", "web", 10.0),
      (2L, "delta epsilon", "web", 20.0),
      (3L, "zeta eta theta iota", "books", 30.0))
      .toDF("doc_id", "text", "source", "score")
    docs.write.parquet(s"$base/docs")

    run(base, "QuantileSketch",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/qs",
         | "group_column": "source", "value_column": "score",
         | "ps": [0.5], "k": 64}""".stripMargin)
    spark.read.parquet(s"$base/qs").count() shouldBe 2

    run(base, "UpsampleBalanced",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/up",
         | "class_column": "source"}""".stripMargin)
    spark.read.parquet(s"$base/up").count() shouldBe 4 // books x2

    run(base, "TemperatureSample",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/ts",
         | "id_column": "doc_id", "group_column": "source",
         | "alpha": 0.5}""".stripMargin)
    spark.read.parquet(s"$base/ts").count() should be >= 1L

    run(base, "LeakageSafeSplit",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/ls",
         | "id_column": "doc_id", "text_column": "text",
         | "splits": [{"name": "train", "weight": 0.5},
         |            {"name": "val", "weight": 0.5}]}""".stripMargin)
    spark.read.parquet(s"$base/ls").columns should contain ("split")

    Seq((1L, 10L), (2L, 11L)).toDF("u", "it")
      .write.parquet(s"$base/pos")
    (10L to 19L).toDF("item").write.parquet(s"$base/items")
    run(base, "NegativeSamples",
      s"""{"source_dir": "$base/pos", "target_dir": "$base/ns",
         | "user_column": "u", "item_column": "it",
         | "items_dir": "$base/items", "item_id_column": "item",
         | "k": 2}""".stripMargin)
    spark.read.parquet(s"$base/ns").count() should be > 0L

    val media = Seq((1L, "payloadAAAA".getBytes),
      (2L, "payloadAAAA::v2".getBytes), (3L, "other".getBytes))
      .toDF("doc_id", "payload")
    media.write.parquet(s"$base/media")
    run(base, "MediaNearDup",
      s"""{"source_dir": "$base/media", "target_dir": "$base/mnd",
         | "id_column": "doc_id", "payload_column": "payload",
         | "max_hamming": 7, "chunk_bytes": 2}""".stripMargin)
    spark.read.parquet(s"$base/mnd").columns should contain ("hamming")

    run(base, "BpeVocab",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/merges",
         | "text_column": "text", "n_merges": 2}""".stripMargin)
    run(base, "BpeSegment",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/segv",
         | "text_column": "text",
         | "merges_dir": "$base/merges"}""".stripMargin)
    run(base, "BpeTokenCounts",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/tc",
         | "id_column": "doc_id", "text_column": "text",
         | "vocab_dir": "$base/segv"}""".stripMargin)
    spark.read.parquet(s"$base/tc").count() shouldBe 3

    run(base, "DatasetCard",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/card",
         | "id_column": "doc_id", "text_column": "text",
         | "source_column": "source"}""".stripMargin)
    spark.read.parquet(s"$base/card").count() shouldBe 6

    // CMS join sizing over two saved sketch artifacts
    run(base, "CmsSketch",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/cmsa",
         | "item_column": "doc_id"}""".stripMargin)
    run(base, "CmsSketch",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/cmsb",
         | "item_column": "doc_id"}""".stripMargin)
    run(base, "CmsJoinSize",
      s"""{"source_dir": "$base/cmsa", "target_dir": "$base/jsz",
         | "other_sketch_dir": "$base/cmsb"}""".stripMargin)
    spark.read.parquet(s"$base/jsz").select($"est_join_size").as[Long]
      .collect().head shouldBe 3L // self-join of 3 distinct keys
  }

  test("NaiveBayesClassify and RepeatedSpans run through the params surface") {
    val base = tmp("jr_r9c")
    // null labels are the score-only slice; non-null rows are the seed
    val docs = Seq(
      (1L, "good great good", "pos"), (2L, "great good nice", "pos"),
      (3L, "bad awful bad", "neg"), (4L, "awful bad nasty", "neg"),
      (5L, "good nice words", null), (6L, "awful nasty words", null))
      .toDF("doc_id", "text", "label")
    docs.write.parquet(s"$base/docs")

    run(base, "NaiveBayesClassify",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/nb",
         | "id_column": "doc_id", "text_column": "text",
         | "label_column": "label", "vocab_size": 10}""".stripMargin)
    val nb = spark.read.parquet(s"$base/nb")
    nb.count() shouldBe 6 // unlabeled rows scored too
    nb.filter($"doc_id" === 5L).select($"predicted").as[String]
      .collect().head shouldBe "pos"
    nb.filter($"doc_id" === 6L).select($"predicted").as[String]
      .collect().head shouldBe "neg"

    run(base, "RepeatedSpans",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/rs",
         | "id_column": "doc_id", "text_column": "text",
         | "width": 3}""".stripMargin)
    val rs = spark.read.parquet(s"$base/rs")
    rs.count() shouldBe 6
    // no 3-token span repeats in this corpus except none: all distinct
    rs.agg(sum($"n_dup_spans")).head.getLong(0) shouldBe 0L

    // DSIR: target = the pos-label slice; science-like docs should win
    docs.filter($"label" === "pos").write.parquet(s"$base/tgt")
    run(base, "DsirWeights",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/dw",
         | "target_corpus_dir": "$base/tgt", "id_column": "doc_id",
         | "text_column": "text", "buckets": 128}""".stripMargin)
    spark.read.parquet(s"$base/dw").count() shouldBe 6
    run(base, "DsirSelect",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/ds",
         | "target_corpus_dir": "$base/tgt", "id_column": "doc_id",
         | "text_column": "text", "buckets": 128, "k": 3}""".stripMargin)
    val ds = spark.read.parquet(s"$base/ds")
    ds.count() shouldBe 3
    ds.columns should contain allOf ("log_weight", "sample_key", "rank")
  }

  test("remaining new algorithms run through the params surface") {
    val base = tmp("jr_r9d")
    val docs = Seq(
      (1L, "the data the data the data of and that extra words here"),
      (2L, "the data the data the data of and that extra words here"),
      (3L, "completely different text with the of and that markers"),
      (4L, "short one"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$base/docs")

    run(base, "GopherRules",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/gr",
         | "id_column": "doc_id", "text_column": "text",
         | "min_words": 5}""".stripMargin)
    spark.read.parquet(s"$base/gr").count() shouldBe 4
    run(base, "GopherFilter",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/gf",
         | "id_column": "doc_id", "text_column": "text",
         | "min_words": 5}""".stripMargin)
    spark.read.parquet(s"$base/gf").count() shouldBe 3 // doc 4 too short

    run(base, "SpanArtifacts",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/sa",
         | "id_column": "doc_id", "text_column": "text",
         | "width": 3}""".stripMargin)
    spark.read.parquet(s"$base/sa").columns.toSeq shouldBe
      Seq("span_hash", "occurrences")
    run(base, "SpanIncrement",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/si",
         | "artifacts_dir": "$base/sa", "id_column": "doc_id",
         | "text_column": "text", "width": 3}""".stripMargin)
    // every span now occurs >= 2x (batch + artifact of the same corpus)
    spark.read.parquet(s"$base/si")
      .filter($"n_spans" > 0 && $"n_dup_spans" =!= $"n_spans")
      .count() shouldBe 0

    docs.filter($"doc_id" <= 2).write.parquet(s"$base/tgt2")
    run(base, "DsirArtifacts",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/da",
         | "target_corpus_dir": "$base/tgt2", "id_column": "doc_id",
         | "text_column": "text", "buckets": 64}""".stripMargin)
    spark.read.parquet(s"$base/da").count() shouldBe 64
    run(base, "DsirScore",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/dsc",
         | "model_dir": "$base/da", "id_column": "doc_id",
         | "text_column": "text", "buckets": 64}""".stripMargin)
    spark.read.parquet(s"$base/dsc").count() shouldBe 4

    run(base, "EditDistancePairs",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/ed",
         | "id_column": "doc_id", "text_column": "text",
         | "max_distance": 5}""".stripMargin)
    spark.read.parquet(s"$base/ed")
      .select($"id_a", $"id_b").as[(Long, Long)]
      .collect().toSet should contain ((1L, 2L))

    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.05f)),
      (3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    vecs.write.parquet(s"$base/vecs")
    vecs.filter($"vec_id" === 1L).write.parquet(s"$base/bench")
    run(base, "SemanticDecontaminate",
      s"""{"source_dir": "$base/vecs", "target_dir": "$base/sd2",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "benchmark_dir": "$base/bench",
         | "benchmark_id_column": "vec_id",
         | "benchmark_vector_column": "embedding",
         | "threshold": 0.95, "bits": 4, "tables": 8}""".stripMargin)
    spark.read.parquet(s"$base/sd2").select($"vec_id").as[Long]
      .collect().sorted shouldBe Array(3L) // 1 self-hit, 2 paraphrase

    // the char-trigram tokenizer through the params surface
    run(base, "NaiveBayesClassify",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/nbt",
         | "id_column": "doc_id", "text_column": "text",
         | "label_column": "text", "vocab_size": 50,
         | "tokenizer": "char_trigrams"}""".stripMargin)
    spark.read.parquet(s"$base/nbt").count() shouldBe 4

    // BM25 more-like-this: each doc queries the corpus, self at rank 1
    // — except query 2, whose text is doc 1's exact dup (identical
    // score, tie-break on doc_id hands rank 1 to doc 1)
    run(base, "Bm25Retrieval",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/bm25",
         | "queries_dir": "$base/docs", "id_column": "doc_id",
         | "text_column": "text", "query_id_column": "doc_id",
         | "query_text_column": "text", "k": 2,
         | "max_df_fraction": 1.0}""".stripMargin)
    val top1 = spark.read.parquet(s"$base/bm25").filter($"rank" === 1)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect().toMap
    top1 shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L)

    // the amortized regime: artifact build + scoring from the saved table
    run(base, "Bm25Artifacts",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/bmarts",
         | "id_column": "doc_id", "text_column": "text"}""".stripMargin)
    spark.read.parquet(s"$base/bmarts").columns.toSeq shouldBe
      Seq("term", "df", "n", "sdl")
    run(base, "Bm25Score",
      s"""{"source_dir": "$base/docs", "target_dir": "$base/bmsc",
         | "queries_dir": "$base/docs", "artifacts_dir": "$base/bmarts",
         | "id_column": "doc_id", "text_column": "text",
         | "query_id_column": "doc_id", "query_text_column": "text",
         | "max_df_fraction": 1.0}""".stripMargin)
    // scores from the saved artifact reproduce the retrieval run's
    // top-1 picks (rank the score table and compare)
    spark.read.parquet(s"$base/bmsc").count() should be > 0L

    // RRF of a list with itself keeps the ranks (scores just double)
    run(base, "FuseRankings",
      s"""{"source_dir": "$base/bm25", "target_dir": "$base/rrf",
         | "other_rankings_dirs": ["$base/bm25"], "k": 2}""".stripMargin)
    val rrf = spark.read.parquet(s"$base/rrf")
      .select($"query_id", $"doc_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
    rrf shouldBe spark.read.parquet(s"$base/bm25")
      .select($"query_id", $"doc_id", $"rank").as[(Long, Long, Int)]
      .collect().toSet
  }

  test("round-10 temporal-join algorithms run through the params surface") {
    val base = tmp("jr_r10j")
    Seq((1L, 10L, 100L), (2L, 10L, 40L), (3L, 20L, 7L))
      .toDF("p_id", "k", "p_ts").write.parquet(s"$base/left")
    Seq((100L, 10L, 40L), (101L, 10L, 90L))
      .toDF("r_id", "rk", "r_ts").write.parquet(s"$base/right")
    run(base, "AsOfJoin",
      s"""{"source_dir": "$base/left", "target_dir": "$base/asof",
         | "right_dir": "$base/right", "left_key": "k",
         | "right_key": "rk", "left_time": "p_ts",
         | "right_time": "r_ts", "tie_break": "r_id"}""".stripMargin)
    spark.read.parquet(s"$base/asof")
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe
      Array((1L, Some(101L)), (2L, Some(100L)), (3L, None))
    // bucket_width switches to the hot-key (key, time-bucket) variant
    run(base, "AsOfJoin",
      s"""{"source_dir": "$base/left", "target_dir": "$base/asofb",
         | "right_dir": "$base/right", "left_key": "k",
         | "right_key": "rk", "left_time": "p_ts",
         | "right_time": "r_ts", "tie_break": "r_id",
         | "bucket_width": 16}""".stripMargin)
    spark.read.parquet(s"$base/asofb")
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe
      Array((1L, Some(101L)), (2L, Some(100L)), (3L, None))

    Seq((1L, 0L), (2L, 12L)).toDF("p_id", "p")
      .write.parquet(s"$base/pts")
    Seq((10L, 0L, 10L), (11L, 11L, 20L)).toDF("iv_id", "lo", "hi")
      .write.parquet(s"$base/ivs")
    run(base, "RangeJoinPoints",
      s"""{"source_dir": "$base/pts", "target_dir": "$base/rj",
         | "intervals_dir": "$base/ivs", "point_column": "p",
         | "lo_column": "lo", "hi_column": "hi",
         | "bucket_width": 4}""".stripMargin)
    spark.read.parquet(s"$base/rj").select($"p_id", $"iv_id")
      .as[(Long, Long)].collect().sorted shouldBe
      Array((1L, 10L), (2L, 11L))

    Seq((1L, 0L, 10L)).toDF("a_id", "a_lo", "a_hi")
      .write.parquet(s"$base/wa")
    Seq((7L, 5L, 15L), (8L, 30L, 40L)).toDF("b_id", "b_lo", "b_hi")
      .write.parquet(s"$base/wb")
    run(base, "IntervalOverlap",
      s"""{"source_dir": "$base/wa", "target_dir": "$base/ov",
         | "right_dir": "$base/wb", "left_lo": "a_lo",
         | "left_hi": "a_hi", "right_lo": "b_lo", "right_hi": "b_hi",
         | "bucket_width": 4}""".stripMargin)
    spark.read.parquet(s"$base/ov").select($"a_id", $"b_id")
      .as[(Long, Long)].collect() shouldBe Array((1L, 7L))

    Seq(("u", 0L, 5L), ("u", 4L, 9L), ("u", 20L, 21L))
      .toDF("k", "lo", "hi").write.parquet(s"$base/mi")
    run(base, "MergeIntervals",
      s"""{"source_dir": "$base/mi", "target_dir": "$base/mo",
         | "key_columns": ["k"], "lo_column": "lo",
         | "hi_column": "hi"}""".stripMargin)
    spark.read.parquet(s"$base/mo")
      .as[(String, Long, Long, Long)].collect().sorted shouldBe
      Array(("u", 0L, 9L, 2L), ("u", 20L, 21L, 1L))

    // debounce / time-weighted average / as-of interpolation
    Seq(("u", 1L, 0L, 1.0), ("u", 2L, 5L, 3.0), ("u", 3L, 30L, 2.0))
      .toDF("k", "event_id", "tsu", "value").write.parquet(s"$base/ev")
    run(base, "Debounce",
      s"""{"source_dir": "$base/ev", "target_dir": "$base/db",
         | "key_column": "k", "ts_column": "tsu",
         | "order_column": "event_id", "gap": 7}""".stripMargin)
    spark.read.parquet(s"$base/db").select($"event_id").as[Long]
      .collect().sorted shouldBe Array(1L, 3L)
    run(base, "TimeWeightedAverage",
      s"""{"source_dir": "$base/ev", "target_dir": "$base/twa",
         | "key_column": "k", "ts_column": "tsu",
         | "value_column": "value", "order_column": "event_id"}"""
        .stripMargin)
    spark.read.parquet(s"$base/twa")
      .select($"twa_num", $"span").as[(Long, Long)]
      .collect() shouldBe Array((100L * 5 + 300L * 25, 30L))
    Seq(("u", 9L, 2L)).toDF("pk", "p_id", "p_ts")
      .write.parquet(s"$base/ipl")
    run(base, "AsOfInterpolate",
      s"""{"source_dir": "$base/ipl", "target_dir": "$base/itp",
         | "right_dir": "$base/ev", "left_key": "pk",
         | "right_key": "k", "left_time": "p_ts", "right_time": "tsu",
         | "value_column": "value", "tie_break": "event_id"}"""
        .stripMargin)
    // t=2 between obs (0, 1.0) and (5, 3.0): 1 + 2 * 2/5 = 1.8
    spark.read.parquet(s"$base/itp").select($"v_interp").as[Double]
      .collect() shouldBe Array(1.8)
  }
}

class MaintenanceParamsSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.core.JobRunner

  private def run(base: String, algo: String, json: String): Unit = {
    val f = java.nio.file.Paths.get(base, s"$algo.json")
    java.nio.file.Files.writeString(f, json)
    JobRunner.execute(spark, algo, f.toString)
  }

  test("the full maintenance loop runs through the params surface: " +
      "version writes, CDC feed, incremental refresh, restore, vacuum") {
    val base = tmp("jr_mx")
    val root = s"$base/table"
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "g", "m")
    val v2 = Seq((1L, "a", 10L), (2L, "b", 25L), (4L, "a", 40L))
      .toDF("id", "g", "m")
    v1.write.parquet(s"$base/src1")
    v2.write.parquet(s"$base/src2")
    // two committed snapshots, v1 range-indexed on id
    run(base, "VersionWrite",
      s"""{"source_dir": "$base/src1", "table_root": "$root",
         | "ts": 1000, "index_col": "id", "num_files": 2}""".stripMargin)
    run(base, "VersionWrite",
      s"""{"source_dir": "$base/src2", "table_root": "$root",
         | "ts": 2000}""".stripMargin)
    // pruned time-travel read of v1 through the CLI surface
    run(base, "VersionRead",
      s"""{"table_root": "$root", "version": 1, "index_col": "id",
         | "lo": 2, "hi": 3, "target_dir": "$base/v1rng"}""".stripMargin)
    assertSameRows(spark.read.parquet(s"$base/v1rng"),
      v1.filter($"id" >= 2 && $"id" <= 3))
    // plain dump of v1 (state seed) + the v1→v2 CDC feed
    run(base, "VersionRead",
      s"""{"table_root": "$root", "version": 1,
         | "target_dir": "$base/v1dump"}""".stripMargin)
    run(base, "VersionDiff",
      s"""{"table_root": "$root", "from_version": 1, "to_version": 2,
         | "key_columns": ["id"], "mode": "changefeed",
         | "check_unique_keys": true,
         | "target_dir": "$base/feed"}""".stripMargin)
    run(base, "IncrementalAggInit",
      s"""{"source_dir": "$base/v1dump", "target_dir": "$base/state",
         | "key_columns": ["g"], "sum_columns": ["m"]}""".stripMargin)
    run(base, "IncrementalAggRefresh",
      s"""{"state_dir": "$base/state", "delta_dir": "$base/feed",
         | "from_changes": true, "key_columns": ["g"],
         | "sum_columns": ["m"],
         | "target_dir": "$base/state2"}""".stripMargin)
    assertSameRows(
      spark.read.parquet(s"$base/state2").select("g", "n_rows", "sum_m"),
      v2.groupBy("g").agg(count(lit(1)).as("n_rows"), sum("m").as("sum_m")))
    // restore v1 as v3, then vacuum the superseded v1 data (forced
    // past the 12h retention floor — test tables are seconds old)
    run(base, "VersionRestore",
      s"""{"table_root": "$root", "version": 1, "ts": 3000}""")
    assertSameRows(
      graft.catalog.VersionedTable.readLatest(spark, fs, root), v1)
    run(base, "VersionVacuum",
      s"""{"table_root": "$root", "keep_last": 2, "retention_ms": 0,
         | "force": true, "sweep_uncommitted": true}""".stripMargin)
    val h = graft.catalog.VersionedTable.history(spark, fs, root)
      .select($"version", $"readable").as[(Long, Boolean)].collect().toMap
    h shouldBe Map(1L -> false, 2L -> true, 3L -> true)
  }

  test("zorder snapshots, compaction and commit-log catch-up run " +
      "through the params surface") {
    val base = tmp("jr_mx3")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val data = spark.range(0, 1024).selectExpr(
      "id % 32 AS x", "CAST(id / 32 AS LONG) AS y", "id AS payload")
    data.write.parquet(s"$base/src")
    run(base, "VersionWrite",
      s"""{"source_dir": "$base/src", "table_root": "$base/zt",
         | "ts": 1000, "x_col": "x", "y_col": "y", "bits": 5,
         | "num_files": 8}""".stripMargin)
    run(base, "VersionRead",
      s"""{"table_root": "$base/zt", "version": 1, "x_col": "x",
         | "y_col": "y", "x_lo": 4, "x_hi": 11, "y_lo": 4, "y_hi": 11,
         | "target_dir": "$base/rect"}""".stripMargin)
    assertSameRows(spark.read.parquet(s"$base/rect"),
      data.filter($"x".between(4, 11) && $"y".between(4, 11)))
    run(base, "VersionCompact",
      s"""{"table_root": "$base/zt", "ts": 2000, "num_files": 2,
         | "index_col": "payload"}""".stripMargin)
    val latest = graft.catalog.VersionedTable.readLatest(spark, fs,
      s"$base/zt")
    assertSameRows(latest, data)
    assert(latest.inputFiles.length <= 2)
    // maintained view fed from the table's commit log (both versions
    // have identical content, so v1→v2 CDC is empty — state unchanged)
    run(base, "MaintainedViewCatchUp",
      s"""{"table_root": "$base/zt", "state_root": "$base/state",
         | "cdc_key_columns": ["payload"], "key_columns": ["x"],
         | "sum_columns": ["payload"]}""".stripMargin)
    assertSameRows(
      graft.catalog.VersionedTable.readLatest(spark, fs, s"$base/state")
        .select("x", "n_rows", "sum_payload"),
      data.groupBy("x").agg(count(lit(1)).as("n_rows"),
        sum("payload").as("sum_payload")))
  }

  test("partitioned snapshots and OCC writes run through the params " +
      "surface") {
    val base = tmp("jr_mx4")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val data = spark.range(0, 300).selectExpr(
      "CAST(id % 3 AS STRING) AS part", "id")
    data.write.parquet(s"$base/src")
    run(base, "VersionWrite",
      s"""{"source_dir": "$base/src", "table_root": "$base/pt",
         | "ts": 1000, "partition_cols": ["part"]}""".stripMargin)
    val c = graft.catalog.VersionedTable.commits(fs, s"$base/pt").head
    c.indexKind shouldBe Some("hive")
    // OCC from the right base succeeds, from a stale base fails
    run(base, "VersionWrite",
      s"""{"source_dir": "$base/src", "table_root": "$base/pt",
         | "ts": 2000, "expected_version": 1}""".stripMargin)
    val e = intercept[java.util.ConcurrentModificationException] {
      run(base, "VersionWrite",
        s"""{"source_dir": "$base/src", "table_root": "$base/pt",
           | "ts": 3000, "expected_version": 1}""".stripMargin)
    }
    e.getMessage should include ("version 2")
    // OCC composes only with the plain layout: combining it with an
    // indexed/partitioned write must fail fast, never silently drop it
    val e2 = intercept[IllegalArgumentException] {
      run(base, "VersionWrite",
        s"""{"source_dir": "$base/src", "table_root": "$base/pt",
           | "ts": 4000, "expected_version": 2,
           | "index_col": "id"}""".stripMargin)
    }
    e2.getMessage should include ("expected_version")
  }

  test("corpus artifact maintenance + admission run through the params " +
      "surface") {
    val base = tmp("jr_mx5")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val v1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "totally different words about engines and planes"))
      .toDF("doc_id", "text")
    graft.catalog.VersionedTable.write(v1, fs, s"$base/corpus", 100L)
    run(base, "CorpusArtifactsCatchUp",
      s"""{"corpus_root": "$base/corpus",
         | "artifacts_root": "$base/arts", "id_column": "doc_id",
         | "text_column": "text"}""".stripMargin)
    graft.catalog.VersionedTable
      .readLatest(spark, fs, s"$base/arts").count() shouldBe 2L
    Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "novel content matching nothing at all anywhere"))
      .toDF("doc_id", "text").write.parquet(s"$base/in")
    run(base, "CorpusAdmit",
      s"""{"source_dir": "$base/in", "corpus_root": "$base/corpus",
         | "artifacts_root": "$base/arts", "id_column": "doc_id",
         | "text_column": "text", "jaccard_threshold": 0.5,
         | "target_dir": "$base/admitted"}""".stripMargin)
    spark.read.parquet(s"$base/admitted").select($"doc_id").as[Long]
      .collect().toSeq shouldBe Seq(11L) // exact dup 10 dropped
  }

  test("vector-index maintenance + search run through the params " +
      "surface") {
    val base = tmp("jr_mx6")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(j =>
      ((seed * 31 + j * 17) % 13 - 6).toFloat)
    val emb = (1L to 30L).map(i => (i, vec(i.toInt)))
      .toDF("vec_id", "embedding")
    graft.catalog.VersionedTable.write(emb, fs, s"$base/emb", 100L)
    run(base, "VectorIndexCatchUp",
      s"""{"embeddings_root": "$base/emb", "index_root": "$base/idx",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "dim": $dim, "m": 4, "ks": 4, "centroids": 4}""".stripMargin)
    emb.limit(2).write.parquet(s"$base/q")
    run(base, "VectorIndexSearch",
      s"""{"source_dir": "$base/q", "index_root": "$base/idx",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "k": 3, "dim": $dim, "m": 4,
         | "target_dir": "$base/hits"}""".stripMargin)
    val hits = spark.read.parquet(s"$base/hits")
    assert(hits.columns.sorted
      === Array("neighbor_id", "pq_dist", "query_id"))
    assert(hits.count() > 0)
  }

  test("weighted and min/max refresh modes run through the params " +
      "surface") {
    val base = tmp("jr_mx2")
    val all = (1 to 60).map(i => (s"g${i % 3}", (i * 17 % 53).toLong, i))
      .toDF("g", "m", "id")
    val baseTbl = all.filter($"id" % 5 =!= 0)
    val delta = all.filter($"id" % 5 === 0).withColumn("w", lit(1L))
      .unionByName(
        baseTbl.filter($"id" % 7 === 0).withColumn("w", lit(-1L)))
    val newBase = all.filter(!($"id" % 5 =!= 0 && $"id" % 7 === 0))
    baseTbl.write.parquet(s"$base/base")
    delta.write.parquet(s"$base/delta")
    newBase.write.parquet(s"$base/newbase")
    run(base, "IncrementalAggInit",
      s"""{"source_dir": "$base/base", "target_dir": "$base/state",
         | "key_columns": ["g"], "sum_columns": ["m"],
         | "min_columns": ["m"], "max_columns": ["m"]}""".stripMargin)
    run(base, "IncrementalAggRefresh",
      s"""{"state_dir": "$base/state", "delta_dir": "$base/delta",
         | "new_base_dir": "$base/newbase", "key_columns": ["g"],
         | "sum_columns": ["m"], "min_columns": ["m"],
         | "max_columns": ["m"], "weight_column": "w",
         | "target_dir": "$base/state2"}""".stripMargin)
    assertSameRows(
      spark.read.parquet(s"$base/state2")
        .select("g", "n_rows", "sum_m", "min_m", "max_m"),
      newBase.groupBy("g").agg(count(lit(1)).as("n_rows"),
        sum("m").as("sum_m"), min("m").as("min_m"), max("m").as("max_m")))
  }

  test("merge with a recorded change set runs through the params " +
      "surface and feeds the maintained view at delta cost") {
    val base = tmp("jr_mx8")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val root = s"$base/table"
    val v1 = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L))
      .toDF("id", "g", "m")
    graft.catalog.VersionedTable.write(v1, fs, root, ts = 1000L)
    run(base, "MaintainedViewCatchUp",
      s"""{"table_root": "$root", "state_root": "$base/state",
         | "cdc_key_columns": ["id"], "key_columns": ["g"],
         | "sum_columns": ["m"]}""".stripMargin)
    Seq((2L, "b", 25L), (4L, "b", 40L)).toDF("id", "g", "m")
      .write.parquet(s"$base/ups")
    Seq(Tuple1(3L)).toDF("id").write.parquet(s"$base/del")
    run(base, "VersionMerge",
      s"""{"upserts_dir": "$base/ups", "delete_keys_dir": "$base/del",
         | "table_root": "$root", "key_columns": ["id"],
         | "ts": 2000}""".stripMargin)
    // the recorded set carries the full 4-type feed
    val feed = graft.catalog.VersionedTable.changeFeed(spark, fs, root,
      1L, 2L, Seq("id"))
    feed.groupBy("change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("insert" -> 1L, "delete" -> 1L, "update_preimage" -> 1L,
        "update_postimage" -> 1L)
    // catch-up folds it; the settled view equals a recompute on v2
    run(base, "MaintainedViewCatchUp",
      s"""{"table_root": "$root", "state_root": "$base/state",
         | "cdc_key_columns": ["id"], "key_columns": ["g"],
         | "sum_columns": ["m"]}""".stripMargin)
    assertSameRows(
      graft.catalog.VersionedTable.readLatest(spark, fs, s"$base/state")
        .select("g", "n_rows", "sum_m"),
      Seq(("a", 1L, 10L), ("b", 2L, 65L)).toDF("g", "n_rows", "sum_m"))
  }

  test("index rebuild + staleness probe run through the params surface") {
    val base = tmp("jr_mx7")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val dim = 8
    def vec(seed: Int) = Array.tabulate(dim)(j =>
      ((seed * 31 + j * 17) % 13 - 6).toFloat)
    def emb(ids: Seq[Long]) =
      ids.map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val embRoot = s"$base/emb"
    graft.catalog.VersionedTable.write(emb(1L to 30L), fs, embRoot,
      ts = 100L)
    run(base, "VectorIndexCatchUp",
      s"""{"embeddings_root": "$embRoot", "index_root": "$base/idx",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "dim": $dim, "m": 4, "ks": 4, "centroids": 4}""".stripMargin)
    graft.catalog.VersionedTable.write(emb((2L to 24L) ++ (31L to 40L)),
      fs, embRoot, ts = 200L)
    run(base, "VectorIndexCatchUp",
      s"""{"embeddings_root": "$embRoot", "index_root": "$base/idx",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "dim": $dim, "m": 4, "ks": 4, "centroids": 4}""".stripMargin)
    // staleness of the drifted (v1-trained) index, via params
    emb(Seq(5L, 35L)).write.parquet(s"$base/q")
    run(base, "VectorIndexStaleness",
      s"""{"source_dir": "$base/q", "target_dir": "$base/stale",
         | "embeddings_root": "$embRoot", "index_root": "$base/idx",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "k": 3, "dim": $dim, "m": 4}""".stripMargin)
    val st = spark.read.parquet(s"$base/stale").collect().head
    st.getAs[Long]("trained_version") shouldBe 1L
    st.getAs[Long]("latest_version") shouldBe 2L
    // rebuild into a fresh root through params; rebuilt meta is
    // v2-trained and its staleness is exactly 1.0
    run(base, "VectorIndexRebuild",
      s"""{"embeddings_root": "$embRoot", "index_root": "$base/idx2",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "dim": $dim, "m": 4, "ks": 4, "centroids": 4}""".stripMargin)
    run(base, "VectorIndexStaleness",
      s"""{"source_dir": "$base/q", "target_dir": "$base/stale2",
         | "embeddings_root": "$embRoot", "index_root": "$base/idx2",
         | "id_column": "vec_id", "vector_column": "embedding",
         | "k": 3, "dim": $dim, "m": 4}""".stripMargin)
    val st2 = spark.read.parquet(s"$base/stale2").collect().head
    st2.getAs[Long]("trained_version") shouldBe 2L
    st2.getAs[Double]("recall") shouldBe 1.0
  }

  test("the streaming maintained view runs once through the params " +
      "surface, with min/max and a resumable checkpoint") {
    val base = tmp("jr_mx6")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val d1 = (1 to 60).map(i => (s"g${i % 3}", (i * 13 % 41).toLong))
      .toDF("k", "m")
    d1.coalesce(1).write.mode("append").parquet(s"$base/in")
    run(base, "MaintainedViewRunOnce",
      s"""{"source_dir": "$base/in", "state_root": "$base/state",
         | "key_columns": ["k"], "sum_columns": ["m"],
         | "min_columns": ["m"], "max_columns": ["m"],
         | "checkpoint_location": "$base/cp"}""".stripMargin)
    val d2 = (1 to 30).map(i => (s"g${i % 3}", (i * 7 % 41 + 100).toLong))
      .toDF("k", "m")
    d2.coalesce(1).write.mode("append").parquet(s"$base/in")
    run(base, "MaintainedViewRunOnce",
      s"""{"source_dir": "$base/in", "state_root": "$base/state",
         | "key_columns": ["k"], "sum_columns": ["m"],
         | "min_columns": ["m"], "max_columns": ["m"],
         | "checkpoint_location": "$base/cp"}""".stripMargin)
    assertSameRows(
      graft.catalog.VersionedTable.readLatest(spark, fs, s"$base/state")
        .select("k", "n_rows", "sum_m", "min_m", "max_m"),
      d1.unionByName(d2).groupBy("k").agg(count(lit(1)).as("n_rows"),
        sum("m").as("sum_m"), min("m").as("min_m"),
        max("m").as("max_m")))
  }

  test("from_changes refresh with min/max dispatches to the touched-" +
      "group recompute — and fails fast without new_base_dir") {
    val base = tmp("jr_mx5")
    val fs = new graft.fsops.FsOps(spark.sparkContext.hadoopConfiguration)
    val root = s"$base/table"
    val v1 = Seq((1L, "a", 90L), (2L, "a", 10L), (3L, "b", 40L))
      .toDF("id", "g", "m")
    // v2 deletes a's max (90), updates b's row, inserts a new a-row —
    // the carried state max would be stale without the recompute
    val v2 = Seq((2L, "a", 10L), (3L, "b", 55L), (4L, "a", 70L))
      .toDF("id", "g", "m")
    graft.catalog.VersionedTable.write(v1, fs, root, ts = 1000L)
    graft.catalog.VersionedTable.write(v2, fs, root, ts = 2000L)
    run(base, "VersionRead",
      s"""{"table_root": "$root", "version": 1,
         | "target_dir": "$base/v1dump"}""".stripMargin)
    run(base, "VersionRead",
      s"""{"table_root": "$root", "version": 2,
         | "target_dir": "$base/v2dump"}""".stripMargin)
    run(base, "VersionDiff",
      s"""{"table_root": "$root", "from_version": 1, "to_version": 2,
         | "key_columns": ["id"], "mode": "changefeed",
         | "target_dir": "$base/feed"}""".stripMargin)
    run(base, "IncrementalAggInit",
      s"""{"source_dir": "$base/v1dump", "target_dir": "$base/state",
         | "key_columns": ["g"], "sum_columns": ["m"],
         | "min_columns": ["m"], "max_columns": ["m"]}""".stripMargin)
    run(base, "IncrementalAggRefresh",
      s"""{"state_dir": "$base/state", "delta_dir": "$base/feed",
         | "from_changes": true, "new_base_dir": "$base/v2dump",
         | "key_columns": ["g"], "sum_columns": ["m"],
         | "min_columns": ["m"], "max_columns": ["m"],
         | "target_dir": "$base/state2"}""".stripMargin)
    assertSameRows(
      spark.read.parquet(s"$base/state2")
        .select("g", "n_rows", "sum_m", "min_m", "max_m"),
      v2.groupBy("g").agg(count(lit(1)).as("n_rows"),
        sum("m").as("sum_m"), min("m").as("min_m"), max("m").as("max_m")))
    // min/max WITHOUT the post-change base: a clear message, not an
    // opaque unionByName AnalysisException
    val e = intercept[IllegalArgumentException] {
      run(base, "IncrementalAggRefresh",
        s"""{"state_dir": "$base/state", "delta_dir": "$base/feed",
           | "from_changes": true, "key_columns": ["g"],
           | "sum_columns": ["m"], "min_columns": ["m"],
           | "max_columns": ["m"],
           | "target_dir": "$base/state3"}""".stripMargin)
    }
    assert(e.getMessage.contains("new_base_dir"))
  }
}
