package graft.algos

import graft.SparkSpec
import graft.fsops.FsOps
import graft.io.DataFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FullLoadSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("DSV landing → derived date partitions → atomic parquet target") {
    val landing = tmp("fl_landing")
    val target = tmp("fl_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "new_data.psv"),
      "1|1|20160601|customer1|150\n2|1|20170215|customer2|10\n3|2|xxxx|customer3|7\n")
    val schema = StructType(Seq(
      StructField("salesorder", IntegerType), StructField("item", IntegerType),
      StructField("date", StringType), StructField("customer", StringType),
      StructField("amount", IntegerType),
      StructField("year", ShortType), StructField("month", ShortType),
      StructField("day", ShortType)))
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target,
      format = DataFormat.Dsv("|"), targetSchema = Some(schema),
      partitionSourceColumn = Some("date"),
      targetPartitions = Seq("year", "month", "day"),
      outputFilesNum = Some(2))).run()
    val out = spark.read.option("basePath", target).parquet(target)
    out.count() shouldBe 3
    out.filter($"salesorder" === 1)
      .select($"year".cast("int"), $"month".cast("int"), $"day".cast("int"))
      .collect().head.toSeq shouldBe Seq(2016, 6, 1)
    // unparsable date lands in the sentinel partition
    out.filter($"salesorder" === 3).select($"year".cast("int"))
      .collect().head.getInt(0) shouldBe 9999
    // second run replaces, with rollback-protected swap
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target,
      format = DataFormat.Dsv("|"), targetSchema = Some(schema),
      partitionSourceColumn = Some("date"),
      targetPartitions = Seq("year", "month", "day"))).run()
    spark.read.option("basePath", target).parquet(target).count() shouldBe 3
  }
}

class FullLoadCorruptRecordSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("PERMISSIVE + corrupt-record channel captures malformed rows") {
    val landing = tmp("cr_landing")
    val target = tmp("cr_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "data.psv"),
      "1|ok\nnotanint|bad\n2|fine\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target,
      format = DataFormat.Dsv("|"), targetSchema = Some(schema),
      readerMode = "PERMISSIVE", outputFilesNum = Some(1),
      addCorruptRecordColumn = true)).run()
    val out = spark.read.parquet(target)
      .select($"id", $"v", $"_corrupt_record")
      .as[(Option[Int], String, Option[String])].collect().sortBy(_._2)
    out.length shouldBe 3
    // malformed row survives with its raw text captured
    out.find(_._2 == "bad").get shouldBe
      ((None, "bad", Some("notanint|bad")))
    // clean rows carry no corrupt-record payload
    out.find(_._2 == "ok").get shouldBe ((Some(1), "ok", None))
  }
}

class FullLoadReshapeSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("flatten pre-task: nested JSON landing → flat partitioned target") {
    val landing = tmp("flr_landing")
    val target = tmp("flr_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "drop.json"),
      """{"id": 1, "meta": {"status": "O", "prio": "H"}, "date": "20160601"}
        |{"id": 2, "meta": {"status": "F", "prio": "L"}, "date": "20170215"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("meta__status", StringType),
      StructField("meta__prio", StringType), StructField("date", StringType),
      StructField("year", ShortType)))
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target, format = DataFormat.Json,
      targetSchema = Some(schema), partitionSourceColumn = Some("date"),
      targetPartitions = Seq("year"), outputFilesNum = Some(1),
      flattenTask = Some(FlattenTask()))).run()
    val out = spark.read.option("basePath", target).parquet(target)
      .select($"id", $"meta__status", $"year".cast("int"))
    out.as[(Long, String, Int)].collect().sorted shouldBe Array(
      (1L, "O", 2016), (2L, "F", 2017))
  }

  test("transpose pre-task: long landing → wide target (pivot values from schema)") {
    val landing = tmp("flt_landing")
    val target = tmp("flt_tgt") + "/t"
    Seq((1, "click", 2.0), (1, "view", 3.0), (2, "click", 5.0))
      .toDF("uid", "kind", "v").coalesce(1)
      .write.mode("overwrite").option("sep", "|").csv(landing)
    val readSchema = StructType(Seq(
      StructField("uid", IntegerType), StructField("kind", StringType),
      StructField("v", DoubleType)))
    val targetSchema = StructType(Seq(
      StructField("uid", IntegerType), StructField("click", DoubleType),
      StructField("view", DoubleType)))
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target,
      format = DataFormat.Dsv("|"), targetSchema = Some(targetSchema),
      readSchema = Some(readSchema), outputFilesNum = Some(1),
      transposeTask = Some(TransposeTask(Seq("uid"), "kind", "v")))).run()
    val out = spark.read.parquet(target).select($"uid", $"click", $"view")
    out.as[(Int, Option[Double], Option[Double])].collect().sorted shouldBe
      Array((1, Some(2.0), Some(3.0)), (2, Some(5.0), None))
  }

  test("flatten + transpose chain composes in reference order") {
    val landing = tmp("flc_landing")
    val target = tmp("flc_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "drop.json"),
      """{"k": {"uid": 1}, "kind": "a", "v": 10}
        |{"k": {"uid": 1}, "kind": "b", "v": 20}
        |""".stripMargin)
    val targetSchema = StructType(Seq(
      StructField("k__uid", LongType), StructField("a", LongType),
      StructField("b", LongType)))
    new FullLoad(spark, fsOps, FullLoadParams(
      sourceDir = landing, targetDir = target, format = DataFormat.Json,
      targetSchema = Some(targetSchema), outputFilesNum = Some(1),
      flattenTask = Some(FlattenTask()),
      transposeTask = Some(TransposeTask(Seq("k__uid"), "kind", "v")))).run()
    spark.read.parquet(target).select($"k__uid", $"a", $"b")
      .as[(Long, Long, Long)].collect() shouldBe Array((1L, 10L, 20L))
  }
}

class AppendLoadSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("filename-regex partitions, header files, incremental appends") {
    val landing = tmp("al_landing")
    val header = tmp("al_header")
    val target = tmp("al_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180422_data.psv"), "1|a\n2|b\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("date_part", StringType)))
    def params = AppendLoadParams(
      sourceDir = landing, targetDir = target, headerDir = header,
      format = DataFormat.Dsv("|"), targetSchema = schema,
      partitionRegexes = Seq(".*\\/(\\d{8})_data\\.psv"),
      targetPartitions = Seq("date_part"))
    new AppendLoad(spark, fsOps, params).run()
    // header.json written for the loaded partition
    assert(fsOps.exists(s"$header/date_part=20180422/header.json"))
    // second drop: new partition file + replacement of the old partition
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(landing, "20180422_data.psv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180423_data.psv"), "3|c\n")
    new AppendLoad(spark, fsOps, params).run()
    val out = spark.read.option("basePath", target).parquet(target)
      .select($"id", $"v", $"date_part".cast("string"))
    out.as[(Int, String, String)].collect().sorted shouldBe Array(
      (1, "a", "20180422"), (2, "b", "20180422"), (3, "c", "20180423"))
  }

  test("a source under a dot-directory lands every row; hidden files and " +
      "_SUCCESS below source_dir are skipped") {
    val landing = tmp("al_dot") + "/.staging/landing"
    val target = tmp("al_dot_tgt") + "/t"
    def put(rel: String, body: String): Unit = {
      val f = java.nio.file.Paths.get(landing, rel)
      java.nio.file.Files.createDirectories(f.getParent)
      java.nio.file.Files.writeString(f, body)
    }
    put("20180422_data.psv", "1|a\n2|b\n")
    put("sub/20180423_data.psv", "3|c\n")
    put(".20180424_data.psv", "8|x\n")
    put(".tmp/20180425_data.psv", "9|y\n")
    put("_SUCCESS", "")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", StringType),
      StructField("date_part", StringType)))
    new AppendLoad(spark, fsOps, AppendLoadParams(
      sourceDir = landing, targetDir = target, headerDir = tmp("al_dot_h"),
      format = DataFormat.Dsv("|"), targetSchema = schema,
      partitionRegexes = Seq(".*\\/(\\d{8})_data\\.psv"),
      targetPartitions = Seq("date_part"))).run()
    val out = spark.read.option("basePath", target).parquet(target)
      .select($"id", $"v", $"date_part".cast("string"))
    out.as[(Int, String, String)].collect().sorted shouldBe Array(
      (1, "a", "20180422"), (2, "b", "20180422"), (3, "c", "20180423"))
  }
}

class AppendLoadEdgeSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  private val schemaV1 = StructType(Seq(
    StructField("id", IntegerType), StructField("v", StringType),
    StructField("date_part", StringType)))

  test("verify path: headerless group's schema is inferred, data loads") {
    val landing = tmp("ale_landing"); val header = tmp("ale_header")
    val target = tmp("ale_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180422_data.json"),
      """{"id": 1, "v": "a"}""" + "\n" + """{"id": 2}""" + "\n")
    new AppendLoad(spark, fsOps, AppendLoadParams(
      sourceDir = landing, targetDir = target, headerDir = header,
      format = DataFormat.Json, targetSchema = schemaV1,
      partitionRegexes = Seq(".*\\/(\\d{8})_data\\.json"),
      targetPartitions = Seq("date_part"),
      verifySchema = true)).run()
    val out = spark.read.option("basePath", target).parquet(target)
      .select($"id", $"v", $"date_part".cast("string"))
    out.as[(Int, String, String)].collect().sorted shouldBe Array(
      (1, "a", "20180422"), (2, null, "20180422"))
    assert(fsOps.exists(s"$header/date_part=20180422/header.json"))
  }

  test("verify path: unknown input columns fail with a clear error") {
    val landing = tmp("ale2_landing"); val header = tmp("ale2_header")
    val target = tmp("ale2_tgt") + "/t"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180422_data.json"),
      """{"id": 1, "v": "a", "rogue_col": 9}""" + "\n")
    val e = intercept[RuntimeException] {
      new AppendLoad(spark, fsOps, AppendLoadParams(
        sourceDir = landing, targetDir = target, headerDir = header,
        format = DataFormat.Json, targetSchema = schemaV1,
        partitionRegexes = Seq(".*\\/(\\d{8})_data\\.json"),
        targetPartitions = Seq("date_part"),
        verifySchema = true)).run()
    }
    e.getMessage should include("rogue_col")
  }

  test("schema evolution: added column via OverwritePartitionsWithAddedColumns") {
    val landing = tmp("ale3_landing"); val header = tmp("ale3_header")
    val target = tmp("ale3_tgt") + "/t"
    // day 1 under schema v1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180422_data.psv"), "1|a\n")
    def params(schema: StructType) = AppendLoadParams(
      sourceDir = landing, targetDir = target, headerDir = header,
      format = DataFormat.Dsv("|"), targetSchema = schema,
      partitionRegexes = Seq(".*\\/(\\d{8})_data\\.psv"),
      targetPartitions = Seq("date_part"),
      writeLoadMode = graft.io.LoadMode.OverwritePartitionsWithAddedColumns)
    new AppendLoad(spark, fsOps, params(schemaV1)).run()
    // day 2 under evolved schema (extra column) — old partition keeps its
    // files; merged read surfaces the new column as null for old rows
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(landing, "20180422_data.psv"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(landing, "20180423_data.psv"), "2|b|extra\n")
    val schemaV2 = StructType(schemaV1.fields.patch(2,
      Seq(StructField("w", StringType)), 0))
    new AppendLoad(spark, fsOps, params(schemaV2)).run()
    val out = spark.read.option("basePath", target)
      .option("mergeSchema", "true").parquet(target)
      .select($"id", $"v", $"w", $"date_part".cast("string"))
    out.as[(Int, String, String, String)].collect().sorted shouldBe Array(
      (1, "a", null, "20180422"), (2, "b", "extra", "20180423"))
    // the evolved partition's header pins the evolved data schema
    val h = fsOps.readFile(s"$header/date_part=20180423/header.json")
    h should include("\"w\"")
  }
}

class DeltaLoadSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("condense + merge: upserts replace, deletions drop, inserts append") {
    val activeD = tmp("dl_a") + "/t"
    val deltaD = tmp("dl_d") + "/t"
    Seq((1, 0, "v1", "p1"), (2, 0, "v2", "p1"), (3, 0, "v3", "p2"))
      .toDF("k", "ver", "v", "p").write.partitionBy("p").parquet(activeD)
    Seq(
      (1, 1, "v1a", "N", "p1"), (1, 2, "v1b", "N", "p1"), // two versions: keep v1b
      (2, 1, "v2x", "D", "p1"),                           // deletion
      (4, 1, "v4", "N", "p2"))                            // insert
      .toDF("k", "ver", "v", "recordmode", "p")
      .write.parquet(deltaD)
    new DeltaLoad(spark, fsOps, DeltaLoadParams(
      activeDir = activeD, deltaDir = deltaD, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"), targetPartitions = Seq("p"))).run()
    val out = spark.read.option("basePath", activeD).parquet(activeD)
      .select($"k", $"v", $"p".cast("string")).as[(Int, String, String)]
      .collect().sorted
    out shouldBe Array((1, "v1b", "p1"), (3, "v3", "p2"), (4, "v4", "p2"))
  }

  test("deletion-only partition is still rewritten (regression)") {
    val activeD = tmp("dl_do_a") + "/t"
    val deltaD = tmp("dl_do_d") + "/t"
    Seq((1, 0, "v1", "p1"), (3, 0, "v3", "p2"))
      .toDF("k", "ver", "v", "p").write.partitionBy("p").parquet(activeD)
    // the delta's ONLY record for p1 is a deletion — no upserts
    Seq((1, 1, "gone", "D", "p1")).toDF("k", "ver", "v", "recordmode", "p")
      .write.parquet(deltaD)
    new DeltaLoad(spark, fsOps, DeltaLoadParams(
      activeDir = activeD, deltaDir = deltaD, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"), targetPartitions = Seq("p"))).run()
    val out = spark.read.option("basePath", activeD).parquet(activeD)
      .select($"k", $"p".cast("string")).as[(Int, String)].collect().sorted
    out shouldBe Array((3, "p2")) // k=1 deleted, p1 dir gone or empty
  }

  test("null-partition rows survive a merge touching the null partition") {
    val activeD = tmp("dl_np_a") + "/t"
    val deltaD = tmp("dl_np_d") + "/t"
    // active: two rows in the null partition, one in p1
    Seq((1, 0, "keepme", None: Option[String]), (2, 0, "old", None),
        (3, 0, "v3", Some("p1")))
      .toDF("k", "ver", "v", "p").write.partitionBy("p").parquet(activeD)
    // delta: updates k=2 (null partition) — k=1 must SURVIVE the rewrite
    // of __HIVE_DEFAULT_PARTITION__, and a deletion-only null-partition
    // case must still replace the dir
    Seq((2, 1, "new", "N", None: Option[String]))
      .toDF("k", "ver", "v", "recordmode", "p").write.parquet(deltaD)
    new DeltaLoad(spark, fsOps, DeltaLoadParams(
      activeDir = activeD, deltaDir = deltaD, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"), targetPartitions = Seq("p"))).run()
    val out = spark.read.option("basePath", activeD).parquet(activeD)
      .select($"k", $"v").as[(Int, String)].collect().sorted
    out shouldBe Array((1, "keepme"), (2, "new"), (3, "v3"))
  }

  test("deletion-only NULL partition is rewritten (dir-name regression)") {
    val activeD = tmp("dl_nd_a") + "/t"
    val deltaD = tmp("dl_nd_d") + "/t"
    Seq((1, 0, "gone soon", None: Option[String]), (3, 0, "v3", Some("p1")))
      .toDF("k", "ver", "v", "p").write.partitionBy("p").parquet(activeD)
    Seq((1, 1, "x", "D", None: Option[String]))
      .toDF("k", "ver", "v", "recordmode", "p").write.parquet(deltaD)
    new DeltaLoad(spark, fsOps, DeltaLoadParams(
      activeDir = activeD, deltaDir = deltaD, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"), targetPartitions = Seq("p"))).run()
    val out = spark.read.option("basePath", activeD).parquet(activeD)
      .select($"k").as[Int].collect()
    out shouldBe Array(3) // k=1's null-partition dir was replaced away
  }
}

class DeltaMergeLoadSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("init load, then merge with schema evolution and date partitions") {
    val target = tmp("dml_t") + "/t"
    val deltaD1 = tmp("dml_d1") + "/t"
    val deltaD2 = tmp("dml_d2") + "/t"
    Seq((1, 1, "a", "", "20200101"), (2, 1, "b", "", "20200102"))
      .toDF("k", "ver", "v", "recordmode", "date").write.parquet(deltaD1)
    def params(d: String) = DeltaMergeLoadParams(
      targetDir = target, deltaDir = d, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"),
      partitionSourceColumn = Some("date"),
      targetPartitions = Seq("year", "month"))
    new DeltaMergeLoad(spark, fsOps, params(deltaD1)).run()
    spark.read.option("basePath", target).parquet(target).count() shouldBe 2
    // merge: update k=1, delete k=2, insert k=3 carrying a NEW column
    Seq((1, 2, "a2", "", "20200101", "extra1"),
        (2, 2, "b", "D", "20200102", null),
        (3, 1, "c", "", "20200103", "extra3"))
      .toDF("k", "ver", "v", "recordmode", "date", "note")
      .write.parquet(deltaD2)
    new DeltaMergeLoad(spark, fsOps, params(deltaD2)).run()
    val out = spark.read.option("basePath", target).parquet(target)
    out.columns should contain("note")
    out.select($"k", $"v").as[(Int, String)].collect().sorted shouldBe
      Array((1, "a2"), (3, "c"))
  }

  test("deletion-only partition is rewritten (regression, same as DeltaLoad)") {
    val target = tmp("dml_do_t") + "/t"
    val d1 = tmp("dml_do_d1") + "/t"
    val d2 = tmp("dml_do_d2") + "/t"
    Seq((1, 1, "a", "", "20200101"), (2, 1, "b", "", "20200201"))
      .toDF("k", "ver", "v", "recordmode", "date").write.parquet(d1)
    def params(d: String) = DeltaMergeLoadParams(
      targetDir = target, deltaDir = d, format = DataFormat.Parquet,
      businessKey = Seq("k"), technicalKey = Seq("ver"),
      recordsToDelete = Seq("D"), partitionSourceColumn = Some("date"),
      targetPartitions = Seq("year", "month"))
    new DeltaMergeLoad(spark, fsOps, params(d1)).run()
    // delta only deletes k=1 (the sole row of month=1)
    Seq((1, 2, "a", "D", "20200101"))
      .toDF("k", "ver", "v", "recordmode", "date").write.parquet(d2)
    new DeltaMergeLoad(spark, fsOps, params(d2)).run()
    spark.read.option("basePath", target).parquet(target)
      .select($"k").as[Int].collect() shouldBe Array(2)
  }
}

class SmallAlgoSpec extends SparkSpec {
  import spark.implicits._
  private def fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)

  test("Transpose pivots long to wide with explicit values") {
    val df = Seq((1, "a", 10), (1, "b", 20), (2, "a", 30))
      .toDF("id", "key", "v")
    val out = Transpose(df, Seq("id"), "key", Seq("a", "b"), "v")
    out.orderBy("id").collect().map(_.toSeq) shouldBe
      Array(Seq(1, 10, 20), Seq(2, 30, null))
  }

  test("FixedSizeStringExtractor unpacks typed fields, empty → null") {
    import FixedSizeStringExtractor.FieldSpec
    val df = Seq("AB  12x", "CD   3 ").toDF("s")
    val out = FixedSizeStringExtractor(df, "s", Seq(
      FieldSpec("a", 1, 4, StringType), FieldSpec("n", 5, 6, IntegerType),
      FieldSpec("x", 7, 7, StringType)))
    out.collect().map(_.toSeq) should contain theSameElementsAs Seq(
      Seq("AB", 12, "x"), Seq("CD", 3, null))
  }

  test("NestedFlattener cleans names then flattens") {
    val df = Seq((1, ("x", Seq(1, 2)))).toDF("id", "nested")
    val out = NestedFlattener(df)
    out.columns.toSet shouldBe Set("id", "nested___1", "nested___2")
    out.count() shouldBe 2 // array exploded
  }

  test("SQLRunner runs steps sequentially, returns last result") {
    val out = SQLRunner.run(spark, Seq(
      "CREATE OR REPLACE TEMPORARY VIEW sqlr_t AS SELECT 1 AS a UNION ALL SELECT 2",
      "SELECT sum(a) AS s FROM sqlr_t"))
    out.collect().head.getLong(0) shouldBe 3L
  }

  test("SQLRunner steps can use the graft SQL functions (nfc_normalize, " +
      "shingle_hashes) without a Scala entry point") {
    val out = SQLRunner.run(spark, Seq(
      "CREATE OR REPLACE TEMPORARY VIEW sqlr_fn AS " +
        "SELECT 'a b c d' AS t UNION ALL SELECT 'x y z'",
      """SELECT sum(size(shingle_hashes(split(t, ' '), 2))) AS n,
        | count(nfc_normalize(t)) AS c
        |FROM sqlr_fn""".stripMargin))
    val row = out.collect().head
    row.getLong(0) shouldBe 5L // 3 + 2 bigram shingles
    row.getLong(1) shouldBe 2L
  }

  test("GzipDecompressor inflates gz and zip, removes archives") {
    val dir = tmp("gz")
    val gzPath = java.nio.file.Paths.get(dir, "a.csv.gz")
    val gzOut = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gzPath))
    gzOut.write("1|x\n".getBytes); gzOut.close()
    val zipPath = java.nio.file.Paths.get(dir, "b.csv.zip")
    val zipOut = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(zipPath))
    zipOut.putNextEntry(new java.util.zip.ZipEntry("b.csv"))
    zipOut.write("2|y\n".getBytes); zipOut.closeEntry(); zipOut.close()
    new GzipDecompressor(spark.sparkContext.hadoopConfiguration, fsOps, 2)
      .run(dir)
    val files = fsOps.ls(dir).sorted
    files shouldBe Seq("a.csv", "b.csv")
    spark.read.option("sep", "|").csv(dir).count() shouldBe 2
  }

  test("Materialization writes versioned dirs and retains N") {
    val src = tmp("mat_src") + "/t"
    val tgt = tmp("mat_tgt")
    Seq((1, "F"), (2, "O")).toDF("v", "st").write.partitionBy("st").parquet(src)
    val p = MaterializationParams(src, tgt,
      MaterializationScope.Query(Seq(Seq("st" -> "F"))),
      targetPartitions = Seq("st"), versionsToRetain = 0)
    val m1 = new Materialization(spark, fsOps, p); m1.run()
    Thread.sleep(5) // distinct timestamped dir names
    val m2 = new Materialization(spark, fsOps, p); m2.run()
    val versions = fsOps.ls(tgt).filter(_.startsWith("data_"))
    versions.size shouldBe 1 // retain = 0 previous + current
    spark.read.option("basePath", m2.currentVersion.get)
      .parquet(m2.currentVersion.get).select($"v").as[Int]
      .collect() shouldBe Array(1)
  }
}
