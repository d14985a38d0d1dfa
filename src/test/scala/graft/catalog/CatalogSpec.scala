package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CatalogOpsSpec extends SparkSpec {
  import spark.implicits._

  test("location lookup, partition recovery, analyze statistics") {
    val dir = tmp("cat") + "/t"
    Seq((1, "p1"), (2, "p2")).toDF("v", "p")
      .write.partitionBy("p").parquet(dir)
    spark.sql("DROP TABLE IF EXISTS cat_t")
    spark.sql(
      s"CREATE TABLE cat_t (v INT, p STRING) USING parquet PARTITIONED BY (p) LOCATION '$dir'")
    // table starts with no partition metadata → empty scan
    spark.table("cat_t").count() shouldBe 0
    CatalogOps.recoverPartitionsNative(spark, "cat_t")
    spark.table("cat_t").count() shouldBe 2
    CatalogOps.tableLocation(spark, "cat_t") should include("/t")
    // custom recovery path: add a new partition dir, register explicitly
    Seq((3, "p3")).toDF("v", "p").write.mode("append")
      .partitionBy("p").parquet(dir)
    CatalogOps.recoverPartitionsCustom(spark, "cat_t", Seq(Seq("p" -> "p3")))
    spark.table("cat_t").count() shouldBe 3
    CatalogOps.computeStatistics(spark, "cat_t", perPartition = true,
      partitionColumns = Seq("p"))
    // CBO stats recorded
    spark.sql("DESCRIBE EXTENDED cat_t").filter($"col_name" === "Statistics")
      .count() shouldBe 1
    CatalogOps.refresh(spark, "cat_t")
    spark.sql("DROP TABLE cat_t")
  }

  test("saveToTable truncates on overwrite; append appends") {
    import graft.io.LoadMode
    spark.sql("DROP TABLE IF EXISTS tw_t")
    TableWriter.saveToTable(Seq((1, "a")).toDF("k", "v"), "tw_t",
      LoadMode.OverwriteTable)
    TableWriter.saveToTable(Seq((2, "b")).toDF("k", "v"), "tw_t",
      LoadMode.AppendUnionPartitions)
    spark.table("tw_t").count() shouldBe 2
    TableWriter.saveToTable(Seq((3, "c")).toDF("k", "v"), "tw_t",
      LoadMode.OverwriteTable)
    spark.table("tw_t").as[(Int, String)].collect() shouldBe Array((3, "c"))
    spark.sql("DROP TABLE tw_t")
  }

  test("writeToTableLocation installs partitions atomically + recovers metadata") {
    import graft.fsops.FsOps
    import graft.io.LoadMode
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val dir = tmp("twl") + "/t"
    Seq((1, "p1")).toDF("v", "p").write.partitionBy("p").parquet(dir)
    spark.sql("DROP TABLE IF EXISTS twl_t")
    spark.sql(s"CREATE TABLE twl_t (v INT, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$dir'")
    CatalogOps.recoverPartitionsNative(spark, "twl_t")
    TableWriter.writeToTableLocation(Seq((2, "p2")).toDF("v", "p"), fsOps,
      "twl_t", LoadMode.OverwritePartitions, Seq("p"))
    spark.table("twl_t").select($"v").as[Int].collect().sorted shouldBe
      Array(1, 2)
    spark.sql("DROP TABLE twl_t")
  }

  test("recreateTable swaps location with rollback on failure") {
    val d1 = tmp("rc1") + "/t"; val d2 = tmp("rc2") + "/t"
    Seq((1, "p1")).toDF("v", "p").write.partitionBy("p").parquet(d1)
    Seq((2, "p1"), (3, "p2")).toDF("v", "p").write.partitionBy("p").parquet(d2)
    spark.sql("DROP TABLE IF EXISTS rc_t")
    spark.sql(s"CREATE TABLE rc_t (v INT, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$d1'")
    CatalogOps.recoverPartitionsNative(spark, "rc_t")
    TableWriter.recreateTable(spark, "rc_t", d2)
    spark.table("rc_t").count() shouldBe 2
    spark.sql("DROP TABLE rc_t")
  }

  test("recreateTableLike: Hive CREATE-LIKE temp-table swap + recovery") {
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "this spec must run against a Hive catalog")
    val d1 = tmp("rl1") + "/t"; val d2 = tmp("rl2") + "/t"
    Seq((1, "p1")).toDF("v", "p").write.partitionBy("p").parquet(d1)
    Seq((2, "p1"), (3, "p2")).toDF("v", "p").write.partitionBy("p").parquet(d2)
    spark.sql("DROP TABLE IF EXISTS rl_t")
    spark.sql(s"CREATE TABLE rl_t (v INT, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$d1'")
    CatalogOps.recoverPartitionsNative(spark, "rl_t")
    TableWriter.recreateTableLike(spark, "rl_t", d2, Seq("p"))
    spark.table("rl_t").select($"v").as[Int].collect().sorted shouldBe
      Array(2, 3)
    CatalogOps.tableLocation(spark, "rl_t") should include("rl2")
    spark.sql("DROP TABLE rl_t")
  }

  test("recreateTableLike: failed swap leaves the table serving old data") {
    val d1 = tmp("rlf1") + "/t"
    Seq((1, "p1"), (2, "p2")).toDF("v", "p").write.partitionBy("p").parquet(d1)
    spark.sql("DROP TABLE IF EXISTS rlf_t")
    spark.sql(s"CREATE TABLE rlf_t (v INT, p STRING) USING parquet " +
      s"PARTITIONED BY (p) LOCATION '$d1'")
    CatalogOps.recoverPartitionsNative(spark, "rlf_t")
    // new location nested under a regular FILE → the metastore's location
    // mkdir fails with ENOTDIR (even as root) mid-swap; the metastore must
    // come back serving the old location (FailFastIntegrationTest
    // metadata-safety behavior)
    val blocker = tmp("rlf2") + "/notadir"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(blocker), "x")
    val badLoc = blocker + "/t"
    intercept[Exception] {
      TableWriter.recreateTableLike(spark, "rlf_t", badLoc, Seq("p"))
    }
    spark.catalog.tableExists("rlf_t") shouldBe true
    spark.catalog.tableExists("rlf_t_tmp") shouldBe false
    spark.table("rlf_t").select($"v").as[Int].collect().sorted shouldBe
      Array(1, 2)
    spark.sql("DROP TABLE rlf_t")
  }

  test("compactPartitions rewrites to a controlled file count, same content") {
    import graft.fsops.FsOps
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val dir = tmp("cmp") + "/t"
    spark.range(100).selectExpr("id AS v", "'p1' AS p").repartition(8)
      .write.partitionBy("p").parquet(dir)
    fsOps.ls(s"$dir/p=p1").count(_.endsWith(".parquet")) should be > 4
    CatalogOps.compactPartitions(spark, fsOps, dir, Seq("p=p1"), 1)
    fsOps.ls(s"$dir/p=p1").count(_.endsWith(".parquet")) shouldBe 1
    spark.read.parquet(s"$dir/p=p1").count() shouldBe 100
  }

  test("compactPartitions handles many partitions concurrently and intact") {
    import graft.fsops.FsOps
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val dir = tmp("cmp_many") + "/t"
    spark.range(1000).selectExpr("id AS v", "concat('g', id % 10) AS p")
      .repartition(6)
      .write.partitionBy("p").parquet(dir)
    val parts = (0 until 10).map(i => s"p=g$i")
    val before = spark.read.parquet(dir)
      .groupBy($"p").count().as[(String, Long)].collect().toMap
    CatalogOps.compactPartitions(spark, fsOps, dir, parts, 1,
      maxConcurrent = 8)
    parts.foreach { p =>
      fsOps.ls(s"$dir/$p").count(_.endsWith(".parquet")) shouldBe 1
    }
    val after = spark.read.parquet(dir)
      .groupBy($"p").count().as[(String, Long)].collect().toMap
    after shouldBe before
    after.values.sum shouldBe 1000L
  }

  test("a reader at compaction's install move sees only the table's own " +
      "partitions and the original row count") {
    import graft.fsops.FsOps
    val dir = tmp("cmp_vis") + "/t"
    spark.range(100).selectExpr("id AS v", "IF(id < 60, 'p1', 'p2') AS p")
      .repartition(4).write.partitionBy("p").parquet(dir)
    var seen = Seq.empty[(Seq[String], Long)]
    // observes the table right after every move that lands inside it
    val observing = new FsOps(spark.sparkContext.hadoopConfiguration) {
      override def move(src: String, dest: String): Unit = {
        super.move(src, dest)
        if (dest.startsWith(dir + "/"))
          seen :+= (ls(dir).filter(_.contains("=")).sorted ->
            spark.read.parquet(dir).count())
      }
    }
    CatalogOps.compactPartitions(spark, observing, dir, Seq("p=p1"), 1)
    seen should not be empty
    seen.foreach(_ shouldBe (Seq("p=p1", "p=p2") -> 100L))
    observing.ls(s"$dir/p=p1").count(_.endsWith(".parquet")) shouldBe 1
  }

  test("a move fault during compaction leaves every partition's content " +
      "and file layout as they were") {
    import graft.fsops.{FailingFsOps, FsOps}
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val root = tmp("cmp_fault")
    val dir = root + "/t"
    spark.range(1000).selectExpr("id AS v", "concat('g', id % 4) AS p")
      .repartition(6).write.partitionBy("p").parquet(dir)
    val parts = (0 until 4).map(i => s"p=g$i")
    def layout = parts.map(p => p -> fsOps.ls(s"$dir/$p").sorted)
    def content = spark.read.parquet(dir).as[(Long, String)].collect().sorted
    val (layoutBefore, contentBefore) = (layout, content)
    // the third partition's install move fails; two are already in
    val failing = new FailingFsOps(spark.sparkContext.hadoopConfiguration,
      _ == s"$dir/p=g2")()
    an[java.io.IOException] should be thrownBy
      CatalogOps.compactPartitions(spark, failing, dir, parts, 1,
        maxConcurrent = 4)
    layout shouldBe layoutBefore
    content shouldBe contentBefore
    fsOps.ls(root) shouldBe Seq("t") // no temp or backup tree left behind
  }

  test("runConcurrently genuinely overlaps work and still rethrows " +
      "the first failure after waiting for all items") {
    // two items each block until the OTHER has started: passes only if
    // they run at the same time (a serial loop would deadlock — the
    // latch has a timeout so a regression fails fast instead of hanging)
    val started = new java.util.concurrent.CountDownLatch(2)
    CatalogOps.runConcurrently(Seq(1, 2), maxConcurrent = 4) { _ =>
      started.countDown()
      assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "items did not overlap: compaction has regressed to a serial loop")
    }
    // failure propagation: every item still runs (no abandoned rewrite
    // mid-flight), and the first error surfaces to the caller
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      CatalogOps.runConcurrently(Seq(1, 2, 3, 4), maxConcurrent = 2) { i =>
        ran.incrementAndGet()
        if (i == 2) throw new IllegalStateException("boom")
      }
    }
    e.getMessage shouldBe "boom"
    ran.get() shouldBe 4
  }

  test("runConcurrently attaches additional failures as suppressed and " +
      "bounds the wait, naming the stuck item") {
    // several failing partitions: ALL errors must surface (first thrown,
    // rest suppressed) — a multi-partition compaction that fails in three
    // places must not report just one
    val e = intercept[IllegalStateException] {
      CatalogOps.runConcurrently(Seq(1, 2, 3, 4), maxConcurrent = 4) { i =>
        if (i >= 2) throw new IllegalStateException(s"boom$i")
      }
    }
    (e.getMessage +: e.getSuppressed.map(_.getMessage).toSeq).sorted shouldBe
      Seq("boom2", "boom3", "boom4")

    // a hung item must not stall the run forever: the bounded await names
    // the item that is still running
    import scala.concurrent.duration.DurationInt
    val hang = new java.util.concurrent.CountDownLatch(1)
    try {
      val t = intercept[java.util.concurrent.TimeoutException] {
        CatalogOps.runConcurrently(Seq("fine", "stuck"), maxConcurrent = 2,
          timeout = 2.seconds) { p =>
          if (p == "stuck") hang.await()
        }
      }
      t.getMessage should include("stuck")
    } finally hang.countDown()
  }
}
