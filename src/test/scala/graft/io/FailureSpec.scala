package graft.io

import graft.SparkSpec
import graft.fsops.{FailingFsOps, FsOps}

/** Mid-write failure injection: the write must leave the target exactly as
  * it was (reference behavior: FailFastIntegrationTest — metadata and data
  * safety on failure).
  */
class AtomicWriterFailureSpec extends SparkSpec {
  import spark.implicits._

  /** Throws on the FIRST move whose destination contains `dest`. */
  private def failingAt(dest: String) =
    new FailingFsOps(spark.sparkContext.hadoopConfiguration,
      _.contains(dest))()

  private def readTarget(dir: String) =
    spark.read.option("basePath", dir).parquet(dir)
      .select($"v", $"p".cast("string")).as[(Int, String)].collect().sorted

  test("partition merge failure restores backed-up partitions") {
    val dir = tmp("awf") + "/t"
    val good = new AtomicWriter(
      new FsOps(spark.sparkContext.hadoopConfiguration), Seq("p"), None)
    good.write(Seq((1, "p1"), (5, "p2")).toDF("v", "p"), DataFormat.Parquet,
      dir, LoadMode.OverwritePartitions)
    // fail when installing the new p=p2 partition dir (p=p1 already swapped)
    val failing = new AtomicWriter(failingAt(s"$dir/p=p2"),
      Seq("p"), None)
    an[Exception] should be thrownBy failing.write(
      Seq((2, "p1"), (99, "p2")).toDF("v", "p"), DataFormat.Parquet,
      dir, LoadMode.OverwritePartitions)
    // target content unchanged: both original partitions restored
    readTarget(dir) shouldBe Array((1, "p1"), (5, "p2"))
  }

  test("failure rollback also removes freshly installed NEW partitions") {
    val dir = tmp("awf3") + "/t"
    val good = new AtomicWriter(
      new FsOps(spark.sparkContext.hadoopConfiguration), Seq("p"), None)
    good.write(Seq((1, "p1")).toDF("v", "p"), DataFormat.Parquet,
      dir, LoadMode.OverwritePartitions)
    // incoming has existing p1 + brand-new p2; fail installing p1 so p2
    // (whatever the install order) must not survive as a partial commit
    val failing = new AtomicWriter(failingAt(s"$dir/p=p1"),
      Seq("p"), None)
    an[Exception] should be thrownBy failing.write(
      Seq((2, "p1"), (99, "p2")).toDF("v", "p"), DataFormat.Parquet,
      dir, LoadMode.OverwritePartitions)
    readTarget(dir) shouldBe Array((1, "p1"))
  }

  test("whole-table overwrite failure restores the previous table") {
    val dir = tmp("awf2") + "/t"
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val good = new AtomicWriter(fsOps, Seq.empty, Some(1))
    good.write(Seq((1, "a")).toDF("k", "x"), DataFormat.Parquet, dir,
      LoadMode.OverwriteTable)
    // fail only the first move of tmp -> target (dest == exact target dir);
    // the rollback's backup -> target move must then succeed
    val failing = new AtomicWriter(
      new FailingFsOps(spark.sparkContext.hadoopConfiguration, _ == dir)(),
      Seq.empty, Some(1))
    an[Exception] should be thrownBy failing.write(
      Seq((2, "b")).toDF("k", "x"), DataFormat.Parquet, dir,
      LoadMode.OverwriteTable)
    spark.read.parquet(dir).as[(Int, String)].collect() shouldBe
      Array((1, "a"))
  }

  /** An FsOps whose one fault hits the first call on an existing backup
    * tree beside `dir`: its removal after the last install move (the
    * backup moves create their destinations, so they never match).
    */
  private def failingBackupRemoval(dir: String) = {
    val fs = new FsOps(spark.sparkContext.hadoopConfiguration)
    new FailingFsOps(spark.sparkContext.hadoopConfiguration,
      d => d.startsWith(dir + "_backup_") && fs.exists(d))()
  }

  test("partition write: a fault removing the backup after the last " +
      "install move leaves the new content and does not throw") {
    val dir = tmp("awf4") + "/t"
    new AtomicWriter(new FsOps(spark.sparkContext.hadoopConfiguration),
      Seq("p"), None).write(Seq((1, "p1"), (5, "p2")).toDF("v", "p"),
      DataFormat.Parquet, dir, LoadMode.OverwritePartitions)
    new AtomicWriter(failingBackupRemoval(dir), Seq("p"), None).write(
      Seq((2, "p1")).toDF("v", "p"), DataFormat.Parquet, dir,
      LoadMode.OverwritePartitions) shouldBe Seq("p=p1")
    readTarget(dir) shouldBe Array((2, "p1"), (5, "p2"))
  }

  test("whole-table write: a fault removing the backup after the last " +
      "install move leaves the new content and does not throw") {
    val dir = tmp("awf5") + "/t"
    new AtomicWriter(new FsOps(spark.sparkContext.hadoopConfiguration),
      Seq.empty, Some(1)).write(Seq((1, "a")).toDF("k", "x"),
      DataFormat.Parquet, dir, LoadMode.OverwriteTable)
    new AtomicWriter(failingBackupRemoval(dir), Seq.empty, Some(1)).write(
      Seq((2, "b")).toDF("k", "x"), DataFormat.Parquet, dir,
      LoadMode.OverwriteTable) shouldBe Seq.empty
    spark.read.parquet(dir).as[(Int, String)].collect() shouldBe
      Array((2, "b"))
  }
}
