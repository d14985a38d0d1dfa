package graft.core

import graft.SparkSpec
import graft.operators.{Bpe, GraphRank}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** [[Pin]]'s contract, and the iterative operators that release through
  * it. Storage is checked by persistent-RDD id SETS, not counts:
  * checkpoint blocks from earlier tests are GC-cleaned asynchronously, so
  * a count can drop mid-test and mask a new pin.
  */
class PinSpec extends SparkSpec {
  import spark.implicits._

  private def ids = spark.sparkContext.getPersistentRDDs.keySet

  /** New persistent-RDD ids left once `body` returns; its result stays
    * reachable until they are counted. */
  private def leftPinned(body: => DataFrame): Int = {
    val before = ids
    val out = body
    val n = (ids -- before).size
    out.count()
    n
  }

  test("a checkpoint's release frees the blocks that unpersist leaves; " +
      "a cache release frees only a cache the pin made") {
    val df = spark.range(100).toDF("id")
    val before = ids
    val cp = Pin.checkpoint(df, eager = true)
    cp.frame.unpersist()
    (ids -- before) should have size 1 // unpersist frees no checkpoint
    cp.release()
    (ids -- before) shouldBe empty

    val owned = Pin.cache(df.filter($"id" > 3))
    owned.frame.count() shouldBe 96
    owned.frame.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
    owned.release()
    owned.frame.storageLevel shouldBe StorageLevel.NONE

    val callers = df.filter($"id" > 5).persist(StorageLevel.MEMORY_ONLY)
    try {
      val borrowed = Pin.cache(callers)
      borrowed.use(_.count()) shouldBe 94
      callers.storageLevel shouldBe StorageLevel.MEMORY_ONLY
    } finally callers.unpersist()
  }

  test("pageRank, learnMerges and segmentVocabulary keep as many pins " +
      "after 8 rounds as after 2") {
    val edges = ((1L to 12L).map(i => (i, i % 12 + 1)) ++
        Seq((1L, 5L), (2L, 9L), (4L, 7L), (6L, 1L), (8L, 3L)))
      .toDF("src", "dst")
    def ranks(rounds: Int) = leftPinned(
      GraphRank.pageRank(edges, maxIters = rounds, tol = 0.0))
    ranks(8) shouldBe ranks(2)

    val docs = Seq(
      "lower lowest newer newest wider widest",
      "slower slowest longer longest stronger strongest",
      "low new wide slow long strong older oldest")
      .toDF("text")
    def merges(rounds: Int) = leftPinned(Bpe.learnMerges(docs, "text",
      rounds))
    merges(8) shouldBe merges(2)

    val table = Bpe.learnMerges(docs, "text", 8)
    table.count() shouldBe 8
    def waves(rounds: Int) = leftPinned(Bpe.segmentVocabulary(docs, "text",
      table.filter($"rank" <= rounds), maxRules = 1))
    waves(8) shouldBe waves(2)
  }

  test("GraphRank keeps a caller-persisted edge frame's cache across " +
      "every entry point") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 2L))
      .toDF("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val before = ids
      edges.count()
      val cached = ids -- before
      cached should have size 1
      def stillCached(): Unit = {
        edges.storageLevel shouldBe StorageLevel.MEMORY_AND_DISK
        ids should contain allElementsOf cached
      }
      val ranks = GraphRank.initRanks(edges)
      GraphRank.pageRankStep(ranks, edges).count() shouldBe 4
      stillCached()
      GraphRank.pageRankStepSeeded(ranks, edges,
        Seq(1L).toDF("id")).count() shouldBe 4
      stillCached()
      GraphRank.hitsScores(edges).count() shouldBe 4
      stillCached()
      GraphRank.pageRank(edges, maxIters = 3).count() shouldBe 4
      stillCached()
    } finally edges.unpersist()
  }
}
