package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("latest right row at or before each left time, per key") {
    val left = Seq((100L, 1L, 50L), (101L, 1L, 5L), (102L, 2L, 50L))
      .toDF("p_id", "user_id", "p_ts")
    val right = Seq((9L, 1L, 10L), (10L, 1L, 40L), (11L, 1L, 60L))
      .toDF("click_id", "c_user", "c_ts")
    val out = AsOfJoin(left, right, col("user_id"), col("c_user"),
        col("p_ts"), col("c_ts"), col("click_id"))
      .select($"p_id", $"click_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1)
    out shouldBe Array(
      (100L, Some(10L)), // 40 <= 50, latest
      (101L, None),      // nothing at or before 5
      (102L, None))      // key 2 has no right rows
  }

  test("sort-fill equals the pair-expansion baseline; inclusive at equal " +
      "ts; max tie-break at equal right ts; inner drops unmatched") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 40L), (3L, 10L, 39L),
      (4L, 20L, 5L), (5L, 30L, 7L))
      .toDF("p_id", "k", "p_ts")
    val right = Seq((100L, 10L, 40L), (101L, 10L, 40L), (102L, 10L, 90L),
      (103L, 20L, 5L), (104L, 20L, 3L))
      .toDF("r_id", "rk", "r_ts")
    val fill = AsOfJoin(left, right, col("k"), col("rk"),
        col("p_ts"), col("r_ts"), col("r_id"))
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1)
    fill shouldBe Array(
      (1L, Some(102L)), // 90 <= 100
      (2L, Some(101L)), // equal ts 40 matches (inclusive); tie -> max r_id
      (3L, None),       // 39 < 40: nothing at or before
      (4L, Some(103L)), // equal ts 5 inclusive
      (5L, None))       // key 30 absent on the right
    // identical to the pair-expansion baseline on the same input
    val base = AsOfJoin.pairExpansion(left, right, col("k"), col("rk"),
        col("p_ts"), col("r_ts"), col("p_id"), col("r_id"))
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1)
    base shouldBe fill
    // and on random per-key histories, ties in right ts included
    def side(n: Int, salt: Int, idc: String, kc: String, tc: String) =
      spark.range(n).select(($"id" + salt * 1000000).as(idc),
        pmod(hash($"id" + salt), lit(7)).cast("long").as(kc),
        pmod(hash($"id" * 31 + salt), lit(500)).cast("long").as(tc))
    val rl = side(300, 1, "p_id", "k", "p_ts")
    val rr = side(900, 2, "r_id", "rk", "r_ts")
    assertSameRows(
      AsOfJoin(rl, rr, col("k"), col("rk"), col("p_ts"), col("r_ts"),
        col("r_id")).select($"p_id", $"r_id"),
      AsOfJoin.pairExpansion(rl, rr, col("k"), col("rk"), col("p_ts"),
        col("r_ts"), col("p_id"), col("r_id")).select($"p_id", $"r_id"))
    // inner keeps only matched left rows
    AsOfJoin(left, right, col("k"), col("rk"), col("p_ts"), col("r_ts"),
        col("r_id"), joinType = "inner")
      .select($"p_id").as[Long].collect().sorted shouldBe Array(1L, 2L, 4L)
  }

  test("forward direction: earliest right row at or after each left time") {
    val left = Seq((1L, 10L, 50L), (2L, 10L, 91L), (3L, 20L, 5L))
      .toDF("p_id", "k", "p_ts")
    val right = Seq((100L, 10L, 40L), (101L, 10L, 50L), (102L, 10L, 50L),
      (103L, 10L, 90L)).toDF("r_id", "rk", "r_ts")
    AsOfJoin(left, right, col("k"), col("rk"), col("p_ts"), col("r_ts"),
        col("r_id"), direction = "forward")
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe Array(
      (1L, Some(102L)), // equal ts 50 inclusive; tie -> max r_id
      (2L, None),       // nothing at or after 91
      (3L, None))       // key 20 absent on the right
  }

  test("bucketed variant equals apply() on random data with a hot key, " +
      "empty buckets, and cross-bucket matches") {
    // key 0 is HOT (half the rows); times cluster so many buckets are
    // empty and matches must travel across them via seeds
    def side(n: Int, salt: Int, idc: String, kc: String, tc: String) =
      spark.range(n).select(($"id" + salt * 1000000).as(idc),
        when(pmod($"id", lit(2)) === 0, 0L)
          .otherwise(pmod(hash($"id" + salt), lit(5))).as(kc),
        pmod(hash($"id" * 17 + salt), lit(100000L)).as(tc))
    val left = side(800, 1, "p_id", "k", "p_ts")
    val right = side(1200, 2, "r_id", "rk", "r_ts")
    val plain = AsOfJoin(left, right, col("k"), col("rk"),
      col("p_ts"), col("r_ts"), col("r_id"))
    for (width <- Seq(16L, 1024L, 1000000L)) { // incl. one-bucket width
      val b = AsOfJoin.bucketed(left, right, col("k"), col("rk"),
        col("p_ts"), col("r_ts"), col("r_id"), bucketWidth = width)
      assertSameRows(b, plain)
    }
    // inner parity too
    assertSameRows(
      AsOfJoin.bucketed(left, right, col("k"), col("rk"), col("p_ts"),
        col("r_ts"), col("r_id"), 64L, joinType = "inner"),
      AsOfJoin(left, right, col("k"), col("rk"), col("p_ts"),
        col("r_ts"), col("r_id"), joinType = "inner"))
  }

  test("null keys never match each other (equi-join semantics), in both " +
      "the plain and bucketed variants") {
    val left = Seq((1L, Option.empty[Long], 50L), (2L, Some(10L), 50L))
      .toDF("p_id", "k", "p_ts")
    val right = Seq((100L, Option.empty[Long], 40L), (101L, Some(10L), 40L))
      .toDF("r_id", "rk", "r_ts")
    val exp = Array((1L, None), (2L, Some(101L)))
    AsOfJoin(left, right, col("k"), col("rk"), col("p_ts"), col("r_ts"),
        col("r_id"))
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe exp
    AsOfJoin.bucketed(left, right, col("k"), col("rk"), col("p_ts"),
        col("r_ts"), col("r_id"), bucketWidth = 16L)
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe exp
    // matches the equi-join baseline exactly
    AsOfJoin.pairExpansion(left, right, col("k"), col("rk"), col("p_ts"),
        col("r_ts"), col("p_id"), col("r_id"))
      .select($"p_id", $"r_id").as[(Long, Option[Long])]
      .collect().sortBy(_._1) shouldBe exp
  }

  test("as-of plan is join-free: one exchange on the key, no join node") {
    val left = Seq((1L, 10L, 100L)).toDF("p_id", "k", "p_ts")
    val right = Seq((100L, 10L, 40L)).toDF("r_id", "rk", "r_ts")
    val plan = AsOfJoin(left, right, col("k"), col("rk"),
      col("p_ts"), col("r_ts"), col("r_id"))
      .queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should not include "CartesianProduct"
    "hashpartitioning".r.findAllIn(plan).size shouldBe 1
  }

  test("embedding near-dup pairs at threshold") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    out shouldBe Array((1L, 2L))
  }
}
