package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of join: for each left row, the single latest right row with
  * rightTime <= leftTime within the same key — the standard time-series
  * enrichment operator (absent from both Spark and the reference; an
  * extension).
  *
  * Implementation (round 10, sort-fill): tag each side, union on
  * (key, time, side), and fill every left row with the last non-null
  * right payload in a single `last(..., ignoreNulls)` window running over
  * rows clustered by key and ordered by time. Right rows sort BEFORE left
  * rows at an equal timestamp, so the match predicate is inclusive
  * (rightTime <= leftTime); equal right timestamps resolve to the largest
  * `tieBreak` for cross-engine determinism.
  *
  * Scale: the intermediate is |left| + |right| rows — ONE hash exchange on
  * the key and one sort, with NO join node at all. The previous
  * formulation (kept as [[pairExpansion]], the spec oracle) joined on the key
  * with the temporal predicate and ranked matches per left row, which
  * materializes |left| × matches-per-key candidate rows before the window
  * discards all but one — at a 100 TB key history that intermediate IS the
  * operator's cost, and it grows with history depth even when the answer
  * does not. The sort-fill cost is history-depth-linear and shuffles each
  * row exactly once (the round-10 depth probe measured the gap). For a
  * pathologically hot key (one key = one task), pre-split the key by
  * coarse time bucket and seed each bucket with its predecessor's last
  * right row.
  */
object AsOfJoin {

  /** Latest right row at or before each left row's time, per key
    * (`direction = "backward"`, the default) — or the EARLIEST right row
    * at or after it (`direction = "forward"`, the next-event lookup; same
    * plan, the sort just runs time-descending).
    *
    * Output columns: every left column, then every right column (null when
    * no right row qualifies and `joinType` is "left"; unmatched left rows
    * are dropped when "inner"). Right rows with a null `rightTime` or a
    * null key never match (equi-join semantics — the window partition
    * would otherwise group null keys together and match them to each
    * other, which no join/ASOF engine does); left rows with a null key or
    * `leftTime` match nothing. Equal right times resolve to the largest
    * `tieBreak` in both directions.
    */
  def apply(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, leftTime: Column, rightTime: Column,
      tieBreak: Column, joinType: String = "left",
      direction: String = "backward"): DataFrame = {
    require(Seq("left", "inner").contains(joinType),
      s"joinType must be left|inner, got: $joinType")
    require(Seq("backward", "forward").contains(direction),
      s"direction must be backward|forward, got: $direction")
    val (lSide, rSide) = tagSides(left, right, leftKey, rightKey,
      leftTime, rightTime, tieBreak)
    // backward scans time ascending (last right seen = max rt <= lt);
    // forward scans descending (last right seen = min rt >= lt). Right
    // rows sort before left at an equal time either way -> inclusive.
    val timeOrd =
      if (direction == "backward") col("__t").asc_nulls_first
      else col("__t").desc_nulls_first
    val w = Window.partitionBy(col("__k"))
      .orderBy(timeOrd, col("__side").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lSide.unionByName(rSide)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    projectOut(filled, left, right, joinType)
  }

  /** The tagged union sides shared by [[apply]] and [[bucketed]] — one
    * place owns the side/tie-break/null-key rules so the two variants
    * cannot drift. Right rows with a null time or key are dropped here
    * (they can never match under equi-join semantics); left null-key rows
    * pass through and form key partitions containing no right rows, so
    * they fill to null exactly like an outer equi-join.
    */
  private def tagSides(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, leftTime: Column, rightTime: Column,
      tieBreak: Column): (DataFrame, DataFrame) = {
    val lStruct = StructType(left.schema.fields)
    val rStruct = StructType(right.schema.fields)
    val rSide = right.filter(rightTime.isNotNull && rightKey.isNotNull)
      .select(
        rightKey.as("__k"), rightTime.as("__t"), lit(0).as("__side"),
        tieBreak.as("__tb"),
        lit(null).cast(lStruct).as("__l"),
        struct(right.columns.map(col).toIndexedSeq: _*).as("__r"))
    // left rows carry a null tie-break (typed to the right side's) — they
    // never win a fill; only right rows are non-null in the filled column
    val lSide = left.select(
      leftKey.as("__k"), leftTime.as("__t"), lit(1).as("__side"),
      lit(null).cast(rSide.schema("__tb").dataType).as("__tb"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("__l"),
      lit(null).cast(rStruct).as("__r"))
    (lSide, rSide)
  }

  /** Shared tail of both variants: join-type filtering + the final
    * left-columns-then-right-columns projection out of the carry structs.
    */
  private def projectOut(filled: DataFrame, left: DataFrame,
      right: DataFrame, joinType: String): DataFrame = {
    val kept = joinType match {
      case "inner" => filled.filter(col("__m").isNotNull)
      case _       => filled
    }
    kept.select(
      left.columns.map(c => col("__l").getField(c).as(c)).toIndexedSeq ++
        right.columns.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Hot-key-resilient variant: same semantics as [[apply]] (backward,
    * inclusive, max-tie-break) with the sort partitioned by (key, time
    * bucket) instead of the key alone — a single pathological key (one
    * device emitting the whole table) no longer serializes into one task;
    * parallelism is keys × buckets.
    *
    * The cross-bucket dependency ("the match may sit any number of
    * buckets back") is carried by SEEDS, not by widening partitions:
    * per-(key, bucket) right-side maxima (a `max_by` aggregate, one
    * summary row per non-empty bucket) are swept with a running
    * `last(ignoreNulls)` over the bucket sequence, so each bucket learns
    * the latest right row strictly before its start; that one seed row is
    * injected into the bucket's partition (its real timestamp sorts it
    * before every in-bucket row — bucket boundaries are time boundaries).
    * Everything that shuffles beyond the two data sides is bucket-summary
    * sized. Time columns must be integer (epoch micros/millis/days);
    * `bucketWidth` is in the same unit — size it so a hot key's densest
    * bucket fits a task comfortably.
    */
  def bucketed(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, leftTime: Column, rightTime: Column,
      tieBreak: Column, bucketWidth: Long,
      joinType: String = "left"): DataFrame = {
    require(Seq("left", "inner").contains(joinType),
      s"joinType must be left|inner, got: $joinType")
    require(bucketWidth > 0, s"bucketWidth: $bucketWidth")
    val lStruct = StructType(left.schema.fields)
    def bucketOf(c: Column) = RangeJoin.floorDiv(c, bucketWidth)
    val (lSide0, rSide0) = tagSides(left, right, leftKey, rightKey,
      leftTime, rightTime, tieBreak)
    val rSide = rSide0.withColumn("__bkt", bucketOf(col("__t")))
    val lSide = lSide0.withColumn("__bkt", bucketOf(col("__t")))
    // latest right row per (key, bucket): one summary row per non-empty
    // bucket (max_by on the (time, tie-break) struct — the same winner
    // the sort would pick)
    val perBucket = rSide.groupBy(col("__k"), col("__bkt"))
      .agg(max_by(struct(col("__t"), col("__tb"), col("__r")),
        struct(col("__t"), col("__tb"))).as("__last"))
    // every bucket either side touches learns the latest right row from
    // any STRICTLY EARLIER bucket (running last over the bucket sequence)
    val allBuckets = lSide.select(col("__k"), col("__bkt"))
      .union(rSide.select(col("__k"), col("__bkt"))).distinct()
    val wseq = Window.partitionBy(col("__k")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seeds = allBuckets
      .join(perBucket, Seq("__k", "__bkt"), "left")
      .withColumn("__seed", last(col("__last"), ignoreNulls = true).over(wseq))
      .filter(col("__seed").isNotNull)
      .select(col("__k"), col("__seed.__t").as("__t"),
        lit(-1).as("__side"), col("__seed.__tb").as("__tb"),
        lit(null).cast(lStruct).as("__l"),
        col("__seed.__r").as("__r"), col("__bkt"))
    val w = Window.partitionBy(col("__k"), col("__bkt"))
      .orderBy(col("__t").asc_nulls_first, col("__side").asc,
        col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = lSide.unionByName(rSide).unionByName(seeds)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
    projectOut(filled, left, right, joinType)
  }

  /** Linear interpolation between the bracketing right observations: for
    * each left row, the backward as-of gives (t_prev, v_prev), the forward
    * one (t_next, v_next), and `v_interp` is the straight line between
    * them evaluated at the left time — the standard sensor-resampling /
    * price-marking read of a sparse series. Composition of two [[apply]]
    * passes (two exchanges on the same key), not a new plan shape.
    *
    * Edge rules: exact hits (t_prev = t_next = t) and one-sided probes
    * (before the first / after the last observation) return the single
    * available value; no observations at all → null. Time columns must be
    * integer (epoch micros/millis) — deltas are exact longs cast to
    * double AFTER subtraction, so the quotient is IEEE-identical
    * cross-engine at any epoch magnitude.
    *
    * Output: every left column, then t_prev, v_prev, t_next, v_next,
    * v_interp.
    */
  def interpolate(left: DataFrame, right: DataFrame, keyLeft: String,
      keyRight: String, tLeft: String, tRight: String, vRight: String,
      tieRight: String): DataFrame = {
    val rp = right.select(col(keyRight).as("__ik"), col(tRight),
      col(vRight), col(tieRight).as("__itb"))
    val back = apply(left,
      rp.select(col("__ik"), col(tRight).as("t_prev"),
        col(vRight).as("v_prev"), col("__itb")),
      col(keyLeft), col("__ik"), col(tLeft), col("t_prev"), col("__itb"))
      .drop("__ik", "__itb")
    val both = apply(back,
      rp.select(col("__ik"), col(tRight).as("t_next"),
        col(vRight).as("v_next"), col("__itb")),
      col(keyLeft), col("__ik"), col(tLeft), col("t_next"), col("__itb"),
      direction = "forward")
      .drop("__ik", "__itb")
    both.withColumn("v_interp",
      when(col("t_prev").isNotNull && col("t_next").isNotNull,
        when(col("t_next") === col("t_prev"), col("v_prev"))
          .otherwise(col("v_prev") + (col("v_next") - col("v_prev")) *
            ((col(tLeft) - col("t_prev")).cast("double") /
              (col("t_next") - col("t_prev")).cast("double"))))
        .otherwise(coalesce(col("v_prev"), col("v_next"))))
  }

  /** The round-9 formulation, retained as the spec oracle: equi-join on
    * the key with the temporal predicate, then a row_number window keeps
    * the latest match per left row. Correct, but the intermediate is
    * |left| × matches-per-key, which grows with history depth.
    */
  def pairExpansion(left: DataFrame, right: DataFrame, leftKey: Column,
      rightKey: Column, leftTime: Column, rightTime: Column,
      leftId: Column, tieBreak: Column, joinType: String = "left")
      : DataFrame = {
    val joined = left.join(right,
      leftKey === rightKey && rightTime <= leftTime, joinType)
    val w = Window.partitionBy(leftId)
      .orderBy(rightTime.desc_nulls_last, tieBreak.desc_nulls_last)
    joined.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
  }
}
