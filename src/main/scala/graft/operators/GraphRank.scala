package graft.operators

import graft.core.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the iterative-graph companion to the
  * pointer-jumping connected components in [[Dedup]] (entity/importance
  * ranking over interaction graphs: purchase graphs, citation graphs,
  * near-dup graphs).
  *
  * Per iteration (the standard distributed shape):
  *  - out-degrees: one aggregation over edges;
  *  - contributions: edges ⋈ ranks on src (shuffle on src), partial-
  *    aggregated sum by dst (shuffle on dst) — nothing wider than the
  *    edge list ever shuffles, ranks stay node-sized;
  *  - dangling mass (nodes with no out-edges) redistributed uniformly —
  *    ONE driver scalar per iteration.
  *
  * Determinism (the repo's replayability convention): per-edge
  * contributions are quantized to fixed-point longs
  * (`floor(scale·rank/deg)`), so the per-destination sums are EXACT
  * integer arithmetic — partition-order-invariant and mirrorable in the
  * DuckDB oracle; the only double operations are per-row with identical
  * operand order in both engines. Quantization bounds the per-iteration
  * rank error by indegree/scale (≤ 1e-9·indeg at the default scale) —
  * far below `tol`.
  */
object GraphRank {

  /** Uniform 1/N starting ranks over every node appearing in `edges`.
    *
    * The node set is MATERIALIZED (eager localCheckpoint, self-releasing
    * with the plan): it is node-sized, needs one count() action here
    * anyway, and every consumer of the returned frame otherwise re-runs
    * the edge-list union+distinct — for the single-step gates that edge
    * list is itself a join, and the unmaterialized form recomputed it
    * ~12× per step (q198 profile, OPTIMIZATION_r13.md).
    */
  def initRanks(edges: DataFrame): DataFrame =
    uniformRanks(Pin.checkpoint(nodesOf(edges), eager = true).frame)

  /** Every node appearing in `edges`, once. */
  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** 1/N ranks over a materialized node set. */
  private def uniformRanks(nodes: DataFrame): DataFrame = {
    val n = nodes.count()
    require(n > 0, "empty edge list")
    nodes.withColumn("rank", lit(1.0 / n))
  }

  /** One PageRank iteration: ranks (id, rank) × edges (src, dst) →
    * updated (id, rank). Mirrored verbatim by the q198 oracle — keep
    * the arithmetic shape (operand order, quantize points) in sync.
    */
  def pageRankStep(ranks: DataFrame, edges: DataFrame,
      damping: Double = 0.85, scale: Long = 1000000000L,
      weightCol: Option[String] = None): DataFrame = {
    // the step reads `ranks` several times and `edges` three times —
    // unpinned, each reference re-runs the upstream lineage. Pin edges
    // for the step (a caller's own edge cache is used as it is), pin
    // ranks once, and run the WHOLE step as ONE eager checkpoint, so the
    // returned plan has no edge lineage and both pins release before
    // returning. A mid-plan checkpoint instead cost an extra job
    // (round-14 A/B, GraphAbProbe: 2.41 s vs 1.76 s medians). The loop
    // ([[pageRank]]) calls stepCore under its own edge pin: a per-step
    // release evicted the loop's shared edge cache (the round-13 hang).
    Pin.cache(edges).use { e =>
      Pin.checkpoint(ranks, eager = true).use { r =>
        Pin.checkpoint(stepCore(r, e, damping, scale, weightCol),
          eager = true).frame
      }
    }
  }

  /** The step arithmetic over frames the CALLER has already pinned:
    * `r` must be materialized (checkpoint/cache) and `e` persisted for
    * the duration of the returned frame's consumption (the public face
    * eagerly checkpoints the output and releases the pin; the loop pins
    * across iterations).
    */
  private[graft] def stepCore(r: DataFrame, e: DataFrame, damping: Double,
      scale: Long, weightCol: Option[String]): DataFrame = {
    val nD = r.count().toDouble
    val (contrib, dmQF) = flows(r, e, scale, weightCol)
    r.select(col("id"))
      .join(contrib, r("id") === contrib("dst"), "left")
      .crossJoin(broadcast(dmQF))
      .select(col("id"),
        (lit((1 - damping) / nD)
          + lit(damping)
            * (coalesce(col("__qin"), lit(0L)).cast("double")
               / lit(scale.toDouble))
          + lit(damping)
            * (col("__dmq").cast("double") / lit(scale.toDouble)
               / lit(nD)))
          .as("rank"))
  }

  /** A step's quantized in-mass (dst, __qin) and dangling mass (__dmq). */
  private def flows(r: DataFrame, e: DataFrame, scale: Long,
      weightCol: Option[String]): (DataFrame, DataFrame) = {
    val deg = weightCol match {
      case None =>
        e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
      case Some(w) => // weighted out-mass; integer weights keep it exact
        e.groupBy(col("src"))
          .agg(sum(col(w).cast("long")).as("__deg"))
    }
    // dangling mass: quantized rank of no-out-edge nodes — ONE scalar,
    // carried as a 1-row broadcast crossJoin instead of a driver action
    // (same double arithmetic in the same operand order as the previous
    // lit(damping * (dmQ/scale/nD)), so ranks are bit-identical; the
    // action was one whole extra edge-scan job per step)
    val dmQF = r.join(deg, r("id") === deg("src"), "left_anti")
      .agg(coalesce(sum(floor(lit(scale.toDouble) * col("rank"))), lit(0L))
        .as("__dmq"))
    val contrib = weightCol match {
      case None =>
        // per-source quantized contribution, fanned out along edges
        val srcQ = r.join(deg, r("id") === deg("src"))
          .select(col("src"),
            floor(lit(scale.toDouble) * col("rank") / col("__deg"))
              .as("__q"))
        e.join(srcQ, "src")
          .groupBy(col("dst")).agg(sum(col("__q")).as("__qin"))
      case Some(w) =>
        // per-EDGE quantized contribution ∝ its share of the source's
        // out-weight: floor(scale·r·w / srcW) — still exact longs
        val srcW = r.join(deg, r("id") === deg("src"))
          .select(col("src"), col("rank").as("__r"), col("__deg"))
        e.join(srcW, "src")
          .select(col("dst"),
            floor(lit(scale.toDouble) * col("__r")
              * col(w).cast("long") / col("__deg")).as("__q"))
          .groupBy(col("dst")).agg(sum(col("__q")).as("__qin"))
    }
    (contrib, dmQF)
  }

  /** One PERSONALIZED PageRank iteration: the teleport mass (and the
    * dangling redistribution) goes only to the `seeds` node set instead
    * of uniformly everywhere — rank becomes relevance RELATIVE TO the
    * seeds (the recommendation/expansion primitive: "what is important
    * near these customers/documents"). Same exact quantized-contribution
    * arithmetic as [[pageRankStep]]; seeds are flagged by a node-sized
    * left join.
    */
  def pageRankStepSeeded(ranks: DataFrame, edges: DataFrame,
      seeds: DataFrame, damping: Double = 0.85,
      scale: Long = 1000000000L): DataFrame = {
    // same persist-discipline as [[pageRankStep]]: pin edges, checkpoint
    // the node-sized frames actions and the output both read
    val seedPin =
      Pin.checkpoint(seeds.select(col("id")).distinct(), eager = true)
    seedPin.use { s =>
      val sCount = s.count()
      require(sCount > 0, "empty seed set")
      val sD = sCount.toDouble
      // same pin ownership and one-action layout as [[pageRankStep]]: the
      // dangling scalar rides as a 1-row broadcast (same operand order,
      // bit-identical ranks) and the OUTPUT is eagerly checkpointed so
      // the pins release with no edge lineage in the returned plan
      Pin.cache(edges).use { e =>
        Pin.checkpoint(ranks, eager = true).use { r =>
          val (contrib, dmQF) = flows(r, e, scale, None)
          val seedFlag = s.withColumn("__seed", lit(1))
          Pin.checkpoint(r.select(col("id"))
            .join(contrib, r("id") === contrib("dst"), "left")
            .join(seedFlag, Seq("id"), "left")
            .crossJoin(broadcast(dmQF))
            .select(col("id"),
              (when(col("__seed").isNotNull,
                lit((1 - damping) / sD)
                  + lit(damping)
                    * (col("__dmq").cast("double") / lit(scale.toDouble)
                       / lit(sD)))
                .otherwise(lit(0.0))
                + lit(damping)
                  * (coalesce(col("__qin"), lit(0L)).cast("double")
                     / lit(scale.toDouble)))
                .as("rank")), eager = true).frame
        }
      }
    }
  }

  /** HITS hubs-and-authorities (Kleinberg) over an edge list — the
    * right importance model for BIPARTITE interaction graphs (buyers →
    * suppliers, queries → documents) where PageRank's single score
    * conflates the two roles. Mutual reinforcement runs in EXACT
    * integer arithmetic: h₀ = 1 for every node, then `iters` rounds of
    *   authority(j) = Σ_{i→j} hub(i);  hub(i) = Σ_{i→j} authority(j)
    * — integer sums all the way (no quantization step needed at all),
    * normalized to L1 = 1 doubles only in the final projection (one
    * driver scalar each). Deterministic, partition-order-invariant, and
    * oracle-mirrorable verbatim. Each round is two edge-keyed
    * aggregations; nothing node-squared. Rounds chain through eager
    * localCheckpoint (each frame is read by the next update AND the
    * output) over pinned edges — measured fastest of the three layouts
    * (this layout 3.6 s vs checkpoint-no-pin 6.1 s vs no-checkpoint 9.0 s on the gate).
    *
    * Overflow bound: scores grow like (largest singular value)^2 per
    * round — with Long headroom of 9.2e18 that allows several rounds on
    * million-degree graphs; `iters` is validated small.
    */
  def hitsScores(edges: DataFrame, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 4,
      s"iters must be in [1,4] (integer scores square per round): $iters")
    // each round reads the edges twice and the normalization actions read
    // them again — pin once, release after the totals settle (a cache the
    // caller already holds on this plan is used as it is)
    val (auth, hub, aTot, hTot) = Pin.cache(edges).use { e =>
      // node-sized and read by BOTH updates of every round — materialized,
      // or each of the 2·iters references re-runs the union+distinct;
      // released once auth/hub are materialized checkpoints
      Pin.checkpoint(nodesOf(e), eager = true).use { nodes =>
        var hub = nodes.withColumn("h", lit(1L))
        var auth = nodes.withColumn("a", lit(0L))
        var it = 0
        while (it < iters) {
          auth = e.join(hub, e("src") === hub("id"))
            .groupBy(col("dst").as("id2")).agg(sum(col("h")).as("a"))
            .select(col("id2").as("id"), col("a"))
          // reused by the hub update AND the output
          auth = Pin.checkpoint(nodes.join(auth, Seq("id"), "left")
            .select(col("id"), coalesce(col("a"), lit(0L)).as("a")),
            eager = true).frame
          hub = e.join(auth, e("dst") === auth("id"))
            .groupBy(col("src").as("id2")).agg(sum(col("a")).as("h"))
            .select(col("id2").as("id"), col("h"))
          hub = Pin.checkpoint(nodes.join(hub, Seq("id"), "left")
            .select(col("id"), coalesce(col("h"), lit(0L)).as("h")),
            eager = true).frame
          it += 1
        }
        (auth, hub, auth.agg(sum(col("a"))).head.getLong(0).toDouble,
          hub.agg(sum(col("h"))).head.getLong(0).toDouble)
      }
    }
    auth.join(hub, Seq("id"))
      .select(col("id"), col("a").as("authority_raw"),
        col("h").as("hub_raw"),
        round(col("a").cast("double") / lit(aTot), 9).as("authority"),
        round(col("h").cast("double") / lit(hTot), 9).as("hub"))
  }

  /** Iterate [[pageRankStep]] until the largest per-node rank change is
    * ≤ `tol` or `maxIters` is reached. Edges persist across rounds;
    * rank frames chain through eager checkpoints, each round releasing
    * the previous one (the connected-components loop convention), so
    * lineage stays flat and only the returned ranks stay pinned.
    */
  def pageRank(edges: DataFrame, maxIters: Int = 20, tol: Double = 1e-6,
      damping: Double = 0.85, scale: Long = 0L,
      init: Option[DataFrame] = None,
      weightCol: Option[String] = None): DataFrame = {
    require(maxIters > 0, s"maxIters must be positive: $maxIters")
    // edge ownership as in [[pageRankStep]]
    Pin.cache(edges).use { e =>
      // warm-start face (the kmeansCentroids convention): resume from a
      // saved (id, rank) table after a graph delta instead of re-mixing
      // from uniform — near-converged starts settle in a few iterations
      var ranks = init match {
        case Some(i) => Pin.checkpoint(i.select(col("id"), col("rank")),
          eager = true)
        case None => Pin.checkpoint(nodesOf(e), eager = true).use(nodes =>
          Pin.checkpoint(uniformRanks(nodes), eager = true))
      }
      // scale = 0 → N-adaptive grid: ranks sit near 1/N, so a FIXED grid
      // loses relative precision as the graph grows (measured: 1.2% mass
      // deficit after 3 iterations on a 1.6M-node graph at 1e9 — see
      // GraphScaleProbe / PLANS.md); ~1e6 grid units per average rank
      // keeps per-iteration loss ≤ ~1e-6 at any N, capped so k·scale
      // stays far from Long range
      val qScale =
        if (scale > 0) scale
        else {
          val n = ranks.frame.count()
          math.min(1000000000000000L, math.max(1000000000L, n * 1000000L))
        }
      var it = 0
      var shift = Double.MaxValue
      while (it < maxIters && shift > tol) {
        // stepCore, not pageRankStep: the loop already owns the edge pin
        // (for every iteration) and checkpoints each round's output
        val next = Pin.checkpoint(
          stepCore(ranks.frame, e, damping, qScale, weightCol), eager = true)
        shift = next.frame
          .join(ranks.frame.withColumnRenamed("rank", "__prev"), "id")
          .agg(max(abs(col("rank") - col("__prev")))).head.getDouble(0)
        ranks.release()
        ranks = next
        it += 1
      }
      ranks.frame
    }
  }
}
