package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation — the down-sampling step of
  * a training-data pipeline (per-source/per-language rate control).
  *
  * Unlike `df.sample`, selection is a pure function of the ID, so it is
  * stable under retries/recomputation (no SPARK-23207-class divergence),
  * reproducible across runs and engines, and consistent across derived
  * tables (the same id samples in or out everywhere). The hash is the
  * md5-derived [[graft.functions.PortableHash]] family, so the DuckDB
  * oracle reproduces the exact sample.
  *
  * Scale: a narrow filter — no shuffle, fully pushdown-compatible with
  * whatever the scan already prunes.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Uniform hash bucket in [0, 1e6) for a column (matches
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT) % 1000000` in SQL).
    */
  def hashBucket(c: Column): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long"),
      lit(Buckets))

  /** Keep a deterministic `fraction` of rows by id hash. */
  def deterministicSample(df: DataFrame, idCol: String,
      fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction: $fraction")
    df.filter(hashBucket(col(idCol)) < (fraction * Buckets).toLong)
  }

  /** Per-strata sampling rates (e.g. keep 100% of rare languages, 10% of
    * the dominant one). Strata with no configured rate keep
    * `defaultFraction`. The rate lookup compiles to a CASE expression —
    * no join, no shuffle; selection stays a narrow map.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 1.0): DataFrame = {
    val threshold = fractions.foldLeft(
      lit((defaultFraction * Buckets).toLong)) { case (acc, (k, f)) =>
      when(col(strataCol) === k, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < threshold)
  }

  /** Deterministic train/val/test (or any N-way) split: each row gets a
    * `split` label from its id's hash bucket, partitioned by cumulative
    * weight. Same determinism story as the samplers above — a row's split
    * is a pure function of its id, so it never migrates between splits
    * across runs, retries, engines, or derived tables (the leakage
    * guarantee a training pipeline needs), and the assignment is a narrow
    * map-side expression: no shuffle, no RNG state, no global sort.
    *
    * Weights are normalized (pass 8/1/1 or 0.8/0.1/0.1 alike); every row
    * gets a label (the last split absorbs the rounding tail).
    */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    require(splits.forall(_._2 > 0), s"weights must be positive: $splits")
    val total = splits.map(_._2).sum
    // cumulative upper bucket bound per split; last bound forced to the
    // bucket count so float rounding can never leave a row unlabeled
    val bounds = splits.inits.toSeq.reverse.tail.map(p =>
      (p.last._1, (p.map(_._2).sum / total * Buckets).toLong))
    val upper = bounds.init
    val lastName = bounds.last._1
    val b = hashBucket(col(idCol))
    val label = upper.foldRight(lit(lastName): Column) {
      case ((name, bound), acc) => when(b < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Deterministic Bernoulli sampling with per-row inclusion probability
    * `min(1, weight / threshold)` — probability-proportional-to-size
    * selection, the soft-downsampling primitive (keep every document
    * whose weight reaches `threshold`; keep lighter rows with probability
    * proportional to their weight, so the expected kept WEIGHT of a group
    * of small rows equals `count·w̄/threshold·w̄`). Pass an inverse
    * frequency as the weight (e.g. `1.0/cluster_size`) and it becomes
    * soft dedup: each duplicate cluster retains one expected survivor
    * while every copy keeps a nonzero chance — the diversity-preserving
    * alternative to hard cluster dedup.
    *
    * Selection is a pure function of (id, weight): stable under retries,
    * reproducible across engines (the probability is compiled to an
    * integer bucket bound via `floor`, because raw double→int casts
    * TRUNCATE in Spark but ROUND in DuckDB). A null weight never
    * samples in — guarded explicitly, because `least` SKIPS nulls (a
    * null probability would otherwise silently become 1, not 0).
    *
    * Scale: a narrow filter — no shuffle, no window, no RNG state;
    * pushdown-compatible like the samplers above.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0, s"threshold must be positive: $threshold")
    val bound = least(lit(Buckets),
      floor(col(weightCol).cast("double") / threshold * Buckets)
        .cast("long"))
    df.filter(col(weightCol).isNotNull && hashBucket(col(idCol)) < bound)
  }

  /** Deterministic negative sampling — the contrastive-training
    * primitive: for every positive (user, item) pair, draw `k`
    * pseudo-random items from the `items` universe, one per slot j,
    * addressed by `hash(user:item:j) mod |items|`. All randomness is the
    * md5 hash (the [[hashBucket]] family), so the negative set replays
    * bit-for-bit and mirrors in the oracle. A draw that collides with
    * its own positive is dropped (the standard in-batch convention) —
    * callers get ≤ k negatives per positive, never a wrong one.
    *
    * Scale: positives explode ×k map-side and broadcast-join the
    * dimension-sized indexed item table; the only window is the dense
    * index over `items` (dimension-sized, one-off — persist it for
    * repeated epochs). Nothing corpus-sized shuffles.
    */
  def negativeSamples(pos: DataFrame, userCol: String, itemCol: String,
      items: DataFrame, itemIdCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    val idx = items.select(col(itemIdCol).as("__item")).distinct()
      .withColumn("__ix",
        row_number().over(Window.orderBy(col("__item"))) - 1)
    val m = idx.count() // dimension-sized scalar
    require(m > 1, s"need at least two items to sample negatives: $m")
    pos.select(col(userCol), col(itemCol),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("__ix", pmod(
        conv(substring(md5(concat_ws(":",
          col(userCol).cast("string"), col(itemCol).cast("string"),
          col("j").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(m)))
      .join(broadcast(idx), Seq("__ix"))
      .filter(col("__item") =!= col(itemCol))
      .select(col(userCol), col(itemCol), col("j"),
        col("__item").as("neg_item"))
  }

  /** Class-balanced upsampling: replicate every row of class c
    * `ceil(maxClassCount / n_c)` times (a `replica` index column marks
    * the copies), so every class reaches at least the majority class's
    * size — the imbalance fix that upsamples rather than discards
    * majority data. The copy count uses exact INTEGER arithmetic
    * ((mx + n − 1) quotient), deterministic and oracle-mirrorable.
    *
    * Scale: class counts are a map-combinable aggregate (class-sized,
    * broadcast back); replication is a narrow `explode(sequence)` — no
    * window, nothing group-sized in one task.
    */
  def upsampleBalanced(df: DataFrame, classCol: String): DataFrame = {
    val counts = df.groupBy(col(classCol)).agg(count(lit(1)).as("__n"))
    val mx = counts.agg(max(col("__n")).as("__mx"))
    val copies = floor((col("__mx") + col("__n") - 1).cast("double")
      / col("__n").cast("double")).cast("int")
    df.join(broadcast(counts), classCol)
      .crossJoin(broadcast(mx))
      .withColumn("replica", explode(sequence(lit(1), copies)))
      .select(df.columns.map(col).toIndexedSeq :+ col("replica"): _*)
  }

  /** Temperature-based mixture sampling — the multilingual-LM mixing
    * rule (sample group g with probability ∝ n_g^alpha, alpha < 1
    * flattening the mix): per-group keep probability
    * `min(1, (N·w_g/Σw)/n_g)` with `w_g = n_g^alpha`, applied as a
    * deterministic [[hashBucket]] filter, so the kept set replays
    * bit-for-bit. Downsamples dominant groups toward the tempered
    * share; a group whose tempered target exceeds its size is kept
    * whole (pair with [[upsampleBalanced]] for the upsampling face).
    *
    * alpha = 0.5 computes the weight as `sqrt` — correctly rounded in
    * IEEE, hence oracle-mirrorable (general `pow` is NOT guaranteed
    * identical across libm implementations; other alphas are
    * spec-covered in-engine instead of gated).
    *
    * Scale: group counts are one map-combinable aggregate broadcast
    * back; selection is a narrow filter. Nothing group-sized funnels
    * anywhere.
    */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1]: $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
    def w(n: Column) =
      if (alpha == 0.5) sqrt(n.cast("double"))
      else pow(n.cast("double"), alpha)
    val tot = counts.agg(sum(col("__n")).cast("double").as("__nt"),
      sum(w(col("__n"))).as("__sw"))
    val prob = least(lit(1.0),
      col("__nt") * w(col("__n")) / col("__sw") / col("__n").cast("double"))
    val bound = floor(prob * Buckets).cast("long")
    df.join(broadcast(counts), groupCol)
      .crossJoin(broadcast(tot))
      .filter(hashBucket(col(idCol)) < bound)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Deterministic per-group cap: keep at most `maxPerGroup` rows of each
    * group (per-source / per-domain balancing — the C4/RefinedWeb-style
    * guard against one domain dominating the corpus). WHICH rows survive
    * is decided by the id's hash bucket (ties by id), so the kept set is
    * reproducible across runs and engines and consistent with the
    * samplers above — a capped group's survivors are exactly the head of
    * its deterministic-sample ordering.
    *
    * Scale: two-phase, so the dominant domain — the exact case a cap
    * exists for — never funnels through one task. A naive
    * `row_number().over(partitionBy(group))` must rank the ENTIRE group
    * in a single task before the filter drops anything (10⁹ rows of one
    * domain = one task sorting 10⁹ rows). Instead:
    *
    *   1. Histogram: per-(group, bucket) row counts — a map-side-
    *      combinable aggregate of 3 narrow columns. At most [[Buckets]]
    *      rows per group survive it, however large the group.
    *   2. Threshold: per group, the bucket of the cap'th row in
    *      (bucket, id) order — a running sum over the histogram, whose
    *      window input is bounded by the bucket-space size (10⁶ rows of
    *      ~24 bytes), NOT by group row count. Only over-cap groups
    *      produce a threshold; the frame is one row per capped group and
    *      is broadcast.
    *   3. Prefilter + exact rank: keep rows whose bucket ≤ the group's
    *      threshold (a narrow broadcast-join filter — retains every true
    *      survivor by construction, since all of them sit at or below
    *      the cap'th bucket), then run the exact rank window on the
    *      survivor set, whose size per group is ≤ cap + the tie count at
    *      the threshold bucket (~n/10⁶ expected).
    *
    * Degenerate limit: if one bucket holds essentially the whole group
    * (e.g. the id column is a constant within the group), the tie set is
    * the group and phase 3 degrades to the naive plan — a property of
    * hash-ordering itself, not of the staging.
    *
    * Null ids: `hashBucket(null)` is null, which would fall out of the
    * histogram/prefilter arithmetic, so the bucket is coalesced to a −1
    * sentinel below the bucket space — null-id rows sort FIRST, exactly
    * where the naive `orderBy(hashBucket(id), id)` rank put them (Spark
    * sorts nulls first ascending), and they are never silently dropped.
    *
    * The threshold frame (one row per over-cap group) is broadcast BY
    * DEFAULT, and the hint is load-bearing: left to the optimizer, the
    * prefilter becomes a sort-merge join whose probe side shuffles by the
    * (skewed!) group key, the downstream rank window pins that exact
    * distribution so AQE's skew-split cannot apply, and the dominant
    * group funnels through one sort task — measured: a 7.4M-row single
    * task and 2.6× the naive wall time at 10M rows/50% skew. The frame
    * is one row per over-cap group; caps over MILLIONS of distinct
    * over-cap groups would make the broadcast itself the OOM.
    *
    * vs the naive rank on Spark 4: `WindowGroupLimit` map-side prunes a
    * `row_number ≤ cap` filter (cap ≤ windowGroupLimitThreshold, default
    * 1000), so the naive plan's reduce task reads ~(#map partitions ×
    * cap) for the dominant group, not the whole group — fine at bench
    * scale (and why single-query timings show the naive constant is smaller), but it
    * GROWS WITH THE CLUSTER: at 100 TB / ~800k map partitions that is
    * ~800M rows in one task. The histogram bound here (≤10⁶ rows per
    * group, then cap+ties) is independent of map count — which is why
    * the two-phase stays the plan at scale.
    */
  /** Token-budget per-group cap — the data-MIXING primitive: keep the
    * head of each group's deterministic-sample ordering until the group's
    * cumulative `weightCol` (token counts, byte sizes, any non-negative
    * weight; nulls read as 0) reaches `budgetPerGroup`. The row that
    * crosses the boundary is KEPT, so every non-empty group contributes
    * at least one row and a group's kept weight is the least whole-row
    * sum ≥ budget — no source silently vanishes from the mixture.
    *
    * Same two-phase shape as [[capPerGroup]] with weight sums in place of
    * row counts: per-(group, bucket) weight histogram (map-side
    * combinable) → running-sum threshold bucket over ≤[[Buckets]]
    * histogram rows per group → bucket prefilter (exact: weights are
    * non-negative, so every row of a bucket past the threshold has
    * cumulative-before ≥ budget) → exact running sum ONLY over
    * survivors. The same broadcast reasoning as [[capPerGroup]] applies
    * (measured there: the hint is load-bearing under skew).
    *
    * Contract: `idCol` values are unique and non-null per row where
    * budgets bind — rows tied on (bucket, id) have an engine-dependent
    * order, which moves the boundary row. Negative weights break the
    * prefilter's monotonicity argument and are not supported.
    */
  def capPerGroupWeighted(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, budgetPerGroup: Double): DataFrame = {
    require(budgetPerGroup > 0, s"budget must be positive: $budgetPerGroup")
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (bktN, wN, cumN, bstarN, cbN) = (fresh("__bkt"), fresh("__w"),
      fresh("__cum"), fresh("__bstar"), fresh("__cumbefore"))
    val bkt = col(bktN)
    val w = coalesce(col(weightCol).cast("double"), lit(0.0))
    val bucketed = df.withColumn(bktN,
      coalesce(hashBucket(col(idCol)), lit(-1L)))
    val cum = Window.partitionBy(col(groupCol)).orderBy(bkt)
    val thresholds = bucketed
      .groupBy(col(groupCol), bkt).agg(sum(w).as(wN))
      .withColumn(cumN, sum(col(wN)).over(cum))
      .filter(col(cumN) >= budgetPerGroup)
      .groupBy(col(groupCol))
      .agg(min(bkt).as(bstarN))
    val thr = broadcast(thresholds)
    val pre = bucketed
      .join(thr, Seq(groupCol), "left")
      .filter(col(bstarN).isNull || bkt <= col(bstarN))
    val exact = Window.partitionBy(col(groupCol)).orderBy(bkt, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre.withColumn(cbN, sum(w).over(exact) - w)
      .filter(coalesce(col(cbN), lit(0.0)) < budgetPerGroup)
      .select(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
  }

  /** [[capPerGroupWeighted]] with PER-GROUP budgets — the mixture-
    * reweighting primitive: `budgets` holds one row per group
    * (`groupCol`, `budgetCol`, positive doubles); each group keeps the
    * head of its deterministic-sample ordering until ITS budget is
    * crossed (crossing row kept). Groups ABSENT from `budgets` are kept
    * whole (unlimited) — so a mixture spec only names the sources it
    * wants to throttle. Same two-phase histogram/threshold/prefilter
    * shape; the budgets frame is mixture-spec-sized (one row per named
    * group) and rides broadcast joins on both the threshold and the
    * final-filter side.
    */
  /** Quality-nucleus selection per group — "keep the BEST documents
    * until `p` of the group's weight mass is reached" (the top-p idea
    * applied to corpus curation: trim each source to its
    * highest-quality half by token mass, not by row count). Rows are
    * taken in score-DESC order (rounded to `scorePrecision` for a
    * cross-engine-stable order; id tie-break); the budget-crossing row
    * is kept, so no group vanishes; null scores sort last, null weights
    * count 0.
    *
    * Same two-phase shape as [[capPerGroupWeighted]] — the naive
    * running-sum window funnels the dominant group's entire row set
    * through one sort task (`WindowGroupLimit` cannot prune running
    * sums) — except the histogram buckets by ROUNDED SCORE instead of
    * id hash (the [[filterByQuantileBand]] trick: the threshold pass
    * reads one row per distinct (group, rounded score), bounded by
    * score cardinality, never group size), the budget is the per-group
    * total×p computed in one map-side-combinable aggregation and
    * broadcast, and — unlike the cap operators, whose output per group
    * is a CONSTANT — the exact running-sum window runs over the
    * BOUNDARY BUCKET ONLY (rows at exactly the threshold score, with
    * the weight of all strictly-better buckets joined in as an offset):
    * a nucleus keeps a FRACTION of each group, so windowing the whole
    * kept set would still funnel p×|dominant group| through one sort
    * task (measured: 2.0M window rows at 10M×50%
    * skew before this split; boundary-only brings it to the tie count
    * at one rounded score).
    */
  def nucleusPerGroup(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, scoreCol: String, p: Double,
      scorePrecision: Int = 6): DataFrame = {
    require(p > 0 && p <= 1, s"p must be in (0, 1]: $p")
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (bktN, wN, cumN, bstarN, cbN, budN, offN) = (fresh("__bkt"),
      fresh("__w"), fresh("__cum"), fresh("__bstar"), fresh("__cumbefore"),
      fresh("__budget"), fresh("__offset"))
    val bkt = col(bktN)
    val w = coalesce(col(s"`$weightCol`").cast("double"), lit(0.0))
    // score desc == bucket asc; null scores take the largest bucket
    val bucketed = df.withColumn(bktN,
      coalesce(-round(col(s"`$scoreCol`").cast("double"), scorePrecision),
        lit(Double.MaxValue)))
    val budgets = broadcast(df.groupBy(col(s"`$groupCol`"))
      .agg((sum(w) * p).as(budN)))
    val cum = Window.partitionBy(col(s"`$groupCol`")).orderBy(bkt)
    // the FIRST bucket whose cumulative weight crosses the budget, plus
    // the cumulative weight STRICTLY BEFORE it (the boundary offset) —
    // min(struct) picks the min-bucket row's pair in one aggregate
    val thresholds = bucketed
      .groupBy(col(s"`$groupCol`"), bkt).agg(sum(w).as(wN))
      .join(budgets, Seq(groupCol))
      .withColumn(cumN, sum(col(wN)).over(cum))
      .filter(col(cumN) >= col(budN))
      .groupBy(col(s"`$groupCol`"))
      .agg(min(struct(bkt, (col(cumN) - col(wN)).as(offN))).as("__t"))
      .select(col(s"`$groupCol`"), col(s"__t.$bktN").as(bstarN),
        col(s"__t.$offN").as(offN))
    val thr = broadcast(thresholds)
    val joined = bucketed.join(thr, Seq(groupCol), "left")
    val orig = df.columns.map(c => col(s"`$c`")).toIndexedSeq
    // strictly-better buckets (and whole under-budget groups): kept
    // outright, no window ever sees them
    val below = joined
      .filter(col(bstarN).isNull || bkt < col(bstarN))
      .select(orig: _*)
    // boundary bucket: rank by id with the before-boundary weight as the
    // starting offset — window input is the tie count at ONE rounded
    // score, never the group (or kept-fraction) size
    val exact = Window.partitionBy(col(s"`$groupCol`"))
      .orderBy(col(s"`$idCol`"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(bkt === col(bstarN))
      .join(budgets, Seq(groupCol))
      .withColumn(cbN, col(offN) + sum(w).over(exact) - w)
      .filter(coalesce(col(cbN), lit(0.0)) < col(budN))
      .select(orig: _*)
    below.unionByName(boundary)
  }

  def capPerGroupWeightedBudgets(df: DataFrame, idCol: String,
      groupCol: String, weightCol: String, budgets: DataFrame,
      budgetCol: String = "budget"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (bktN, wN, cumN, bstarN, cbN, budN) = (fresh("__bkt"), fresh("__w"),
      fresh("__cum"), fresh("__bstar"), fresh("__cumbefore"),
      fresh("__budget"))
    val bkt = col(bktN)
    val w = coalesce(col(weightCol).cast("double"), lit(0.0))
    val b = broadcast(budgets.select(col(groupCol),
      col(budgetCol).cast("double").as(budN)))
    val bucketed = df.withColumn(bktN,
      coalesce(hashBucket(col(idCol)), lit(-1L)))
    val cum = Window.partitionBy(col(groupCol)).orderBy(bkt)
    // inner join: only budgeted groups can produce a threshold bucket
    val thresholds = bucketed
      .groupBy(col(groupCol), bkt).agg(sum(w).as(wN))
      .join(b, Seq(groupCol))
      .withColumn(cumN, sum(col(wN)).over(cum))
      .filter(col(cumN) >= col(budN))
      .groupBy(col(groupCol))
      .agg(min(bkt).as(bstarN))
    val thr = broadcast(thresholds)
    val pre = bucketed
      .join(thr, Seq(groupCol), "left")
      .filter(col(bstarN).isNull || bkt <= col(bstarN))
    val exact = Window.partitionBy(col(groupCol)).orderBy(bkt, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // unbudgeted groups NEVER enter the exact window: a "keep whole"
    // group may be the corpus-dominant one, and running a full-group
    // running sum over it just to discard the result would reintroduce
    // the single-task skew the two-phase shape exists to avoid
    val withBud = pre.join(b, Seq(groupCol), "left")
    val orig = df.columns.map(c => col(s"`$c`")).toIndexedSeq
    val capped = withBud.filter(col(budN).isNotNull)
      .withColumn(cbN, sum(w).over(exact) - w)
      .filter(coalesce(col(cbN), lit(0.0)) < col(budN))
      .select(orig: _*)
    val untouched = withBud.filter(col(budN).isNull).select(orig: _*)
    capped.unionByName(untouched)
  }

  /** Mixture reweighting to a GLOBAL budget: split `totalBudget` across
    * groups by the given proportions (normalized to sum 1) and apply
    * [[capPerGroupWeightedBudgets]]. Groups not named in `proportions`
    * are kept whole.
    */
  def mixToBudget(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, proportions: Map[String, Double],
      totalBudget: Double): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive: $totalBudget")
    require(proportions.nonEmpty, "proportions must be non-empty")
    require(proportions.values.forall(_ > 0),
      s"proportions must be positive: $proportions")
    val norm = proportions.values.sum
    val spark = df.sparkSession
    import spark.implicits._
    val budgets = proportions.toSeq
      .map { case (g, p) => (g, totalBudget * p / norm) }
      .toDF(groupCol, "budget")
    capPerGroupWeightedBudgets(df, idCol, groupCol, weightCol, budgets)
  }

  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
      maxPerGroup: Int): DataFrame = {
    require(maxPerGroup > 0, s"maxPerGroup must be positive: $maxPerGroup")
    import org.apache.spark.sql.expressions.Window
    // working columns must not clobber same-named user columns (withColumn
    // REPLACES an existing name; the rank would then order on user data)
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (bktN, cntN, cumN, bstarN, rankN) = (fresh("__bkt"), fresh("__cnt"),
      fresh("__cum"), fresh("__bstar"), fresh("__rank"))
    val bkt = col(bktN)
    val bucketed = df.withColumn(bktN,
      coalesce(hashBucket(col(idCol)), lit(-1L)))
    val cum = Window.partitionBy(col(groupCol)).orderBy(bkt)
    val thresholds = bucketed
      .groupBy(col(groupCol), bkt).agg(count(lit(1)).as(cntN))
      .withColumn(cumN, sum(col(cntN)).over(cum))
      .filter(col(cumN) >= maxPerGroup) // reachable only when n ≥ cap
      .groupBy(col(groupCol))
      .agg(min(bkt).as(bstarN))
    val thr = broadcast(thresholds)
    val pre = bucketed
      .join(thr, Seq(groupCol), "left")
      .filter(col(bstarN).isNull || bkt <= col(bstarN))
    val w = Window.partitionBy(col(groupCol)).orderBy(bkt, col(idCol))
    pre.withColumn(rankN, row_number().over(w))
      .filter(col(rankN) <= maxPerGroup)
      .select(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
  }

  /** Per-group QUANTILE-BAND filter — the distribution-trimming curation
    * primitive ("drop the bottom 10% quality per language", "keep the
    * middle 80% of lengths per source"): keep rows whose
    * `percent_rank()` of `scoreCol` within their group lies in
    * [`lo`, `hi`]. Semantics are EXACTLY the engine's
    * `percent_rank() OVER (PARTITION BY group ORDER BY score)` —
    * rank ties share a rank, pr = (rank−1)/(n−1), single-row groups
    * rank 0.0 — which is what the DuckDB oracle runs.
    *
    * Scale shape: the naive window sorts every ROW of a group in one
    * task. Here the window runs over the per-(group, score) COUNT
    * histogram instead — `rank − 1` of a row is the cumulative count of
    * strictly-lower scores, so the running sum over the histogram plus
    * the group totals reconstructs pr exactly. Rows never sort-shuffle:
    * they rejoin the qualifying (group, score) pairs by equi-join. The
    * histogram is bounded by the group's DISTINCT-score cardinality —
    * for real quality scores (quantized features, integer lengths) far
    * below row count; a pathological all-distinct double column degrades
    * to group-sized histogram rows, but they are narrow triples, not
    * full rows.
    *
    * Nulls: a null score forms its own rank position (Spark orders nulls
    * FIRST ascending; DuckDB defaults nulls LAST — band results for null
    * scores are engine-specific, so keep scores non-null where oracle
    * parity matters). The rejoin is null-safe (`<=>`), so null-score rows
    * are kept/dropped per Spark's ordering rather than silently dropped.
    */
  def filterByQuantileBand(df: DataFrame, groupCol: String, scoreCol: String,
      lo: Double, hi: Double): DataFrame = {
    require(0 <= lo && lo <= hi && hi <= 1, s"band must satisfy " +
      s"0 <= lo <= hi <= 1: [$lo, $hi]")
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (cN, cumN, nN, prN) = (fresh("__c"), fresh("__cum"), fresh("__n"),
      fresh("__pr"))
    val (gqN, sqN) = (fresh("__gq"), fresh("__sq"))
    val hist = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as(cN))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val totals = df.groupBy(col(groupCol)).agg(count(lit(1)).as(nN))
    val qualifying = hist
      .withColumn(cumN, sum(col(cN)).over(cum))
      .join(totals, Seq(groupCol))
      // rank−1 = rows strictly below = cum − own count; n=1 → pr 0.0
      .withColumn(prN, when(col(nN) === 1, lit(0.0))
        .otherwise((col(cumN) - col(cN)).cast("double") / (col(nN) - 1)))
      .filter(col(prN) >= lo && col(prN) <= hi)
      .select(col(groupCol).as(gqN), col(scoreCol).as(sqN))
    df.join(qualifying,
        col(groupCol) <=> col(gqN) && col(scoreCol) <=> col(sqN),
        "left_semi")
  }

  /** EXACT per-group quantile VALUE without sorting the raw rows: the
    * smallest score whose per-group cumulative count reaches ⌈p·n⌉ — the
    * discrete (type-1) quantile, stated explicitly so the oracle encodes
    * the SAME rule instead of leaning on an engine's `quantile_disc`
    * convention. Output: one row per group (groupCol, quantile, n).
    *
    * Same machinery as [[filterByQuantileBand]]: the ordered window runs
    * over the per-(group, score) count histogram — distinct scores per
    * group, never raw rows — so a group holding half the corpus
    * contributes its score cardinality to the window, not its row count.
    * The degradation mode is all-distinct continuous scores (histogram =
    * group size); bucket/round such scores first.
    */
  def quantilePerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      p: Double): DataFrame =
    quantilesPerGroup(df, groupCol, scoreCol, Seq(p))
      .select(col(groupCol), col("quantile"), col("n"))

  /** Median absolute deviation per group — the robust scale estimate
    * (median of |x − median|) that a corpus's heavy length tails can't
    * inflate the way they inflate a standard deviation ("zh docs are
    * 300 ± 40 chars" stated so one 100k-char outlier doesn't move it).
    * One row per group: (group, n, median, mad), both statistics the
    * exact type-1 quantile rule. Null groups/scores are excluded (so
    * `n` counts exactly the scored rows).
    *
    * 100 TB shape: two passes of [[quantilePerGroup]]'s histogram
    * machinery (windows over distinct values per group, never rows)
    * with the groups-sized median frame broadcast between them — the
    * deviation column never shuffles raw rows beyond the histogram
    * aggregation.
    */
  def madPerGroup(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    val clean = df.filter(col(s"`$groupCol`").isNotNull &&
      col(s"`$scoreCol`").isNotNull)
    val med = quantilePerGroup(clean, groupCol, scoreCol, 0.5)
      .select(col(groupCol), col("quantile").as("median"), col("n"))
    val dev = clean.join(broadcast(med), Seq(groupCol))
      .select(col(groupCol),
        abs(col(s"`$scoreCol`") - col("median")).as("__dev"))
    val mad = quantilePerGroup(dev, groupCol, "__dev", 0.5)
      .select(col(groupCol), col("quantile").as("mad"))
    med.join(broadcast(mad), Seq(groupCol))
      .select(col(groupCol), col("n"), col("median"), col("mad"))
  }

  /** Equi-depth score-bucket calibration report: split the corpus into
    * `nBuckets` quantile buckets of `scoreCol` and report, per bucket,
    * the row count, score range, and the exact mean of `statCol` — the
    * lift/calibration table behind "does the quality score actually
    * track token count" (a monotone mean column says yes; a flat one
    * says the score is noise). Bucket membership is deterministic:
    * bucket = 1 + (count of type-1 decile thresholds STRICTLY below the
    * score), so ties collapse into the lower bucket and repeated
    * thresholds (a score with few distinct values) skip bucket numbers
    * rather than splitting ties arbitrarily. Null scores/stats are
    * excluded. `statCol` must be integer-typed (exact BIGINT sums).
    *
    * 100 TB shape: thresholds ride [[quantilesPerGroup]]'s histogram
    * machinery into ONE array row broadcast back; bucket assignment is
    * a narrow per-row array fold; the report is one map-side-combinable
    * agg into ≤ nBuckets rows.
    */
  def scoreBucketsReport(df: DataFrame, scoreCol: String, statCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be at least 2: $nBuckets")
    val clean = df.filter(col(s"`$scoreCol`").isNotNull &&
      col(s"`$statCol`").isNotNull)
    val ks = (1 until nBuckets).map(_.toDouble / nBuckets)
    val th = quantilesPerGroup(clean.withColumn("__g", lit("all")),
        "__g", scoreCol, ks)
      .agg(sort_array(collect_list(struct(col("p"),
        col("quantile").as("__q")))).as("__th"))
    clean.crossJoin(broadcast(th))
      .withColumn("bucket", lit(1) + aggregate(col("__th"), lit(0),
        (acc, s) => acc +
          when(col(s"`$scoreCol`") > s.getField("__q"), 1).otherwise(0)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col(s"`$scoreCol`")).as("score_min"),
        max(col(s"`$scoreCol`")).as("score_max"),
        sum(col(s"`$statCol`")).cast("long").as("__sum"))
      .select(col("bucket"), col("n"), col("score_min"), col("score_max"),
        round(col("__sum").cast("double") / col("n"), 6).as("mean_stat"))
  }

  /** [[quantilePerGroup]] for a whole quantile SUMMARY in one histogram
    * pass: one output row per (group, p). The histogram and its
    * cumulative window are computed ONCE; the p fan-out explodes the
    * (already compact) cumulated histogram, never the raw rows — asking
    * for p95 alongside the median costs one more filter, not another
    * scan.
    */
  def quantilesPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "ps must be non-empty")
    ps.foreach(p => require(0 < p && p <= 1, s"p must be in (0, 1]: $p"))
    require(ps.distinct.size == ps.size, s"duplicate quantiles: $ps")
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (cN, cumN, nN) = (fresh("__c"), fresh("__cum"), fresh("__n"))
    val hist = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as(cN))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val totals = df.groupBy(col(groupCol)).agg(count(lit(1)).as(nN))
    hist
      .withColumn(cumN, sum(col(cN)).over(cum))
      .join(totals, Seq(groupCol))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col(cumN) >= ceil(col("p") * col(nN)))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col(scoreCol)).as("quantile"), first(col(nN)).as("n"))
  }

  /** Split-balance audit: for every (split, stratum) cell, the count,
    * the stratum's share WITHIN the split, its share in the whole
    * frame, and the signed deviation — "is val actually
    * representative, or did the hash starve zh out of test". Run after
    * [[hashSplit]] (or any labeling) before trusting per-split
    * metrics. Null split or stratum rows are excluded.
    *
    * 100 TB shape: one map-side-combinable (split, stratum) count;
    * split totals, stratum totals, and the grand total all
    * re-aggregate that cell frame and come back as broadcasts.
    */
  def splitBalance(df: DataFrame, splitCol: String,
      strataCol: String): DataFrame = {
    val cells = df
      .filter(col(splitCol).isNotNull && col(strataCol).isNotNull)
      .groupBy(col(splitCol), col(strataCol))
      .agg(count(lit(1)).as("n"))
    val perSplit = cells.groupBy(col(splitCol))
      .agg(sum(col("n")).as("__ns"))
    val perStratum = cells.groupBy(col(strataCol))
      .agg(sum(col("n")).as("__nt"))
    val total = cells.agg(sum(col("n")).as("__N"))
    val share = col("n").cast("double") / col("__ns")
    val overall = col("__nt").cast("double") / col("__N")
    cells
      .join(broadcast(perSplit), Seq(splitCol))
      .join(broadcast(perStratum), Seq(strataCol))
      .crossJoin(broadcast(total))
      .select(col(splitCol), col(strataCol), col("n"),
        round(share, 6).as("share_in_split"),
        round(overall, 6).as("share_overall"),
        round(share - overall, 6).as("deviation"))
  }

  /** Weighted [[quantilesPerGroup]]: the smallest score whose
    * cumulative WEIGHT reaches ⌈p·W⌉ — "the doc length below which
    * half the TOKENS live", which is what a token-budget planner needs
    * (the unweighted median answers a different question when long
    * docs carry most of the mass). Weights must be positive integers
    * (token counts, byte sizes); zero/negative/null-weight rows are
    * ignored. Output: one row per (group, p):
    * (groupCol, p, quantile, w) with w the group's total weight.
    *
    * Same histogram discipline as the unweighted form: the window
    * runs over per-(group, score) WEIGHT SUMS (distinct scores), never
    * raw rows, and the p fan-out explodes the cumulated histogram.
    */
  def weightedQuantilesPerGroup(df: DataFrame, groupCol: String,
      scoreCol: String, weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty, "ps must be non-empty")
    ps.foreach(p => require(0 < p && p <= 1, s"p must be in (0, 1]: $p"))
    require(ps.distinct.size == ps.size, s"duplicate quantiles: $ps")
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (cN, cumN, nN) = (fresh("__w"), fresh("__cum"), fresh("__n"))
    val base = df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
    val hist = base.groupBy(col(groupCol), col(scoreCol))
      .agg(sum(col(weightCol)).as(cN))
    val cum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val totals = base.groupBy(col(groupCol))
      .agg(sum(col(weightCol)).as(nN))
    hist
      .withColumn(cumN, sum(col(cN)).over(cum))
      .join(totals, Seq(groupCol))
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col(cumN) >= ceil(col("p") * col(nN)))
      .groupBy(col(groupCol), col("p"))
      .agg(min(col(scoreCol)).as("quantile"), first(col(nN)).as("w"))
  }

  /** Per-group winsorization: clip `valueCol` into its group's
    * [pLo, pHi] exact quantile band (appended as `<valueCol>_w`) — the
    * standard outlier-robust cleaning step for numeric features (clamp,
    * don't drop: the row survives, the tail value stops dominating
    * normalization and loss).
    *
    * Scale shape: bounds come from [[quantilesPerGroup]] (histogram-
    * bounded window input, never the raw rows), pivot to one row per
    * group, and broadcast back — the clamp itself is a narrow
    * least/greatest over the scan.
    */
  def winsorizePerGroup(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 < pLo && pLo < pHi && pHi <= 1,
      s"need 0 < pLo < pHi <= 1: $pLo, $pHi")
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (loN, hiN) = (fresh("__lo"), fresh("__hi"))
    val bounds = quantilesPerGroup(df, groupCol, valueCol, Seq(pLo, pHi))
      .groupBy(col(groupCol))
      .agg(min(when(col("p") === pLo, col("quantile"))).as(loN),
        min(when(col("p") === pHi, col("quantile"))).as(hiN))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(valueCol + "_w",
        least(greatest(col(valueCol), col(loN)), col(hiN)))
      .drop(loN, hiN)
  }

  /** Quantile normalization across groups: replace each row's score
    * with the GLOBAL score found at the row's within-group percent
    * rank (appended as `<scoreCol>_qn`) — the calibration step that
    * makes per-source quality scores comparable before one corpus-wide
    * threshold ("source B's 90th percentile means what source A's 90th
    * means"). Two groups with shifted but same-shaped distributions
    * land on identical normalized values rank-for-rank; a group
    * processed alone maps onto itself (distinct scores → identity).
    *
    * Percent rank rides the per-(group, score) histogram exactly as
    * [[filterByQuantileBand]] ((cum − own)/(n − 1), single-row group →
    * 0.0); the global lookup is the repo's discrete type-1 rule —
    * smallest global score whose cumulative count reaches
    * ⌈p·N⌉ — stated explicitly so the oracle encodes the same rule.
    * Null group or score rows pass through with a null `_qn`.
    *
    * Scale shape: both windows run over HISTOGRAM rows (distinct
    * scores), never raw rows; the rank→value lookup is a
    * histogram×histogram broadcast join; the final attach is a
    * broadcast equi-join on (group, score). Degradation mode is
    * all-distinct continuous scores — bucket/round first, as with
    * [[quantilesPerGroup]].
    */
  def quantileNormalize(df: DataFrame, groupCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def fresh(base: String): String = {
      var n = base
      while (df.columns.contains(n)) n += "_"
      n
    }
    val (cN, cumN, nN, pN) = (fresh("__c"), fresh("__cum"), fresh("__n"),
      fresh("__p"))
    val (gvN, gcN, gcumN, gnN) = (fresh("__gv"), fresh("__gc"),
      fresh("__gcum"), fresh("__gn"))
    val base = df.filter(col(groupCol).isNotNull && col(scoreCol).isNotNull)
    val hist = base.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as(cN))
    val totals = base.groupBy(col(groupCol)).agg(count(lit(1)).as(nN))
    val pr = hist
      .withColumn(cumN,
        sum(col(cN)).over(
          Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))))
      .join(totals, Seq(groupCol))
      .withColumn(pN, when(col(nN) === 1, lit(0.0))
        .otherwise((col(cumN) - col(cN)).cast("double") / (col(nN) - 1)))
    val ghist = hist.groupBy(col(scoreCol)).agg(sum(col(cN)).as(gcN))
    val gtot = ghist.agg(sum(col(gcN)).as(gnN))
    // the global window runs over distinct scores only (bounded), so
    // the unpartitioned ordering is histogram-sized by construction
    val gcum = ghist
      .withColumn(gcumN, sum(col(gcN)).over(Window.orderBy(col(scoreCol))))
      .crossJoin(broadcast(gtot))
      .select(col(scoreCol).as(gvN), col(gcumN), col(gnN))
    val mapping = pr
      .join(broadcast(gcum), col(gcumN) >= ceil(col(pN) * col(gnN)))
      .groupBy(col(groupCol), col(scoreCol))
      .agg(min(col(gvN)).as(scoreCol + "_qn"))
    df.join(broadcast(mapping), Seq(groupCol, scoreCol), "left")
  }

  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling", arXiv:2304.09151): split a
    * total token budget across groups by WATERFILLING rather than
    * proportional or temperature scaling. Every group receives the
    * same allocation t, except groups whose full `maxEpochs` epochs
    * cost less than t, which contribute everything they have
    * (cap_g = maxEpochs × group weight); t solves
    * Σ min(cap_g, t) = B — the unique split that maximizes the
    * minimum per-group budget, i.e. the fairest mix that still fills
    * the budget. Compare [[temperatureSample]]: temperature flattens
    * the mix but still over-samples dominant groups; UniMax caps
    * repetition of the SMALL groups (maxEpochs) and splits the rest
    * uniformly.
    *
    * Closed form over caps in ascending (cap, group) order: group g is
    * capped iff cap_g · (#groups from g on) ≤ B − (Σ caps before g).
    * The left side is nondecreasing along that order, so the capped
    * set is a PREFIX and one pass over the groups frame computes it.
    * Capped arithmetic is exact BIGINT; the shared waterline is ONE
    * IEEE division of exact integers — engine-exact, hence
    * oracle-able. (Overflow headroom: cap × #groups stays under 2⁶³
    * through ~10¹⁴ tokens × 10⁴ groups.)
    *
    * Output: (groupCol, group_weight, cap, allocated, epochs) —
    * allocated/epochs rounded to 6; epochs = allocated / weight, the
    * per-group repeat factor the trainer applies (capped groups sit
    * exactly at maxEpochs).
    *
    * Scale shape: group weights are one map-side-combinable aggregate;
    * the ranking windows below run over the GROUPS frame (one row per
    * group — bounded by source count, like [[quantileNormalize]]'s
    * global histogram window), never over raw rows.
    */
  def unimaxAllocate(df: DataFrame, groupCol: String, weightCol: String,
      totalBudget: Long, maxEpochs: Int): DataFrame = {
    val gw = col("__gw").cast("double")
    unimaxCore(df, groupCol, weightCol, totalBudget, maxEpochs).select(
      col(s"`$groupCol`"), col("__gw").as("group_weight"),
      col("__cap").as("cap"),
      round(col("__alloc"), 6).as("allocated"),
      round(when(col("__gw") === 0, lit(0.0))
        .otherwise(col("__alloc") / gw), 6).as("epochs"))
  }

  /** The apply face: one-epoch selection under the UniMax allocation —
    * each group trimmed to its waterfilled budget with the same
    * deterministic hash-bucket ordering and crossing-row rule as
    * [[capPerGroupWeighted]] (the two-phase shape; nothing group-sized
    * funnels through one task). A group whose allocation covers
    * several epochs is kept whole here — the `epochs` column of
    * [[unimaxAllocate]] is the repeat factor the trainer applies on
    * top of this selection.
    */
  def unimaxSelect(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, totalBudget: Long, maxEpochs: Int): DataFrame = {
    val budgets = unimaxCore(df, groupCol, weightCol, totalBudget,
        maxEpochs)
      .select(col(s"`$groupCol`"), col("__alloc").as("__unimax_budget"))
    capPerGroupWeightedBudgets(df, idCol, groupCol, weightCol, budgets,
      "__unimax_budget")
  }

  /** Cumulative-Poisson bucket cutoffs on the [0, 1e6) hash grid:
    * cutoff(i) = floor(P(X ≤ i) · 1e6) for i = 0 .. maxK−1. Public to
    * the oracle builder so BOTH engines compare the SAME integers —
    * the Poisson CDF is quantized once, in one place, and no float
    * ever crosses an engine boundary.
    */
  def poissonCutoffs(lambda: Double, maxK: Int): Seq[Long] = {
    require(lambda > 0, s"lambda must be positive: $lambda")
    require(maxK >= 1, s"maxK must be >= 1: $maxK")
    val pmf = Iterator.iterate((0, math.exp(-lambda))) { case (i, p) =>
      (i + 1, p * lambda / (i + 1)) }.map(_._2)
    pmf.take(maxK).scanLeft(0.0)(_ + _).drop(1)
      .map(c => math.floor(c * Buckets).toLong).toSeq
  }

  /** Deterministic bootstrap resampling (bagging / data-ablation):
    * each row draws a Poisson(`lambda`) replica count from its id's
    * hash bucket — the classic approximation of sampling n of n with
    * replacement, exploded to one output row per replica with a
    * 1-based `replica` index. `tag` names the bootstrap replicate set:
    * different tags re-hash to independent draws, so an ensemble of B
    * resamples is B calls with B tags, each replayable bit-for-bit.
    *
    * Determinism: the draw compares the integer hash bucket against
    * [[poissonCutoffs]] — all-integer, no libm at query time. Counts
    * cap at `maxK` (the tail mass beyond it lands on maxK; at λ = 1,
    * P(X > 8) < 1.2e-6 — below one bucket).
    *
    * Scale shape: a narrow map (hash, CASE, `explode(sequence)`) — no
    * shuffle, no state; rows drawing 0 simply vanish.
    */
  def bootstrapReplicas(df: DataFrame, idCol: String, lambda: Double,
      tag: String = "b0", maxK: Int = 8): DataFrame = {
    val cuts = poissonCutoffs(lambda, maxK)
    val u = hashBucket(concat(col(s"`$idCol`").cast("string"),
      lit(":" + tag)))
    val k = cuts.zipWithIndex.foldRight(lit(maxK): Column) {
      case ((c, i), rest) => when(u < c, lit(i)).otherwise(rest)
    }
    var kN = "__k"
    while (df.columns.contains(kN)) kN += "_"
    // drop zero-draw rows BEFORE sequence: Spark's sequence(1, 0) is a
    // DESCENDING [1, 0], not empty
    df.withColumn(kN, k).filter(col(kN) >= 1)
      .withColumn("replica", explode(sequence(lit(1), col(kN))))
      .drop(kN)
  }

  /** Groups frame with the UNROUNDED allocation (`__alloc`): the select
    * face must filter against the exact waterline, not the rounded
    * report value, or a row sitting within 1e-6 of the boundary would
    * diverge from the oracle's arithmetic.
    */
  private def unimaxCore(df: DataFrame, groupCol: String,
      weightCol: String, totalBudget: Long, maxEpochs: Int): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive: $totalBudget")
    require(maxEpochs >= 1, s"maxEpochs must be >= 1: $maxEpochs")
    import org.apache.spark.sql.expressions.Window
    val w = coalesce(col(s"`$weightCol`").cast("long"), lit(0L))
    val g = df.groupBy(col(s"`$groupCol`")).agg(sum(w).as("__gw"))
      .withColumn("__cap", col("__gw") * maxEpochs)
    val ord = Window.orderBy(col("__cap"), col(s"`$groupCol`"))
    val n = g.agg(count(lit(1)).as("__n"))
    val ranked = g
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__prior", coalesce(sum(col("__cap")).over(
        ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("__capped",
        col("__cap") * (col("__n") - col("__rn") + 1) <=
          lit(totalBudget) - col("__prior"))
    val rem = ranked.agg(
      coalesce(sum(when(col("__capped"), col("__cap"))), lit(0L))
        .as("__csum"),
      coalesce(sum(when(col("__capped"), lit(0L)).otherwise(lit(1L))),
        lit(0L)).as("__un"))
    ranked.crossJoin(broadcast(rem))
      .withColumn("__alloc", when(col("__capped"),
        col("__cap").cast("double"))
        .otherwise((lit(totalBudget) - col("__csum")).cast("double") /
          col("__un").cast("double")))
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007): a fixed-size-k
    * weighted sample WITHOUT replacement per group, with the unbiased
    * subset-sum estimator ŵ_i = max(w_i, τ) where τ is the (k+1)-th
    * largest priority q_i = w_i / u_i. Unlike the Bernoulli
    * [[weightedSample]] (expected-size, per-row independent), the sample
    * size is exact — the shape a per-language token-budget draw needs.
    *
    * All randomness is the md5 hash family: u_i = (h60(id)+1) / 2^60 ∈
    * (0,1], so the draw replays bit-for-bit and mirrors in the oracle.
    * Cross-engine determinism note: q involves only long→double casts and
    * IEEE divisions (the 2^60 divisor is a power of two — an exact
    * exponent shift), all correctly rounded and bit-identical in Spark
    * and DuckDB; no libm (pow/ln) anywhere, which is why priorities
    * w/u are gate-able where Efraimidis–Spirakis keys u^(1/w) are not.
    *
    * Scale: rows are projected to (group, id, w, q) BEFORE the rank
    * window, so the shuffle carries ~32-byte rows, never document
    * payloads; τ rides the same window partitioning (no second
    * shuffle). Selected ids join back to full rows caller-side if needed.
    */
  def prioritySample(df: DataFrame, idCol: String, groupCol: String,
      weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val u = (hash60(col(idCol)) + lit(1L)).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val q = col(weightCol).cast("double") / u
    val narrow = df.select(col(groupCol), col(idCol),
      col(weightCol).cast("double").as("__w"), q.as("__q"))
    val byG = Window.partitionBy(col(groupCol))
    val rn = row_number().over(byG.orderBy(col("__q").desc, col(idCol)))
    val ranked = narrow.withColumn("__rn", rn)
      .withColumn("__tau",
        max(when(col("__rn") === k + 1, col("__q"))).over(byG))
    ranked.filter(col("__rn") <= k)
      .select(col(groupCol), col(idCol),
        col("__w").as("weight"),
        // τ missing (group smaller than k+1) → the sample is the whole
        // group and the estimator is exact: ŵ = w
        round(greatest(col("__w"), coalesce(col("__tau"), lit(0.0))), 6)
          .as("est_weight"))
  }

  /** The 60-bit md5 hash as a Column (the [[hashBucket]] family without
    * the bucket fold — SQL mirror `PortableHash.sqlHash60`).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
}
