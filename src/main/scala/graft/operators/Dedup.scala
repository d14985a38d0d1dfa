package graft.operators

import graft.core.{Held, Pin, Pinned}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Design notes for 100 TB:
  *  - exact dedup is a hash-groupBy on a 128-bit digest of the text — the
  *    shuffle carries (digest, id), never the document body;
  *  - MinHash/LSH near-dup is the scale path: per-doc signatures are computed
  *    map-side (explode shingles → groupBy doc → min per hash seed), then
  *    candidate pairs come from equi-joining on (band, band-signature) —
  *    a key-partitioned shuffle join, never an all-pairs product;
  *  - SimHash gives a 64-bit fingerprint whose banded substrings join the
  *    same way;
  *  - exact n-gram Jaccard is kept for verification of candidate pairs
  *    (its all-pairs form is only for small scoped subsets).
  */
object Dedup {

  /** Tokenize into lowercase word tokens. `trim` first: Spark's split
    * drops trailing empty tokens while DuckDB's string_split_regex keeps
    * them, so without the trim the cross-engine gates diverge on any
    * document with trailing whitespace.
    */
  def tokens(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Shingles from an already-materialized token array column.
    *
    * IMPORTANT perf note: Catalyst does NOT eliminate common subexpressions
    * through nested lambda functions, so `toks` must be a plain column
    * reference (staged in its own projection), never an inline `split(...)`
    * — inlining makes the tokenizer re-run once per shingle per consumer
    * (measured 30x slowdown on the minhash path).
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(
      transform(sequence(lit(0), greatest(size(toks) - n, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Contiguous n-gram shingles of the token sequence (distinct). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(text), n)

  /** (id, text) with the rows SPREAD across the cluster's cores when the
    * file scan would under-parallelize ([[graft.core.Spread]]): every
    * consumer below runs expensive per-row expression work (tokenize →
    * shingle → hash/minhash) map-side, and a one-file/one-row-group input
    * otherwise serializes that work into a single task (measured: one
    * 2.7 s single-task job inside q245's 5.8 s — StageProfile,
    * OPTIMIZATION_r13.md). At scale the scan is already parallel and the
    * spread is a no-op passthrough.
    */
  private def spreadText(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.core.Spread(
      docs.select(col(idCol).as("id"), col(textCol).as("__graft_txt")))

  /** (id, shingle-array) with tokens and shingles each computed exactly once
    * per row via staged projections.
    */
  def shingleDF(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    spreadText(docs, idCol, textCol)
      .select(col("id"), tokens(col("__graft_txt")).as("__toks"))
      .select(col("id"), shinglesFromTokens(col("__toks"), n).as("sh"))

  /** (id, distinct shingle HASHES) via the native
    * [[graft.functions.ShingleHashExpr]] — byte-identical to
    * `transform(shingleDF.sh, xxhash64)` but one primitive loop per row
    * instead of interpreted lambda soup (the measured dominant cost of
    * every shingle pipeline). Use wherever downstream only ever joins /
    * intersects / counts shingles; [[shingleDF]] stays for consumers that
    * need the strings (the md5-family minhash signature).
    */
  def shingleHashDF(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    spreadText(docs, idCol, textCol)
      .select(col("id"), tokens(col("__graft_txt")).as("__toks"))
      .select(col("id"),
        graft.functions.ShingleHashExpr.shingleHashes(col("__toks"), n)
          .as("sh"))

  /** Exact duplicate groups: digest → (count, representative id).
    * groupBy on md5 so arbitrarily long docs cost a fixed-width shuffle key.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Metadata-conflict audit over exact-duplicate groups: byte-identical
    * texts (md5 digest) carrying MORE THAN ONE distinct value of
    * `attrCol` — the "same document labeled en in one crawl and fr in
    * another" defect that makes any per-language statistic quietly wrong
    * and survives exact dedup (whichever copy wins donates its label).
    * Output: one row per (digest, attr) cell of each conflicted group,
    * with the group's docs-per-value count and distinct-value count —
    * the reviewer sees both labels and how the mass splits.
    *
    * 100 TB shape: the body is never shuffled (md5 is the map-side
    * shuffle key); cells are map-side combinable; the per-digest value
    * count re-aggregates the cell frame and joins back on the digest.
    * Null texts/attrs are excluded (a null label is a different defect —
    * Checks' not_null rule).
    */
  def conflictingMetadata(docs: DataFrame, textCol: String,
      attrCol: String): DataFrame = {
    val cells = docs
      .filter(col(textCol).isNotNull && col(attrCol).isNotNull)
      .groupBy(md5(col(textCol)).as("digest"), col(attrCol))
      .agg(count(lit(1)).as("n_docs"))
    val perDigest = cells.groupBy(col("digest"))
      .agg(count(lit(1)).as("n_values"))
    cells.join(perDigest.filter(col("n_values") > 1), Seq("digest"))
      .select(col("digest"), col(attrCol), col("n_docs"), col("n_values"))
  }

  /** Drop exact duplicates, keeping the min-id representative. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signature from a materialized shingle column: array of k seeded
    * minima over the doc's shingles — computed entirely inside one row (no
    * shuffle) by the native expression, which md5-hashes each shingle ONCE
    * and runs the k seeded passes as integer multiply-adds over the cached
    * base hashes. The md5-derived family is reproducible in DuckDB
    * ([[graft.functions.PortableHash]]), so LSH candidate sets oracle-match.
    */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    graft.functions.MinHashSignatureExpr.signature(shingleCol, k)

  /** LSH candidate pairs: band the k-wide signature into `bands` buckets per
    * doc, join docs sharing any (band, bucket). Returns distinct
    * (id_a < id_b) candidate pairs.
    *
    * Banding explodes the signature ARRAY (its producing expression is
    * evaluated exactly once per row — posexplode of a derived band list
    * would let CollapseProject inline the whole minhash into the generator
    * and recompute it once per band; measured 8x slowdown). The bucket key
    * is the band's minima joined as a string (mirrorable in SQL as
    * `array_to_string`; the string is ~40 bytes — negligible vs hashing it
    * at this shuffle's size). The bucket equi-join shuffles by
    * (band, bucket); AQE splits skewed buckets.
    */
  /** (id, sig) minhash signatures: tokens → signature in ONE native
    * evaluation (no interpreted shingle transform, no shingle-string array
    * in the row); same md5 family, so the oracle's string-shingle
    * formulation matches bit-for-bit. This frame (k longs per doc) is the
    * PERSISTABLE dedup artifact — write it alongside a landed corpus and
    * feed increments from it ([[dedupIncrement]] with `artifacts`).
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 32): DataFrame =
    spreadText(docs, idCol, textCol)
      .select(col("id"), tokens(col("__graft_txt")).as("__toks"))
      .select(col("id"),
        graft.functions.ShingleMinHashExpr
          .signature(col("__toks"), shingleSize, k).as("sig"))
      // Exchange barrier: CollapseProject would otherwise inline the whole
      // minhash chain into the band generator below and re-evaluate it per
      // band/seed (measured 8-30x). The shuffle moves only (id, k longs)
      // per doc — negligible vs the corpus scan at any scale.
      .repartition(col("id"))

  /** b-bit minhash similarity estimates for given pairs (Li & König
    * 2010): keep only the low `b` bits of each of the k minhash values —
    * a signature 64/b× smaller than the full one (the artifact-size
    * lever when signatures are persisted corpus-wide for incremental
    * dedup) — and correct the truncation's collision baseline out of
    * the match fraction: with m = matching fraction and C = 2^-b,
    * Ĵ = (m − C)/(1 − C), clamped at 0 and rounded to 6. The estimate
    * converges to Jaccard as k grows; at (k=32, b=8) the extra variance
    * over full minhash is ≤ C/(1−C) ≈ 0.4%.
    *
    * Scale shape: two equi-joins of the pair list against the
    * (id, k-longs) signature frame, then a fixed 32-element per-row
    * fold — pair-graph-sized, the corpus is touched only through
    * [[minhashSignatures]] (or pass a persisted signature table to
    * [[bbitEstimateFromSigs]]).
    */
  def bbitEstimatePairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, k: Int = 32,
      b: Int = 8): DataFrame =
    bbitEstimateFromSigs(pairs,
      minhashSignatures(docs, idCol, textCol, shingleSize, k), k, b)

  /** [[bbitEstimatePairs]] over an already-built (id, sig) frame. */
  def bbitEstimateFromSigs(pairs: DataFrame, sigs: DataFrame,
      k: Int = 32, b: Int = 8): DataFrame = {
    require(b >= 1 && b < 61, s"b must be in [1, 60]: $b")
    val mod = 1L << b
    val c = 1.0 / mod
    val sa = sigs.select(col("id").as("id_a"), col("sig").as("__sa"))
    val sb = sigs.select(col("id").as("id_b"), col("sig").as("__sb"))
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("__m", aggregate(
        zip_with(col("__sa"), col("__sb"),
          (x, y) => (x % mod === y % mod).cast("int")),
        lit(0), (acc, v) => acc + v).cast("double") / k)
      .withColumn("bbit_jaccard", round(
        greatest((col("__m") - c) / (1.0 - c), lit(0.0)), 6))
      .select(col("id_a"), col("id_b"), col("bbit_jaccard"))
  }

  /** LSH banding + bucket self-join over an (id, sig) frame
    * ([[minhashSignatures]] or a persisted signatures table). */
  def minhashCandidatesFromSigs(sig: DataFrame, k: Int = 32,
      bands: Int = 8): DataFrame = {
    val r = k / bands
    val banded = sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * r + 1, lit(r))))))
      .toDF("id", "band", "bucket")
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignatures(docs, idCol, textCol, shingleSize, k), k, bands)

  /** Expected candidate fanout per inverted-index entry: Σ df² / Σ df
    * over the shingle document frequencies (df > 1, mirroring the
    * prefilter both join paths apply). Each index entry of a df-f shingle
    * meets f − 1 partners in the plain self-join, so this ratio IS the
    * per-row cost multiplier of the df²-term — the quantity that decides
    * whether prefix filtering pays for its extra rank window and verify
    * joins.
    *
    * Estimated on a DETERMINISTIC doc subsample capped at `maxProbeDocs`
    * (md5-bucket selection — stable across runs/engines), so the probe is
    * CONSTANT cost no matter the corpus size: shingling the full corpus
    * just to pick a join strategy would double the dominant cost of the
    * operator it advises. A shingle with full df D appears in the
    * f-sample with df ≈ f·D, so the sample ratio understates the excess
    * fanout by ≈ f; the estimator rescales (fanout − 1)/f + 1. Order-of-
    * magnitude accuracy is all the path decision needs — the regimes sit
    * at ~4 and in the hundreds. The double sum cannot overflow where a
    * long Σdf² at corpus scale could.
    */
  def shingleFanout(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, maxProbeDocs: Int = 512): Double = {
    val n = docs.count()
    if (n == 0L) return 0.0
    val f = math.min(1.0, maxProbeDocs.toDouble / n)
    val sample = if (f >= 1.0) docs
      else Sampling.deterministicSample(docs, idCol, f)
    val r = shingleHashDF(sample, idCol, textCol, shingleSize)
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 1)
      .agg(sum(col("df")).as("n"),
        sum(col("df").cast("double") * col("df")).as("n2"))
      .head()
    val sampled = if (r.isNullAt(0) || r.getLong(0) == 0L) 0.0
      else r.getDouble(1) / r.getLong(0)
    if (f >= 1.0 || sampled <= 1.0) sampled
    else 1.0 + (sampled - 1.0) / f
  }

  /** Exact token-shingle Jaccard for given pairs (verification step).
    * `pairs` has id_a/id_b; result adds jaccard.
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame = {
    // hashes, not strings: the intersect/union arithmetic is identical
    // and the join ships ~8 bytes per shingle
    val sh = shingleHashDF(docs, idCol, textCol, shingleSize)
      .select(col("id").as("__id"), col("sh").as("__sh"))
    pairs
      .join(sh.withColumnRenamed("__sh", "sh_a"),
        col("id_a") === col("__id")).drop("__id")
      .join(sh.withColumnRenamed("__sh", "sh_b"),
        col("id_b") === col("__id")).drop("__id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .drop("sh_a", "sh_b", "inter", "uni")
  }

  /** All-pairs exact n-gram Jaccard within a scoped set — the correctness
    * oracle for the LSH path. Pairs are generated through a
    * shingle-inverted-index equi-join (docs sharing ≥1 shingle), never a
    * cartesian product.
    *
    * `prefixFilter` (AllPairs/ppjoin prefix principle): index only each
    * doc's n − ⌈t·n⌉ + 1 RAREST shingles — a pair with Jaccard ≥ t must
    * share a shingle outside either doc's ⌈t·n⌉−1 suffix (|A∩B| ≥ ⌈t·|B|⌉
    * > |suffix(B)|; completeness holds for ANY prefix choice, rare-first
    * ordering just keeps high-document-frequency shingles — the df²
    * quadratic killers — out of the index). Survivors verify with an exact
    * set intersection, so both paths return IDENTICAL rows
    * (spec-asserted). Measured: at this corpus scale (1.5k scoped docs,
    * sf0.1) the default count-aggregation form wins (4.2 s vs 4.9 s — the
    * rank window + verify joins cost more than the pruning saves); the
    * prefix path wins when the shingle df distribution is heavy-tailed
    * enough that the df² join term dominates — the regime a 100 TB
    * corpus is in.
    *
    * `prefixFilter = None` (default) AUTO-SELECTS: a cheap
    * [[shingleFanout]] probe — one map-side-combinable aggregation over
    * the exploded shingles, negligible next to either join — picks the
    * prefix path when the expected per-entry join fanout exceeds
    * `autoPrefixFanout`. The benign regime measures fanout ≈ 3-4 on the
    * synthetic corpora; boilerplate-heavy corpora run to the hundreds,
    * so the default 64 splits the regimes with margin on both sides.
    * `Some(b)` forces a path (the spec uses it to assert equivalence).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double,
      prefixFilter: Option[Boolean] = None,
      autoPrefixFanout: Double = 64.0): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val usePrefix = prefixFilter.getOrElse(
      shingleFanout(docs, idCol, textCol, shingleSize) > autoPrefixFanout)
    // 8-byte shingle hashes, not ~20-char strings: same pairs and counts
    // (64-bit collisions are ~2^-64), a third of the shuffle bytes — and
    // hashed natively in one loop per row
    val sh = shingleHashDF(docs, idCol, textCol, shingleSize)
      .withColumn("n", size(col("sh")))
    val inv0 = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    // shingles in exactly one doc can never contribute to a pair — drop
    // them with a window count BEFORE the quadratic self-join. The window
    // shuffles by s, the same partitioning the join needs, so the filter
    // is nearly free and the join input shrinks by the vocabulary tail.
    val inv = inv0.withColumn("__df",
        count(lit(1)).over(w.partitionBy(col("s"))))
      .filter(col("__df") > 1)
    if (usePrefix) {
      val prefix = inv.withColumn("__rk",
          row_number().over(w.partitionBy(col("id"))
            .orderBy(col("__df"), col("s"))))
        .filter(col("__rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
        .select(col("id"), col("s"))
      val cand = inv.select(col("id"), col("s")).as("a")
        .join(prefix.as("b"), col("a.s") === col("b.s") &&
          col("a.id") =!= col("b.id"))
        .select(least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"))
        .distinct()
      val sa = sh.select(col("id").as("id_a"), col("n").as("n_a"),
        col("sh").as("sh_a"))
      val sb = sh.select(col("id").as("id_b"), col("n").as("n_b"),
        col("sh").as("sh_b"))
      cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard", col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    } else {
      val a = inv.as("a"); val b = inv.as("b")
      val inter = a.join(b, col("a.s") === col("b.s") &&
          col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
        .agg(count(lit(1)).as("inter"))
      inter.withColumn("jaccard", col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /** Asymmetric n-gram CONTAINMENT pairs — partial-copy detection: a
    * short document quoted wholesale inside a long one has LOW Jaccard
    * (the union is dominated by the long doc's shingles) but containment
    * inter / min(|A|, |B|) ≈ 1, so [[ngramJaccardPairs]] misses the
    * quote/inclusion regime by construction. Same inverted-index
    * skeleton: native 8-byte shingle hashes, the df>1 window prefilter
    * dropping single-doc shingles before the quadratic self-join (the
    * window shuffles by shingle — the partitioning the join needs
    * anyway), pair counts aggregated map-side on fixed-width keys.
    * Output: (id_a < id_b, inter, containment ≥ threshold).
    *
    * Scale note: candidate volume is Σ df² over surviving shingles (the
    * jaccard operator's plain branch shares the bound, but its PREFIX
    * path does not transfer here — that pruning argument relies on the
    * union denominator). In a boilerplate-heavy corpus, strip
    * corpus-frequent grams first
    * ([[graft.operators.TextAnalysis.boilerplateSignals]] identifies
    * them) or raise the shingle size before running this.
    */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, threshold: Double): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val sh = shingleHashDF(docs, idCol, textCol, shingleSize)
      .withColumn("n", size(col("sh")))
    val inv = sh.select(col("id"), col("n"), explode(col("sh")).as("s"))
      .withColumn("__df", count(lit(1)).over(w.partitionBy(col("s"))))
      .filter(col("__df") > 1)
    val a = inv.as("a"); val b = inv.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("containment"), 6).as("containment"))
  }

  /** 60-bit SimHash of the token multiset: majority vote of per-token hash
    * bits, via the native [[graft.functions.SimHashExpr]] — a narrow map
    * with zero shuffle (the 8-byte fingerprint is the only thing that ever
    * moves). The md5-derived per-token hash is reproducible in DuckDB, so
    * the fingerprints (and the banded candidate pairs) oracle-match.
    */
  def simhashDF(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    spreadText(docs, idCol, textCol)
      .select(col("id"), tokens(col("__graft_txt")).as("__toks"))
      .select(col("id"),
        graft.functions.SimHashExpr.simhash(col("__toks")).as("simhash"))

  /** Embedding-cosine near-duplicate pairs: (id_a < id_b) pairs sharing a
    * sign-LSH bucket whose exact cosine meets the threshold.
    *
    * Candidate generation is [[Similarity]]'s multi-table random-hyperplane
    * bucketing — an equi-join on (table, signature) that shuffles by bucket
    * key, NOT an all-pairs product (round 1 gated this operator on a
    * BroadcastNestedLoopJoin `id_a < id_b` cross join: O(n²) pairs scored,
    * a scale-killer the moment n leaves test sizes). Only id pairs travel
    * through the distinct; vectors are re-attached by id join for the exact
    * cosine verify. Recall is the standard sign-LSH tradeoff (rises with
    * `tables`, falls with `bits`; near-identical vectors — the dedup
    * regime — collide with probability ≈ 1); the signature family is
    * md5-derived so the DuckDB oracle reproduces the same candidate set.
    *
    * `exact = true` keeps the all-pairs form as the small-scale oracle for
    * recall measurement in specs — never the production path.
    */
  def embeddingNearDupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 8, tables: Int = 4,
      exact: Boolean = false): DataFrame = {
    val pairs =
      if (exact) {
        val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
        val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), col("va"), col("vb"))
      } else {
        val buckets = Similarity.signatures(vecs, idCol, vecCol, bits, tables)
        val a = buckets.as("a"); val b = buckets.as("b")
        val cand = a.join(b, col("a.t") === col("b.t") &&
            col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
        val va = vecs.select(col(idCol).as("id_a"), col(vecCol).as("va"))
        val vb = vecs.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
        cand.join(va, "id_a").join(vb, "id_b")
      }
    pairs
      .select(col("id_a"), col("id_b"),
        graft.functions.CosineSimilarityExpr.cosine(col("va"), col("vb"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** One round of label propagation over a similarity pair graph — the
    * weak-supervision primitive: a document with a NULL label takes the
    * majority label among its labeled neighbors (ties to the
    * lexicographically smallest label; no labeled neighbor → stays
    * null). Near-dups of a labeled doc inherit its label instead of
    * going to annotation. Output: docs columns with `labelCol` replaced
    * by the propagated value and a `label_source` column
    * ('own'/'propagated'/'none').
    *
    * Scale: the vote runs over the PAIR graph (a sliver of the corpus);
    * the corpus is touched by one join against the vote results.
    */
  def propagateLabels(docs: DataFrame, idCol: String, labelCol: String,
      pairs: DataFrame): DataFrame = {
    val sym = pairs.select(col("id_a").as("__u"), col("id_b").as("__v"))
      .union(pairs.select(col("id_b"), col("id_a")))
    val labeled = docs.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("__v"), col(labelCol).as("__nl"))
    val votes = sym.join(labeled, "__v")
      .groupBy(col("__u"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__u"))
      // min over (-count, label): majority wins, ties to smallest label
      .agg(min_by(col("__nl"), struct(-col("__c"), col("__nl")))
        .as("__prop"))
    docs.join(votes, docs(idCol) === votes("__u"), "left")
      .select(docs.columns.filter(_ != labelCol).map(docs(_)).toIndexedSeq
        ++ Seq(
          coalesce(docs(labelCol), col("__prop")).as(labelCol),
          when(docs(labelCol).isNotNull, lit("own"))
            .when(col("__prop").isNotNull, lit("propagated"))
            .otherwise(lit("none")).as("label_source")): _*)
  }

  /** SemDeDup-style embedding near-dup pairs (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): candidates come only from WITHIN a k-means
    * cluster — vectors are assigned to their nearest trained centroid
    * (a narrow map over the centroid plan literal,
    * [[Similarity.nearestCentroid]]) and the pair join shuffles by
    * cluster id; exact cosine verifies. The trained-centroid variant of
    * [[embeddingNearDupPairs]]'s sign-LSH bucketing: clusters follow
    * the DATA's density rather than random hyperplanes, so candidate
    * volume concentrates where near-dups actually live. Cluster size
    * bounds the per-cluster pair product — choose k so clusters stay
    * bounded (k ≈ √n is the usual rule; the per-cluster join is the
    * same within-bucket shape q65 audits).
    */
  def semDedupPairs(vecs: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, threshold: Double): DataFrame = {
    val assigned = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      graft.operators.Similarity.nearestCentroid(cent, col(vecCol))
        .as("cid"))
    val a = assigned.as("a"); val b = assigned.as("b")
    a.join(b, col("a.cid") === col("b.cid") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.CosineSimilarityExpr.cosine(col("a.v"), col("b.v"))
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** End-to-end corpus deduplication — the composed pipeline a curation
    * job actually runs: exact dedup (min-id keeper per content digest),
    * then MinHash-LSH candidate pairs verified by exact Jaccard; any doc
    * appearing as the HIGHER id of a verified near-dup pair is dropped
    * (greedy pairwise policy — deterministic and order-free; a
    * connected-component policy would need an iterative closure, overkill
    * for near-dup removal). Returns the surviving rows of `docs`.
    *
    * Scale shape: every stage is the already-audited operator — digest
    * groupBy, map-side signatures, banded equi-join, verify join — plus
    * one final left-anti join against the (small) drop list.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val survivors = exactDedup(docs, idCol, textCol)
    val cand = minhashCandidates(survivors, idCol, textCol, shingleSize, k,
      bands)
    val near = jaccardVerify(cand, survivors, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
    val drop = near.select(col("id_b").as(idCol)).distinct()
    survivors.join(drop, Seq(idCol), "left_anti")
  }

  /** Incremental dedup: drop INCOMING docs that exactly or nearly
    * duplicate the EXISTING corpus — the delta-load face of the dedup
    * family (a production corpus is not rebuilt per batch; each increment
    * dedups against what is already landed). Returns the incoming
    * survivors with incoming's schema. Within-batch duplicates are NOT
    * touched (compose with [[dedupCorpus]] on the increment for that);
    * ids must be unique across both frames (a growing corpus's invariant).
    *
    * Shape: exact matches go first via a fixed-width digest anti-join
    * (existing digests are distinct — one row per unique content however
    * often it repeats); near-dup candidates come from a LANDED-banded ×
    * BATCH-banded bucket join, so only cross-side pairs ever exist —
    * the landed corpus's internal near-dup structure is never generated
    * or re-verified per increment (IncProbe measured it dominating a
    * union self-join). Both joins are bucketed equi-joins; nothing is
    * broadcast-sized except the final drop list.
    *
    * Scale note: with no `artifacts`, signatures and digests for the
    * EXISTING corpus are recomputed per increment (self-contained entry
    * point). At production scale, persist [[dedupArtifacts]] alongside
    * the landed corpus (one (id, digest, k-long signature) row per doc)
    * and pass it here — the increment's cost then scales with the BATCH:
    * the existing side contributes a narrow artifact scan, and text is
    * re-read only for the candidate sliver during exact verification.
    */
  def dedupIncrement(existing: DataFrame, incoming: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5, shingleSize: Int = 3,
      k: Int = 32, bands: Int = 8,
      artifacts: Option[DataFrame] = None): DataFrame = {
    // the digest prune needs ONLY md5 — when self-building, never route
    // it through the signature compute (a plan branch re-executing the
    // whole minhash chain just to feed an anti-join's build side)
    val (exDigests, exSigs) = artifacts match {
      case Some(a) => (a.select(col("digest").as("__d")).distinct(),
        a.select(col("id"), col("sig")))
      case None => (existing.select(md5(col(textCol)).as("__d")).distinct(),
        minhashSignatures(existing, idCol, textCol, shingleSize, k))
    }
    incrementCore(existing, incoming, idCol, textCol, threshold,
      shingleSize, k, bands, exDigests,
      bandSignatures(exSigs, "id_a", k, bands))
  }

  /** Band a (id, sig) signature frame into one (idName, band, bucket) row
    * per band — the LSH bucket key frame both sides of a candidate join
    * carry.
    */
  private def bandSignatures(sig: DataFrame, idName: String, k: Int,
      bands: Int): DataFrame = {
    val r = k / bands
    sig.select(col("id").as(idName),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws("_", slice(col("sig"), b * r + 1, lit(r))))))
      .toDF(idName, "band", "bucket")
  }

  /** The landed side of [[dedupIncrement]], derived ONCE and persisted
    * for REPEATED increments (a micro-batch loop, a multi-delta backfill):
    * the distinct digest set and the banded signature frame. Without
    * this, every increment re-distincts the digests and re-explodes the
    * banding over the whole landed artifact set — corpus-sized work per
    * batch (BenchOne measured the q75 4-micro-batch gate paying it 4×).
    * `k`/`bands`/`shingleSize` must match the [[dedupArtifacts]] build;
    * they are carried on the handle so the consuming increment can't
    * diverge. Release after the last increment.
    */
  final case class IncrementArtifacts(private val digestsPin: Pin,
      private val bandedPin: Pin, shingleSize: Int, k: Int, bands: Int)
      extends Pinned {
    def digests: DataFrame = digestsPin.frame
    def banded: DataFrame = bandedPin.frame
    def release(): Unit = Pin.release(digestsPin, bandedPin)
  }

  /** Build a persisted [[IncrementArtifacts]] from a [[dedupArtifacts]]
    * frame. Pass the same `shingleSize`/`k` the artifacts were built with.
    */
  def prepareIncrement(artifacts: DataFrame, shingleSize: Int = 3,
      k: Int = 32, bands: Int = 8): IncrementArtifacts =
    IncrementArtifacts(
      Pin.cache(artifacts.select(col("digest").as("__d")).distinct()),
      Pin.cache(bandSignatures(artifacts.select(col("id"), col("sig")),
        "id_a", k, bands)),
      shingleSize, k, bands)

  /** [[dedupIncrement]] against a prepared, persisted landed side: each
    * call pays batch-sized work only — the landed contribution is two
    * cached scans (digests for the prune, banded buckets for the
    * candidate join) plus the candidate-sliver text read.
    */
  def dedupIncrementPrepared(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, prepared: IncrementArtifacts,
      threshold: Double = 0.5): DataFrame =
    incrementCore(existing, incoming, idCol, textCol, threshold,
      prepared.shingleSize, prepared.k, prepared.bands, prepared.digests,
      prepared.banded)

  private def incrementCore(existing: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double, shingleSize: Int,
      k: Int, bands: Int, exDigests: DataFrame,
      exBanded: DataFrame): DataFrame = {
    // ONE pass over the batch computes everything the increment needs per
    // row — content digest (exact prune), shingle hashes (verification)
    // and minhash signature (candidate banding) — materialized once via a
    // lazy localCheckpoint (batch-sized; the first action pins it, GC
    // releases the blocks with the plan). The unfused form re-scanned and
    // re-tokenized the batch for the prune, the signatures, the verify
    // sliver and the final anti-join, and needed a repartition barrier to
    // keep CollapseProject from inlining the minhash into the band
    // generator — the checkpoint IS that barrier. Per micro-batch this
    // cuts 3 batch re-scans and 3 shuffles (signature repartition, pair-id
    // distinct, drop-list distinct; anti/semi joins dedup their own right
    // sides), the q75 jobs-per-trigger driver.
    val inCols = incoming.columns.toSeq.map(c => col(s"`$c`"))
    val feat = Pin.checkpoint(graft.core.Spread(incoming)
      .withColumn("__graft_toks", tokens(col(s"`$textCol`")))
      .select(inCols ++ Seq(
        md5(col(s"`$textCol`")).as("__dg"),
        graft.functions.ShingleHashExpr
          .shingleHashes(col("__graft_toks"), shingleSize).as("__sh"),
        graft.functions.ShingleMinHashExpr
          .signature(col("__graft_toks"), shingleSize, k).as("__sig")): _*),
      eager = false).frame
    val inPruned = feat.join(exDigests, col("__dg") === col("__d"),
      "left_anti")
    // candidates come from a LANDED-banded × BATCH-banded join, never a
    // self-join over the union: landed×landed bucket pairs (the landed
    // corpus's own near-dup structure, re-derivable any time and useless
    // for an increment) are never generated, let alone verified —
    // IncProbe measured them dominating the naive union self-join.
    // Batch×batch pairs are equally out of scope (within-batch dedup is
    // dedupCorpus's job) and are skipped the same way. Banding only the
    // PRUNED rows keeps exact dups out of the pair graph, exactly as when
    // signatures were computed post-prune.
    val inBanded = bandSignatures(
      inPruned.select(col(s"`$idCol`").as("id"), col("__sig").as("sig")),
      "id_b", k, bands)
    val cand = exBanded.join(inBanded, Seq("band", "bucket"))
      .select(col("id_a"), col("id_b")).distinct()
    // exact verification re-reads text ONLY for the candidate sliver, and
    // only on the LANDED side (id_a) — the batch side's shingle hashes are
    // already on the checkpoint. At scale the landed corpus is never
    // re-shingled whole. A left-semi join dedups its right side itself, so
    // the id list needs no distinct.
    val shA = shingleHashDF(
      existing.select(col(s"`$idCol`"), col(s"`$textCol`"))
        .join(cand.select(col("id_a").as("__pid")),
          col(s"`$idCol`") === col("__pid"), "left_semi"),
      idCol, textCol, shingleSize)
      .select(col("id").as("id_a"), col("sh").as("sh_a"))
    // every verified pair is (landed, incoming) by construction: the
    // incoming side is disqualified directly. Same intersect/union
    // arithmetic as jaccardVerify, over the same per-side shingle hashes.
    val bad = cand
      .join(shA, Seq("id_a"))
      .join(feat.select(col(s"`$idCol`").as("id_b"), col("__sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("uni",
        size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_b").as(idCol))
    inPruned.join(bad, Seq(idCol), "left_anti").select(inCols: _*)
  }

  /** The distinct landed digests of [[dedupArtifacts]], PERSISTED for a
    * stream-static join. Stream-static joins re-evaluate the static plan
    * on EVERY micro-batch — unpinned, each batch re-scans the artifacts
    * and re-runs the distinct (invisible at bench scale; a full landed-
    * corpus re-scan per batch at 100 TB). Pinning caches the distinct
    * once (first batch materializes it; later batches hit the cache).
    * Release the pin once the stream stops.
    */
  def pinDigests(artifacts: DataFrame): Pin =
    Pin.cache(artifacts.select(col("digest").as("__d")).distinct())

  /** Streaming face of [[dedupIncrement]]'s exact path: drop arriving
    * rows whose content digest is already in the landed [[dedupArtifacts]]
    * — a stream-static LEFT ANTI join, which Structured Streaming
    * evaluates per micro-batch against the static frame (stateless: no
    * watermark, no store; the landed side is the state, on disk where it
    * belongs). The SAME call works on a batch frame, which is how the
    * oracle gates it. Near-dup increments per micro-batch go through
    * `foreachBatch` + [[dedupIncrement]] with artifacts (the q75 face);
    * full cross-corpus Jaccard verification stays batch.
    *
    * This overload re-derives the digest distinct from `artifacts` on
    * every micro-batch — fine for one-shot/batch use; long-lived streams
    * should [[pinDigests]] first and use the pinned overload (StreamProbe
    * measured the re-scan growing with the landed corpus, PLANS.md).
    */
  def dedupStreamAgainst(stream: DataFrame, artifacts: DataFrame,
      textCol: String): DataFrame =
    stream.join(artifacts.select(col("digest").as("__d")).distinct(),
      md5(col(textCol)) === col("__d"), "left_anti")

  /** [[dedupStreamAgainst]] against [[pinDigests]]' pin: the
    * static side is the cached distinct, so each micro-batch pays one
    * in-memory scan instead of a landed-corpus re-scan + shuffle.
    */
  def dedupStreamAgainst(stream: DataFrame, digests: Pin,
      textCol: String): DataFrame =
    stream.join(digests.frame,
      md5(col(textCol)) === col("__d"), "left_anti")

  /** The persistable incremental-dedup artifacts of a landed corpus: one
    * (id, digest, sig) row per doc — md5 content digest for the exact
    * path, k-long minhash signature for the near-dup path. Write this
    * next to the corpus on every load; increments then never rescan the
    * landed text except for candidate verification.
    */
  def dedupArtifacts(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, k: Int = 32): DataFrame =
    spreadText(docs, idCol, textCol)
      .select(col("id"), md5(col("__graft_txt")).as("digest"),
        tokens(col("__graft_txt")).as("__toks"))
      .select(col("id"), col("digest"),
        graft.functions.ShingleMinHashExpr
          .signature(col("__toks"), shingleSize, k).as("sig"))
      .repartition(col("id"))

  /** Structural telemetry for a near-dup pair graph: node/edge counts,
    * wedge count, triangle count, and the global clustering coefficient
    * (3·triangles/wedges) — one summary row. High clustering says the
    * duplication is TEMPLATED (boilerplate families where everything
    * matches everything — kill the template); low clustering with many
    * edges says chains of incremental edits (version histories — keep
    * policy matters). Complements [[clusterStats]]' size histogram with
    * shape.
    *
    * Scale shape: triangle counting via the degree-ordered orientation
    * (each edge points from the lower (degree, id) endpoint, so every
    * triangle is counted exactly once from its lowest-degree corner) —
    * the classic bound: path-pair fan-out is Σ outdeg², and orientation
    * caps out-degree at O(√edges), so the join never explodes on hub
    * nodes the way an unoriented 3-way self-join would. All joins are
    * edge-keyed hash joins; wedges are one integer aggregate off the
    * degree table.
    */
  def graphStats(pairs: DataFrame): DataFrame = {
    // materialize the (tiny) edge and degree frames: `e` feeds three
    // consumers and `deg` four, and the PAIRS lineage behind them is
    // typically the whole minhash+verify chain (q129) — without the
    // checkpoint each consumer that ReuseExchange cannot cover re-runs
    // it (guide §5 persist-discipline; eager localCheckpoint blocks are
    // GC-released with the plan)
    val e = Pin.checkpoint(pairs
      .select(least(col("id_a"), col("id_b")).as("u"),
        greatest(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct(), eager = true).frame
    val deg = Pin.checkpoint(e.select(col("u").as("id"))
      .union(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg")), eager = true).frame
    // orient each edge from the lower (deg, id) endpoint
    val du = deg.select(col("id").as("u"), col("deg").as("__du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("__dv"))
    val oriented = e.join(du, "u").join(dv, "v")
      .select(
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(struct(col("__du"), col("u")) < struct(col("__dv"), col("v")),
          col("v")).otherwise(col("u")).as("dst"))
    // order key for the path pair: (deg, id) of dst — re-attach
    val ranked = oriented.join(
      deg.select(col("id").as("dst"), col("deg").as("__dd")), "dst")
    val paths = ranked.select(col("src"), col("dst").as("b"),
        col("__dd").as("__db"))
      .join(ranked.select(col("src"), col("dst").as("c"),
        col("__dd").as("__dc")), Seq("src"))
      .filter(struct(col("__db"), col("b")) < struct(col("__dc"), col("c")))
    val triangles = paths.join(
      oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
    val counts = e.agg(count(lit(1)).as("n_edges")).crossJoin(
        deg.agg(count(lit(1)).as("n_nodes"),
          // deg·(deg−1) is even, so the halving is exact
          (sum(col("deg") * (col("deg") - 1)) / 2).cast("long")
            .as("n_wedges")))
      .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
    counts.select(col("n_nodes"), col("n_edges"), col("n_wedges"),
      col("n_triangles"),
      when(col("n_wedges") > 0,
        lit(3.0) * col("n_triangles") / col("n_wedges"))
        .as("clustering"))
  }

  /** Split-leakage detection: the near-dup pairs that STRADDLE dataset
    * splits — a doc in train with a near-duplicate in test is
    * contamination the eval can't see (the in-corpus complement of
    * benchmark decontamination). Run it after [[Sampling.hashSplit]] and
    * a pair-graph build; a leak-free corpus returns zero rows, and any
    * row is an actionable (id_a, id_b, split_a, split_b) audit record
    * (fix = dedup BEFORE splitting, or move one side).
    *
    * Scale shape: two hash joins of the pair list against the narrow
    * (id, split) projection, keyed by id — cost bounded by the pair
    * graph, not the corpus; the filter is a narrow post-join predicate.
    */
  def crossSplitPairs(pairs: DataFrame, splits: DataFrame, idCol: String,
      splitCol: String = "split"): DataFrame = {
    val s = splits.select(col(idCol), col(s"`$splitCol`"))
    pairs
      .join(s.select(col(idCol).as("id_a"),
        col(s"`$splitCol`").as("split_a")), Seq("id_a"))
      .join(s.select(col(idCol).as("id_b"),
        col(s"`$splitCol`").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"))
  }

  /** Dedup telemetry: the cluster-size histogram of a near-dup pair
    * graph — per cluster size, how many clusters exist and how many docs
    * cluster-level dedup would remove (`n_clusters·(size−1)`). The
    * report a curation run ships alongside its output: total duplication
    * mass, and whether it sits in a long tail of pairs or a few giant
    * templates (the two need different treatment — a 10⁶-member cluster
    * is boilerplate to kill, not a near-dup family to sample).
    *
    * Covers clusters of size ≥ 2 by construction (only ids appearing in
    * a pair are labeled; singletons are not duplication).
    *
    * Scale shape: [[connectedComponents]] over the pair graph (bounded
    * by pairs, tiny next to the corpus), then two map-side-combinable
    * aggregations — sizes per component, then the histogram. The
    * returned handle's `release()` frees the label checkpoint.
    */
  def clusterStats(pairs: DataFrame, maxIter: Int = 20): Held = {
    val comps = components(pairs, maxIter, failOnNonConvergence = true)
    val sizes = comps.frame.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (sum(col("cluster_size")) - count(lit(1))).cast("long")
          .as("docs_removed"))
    Held(hist, comps)
  }

  /** Keep exactly ONE representative (the min id) per near-dup CLUSTER:
    * label every id in `pairs` via [[connectedComponents]], drop each id
    * whose label is not itself. Docs in no pair survive untouched.
    *
    * This is the cluster-level policy the greedy pairwise drop of
    * [[dedupCorpus]] approximates: greedy drops `id_b` of every verified
    * pair, which keeps at most one of any DIRECTLY-similar pair but can
    * keep several docs of one transitive cluster when the link runs
    * through a higher id (pairs (1,3),(2,3): greedy keeps 1 AND 2;
    * per-cluster keeps only 1). Which is right depends on curation
    * intent; this one guarantees one doc per component.
    *
    * Scale shape: the label loop is [[connectedComponents]] (bounded by
    * the PAIR graph, tiny next to the corpus); the final drop is one
    * left-anti shuffle join of the corpus against an id-only drop list.
    */
  def keepPerComponent(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): Held = {
    val comps = components(pairs, maxIter, failOnNonConvergence = true)
    val drop = comps.frame.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    Held(docs.join(drop, Seq(idCol), "left_anti"), comps)
  }

  /** Leakage-safe train/val/test split: assign every document its
    * near-dup COMPONENT representative as the split key, then
    * [[Sampling.hashSplit]] on that key — so no two near-duplicates
    * ever land in different splits (the eval-contamination channel a
    * per-document hash split leaves wide open: a val doc whose
    * near-copy sits in train is a leaked answer). Docs in no pair key
    * by their own id, preserving the per-id split semantics for the
    * unduplicated bulk.
    *
    * Scale shape: the component loop is bounded by the PAIR graph
    * (tiny next to the corpus); the corpus is touched by one left
    * broadcast-or-shuffle join against the component labels and a
    * narrow hash filter. Output: `docs` columns + `split`.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], maxIter: Int = 20): DataFrame = {
    val comps = connectedComponents(pairs, maxIter)
    val keyed = docs
      .join(comps, docs(idCol) === comps("id"), "left")
      .withColumn("__skey", coalesce(col("component"), docs(idCol)))
      .drop("id", "component")
    Sampling.hashSplit(keyed, "__skey", splits).drop("__skey")
  }

  /** [[keepPerComponent]] with a QUALITY keep policy: the survivor of
    * each near-dup cluster is the highest-`scoreCol` member (ties to the
    * smaller id) instead of the smallest id. The policy difference
    * matters in curation: min-id keeps whichever duplicate happened to
    * land first; argmax-quality keeps the longest / cleanest / highest-
    * scored copy and drops its degraded variants.
    *
    * Scale shape: identical to [[keepPerComponent]] plus one row_number
    * window over the LABELED ids (only ids appearing in a pair — the
    * cluster membership frame, a sliver of the corpus), partitioned by
    * component; the corpus itself is touched only by the final anti-join.
    */
  def keepBestPerComponent(docs: DataFrame, idCol: String,
      pairs: DataFrame, scoreCol: String,
      maxIter: Int = 20): Held = {
    val comps = components(pairs, maxIter, failOnNonConvergence = true)
    val scored = docs
      .select(col(idCol).as("id"), col(s"`$scoreCol`").as("__s"))
      .join(comps.frame, Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("__s").desc_nulls_last, col("id"))
    val drop = scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1).select(col("id").as(idCol))
    Held(docs.join(drop, Seq(idCol), "left_anti"), comps)
  }

  /** [[dedupCorpus]] with the cluster-level keep policy: exact dedup,
    * MinHash-LSH candidates, Jaccard verify, then exactly one survivor
    * per connected near-dup component (instead of the greedy pairwise
    * drop). Returns the survivors with their labels pinned — release
    * after writing.
    */
  def dedupCorpusByComponents(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxIter: Int = 20,
      scoreCol: Option[String] = None): Held = {
    val survivors = exactDedup(docs, idCol, textCol)
    val cand = minhashCandidates(survivors, idCol, textCol, shingleSize, k,
      bands)
    val near = jaccardVerify(cand, survivors, idCol, textCol, shingleSize)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    // survivor policy: min id by default; argmax-quality when a score
    // column is named (see keepBestPerComponent)
    scoreCol match {
      case Some(sc) =>
        keepBestPerComponent(survivors, idCol, near, sc, maxIter)
      case None => keepPerComponent(survivors, idCol, near, maxIter)
    }
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS local fingerprinting scheme): hash every POSITIONAL k-gram
    * (multiset — [[shinglesFromTokens]]'s distinct set loses positions),
    * then in every window of `w` consecutive hashes select the minimum
    * (rightmost on ties), distinct per document. The guarantee the
    * per-doc minhash/simhash fingerprints can't give: any shared token
    * run of length ≥ w + k − 1 between two documents produces at least
    * one IDENTICAL selected fingerprint in both — local partial overlap
    * (a quoted paragraph inside an otherwise-unrelated doc) is caught
    * without comparing whole-document sketches, and density is bounded
    * (~2/(w+1) of positions selected).
    *
    * Hashes are the [[graft.functions.PortableHash]] 60-bit md5 family
    * ([[graft.functions.SpanHashesExpr]] — the span family's positional
    * k-gram kernel, byte-identical to the composed md5/conv form the
    * DuckDB oracle replays), and the selection loop is the native
    * [[graft.functions.WinnowSelectExpr]] — the composed nested-HOF
    * form hit the CollapseProject lambda-inlining trap head-on (the
    * first cut spun a single task for >10 min at sf0.001 recomputing
    * the hash chain per window position; see WinnowSelectExpr's
    * scaladoc). Zero shuffle; docs with fewer than w k-grams emit
    * nothing (no window exists).
    *
    * Output: (id, pos, fp) — one row per selected (position, hash).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, window: Int = 4): DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1: $shingleSize")
    require(window >= 1, s"window must be >= 1: $window")
    graft.core.Spread(docs.select(col(s"`$idCol`").as("id"),
        col(s"`$textCol`").as("__graft_txt")))
      .select(col("id"), tokens(col("__graft_txt")).as("__t"))
      .select(col("id"), explode(
        graft.functions.WinnowSelectExpr.winnowSelect(
          graft.functions.SpanHashesExpr.spanHashes(col("__t"),
            shingleSize), window)).as("__w"))
      .select(col("id").as(idCol), col("__w.pos").as("pos"),
        col("__w.fp").as("fp"))
  }

  /** Candidate pairs from shared winnowing fingerprints: the inverted
    * index over [[winnowFingerprints]] output — same skeleton as the
    * shingle index ([[ngramJaccardPairs]]'s plain branch): fingerprints
    * in exactly one doc dropped by a window count BEFORE the self-join
    * (the window shuffles by fp, the partitioning the join needs), pair
    * counts aggregated map-side. A pair sharing `minShared` selected
    * fingerprints shares at least that many distinct local token runs.
    * Output: (id_a < id_b, n_shared ≥ minShared).
    */
  def winnowCandidates(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, window: Int = 4,
      minShared: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val inv = winnowFingerprints(docs, idCol, textCol, shingleSize, window)
      .select(col(idCol).as("id"), col("fp")).distinct()
      .withColumn("__df", count(lit(1)).over(w.partitionBy(col("fp"))))
      .filter(col("__df") > 1)
      .select(col("id"), col("fp"))
    inv.as("a").join(inv.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Pair-set evaluation — the LSH tuning instrument: how good is a
    * CANDIDATE pair set against a truth pair set? (e.g.
    * [[minhashCandidates]] at some (k, bands) vs the exact
    * [[ngramJaccardPairs]] at the target threshold: recall tells you
    * whether the banding misses true near-dups, precision what fraction
    * of verify work is wasted — the two knobs k/bands trade.) Pairs are
    * normalized unordered (least/greatest) and distinct on both sides.
    * One row: (n_got, n_truth, n_both, precision, recall).
    *
    * Scale shape: two distinct aggregations + one equi-join on the pair
    * key, then single-row aggregates cross-joined — pair-graph-sized,
    * never corpus-sized.
    */
  def pairSetEval(got: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame): DataFrame = df.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    val g = norm(got)
    val t = norm(truth)
    g.agg(count(lit(1)).as("n_got"))
      .crossJoin(t.agg(count(lit(1)).as("n_truth")))
      .crossJoin(g.join(t, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_both")))
      .withColumn("precision", round(when(col("n_got") > 0,
        col("n_both").cast("double") / col("n_got"))
        .otherwise(lit(0.0)), 6))
      .withColumn("recall", round(when(col("n_truth") > 0,
        col("n_both").cast("double") / col("n_truth"))
        .otherwise(lit(0.0)), 6))
  }

  /** Directed-edge cap for the union-find shortcut in
    * [[connectedComponents]]: ~1M edges is ≤ ~16 MB of raw ids — a
    * bounded, vocab-literal-class collect — while any corpus-scale pair
    * graph exceeds it and takes the distributed loop unchanged.
    */
  private[graft] val smallGraphMaxEdges: Long = 1L << 20

  /** Connected components over an undirected near-duplicate pair list
    * (`id_a`/`id_b`): every node labeled with its component's minimum id,
    * (id, component) for every id that appears in a pair. Small graphs
    * (≤ [[smallGraphMaxEdges]] directed edges) run a single-pass driver
    * union-find; larger graphs run iterative min-label propagation —
    * every node starts labeled with its own id; each round every node
    * takes the minimum label among itself and its neighbors; at fixpoint
    * the label is the component's minimum id. Both paths produce
    * identical rows (ComponentEquivalenceSpec).
    *
    * The cluster-level dedup policy ([[dedupCorpus]]'s greedy pairwise
    * drop is order-free but can over-drop transitively-linked chains;
    * component labels let a curation job keep exactly one doc per
    * near-dup CLUSTER).
    *
    * Scale shape: each round is one shuffle join on node id plus a
    * map-side-combinable min aggregate. From round 4 on, a
    * pointer-jumping shortcut joins in (label ← label(label), one
    * self-join of the small labels frame — Shiloach-Vishkin-style path
    * halving): the remaining distance a minimum must travel then MORE THAN
    * HALVES each round instead of shrinking by one hop, so rounds are O(log diameter)
    * — a diameter-50 chain converges in ~7 rounds (spec-pinned). The
    * shortcut is deliberately NOT active in rounds 1-3: near-dup
    * components are small and dense (diameter 2-4) and converge within
    * them, and the extra self-join measured ~15% on the common-case
    * benchmark for zero saved rounds. Each round's
    * labels are `localCheckpoint`ed — the label data is tiny next to the
    * corpus, and WITHOUT the lineage cut the logical plan doubles every
    * round (labels feeds both sides of the next round's join), so by
    * round ~10 the driver dies in plan analysis before a single task
    * runs; with it the plan is one leaf per round regardless of depth.
    * (localCheckpoint's standard caveat applies: losing an executor
    * mid-computation fails the job instead of recomputing — acceptable
    * for an iterative refinement that simply reruns.)
    *
    * Convergence: a round converged iff NO label changed, counted
    * directly from a `__changed` flag computed alongside the new label
    * (old neighbor-min < old label). The count is exact and type-generic
    * — ids can be strings/decimals/longs alike (a previous sum-based
    * check cast ids to decimal, which with ANSI off turned string ids
    * into nulls and silently "converged" after one round with wrong
    * labels). A round that changes nothing is pure verification and is
    * granted beyond `maxIter`, so a graph needing exactly `maxIter`
    * change-rounds still converges; only a graph still CHANGING after
    * `maxIter` change-rounds THROWS (with pointer-jumping the default
    * maxIter=20 covers any plausible diameter; silently returning partial labels
    * would mislabel every long-chain component; pass
    * `failOnNonConvergence = false` to get a warning and the partial
    * labels instead, e.g. for exploratory runs).
    *
    * Storage: intermediate rounds release their checkpoint blocks as
    * soon as the next round materializes; the RETURNED frame is a
    * persisted, already-materialized cache (the final checkpoint is
    * dropped once the cache is built) — callers release it by
    * unpersisting the result when done, leaving zero residual storage.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      failOnNonConvergence: Boolean = true): DataFrame =
    components(pairs, maxIter, failOnNonConvergence).frame

  /** [[connectedComponents]]' pinned result, for callers that release it
    * through a handle.
    */
  private def components(pairs: DataFrame, maxIter: Int,
      failOnNonConvergence: Boolean): Pin = {
    val edges = edgesOf(pairs)
    // Scale-adaptive small-graph shortcut (the Spread convention — a size
    // trigger, never a constant tied to this box): near-dup pair graphs
    // are usually MUCH smaller than the corpus that produced them, and the
    // label-propagation loop costs 3-4 Spark jobs per round times
    // O(log diameter) rounds — ~100+ jobs of pure scheduling latency on a
    // graph that fits in one driver pass (q108's gate spent 168 jobs
    // mostly here). Under the edge cap, collect the (already-distinct,
    // persisted) edge list once and run union-find with min-id roots —
    // the labels are EXACTLY the loop's fixpoint ("every node labeled its
    // component's min id"; union keeps the smaller root, so each tree's
    // root is the min of all ids merged into it — spec-pinned against the
    // loop, ComponentEquivalenceSpec). Above the cap — any corpus-scale
    // pair graph — the distributed loop runs unchanged. The count
    // materializes the edge cache round 1 needed anyway; the collect is
    // bounded by the cap (≤ ~16 MB of ids).
    val nEdges = edges.frame.count()
    if (nEdges > 0 && nEdges <= smallGraphMaxEdges) {
      val rows = edges.frame.collect()
      val comparable = rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1) &&
        r.get(0).isInstanceOf[Comparable[_]])
      if (comparable) {
        val out = unionFindComponents(pairs.sparkSession,
          edges.frame.schema, rows)
        edges.release()
        return out
      }
    }
    connectedComponentsLoop(edges, maxIter, failOnNonConvergence)
  }

  /** The bidirectional, distinct edge set of a pair graph, cached. */
  private def edgesOf(pairs: DataFrame): Pin = Pin.cache(pairs
    .select(col("id_a").as("src"), col("id_b").as("dst"))
    .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    .distinct())

  /** Driver-side union-find over a collected edge list — the small-graph
    * body of [[connectedComponents]]. Roots track the component MIN
    * (union attaches the larger root under the smaller), so the output
    * is the loop's exact fixpoint.
    */
  private def unionFindComponents(
      spark: org.apache.spark.sql.SparkSession,
      edgeSchema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row]): Pin = {
    val parent = new java.util.HashMap[Any, Any](rows.length * 2)
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.get(cur) != root) {
        val nxt = parent.get(cur); parent.put(cur, root); cur = nxt
      }
      root
    }
    rows.foreach { r =>
      val a = r.get(0); val b = r.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra.asInstanceOf[Comparable[Any]].compareTo(rb) <= 0)
          parent.put(rb, ra)
        else parent.put(ra, rb)
      }
    }
    val dt = edgeSchema.fields(0).dataType
    val nullable = edgeSchema.fields(0).nullable
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", dt, nullable),
      org.apache.spark.sql.types.StructField("component", dt, nullable)))
    val ids = parent.keySet().toArray
    val labelRows = ids.map(idv =>
      org.apache.spark.sql.Row(idv, find(idv))).toSeq
    // RDD-backed (not a LocalRelation literal): the label set can be
    // node-sized and must not ride inside every consumer's plan
    val result = Pin.cache(spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          1 + labelRows.size / 10000))),
      schema))
    result.frame.count()
    result
  }

  /** Spec entry to the distributed loop regardless of graph size — the
    * loop's own contracts (pointer-jumping round counts, maxIter
    * convergence accounting, per-round storage release) must stay
    * testable on graphs small enough for a spec.
    */
  private[graft] def connectedComponentsDistributed(pairs: DataFrame,
      maxIter: Int = 20, failOnNonConvergence: Boolean = true): DataFrame =
    connectedComponentsLoop(edgesOf(pairs), maxIter, failOnNonConvergence)
      .frame

  /** The distributed label-propagation loop of [[connectedComponents]],
    * over the pinned bidirectional edge frame (released before
    * returning).
    */
  private def connectedComponentsLoop(edgePin: Pin, maxIter: Int,
      failOnNonConvergence: Boolean): Pin = {
    val edges = edgePin.frame
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
    var checkpointed: Option[Pin] = None
    var it = 0
    var converged = false
    while (!converged && it <= maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"),
          col("component").as("__nl")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("__nl")).as("__nbr"))
      // __changed compares against the OLD label (input-column reference,
      // not the aliased output) — null __nbr (isolated node) is unchanged
      val afterMin = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__nbr"), col("component")))
            .as("component"),
          coalesce(col("__nbr") < col("component"), lit(false))
            .as("__changed"))
      // pointer-jumping (rounds >= 4 only — see scaladoc): component ←
      // label(component). A label is always a node id of the SAME
      // component (own id initially; neighbor-min and jumps preserve
      // it), so composing the label map is sound and the fixpoint is
      // unchanged — still "every node labeled the component's min id" —
      // it just arrives in O(log diameter) rounds. Left join is
      // defensive only; every label IS a labeled node.
      val withJump = if (it < 3) afterMin else {
        val parents = afterMin
          .select(col("id").as("__pid"), col("component").as("__pc"))
        afterMin.as("l")
          .join(parents.as("p"), col("l.component") === col("p.__pid"),
            "left")
          .select(col("l.id").as("id"),
            coalesce(col("p.__pc"), col("l.component")).as("component"),
            (col("l.__changed") ||
              coalesce(col("p.__pc"), col("l.component")) <
                col("l.component"))
              .as("__changed"))
      }
      // lazy: materialized by the count below
      val next = Pin.checkpoint(withJump, eager = false)
      val changed = next.frame.filter(col("__changed")).count()
      checkpointed.foreach(_.release())
      checkpointed = Some(next)
      labels = next.frame.select(col("id"), col("component"))
      converged = changed == 0L
      it += 1
    }
    edgePin.release()
    if (!converged) {
      val msg = s"connectedComponents did not converge within $maxIter " +
        "rounds (a component's diameter exceeds maxIter) - labels are " +
        "partial; raise maxIter"
      if (failOnNonConvergence) {
        checkpointed.foreach(_.release())
        throw new IllegalStateException(msg)
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // hand back a cacheManager-backed frame so the documented release path
    // (unpersisting the result) frees ALL remaining storage; the cache fills
    // from the final checkpoint blocks (cheap — one pass over the labels),
    // after which the checkpoint itself is dropped
    val result = Pin.cache(labels)
    result.frame.count()
    checkpointed.foreach(_.release())
    result
  }

  /** SimHash near-dup candidates: band the fingerprint into
    * `maxHamming + 1` chunks; by pigeonhole, any pair within Hamming
    * distance `maxHamming` shares at least one identical chunk, so the
    * guarantee matches the parameter (a fixed 4-chunk banding would
    * silently miss pairs for maxHamming > 3). The chunk equi-join shuffles
    * by (band, chunk) — no all-pairs product.
    */
  def simhashCandidates(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3): DataFrame = {
    val fpBits = graft.functions.SimHashExpr.BITS
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0,7] (8+ bands over-fragment $fpBits bits), " +
        s"got $maxHamming")
    val bands = maxHamming + 1
    val chunkBits = fpBits / bands
    val withSim = simhashDF(docs, idCol, textCol)
    val chunks = (0 until bands).map { i =>
      val start = i * chunkBits
      val width = if (i == bands - 1) fpBits - start else chunkBits
      val mask = if (width == 64) -1L else (1L << width) - 1
      struct(lit(i).as("band"),
        shiftright(col("simhash"), start).bitwiseAND(mask).as("v"))
    }
    val banded = withSim.select(col("id"), col("simhash"),
      explode(array(chunks: _*)).as("chunk"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      // hamming filter BEFORE the pair distinct: the bit_count is a
      // per-row map either way, but filtering first keeps above-threshold
      // candidates (the majority at wide bands) out of the distinct's
      // shuffle entirely
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Chunk-granularity novelty — exact substring-style dedup at chunk
    * resolution (the tractable member of the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" family): partition each
    * document into non-overlapping `chunkTokens`-token chunks
    * ([[Packing.chunkText]] with stride == chunkTokens) and count, per
    * document, how many of its chunks already occur — identical text —
    * in a document with a SMALLER id ("previously seen" under ingest
    * order). Output: (idCol, n_chunks, n_seen_chunks, novel_fraction) —
    * novel_fraction is the share of the document that is genuinely new
    * text at chunk granularity, the curation signal for dropping
    * mostly-recycled documents whole-doc dedup misses.
    *
    * 100 TB shape: election runs on (md5 digest, id) — chunk TEXT never
    * enters a shuffle (the digest is fixed-width whatever the chunk
    * size). The corpus is deliberately chunked twice (once per consumer;
    * the first-seen side's exchange carries map-side-combined
    * (digest, min-id) rows, the probe side the per-chunk rows): the
    * first-seen equi-join keeps a hot boilerplate chunk as a
    * one-build-row AQE skew split, where the single-pass
    * `min(id) over (partition by digest)` window alternative would pin
    * every occurrence of that chunk in ONE task —
    * [[graft.operators.TextAnalysis.boilerplateSignals]]'s argument at
    * chunk granularity.
    */
  def chunkNovelty(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val chunks = Packing.chunkText(docs, idCol, textCol,
        chunkTokens, chunkTokens)
      .select(col(idCol), md5(col("chunk_text")).as("__dig"))
    val firstSeen = chunks.groupBy(col("__dig"))
      .agg(min(col(idCol)).as("__first"))
    chunks.join(firstSeen, Seq("__dig"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__first") < col(idCol), 1L).otherwise(0L))
          .as("n_seen_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_seen_chunks"),
        round(lit(1.0) -
          col("n_seen_chunks").cast("double") / col("n_chunks"), 6)
          .as("novel_fraction"))
  }

  /** Cross-source exact-duplicate matrix: for every unordered source pair
    * (source_a < source_b), the number of document PAIRS sharing
    * byte-identical text across the two sources — the provenance-overlap
    * report that tells a corpus curator which acquisition pipelines are
    * re-crawling each other before mixing weights are chosen.
    *
    * 100 TB shape: per-(digest, source) counts aggregate FIRST (map-side
    * combinable; md5 digests, never text, in the shuffle), then the pair
    * product is a self equi-join of that already-collapsed table on the
    * digest — the per-key group is the handful of sources holding a
    * digest, so no document-level pair is ever materialized: a digest
    * duplicated a million times across two sources contributes two count
    * rows and one multiply, not 10^12 pairs.
    */
  def crossSourceDupMatrix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String): DataFrame = {
    val counts = docs
      .select(md5(col(textCol)).as("__dig"), col(sourceCol).as("__src"))
      .groupBy(col("__dig"), col("__src"))
      .agg(count(lit(1)).as("__n"))
    counts.as("a")
      .join(counts.as("b"), col("a.__dig") === col("b.__dig") &&
        col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("source_a"), col("b.__src").as("source_b"))
      .agg(sum(col("a.__n") * col("b.__n")).as("n_dup_pairs"))
  }

  /** Exact repeated-span detection at token granularity — the
    * substring-level dedup signal of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (arXiv:2107.06499), re-expressed
    * as relational operators instead of a suffix array: a WIDTH-token
    * span is "duplicated" when its token sequence occurs more than once
    * in the corpus (across documents or repeated within one). Per
    * document this reports how much of the text sits inside such spans:
    *
    *   (idCol, n_tokens, n_spans, n_dup_spans, covered_tokens,
    *    dup_fraction)
    *
    * where `covered_tokens` counts token positions lying inside at least
    * one duplicated span (the union of overlapping [i, i+width) windows —
    * what span REMOVAL would delete) and `dup_fraction` = covered /
    * n_tokens rounded to 6 decimals. Documents shorter than `width`
    * tokens have zero spans and zero coverage.
    *
    * 100 TB shape: spans are hashed map-side to the portable 60-bit md5
    * family (the shuffle carries (hash, id, pos), never span text — hash
    * equality stands in for sequence equality, collisions ~n²/2^60);
    * occurrence counts aggregate with map-side combine; the dup-hash
    * table joins back key-partitioned on the hash (NOT broadcast — at
    * corpus scale the duplicated-span set is unbounded); coverage is a
    * per-document sliding-window max over positions, partitioned by
    * document id. No all-pairs product anywhere and no suffix array to
    * build or hold.
    */
  /** Shared per-position coverage frame for [[repeatedSpans]] /
    * [[removeRepeatedSpans]]: one row per (doc, token position) with
    * `n_tokens`, the token itself (`__t`), `__dup` (1 when a duplicated
    * span STARTS here, null otherwise) and `__covered` (1 when the
    * position lies inside any duplicated span).
    */
  /** One row per span start: (idCol, __pos, __hv) — the hash-of-
    * width-gram stream both span faces and the artifact builder share.
    * The empty array guard matters: sequence(0, n-width) would COUNT
    * DOWN for docs shorter than width (Spark infers step -1 when
    * start > stop).
    */
  private def spanStarts(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    graft.core.Spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), posexplode(
        graft.functions.SpanHashesExpr.spanHashes(tokens(col(textCol)),
          width)).as(Seq("__pos", "__hv")))
  }

  /** Span-count artifacts for the INCREMENTAL repeated-span regime:
    * (span_hash, occurrences) over the landed corpus. Rebuilding span
    * counts over 100 TB per delivery is the anti-pattern; this artifact
    * is occurrence-collapsed (one row per distinct span hash, map-side
    * combinable) and composes with a batch by addition —
    * [[repeatedSpansIncrement]].
    */
  def spanArtifacts(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    spanStarts(docs, idCol, textCol, width)
      .groupBy(col("__hv").as("span_hash"))
      .agg(count(lit(1)).as("occurrences"))

  /** Coverage frame from an explicit dup-hash set (the shared tail of
    * the whole-corpus and incremental faces).
    */
  private def coverageAgainst(docs: DataFrame, idCol: String,
      textCol: String, width: Int, spans: DataFrame,
      dupHashes: DataFrame): DataFrame = {
    val toks = graft.core.Spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(col(textCol)).as("__tk"))
    val starts = spans
      .join(dupHashes, Seq("__hv"), "left_semi")
      .select(col(idCol), col("__pos"))
      .withColumn("__dup", lit(1))

    // every token position, marked covered when a duplicated span starts
    // within the preceding width-1 positions (inclusive of its own)
    val positions = toks
      .select(col(idCol), size(col("__tk")).as("n_tokens"),
        posexplode(col("__tk")).as(Seq("__pos", "__t")))
      .join(starts, Seq(idCol, "__pos"), "left")
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(-(width - 1), 0)
    positions
      .withColumn("__covered",
        when(max(coalesce(col("__dup"), lit(0))).over(w) === 1, 1L)
          .otherwise(0L))
  }

  /** Whole-corpus coverage: dup set = spans occurring more than once
    * within `docs` itself.
    */
  private def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    val spans = spanStarts(docs, idCol, textCol, width)
    val dupHashes = spans.groupBy(col("__hv"))
      .agg(count(lit(1)).as("__occ"))
      .filter(col("__occ") > 1)
      .select(col("__hv"))
    coverageAgainst(docs, idCol, textCol, width, spans, dupHashes)
  }

  /** The shared report tail over a coverage frame. */
  private def spanReport(cov: DataFrame, idCol: String,
      width: Int): DataFrame =
    cov.groupBy(col(idCol), col("n_tokens"))
      .agg(
        greatest(max(col("n_tokens")) - width + 1, lit(0)).cast("long")
          .as("n_spans"),
        sum(coalesce(col("__dup").cast("long"), lit(0L))).as("n_dup_spans"),
        sum(col("__covered")).as("covered_tokens"))
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        col("n_spans"), col("n_dup_spans"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") /
          col("n_tokens").cast("double"), 6).as("dup_fraction"))

  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame =
    spanReport(spanCoverage(docs, idCol, textCol, width), idCol, width)

  /** The INCREMENTAL face of [[repeatedSpans]]: the span report for a
    * delivery BATCH where a span is duplicated when its occurrences
    * across batch + landed corpus exceed one — landed occurrence counts
    * come from the [[spanArtifacts]] table, so the landed TEXT is never
    * re-read and the batch pays batch-sized work plus one key-
    * partitioned join against the artifact (exactly the q72/IncProbe
    * regime applied at span granularity). The report equals
    * [[repeatedSpans]] over batch ∪ landed restricted to the batch docs
    * — the identity the gate oracles.
    */
  def repeatedSpansIncrement(batch: DataFrame, idCol: String,
      textCol: String, width: Int, artifacts: DataFrame): DataFrame = {
    val spans = spanStarts(batch, idCol, textCol, width)
    val dupHashes = spans.groupBy(col("__hv"))
      .agg(count(lit(1)).as("__bc"))
      .join(artifacts.select(col("span_hash").as("__hv"),
        col("occurrences")), Seq("__hv"), "left")
      .filter(col("__bc") + coalesce(col("occurrences"), lit(0L)) > 1)
      .select(col("__hv"))
    spanReport(
      coverageAgainst(batch, idCol, textCol, width, spans, dupHashes),
      idCol, width)
  }

  /** Edit-distance verification of candidate pairs — the fuzzy-dedup
    * verifier for SHORT texts (titles, questions, log lines) where
    * Jaccard over shingles is too coarse: exact Levenshtein distance on
    * the candidate sliver, keeping pairs at `maxDist` or below. Output:
    * (id_a, id_b, edit_distance).
    *
    * Scale notes: Levenshtein is O(len_a x len_b) PER PAIR — safe on the
    * LSH/minhash candidate sliver this is meant for (pairs bring their
    * own texts via two joins), ruinous on a cross product; feed it
    * [[minhashCandidates]] / [[simhashCandidates]] output, never raw
    * pairs of a whole corpus. The distance is exact integer arithmetic —
    * identical in every engine, no rounding needed.
    */
  def editDistanceVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative: $maxDist")
    val ta = docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    pairs.select(col("id_a"), col("id_b"))
      .join(ta, "id_a").join(tb, "id_b")
      // lossless prune BEFORE the DP: edit distance >= |len_a - len_b|,
      // so the length band skips the quadratic work for pairs that
      // cannot qualify; the thresholded levenshtein then bounds the DP
      // band to O(len x maxDist) and returns -1 above the threshold
      .filter(abs(length(col("__ta")) - length(col("__tb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__ta"), col("__tb"), maxDist).as("edit_distance"))
      .filter(col("edit_distance") >= 0)
  }

  /** The transformation face of [[repeatedSpans]]: REMOVE every token
    * lying inside a duplicated width-token span and reassemble the
    * document — Lee et al.'s substring-level dedup applied, not just
    * reported. Output: (idCol, n_tokens, kept_tokens, clean_text);
    * fully-duplicated documents survive with clean_text = "" (dropping
    * rows is the caller's policy decision, e.g. filter kept_tokens > 0).
    *
    * Reassembly collects (pos, token) structs per doc and sorts INSIDE
    * the array — collect_list order is not deterministic across
    * partitions, sort_array makes it so.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
      width: Int): DataFrame = {
    spanCoverage(docs, idCol, textCol, width)
      .groupBy(col(idCol), col("n_tokens"))
      .agg(
        sum(lit(1L) - col("__covered")).as("kept_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("__covered") === 0,
            struct(col("__pos"), col("__t"))))),
          s => s.getField("__t"))).as("clean_text"))
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        col("kept_tokens"), col("clean_text"))
  }
}
