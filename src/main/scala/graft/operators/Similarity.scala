package graft.operators

import graft.core.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths:
  *  - brute-force cosine top-k: query-set × corpus join with the dot product
  *    as a codegen'd higher-order-function expression. Correct baseline;
  *    O(|Q|·|C|) — fine when |Q| is small or as the verifier.
  *  - LSH-bucketed (random hyperplane signs) ANN: corpus and queries are
  *    bucketed by a B-bit sign signature; candidates come from an equi-join
  *    on bucket (shuffle by bucket key, prunes the cross product), then
  *    exact cosine re-ranks. Multiple independent tables (rotations) trade
  *    recall for cost. This is the 100 TB path: the corpus is partitioned by
  *    bucket, each bucket join is local.
  *
  * Hyperplanes are derived deterministically from (table, bit, dim) via a
  * hash — no RNG state to ship, identical planes on every executor.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double in
    * array order — a native Catalyst expression (interpreted higher-order
    * functions cost ~3 lambda calls per dimension; the native loop is the
    * same arithmetic at primitive speed, bit-identical to the oracle).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarityExpr.cosine(a, b)

  /** Brute-force top-k neighbors for each query vector.
    * Returns (query id, neighbor id, cosine) with deterministic tie-break.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, excludeSelf: Boolean = true): DataFrame = {
    // the cross product inherits the QUERY side's partitioning, and a
    // one-file query scan serializes |q|·|corpus| cosines into a single
    // task — spread the query side (graft.core.Spread; no-op at scale)
    val q = graft.core.Spread(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val joined = q.crossJoin(c)
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    joined.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** B-bit sign signature of a vector under `table`'s hyperplanes — the
    * native [[graft.functions.LshSignatureExpr]] (the round-1
    * `aggregate(zip_with(...))` formulation paid bits × dims × ~3
    * interpreted lambda calls per row and lost to brute force at sf0.1).
    */
  def lshSignature(vec: Column, bits: Int, table: Int): Column =
    graft.functions.LshSignatureExpr.signature(vec, bits, table)

  /** (id, t, sig) bucket assignments for all `tables` — deliberately drops
    * the vector so bucket joins and distincts shuffle 12-byte rows, never
    * embeddings.
    */
  def signatures(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, tables: Int): DataFrame =
    df.select(col(idCol).as("id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("t"),
            lshSignature(col(vecCol), bits, t).as("sig"))): _*)).as("bk"))
      .select(col("id"), col("bk.t").as("t"), col("bk.sig").as("sig"))

  /** Exact cosine re-rank of (query_id, neighbor_id) candidate pairs:
    * vectors re-attach by id join only here, so candidate generation
    * shuffles 16-byte id pairs, never embeddings.
    *
    * Accepts DUPLICATE candidate pairs (multi-table/multi-probe collisions)
    * and deduplicates them INSIDE the ranking window: duplicates of a pair
    * sort adjacent (identical cosine, same neighbor), so a `lag` drops them
    * under the same (query_id) partitioning the row_number needs — one
    * shuffle where candidate-distinct + window used to pay two. The price
    * is ≤ tables× redundant cosine evaluations — a native-expression map,
    * cheaper than an extra exchange at every scale.
    */
  private def rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      broadcastQueries: Boolean = false): DataFrame = {
    val qv0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val qv = if (broadcastQueries) broadcast(qv0) else qv0
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = cand.join(qv, "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("__dup",
        col("neighbor_id") <=> lag(col("neighbor_id"), 1).over(w))
      .filter(!col("__dup"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k).drop("__dup", "__rk")
  }

  /** ANN top-k via multi-table sign-LSH bucketing + exact re-rank.
    * Recall < 1 by construction; verify against [[bruteForceTopK]]
    * (ScaleSpecs asserts recall against it).
    *
    * Regime note (measured on the synthetic embeddings): sign-LSH prunes
    * hard AND recalls well only when true neighbors are much closer than
    * random points (near-duplicate detection, cosine ≳ 0.8). For weakly
    * separated neighbors (this testdata's top-5 sit at cosine 0.27-0.45,
    * barely above the random-pair band) NO sublinear method holds 0.9
    * recall — that regime needs [[ivfTopK]] with a high nprobe or the
    * brute-force baseline.
    *
    * Round-1 fixes: the distinct used to carry both float vectors through
    * the shuffle (now bare id pairs — see [[rerank]]), and the signature
    * was interpreted lambda soup (now a native expression).
    */
  /** `broadcastQueries`: ANN search is almost always few-queries-against-
    * big-corpus; broadcasting the query-side signatures and vectors makes
    * candidate generation a MAP-SIDE join over the corpus (no shuffle of
    * corpus signatures at all) — the shape you want at any scale when
    * |Q| ≪ |C|. Set false when the query set is itself huge.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, tables: Int = 4,
      broadcastQueries: Boolean = true): DataFrame = {
    val q0 = signatures(queries, idCol, vecCol, bits, tables)
      .withColumnRenamed("id", "query_id")
    val q = if (broadcastQueries) broadcast(q0) else q0
    val c = signatures(corpus, idCol, vecCol, bits, tables)
      .withColumnRenamed("id", "neighbor_id")
    val cand = c.join(q, Seq("t", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    rerank(cand, queries, corpus, idCol, vecCol, k, broadcastQueries)
  }

  /** Deterministic FIXED-COUNT centroid selection: the `centroids` corpus
    * rows with the smallest (md5-hash(id), id) — a uniform pseudo-random
    * sample that is a pure function of the ids. Plans as per-partition
    * top-C + driver merge (TakeOrderedAndProject): one narrow pass over
    * the corpus, and the result is O(C) REGARDLESS of corpus size — the
    * round-2 `id % mod` form grew the broadcast linearly with the corpus,
    * an OOM at 100 TB. The md5 ordering mirrors in DuckDB
    * (`ORDER BY md5-hash, id LIMIT C`), so the oracle reproduces the
    * exact centroid set.
    */
  def selectCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Int): DataFrame =
    corpus.select(col(idCol).as("cid"), col(vecCol).as("ce"))
      .orderBy(
        conv(substring(md5(col("cid").cast("string")), 1, 15), 16, 10)
          .cast("long"),
        col("cid"))
      .limit(centroids)

  /** IVF-style ANN: `centroids` deterministic hash-sampled centroids
    * ([[selectCentroids]]), corpus vectors assigned to their nearest
    * centroid map-side (`max_by` aggregation — no window shuffle of the
    * n×C score rows), queries probe their `nprobe` nearest cells, exact
    * re-rank within the probed cells.
    *
    * 100 TB shape: the centroid broadcast is O(C) with C a CONSTANT
    * parameter (production would tune C ≈ √n or train k-means centroids;
    * hash-sampled centroids keep the whole pipeline deterministic and
    * oracle-mirrorable), assignment is a narrow scan, the cell join
    * shuffles by cell id. Better recall/cost than sign-LSH on weakly
    * clustered data (measured: 0.58 recall at 7% of brute-force candidates
    * vs 0.08 for bits=8 LSH on the synthetic embeddings).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Int = 128,
      nprobe: Int = 3, broadcastQueries: Boolean = true): DataFrame =
    ivfTopKWith(queries, corpus, idCol, vecCol, k,
      selectCentroids(corpus, idCol, vecCol, centroids), nprobe,
      broadcastQueries)

  /** [[ivfTopK]] against a CALLER-SUPPLIED centroid table (cid, ce) —
    * the trained-centroids face: plug [[kmeansCentroids]] output (or any
    * saved centroid artifact) in place of the hash-sampled selection.
    * Same assignment argmax, probe set, and re-rank.
    */
  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroidsDf: DataFrame,
      nprobe: Int = 3, broadcastQueries: Boolean = true): DataFrame = {
    val cent = broadcast(centroidsDf.select(col("cid"), col("ce")))
    // nearest centroid per corpus vector: max_by over (cosine, -cid) —
    // a partial-aggregatable argmax with the same (cos DESC, cid ASC)
    // tie-break the window form (and the DuckDB oracle) uses
    val assign = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__v")).join(cent)
      .select(col("neighbor_id"), col("cid"),
        cosine(col("__v"), col("ce")).as("__cs"))
      .groupBy(col("neighbor_id"))
      .agg(max_by(col("cid"), struct(col("__cs"), -col("cid"))).as("cid"))
    val qScored = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__v")).join(cent)
      .select(col("query_id"), col("cid"),
        cosine(col("__v"), col("ce")).as("__cs"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__cs").desc, col("cid"))
    val probe0 = qScored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nprobe).select(col("query_id"), col("cid"))
    val probe = if (broadcastQueries) broadcast(probe0) else probe0
    val cand = assign.join(probe, "cid")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    rerank(cand, queries, corpus, idCol, vecCol, k, broadcastQueries)
  }

  /** Fixed-point scale for PQ's ADC accumulation (2^20): per-cell
    * distances are quantized to BIGINT so the m-term sum is exact
    * integer arithmetic — order-independent, map-side combinable,
    * engine-exact (the PageRank operator's float-free trick). The
    * quantization error is ≤ m/2^21 on the distance, far below any
    * meaningful neighbor gap.
    */
  private val PqFix = 1048576L

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the embedding space
    * splits into `m` contiguous subspaces of `dim/m` dimensions, each
    * with `ks` codewords — the hash-sampled [[selectCentroids]]
    * vectors' subvectors, deterministic and oracle-mirrorable like the
    * IVF centroid set (production would k-means each subspace via
    * [[kmeansCentroids]]; the pipeline shape is identical). Output
    * (j, code, sub): m·ks rows, broadcast-sized regardless of corpus
    * size.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m")
    require(ks >= 2, s"ks must be >= 2: $ks")
    val subDim = dim / m
    // rank within the selected frame re-derives the same hash order the
    // selection used — a window over ks rows, not the corpus
    val ranked = selectCentroids(corpus, idCol, vecCol, ks)
      .withColumn("code", (row_number().over(Window.orderBy(
        conv(substring(md5(col("cid").cast("string")), 1, 15), 16, 10)
          .cast("long"), col("cid"))) - 1).cast("int"))
    val subs = array((0 until m).map(j =>
      slice(col("ce"), j * subDim + 1, subDim)): _*)
    ranked.select(col("code"), posexplode(subs).as(Seq("j", "sub")))
      .select(col("j"), col("code"), col("sub"))
  }

  /** PQ code assignment — the compressed-corpus artifact: each vector
    * becomes m small-int codes (64 float dims at m=8 → a 32× memory
    * cut). A narrow pass: subvector explode, broadcast codebook join,
    * native [[graft.functions.SquaredL2Expr]], and a map-side
    * combinable `min_by` argmin per (id, j) with ties to the smaller
    * code. Output (idCol, j, code) — the long-format layout ADC joins
    * against; nothing corpus-sized shuffles beyond those 3 narrow
    * columns.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, codebooks: DataFrame): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must split into m=$m")
    val subDim = dim / m
    val subs = array((0 until m).map(j =>
      slice(col(s"`$vecCol`"), j * subDim + 1, subDim)): _*)
    corpus.select(col(s"`$idCol`"), posexplode(subs).as(Seq("j", "subv")))
      .join(broadcast(codebooks), "j")
      .select(col(s"`$idCol`"), col("j"), col("code"),
        graft.functions.SquaredL2Expr.squaredL2(col("subv"), col("sub"))
          .as("__d"))
      .groupBy(col(s"`$idCol`"), col("j"))
      .agg(min_by(col("code"), struct(col("__d"), col("code"))).as("code"))
  }

  /** PQ ADC top-k (asymmetric distance computation): each query
    * precomputes its m×ks subspace distance table; a candidate's
    * approximate distance is the sum of m table lookups — the corpus
    * is scanned as CODES, never as vectors. Per-cell distances are
    * fixed-point quantized ([[PqFix]]) so the sum is exact BIGINT —
    * deterministic under any aggregation order and map-side
    * combinable. Output (query_id, neighbor_id, pq_dist), smaller
    * distance = nearer, ties to the smaller id.
    *
    * 100 TB shape: codebooks (m·ks) and distance tables (|Q|·m·ks)
    * broadcast; the scan is narrow over (id, j, code); the one shuffle
    * is the (query, id) group-sum whose map-side partials compress
    * m·|Q| rows per vector down to |Q| per task. This is the
    * compressed EXHAUSTIVE scan — compose with [[ivfTopK]]'s cell
    * assignment (IVF-PQ) when even the code scan must be pruned.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ks: Int = 16,
      excludeSelf: Boolean = true): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, vecCol, dim, m, ks)
    val codes = pqEncode(corpus, idCol, vecCol, dim, m, cb)
      .select(col(s"`$idCol`").as("neighbor_id"), col("j"), col("code"))
    val cand = codes.join(
      broadcast(pqDistTable(queries, idCol, vecCol, dim, m, cb)),
      Seq("j", "code"))
    pqRank(cand, k, excludeSelf)
  }

  /** Per-query fixed-point subspace distance table (query_id, j, code,
    * __qd) — |Q|·m·ks rows, broadcast-sized.
    */
  private def pqDistTable(queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, m: Int, cb: DataFrame): DataFrame = {
    val subDim = dim / m
    val subs = array((0 until m).map(j =>
      slice(col(s"`$vecCol`"), j * subDim + 1, subDim)): _*)
    queries
      .select(col(s"`$idCol`").as("query_id"),
        posexplode(subs).as(Seq("j", "subv")))
      .join(broadcast(cb), "j")
      .select(col("query_id"), col("j"), col("code"),
        round(graft.functions.SquaredL2Expr
          .squaredL2(col("subv"), col("sub")) * PqFix)
          .cast("long").as("__qd"))
  }

  /** Group-sum + top-k tail shared by [[pqTopK]] and [[ivfPqTopK]]:
    * `cand` is (query_id, neighbor_id, __qd) rows, m per pair.
    */
  private def pqRank(cand: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame = {
    val ad = cand
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
        else lit(true))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__qd")).as("__adfix"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__adfix"), col("neighbor_id"))
    ad.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("__adfix").cast("double") / PqFix, 6).as("pq_dist"))
  }

  /** Two-stage PQ retrieval: the ADC scan shortlists `shortlist`
    * candidates per query from the COMPRESSED corpus, then exact
    * cosine re-ranks the shortlist's full vectors — the standard
    * accuracy-restoring tail. Full vectors are read for |Q|·shortlist
    * rows only; everything corpus-sized moves as 3-int code rows.
    * Output (query_id, neighbor_id, cosine) like [[bruteForceTopK]];
    * with `shortlist` ≥ corpus size the result IS the brute-force
    * ranking (spec-pinned identity).
    */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ks: Int = 16,
      shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must cover k=$k")
    val cand = pqTopK(queries, corpus, idCol, vecCol, shortlist, dim,
      m, ks).select(col("query_id"), col("neighbor_id"))
    rerank(cand, queries, corpus, idCol, vecCol, k,
      broadcastQueries = true)
  }

  /** Squared-L2 IVF cell of every corpus vector against a
    * caller-supplied centroid table (cid, ce): (idCol, cid) via a
    * map-side-combinable `min_by` argmin, ties to the smaller cid —
    * the assignment kernel shared by IVF-PQ's encode and query sides.
    */
  def ivfCellAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroidsDf: DataFrame): DataFrame =
    corpus
      .select(col(s"`$idCol`"), col(s"`$vecCol`").as("__v"))
      .join(broadcast(centroidsDf.select(col("cid"), col("ce"))))
      .select(col(s"`$idCol`"), col("cid"),
        graft.functions.SquaredL2Expr.squaredL2(col("__v"), col("ce"))
          .as("__d"))
      .groupBy(col(s"`$idCol`"))
      .agg(min_by(col("cid"), struct(col("__d"), col("cid"))).as("cid"))

  /** ENCODE-TIME IVF-PQ artifact: PQ codes carrying their vector's IVF
    * cell — (idCol, cid, j, code), m rows per vector. This is where the
    * n·centroids assignment pass belongs (PqProbe r9 measured the
    * query-time assignment costing MORE than the pruned scan saves —
    * 5.75 s vs 3.59 s at 200k vectors); paid once per corpus release,
    * every query then prunes for free. Write this table PARTITIONED BY
    * cid: the probe join becomes partition pruning and the ADC scan
    * reads only nprobe/centroids of the files.
    */
  def ivfPqEncodeWith(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, codebooks: DataFrame,
      centroidsDf: DataFrame): DataFrame =
    pqEncode(corpus, idCol, vecCol, dim, m, codebooks)
      .join(ivfCellAssign(corpus, idCol, vecCol, centroidsDf),
        Seq(idCol))
      .select(col(s"`$idCol`"), col("cid"), col("j"), col("code"))

  /** [[ivfPqEncodeWith]] deriving the hash-sampled codebooks and
    * centroid set from the corpus itself (the q272/q273 regime).
    */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, centroids: Int): DataFrame =
    ivfPqEncodeWith(corpus, idCol, vecCol, dim, m,
      pqCodebooks(corpus, idCol, vecCol, dim, m, ks),
      selectCentroids(corpus, idCol, vecCol, centroids))

  /** IVF-PQ search against PREPARED artifacts — codes that already
    * carry their cell ([[ivfPqEncodeWith]]), the codebooks, and the
    * centroid table. Query-time cost is |Q|·centroids probe scoring +
    * the pruned ADC scan; the corpus is never touched as vectors and
    * never re-assigned. Centroid set, probe set, and distance tables
    * all broadcast; the one shuffle is the (query, id) ADC group-sum.
    */
  def ivfPqTopKPrepared(queries: DataFrame, codes: DataFrame,
      codebooks: DataFrame, centroidsDf: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int, nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val cent = broadcast(centroidsDf.select(col("cid"), col("ce")))
    val qScored = queries
      .select(col(s"`$idCol`").as("query_id"), col(s"`$vecCol`").as("__v"))
      .join(cent)
      .select(col("query_id"), col("cid"),
        graft.functions.SquaredL2Expr.squaredL2(col("__v"), col("ce"))
          .as("__d"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__d"), col("cid"))
    val probe = broadcast(qScored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= nprobe).select(col("query_id"), col("cid")))
    val cand = codes
      .select(col(s"`$idCol`").as("neighbor_id"), col("cid"), col("j"),
        col("code"))
      .join(probe, "cid")
      .join(broadcast(pqDistTable(queries, idCol, vecCol, dim, m,
        codebooks)), Seq("query_id", "j", "code"))
    pqRank(cand, k, excludeSelf)
  }

  /** IVF-PQ (the FAISS-style 100 TB configuration): IVF prunes WHICH
    * codes are scanned, PQ compresses WHAT is scanned. Cells are the
    * `centroids` hash-sampled vectors with squared-L2 assignment
    * (ties to the smaller cid — everything in this path is one metric,
    * unlike the cosine-cell [[ivfTopK]]); queries probe their `nprobe`
    * nearest cells and ADC-rank only the codes assigned there.
    *
    * One-shot convenience composing [[ivfPqEncode]] +
    * [[ivfPqTopKPrepared]] — for a standing corpus, persist the encode
    * artifacts (partitioned by cid) and query the prepared face
    * instead: PqProbe measured the per-query assignment pass costing
    * more than the pruning saves when re-run every search.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, ks: Int = 16,
      centroids: Int = 32, nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val cb = pqCodebooks(corpus, idCol, vecCol, dim, m, ks)
    val cent = selectCentroids(corpus, idCol, vecCol, centroids)
    ivfPqTopKPrepared(queries,
      ivfPqEncodeWith(corpus, idCol, vecCol, dim, m, cb, cent),
      cb, cent, idCol, vecCol, k, dim, m, nprobe, excludeSelf)
  }

  /** Johnson-Lindenstrauss random projection (the cheap dimensionality
    * cut before ANN / clustering): (idCol, proj) with proj the `dOut`
    * dot products against the deterministic md5-derived plane matrix —
    * the same planes family the LSH signature packs into sign bits,
    * kept here as raw coordinates. Pure narrow map via the native
    * [[graft.functions.ProjectVectorExpr]]; at 100 TB the projected
    * table is dOut/dims of the vector I/O in every downstream shuffle,
    * with pairwise distances preserved to the JL bound. `table` picks
    * an independent projection (ensemble / train-serve splits).
    */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
      dOut: Int, table: Int = 0): DataFrame = {
    require(dOut >= 1, s"dOut must be >= 1: $dOut")
    emb.select(col(s"`$idCol`"), graft.functions.ProjectVectorExpr
      .project(col(s"`$vecCol`"), dOut, table).as("proj"))
  }

  /** Greedy farthest-point (maxmin) centroid initialization — the
    * deterministic cousin of k-means++ seeding: start from the
    * hash-min point, then repeatedly add the corpus vector whose
    * SIMILARITY to its nearest chosen centroid is smallest (ties to the
    * smaller id). Spread seeds avoid the duplicate-cluster inits plain
    * hash sampling can draw (two seeds inside one true cluster leave
    * another cluster split). Output: (sel, cid, ce) in selection order.
    *
    * Cost: k−1 corpus scans, each a narrow map over the chosen-so-far
    * plan literal (the [[nearestCentroid]] shape) + a TakeOrdered(1) —
    * no shuffle; driver state is k·d floats.
    */
  def selectCentroidsFarthest(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    val seed = selectCentroids(corpus, idCol, vecCol, 1).collect()(0)
    val chosen = scala.collection.mutable.ArrayBuffer[(Any, Seq[Float])](
      (seed.get(0), seed.getSeq[Float](1)))
    while (chosen.size < k) {
      val centLit = array(chosen.map { case (_, v) =>
        typedlit(v)
      }.toIndexedSeq: _*)
      val far = corpus
        .select(col(idCol).as("cid"), col(vecCol).as("__v"))
        .select(col("cid"), col("__v"),
          array_max(transform(centLit, c => cosine(col("__v"), c)))
            .as("__mc"))
        .orderBy(col("__mc").asc, col("cid").asc)
        .limit(1).collect()(0)
      chosen += ((far.get(0), far.getSeq[Float](1)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("sel",
        org.apache.spark.sql.types.IntegerType),
      seed.schema("cid").copy(name = "cid"),
      seed.schema("ce").copy(name = "ce")))
    spark.createDataFrame(
      chosen.zipWithIndex.map { case ((cid, v), i) =>
        org.apache.spark.sql.Row(i + 1, cid, v)
      }.toList.asJava, schema)
  }

  /** One Lloyd iteration over `cent` (cid, ce): assign every corpus
    * vector to its nearest centroid by cosine (ties to the smaller cid —
    * the same `(cos DESC, cid ASC)` argmax [[ivfTopK]] and the DuckDB
    * oracle use), then recompute each centroid as the mean of its
    * members. Returns (cid, ce, n); a centroid that captured no vectors
    * keeps its old `ce` with n = 0, so k never silently shrinks.
    *
    * Scale shape — this is the whole point of the design:
    *  - `cent` is PARAMETER-bounded (k rows); it is collected and
    *    embedded as a plan literal (like the ≤8 MB bloom in
    *    Decontaminate), so assignment is a NARROW map: an `array_max`
    *    over the k-element literal per row — no join, no shuffle, no
    *    window. One corpus scan per iteration.
    *  - the centroid update is a groupBy(cid) over k groups whose
    *    partial state is one d-long vector per (partition, cluster)
    *    ([[graft.functions.VectorSumAgg]]) — the shuffle carries
    *    ~partitions·k·d longs, never the corpus. A posexplode mean
    *    would shuffle n·d rows.
    *  - sums are EXACT fixed-point integers (`floor(x·scale)`), so the
    *    result is partition-order-invariant and engine-portable
    *    (the q186 covariance convention) — a double mean would be
    *    accumulation-order noise. Quantization error ≤ 1/scale per
    *    dimension per step, irrelevant to cluster geometry and
    *    assignment (cosine is scale-invariant in the true value and
    *    the error is two orders below the embedding noise floor).
    */
  /** Stateless nearest-centroid assignment: the k centroids of `cent`
    * (cid, ce) are collected (parameter-bounded) and embedded as a plan
    * literal; the returned Column is an `array_max` argmax over it with
    * the `(cos DESC, cid ASC)` tie-break — a NARROW per-row map with no
    * join, shuffle, or state, so it applies unchanged to batch frames
    * AND streaming micro-batches (the ML-scoring face,
    * [[graft.streaming.EventStream.runKMeansAssignOnce]]).
    */
  def nearestCentroid(cent: DataFrame, vec: Column): Column = {
    val centRows = cent.select(col("cid"), col("ce")).collect()
    require(centRows.nonEmpty, "nearestCentroid needs at least one centroid")
    val centLit = array(centRows.map { r =>
      struct(lit(r.get(0)).as("cid"),
        typedlit(r.getSeq[Float](1)).as("ce"))
    }.toIndexedSeq: _*)
    // argmax by struct ordering: (cos, -cid) max == (cos DESC, cid ASC)
    val scored = transform(centLit,
      c => struct(cosine(vec, c("ce")).as("cs"), (-c("cid")).as("ncid")))
    -array_max(scored)("ncid")
  }

  def kmeansStep(corpus: DataFrame, idCol: String, vecCol: String,
      cent: DataFrame, scale: Long = 1024L): DataFrame = {
    val assigned = corpus
      .select(nearestCentroid(cent, col(vecCol)).as("cid"),
        transform(col(vecCol),
          x => floor(x.cast("double") * scale).cast("long")).as("__q"))
    val sums = assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        graft.functions.VectorSumAgg.vectorSum(col("__q")).as("__s"))
    finalizeCentroids(cent, sums, scale)
  }

  /** Centroid means from accumulated (cid, n, __s) quantized sums —
    * the shared tail of [[kmeansStep]] and the streaming mini-batch
    * update ([[graft.streaming.EventStream.runKMeansUpdateOnce]]):
    * empty clusters carry their old vector with n = 0.
    */
  def finalizeCentroids(cent: DataFrame, sums: DataFrame,
      scale: Long): DataFrame =
    cent.select(col("cid"), col("ce").as("__old"))
      .join(sums, Seq("cid"), "left")
      .select(col("cid"),
        when(col("n").isNull, col("__old"))
          .otherwise(transform(col("__s"),
            s => (s.cast("double") /
              (col("n").cast("double") * scale.toDouble)).cast("float")))
          .as("ce"),
        coalesce(col("n"), lit(0L)).as("n"))

  /** Distributed spherical-ish k-means (Lloyd's): deterministic
    * [[selectCentroids]] init, then [[kmeansStep]] iterations until no
    * centroid component moves more than `tol` or `maxIters` is reached.
    * Returns the final (cid, ce, n) centroid table — built from the
    * k·d driver-side state (the same bounded driver loop MLlib's
    * k-means runs), so callers can broadcast-join or persist it as an
    * artifact and feed [[ivfTopKWith]].
    *
    * Cosine assignment + mean update: cosine is scale-invariant, so the
    * un-normalized mean assigns identically to the normalized spherical
    * update — no per-iteration normalization needed. Per iteration:
    * one corpus scan, one k-wide shuffle (see [[kmeansStep]]); total
    * cost is iterations × one scan, with NOTHING corpus-sized ever on
    * the driver (k·d floats per round).
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIters: Int = 10, tol: Double = 1e-3,
      scale: Long = 1024L, init: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(maxIters > 0, s"maxIters must be positive: $maxIters")
    val spark = corpus.sparkSession
    import scala.jdk.CollectionConverters._
    // warm-start face: resume from a saved centroid artifact (cid, ce)
    var cent = init.map(_.select(col("cid"), col("ce")))
      .getOrElse(selectCentroids(corpus, idCol, vecCol, k))
      .withColumn("n", lit(0L))
    var prev: Map[Any, IndexedSeq[Float]] = Map.empty
    var it = 0
    var shift = Double.MaxValue
    val schema = cent.schema
    while (it < maxIters && shift > tol) {
      val rows = kmeansStep(corpus, idCol, vecCol, cent, scale).collect()
      val cur = rows.map(r =>
        r.get(0) -> r.getSeq[Float](1).toIndexedSeq).toMap
      shift =
        if (prev.isEmpty) Double.MaxValue
        else cur.map { case (cid, v) =>
          val o = prev(cid)
          v.indices.map(i => math.abs(v(i) - o(i)).toDouble).max
        }.max
      prev = cur
      cent = spark.createDataFrame(rows.toList.asJava, schema)
      it += 1
    }
    cent
  }

  /** Hard-negative mining — the contrastive-training complement of
    * [[graft.operators.Sampling.negativeSamples]]: for each query
    * vector, the `k` nearest corpus vectors carrying a DIFFERENT label
    * (closest-but-wrong examples, the ones that sharpen a contrastive
    * or retrieval model far more than random negatives). Exact cosine
    * over the query×corpus product with the label-mismatch filter
    * applied BEFORE the rank window — the exact-regime baseline; at
    * corpus scale swap the candidate source for [[ivfTopKWith]] /
    * [[annTopK]] buckets the same way [[bruteForceTopK]] relates to
    * them.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int,
      broadcastQueries: Boolean = true): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("__qv"), col(labelCol).as("__ql"))
    val q = if (broadcastQueries) broadcast(q0) else q0
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("__cv"), col(labelCol).as("__cl"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    q.join(c, col("__ql") =!= col("__cl"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("__cv")).as("cosine"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** k-NN label consistency: predict each vector's label as the
    * MAJORITY label among its `k` nearest neighbors (self excluded;
    * ties by smaller predicted label, the deterministic convention) and
    * flag rows whose own label disagrees — the neighborhood-vote
    * mislabel detector complementing the centroid-distance one
    * ([[embeddingOutliers]]): a mislabel sitting INSIDE another class's
    * cluster is near ITS centroid (invisible to the distance test) but
    * outvoted by its neighbors.
    *
    * Exact-regime baseline on the brute-force neighbor list; swap the
    * candidate source for the ANN paths at corpus scale, as with
    * [[hardNegatives]]. Output: (id, label, predicted, n_agree, flagged).
    */
  def knnLabelCheck(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val labels = emb.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__nl"))
    val own = emb.select(col(idCol).as("query_id"),
      col(labelCol).as("label"))
    bruteForceTopK(emb, emb, idCol, vecCol, k)
      .join(labels, "neighbor_id")
      .groupBy(col("query_id"), col("__nl"))
      .agg(count(lit(1)).as("__votes"))
      .groupBy(col("query_id"))
      // argmax votes, ties to the SMALLER (numeric) label
      .agg(max_by(col("__nl"), struct(col("__votes"), -col("__nl")))
        .as("predicted"),
        max(col("__votes")).as("n_agree"))
      .join(own, "query_id")
      .select(col("query_id").as(idCol), col("label"), col("predicted"),
        col("n_agree"), (col("label") =!= col("predicted")).as("flagged"))
  }

  /** Retrieval evaluation — recall@k and MRR of an approximate
    * retrieval run against a ground-truth relevant set: `results` is a
    * ranked (query_id, neighbor_id, cosine) frame (any of the ANN
    * paths), `truth` a (query_id, relevant_id) frame. Per query the
    * reciprocal rank of the FIRST relevant hit (ranks from the
    * result's own (cosine DESC, neighbor_id) order; 0 when missed);
    * the report row is (n_queries, recall_at_k, mrr). The missing eval
    * face of the ANN stack: recall numbers in specs become a
    * first-class, reusable report.
    *
    * Scale: one window over per-query result lists (k-bounded
    * partitions) and a truth join — both sides are query-sized, never
    * corpus-sized.
    */
  def retrievalEval(results: DataFrame, truth: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val ranked = results
      .withColumn("__rk", row_number().over(w))
    val hits = truth.join(ranked,
        truth("query_id") === ranked("query_id") &&
          truth("relevant_id") === ranked("neighbor_id"), "left")
      .groupBy(truth("query_id"))
      .agg(min(col("__rk")).as("__first"))
    hits.agg(
      count(lit(1)).as("n_queries"),
      round(avg(when(col("__first").isNotNull, 1.0).otherwise(0.0)), 6)
        .as("recall_at_k"),
      round(avg(when(col("__first").isNotNull,
        lit(1.0) / col("__first")).otherwise(0.0)), 6).as("mrr"))
  }

  /** Per-label embedding OUTLIERS: the `k` vectors of each label whose
    * squared distance to the label centroid is largest — the
    * embedding-space mislabel/garbage detector (the complement of
    * SemDeDup-style near-centroid dedup: what's far from everything in
    * its own class is suspect).
    *
    * Exactness: floats quantize to `floor(x·scale)` BIGINTs (floor, not
    * cast — casts truncate in Spark but round in DuckDB), and the
    * comparison uses distance·n² = Σ(n·xᵢ − Sᵢ)² where Sᵢ is the label's
    * elementwise quantized SUM — all integer arithmetic, no float mean,
    * so the ranking is reproducible across engines and immune to
    * float-summation order. Magnitude bound: |n·x − S| ≤ 2·n·scale·‖x‖∞,
    * inside BIGINT for n·scale ≲ 3·10⁹ — per-label shard counts far
    * beyond any label granularity that makes a centroid meaningful.
    *
    * Scale shape: centroid sums are one posexplode aggregation
    * (dims·N narrow rows, map-side combinable) collected into
    * label-keyed arrays — a LABELS-sized frame that broadcasts; the
    * distance is then a narrow zip_with/aggregate over each vector (no
    * second explode, no vec-keyed shuffle); the top-k is a
    * WindowGroupLimit-pruned window per label.
    */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int = 5, scale: Int = 1024): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val xq = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    val q = emb.select(col(idCol), col(labelCol), xq.as("__xq"))
    val sums = q
      .select(col(labelCol), posexplode(col("__xq")).as(Seq("__i", "__x")))
      .groupBy(col(labelCol), col("__i"))
      .agg(sum(col("__x")).as("__s"))
    val centroids = sums.groupBy(col(labelCol))
      .agg(transform(array_sort(collect_list(struct(col("__i"), col("__s")))),
        p => p.getField("__s")).as("__sv"))
    val counts = q.groupBy(col(labelCol)).agg(count(lit(1)).as("__n"))
    val d = q
      .join(broadcast(centroids), Seq(labelCol))
      .join(broadcast(counts), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        aggregate(
          zip_with(col("__xq"), col("__sv"),
            (x, s) => (col("__n") * x - s) * (col("__n") * x - s)),
          lit(0L), (acc, v) => acc + v).as("d_n2"))
    val w = Window.partitionBy(col(labelCol))
      .orderBy(col("d_n2").desc, col(idCol))
    d.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-label embedding-column QA: row count, null-vector count,
    * zero-vector count (an all-zero embedding is a failed encode that
    * silently poisons cosine math downstream), the min/max vector
    * dimensionality (a ragged column means a writer bug), and the
    * min/max L2 norm — the "is this embedding column even sane" report
    * to run before any similarity or dedup pass trusts it. One row per
    * label.
    *
    * Exactness: each row's norm is a per-row element-order fold into
    * doubles (the q23 `list_sum` convention — no cross-row float
    * accumulation); min/max are exact comparisons over identical
    * doubles, so the output is run- and engine-deterministic without
    * any sorted-fold machinery.
    *
    * 100 TB shape: pure per-row arithmetic into one map-side-combinable
    * agg — labels-sized output, single shuffle.
    */
  def embeddingNormStats(emb: DataFrame, vecCol: String,
      labelCol: String): DataFrame = {
    val v = col(vecCol)
    val norm = sqrt(aggregate(v, lit(0.0),
      (a, x) => a + x.cast("double") * x.cast("double")))
    val normN = when(v.isNotNull, norm)
    emb.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n"),
        count(when(v.isNull, lit(1))).as("n_null"),
        count(when(normN === 0.0, lit(1))).as("n_zero"),
        min(when(v.isNotNull, size(v))).as("dims_min"),
        max(when(v.isNotNull, size(v))).as("dims_max"),
        round(min(normN), 6).as("min_norm"),
        round(max(normN), 6).as("max_norm"))
  }

  /** Cosine similarity between every pair of per-label centroids —
    * "which document classes live close together in embedding space"
    * (near-identical centroids say the label distinction carries no
    * geometric signal; orthogonal ones say the classes separate).
    * One row per unordered pair (label_a < label_b): cosine ∈ [−1, 1],
    * null when either label's quantized centroid is all-zero.
    *
    * Exactness: centroid cosine equals the cosine of the per-label
    * SUM vectors (the 1/n factors cancel), and sums of
    * floor(x·scale) integer codes are exact BIGINTs — no cross-row
    * float accumulation anywhere (a parallel float sum would be
    * run-to-run nondeterministic), same discipline as
    * [[embeddingOutliers]]. Bound: dims·(Σ|x_q|)² must stay under
    * 2^63 — at scale·n per component that allows ~10^9 rows per label
    * at scale 1024 before the dot products need sharding.
    *
    * 100 TB shape: the only data-sized op is the posexplode into the
    * per-(label, dim) sum — map-side combinable into labels×dims rows;
    * the pair product joins that tiny frame to itself dim-keyed, and
    * norms broadcast back.
    */
  def labelCentroidSimilarity(emb: DataFrame, vecCol: String,
      labelCol: String, scale: Int = 1024): DataFrame = {
    val xq = transform(col(vecCol),
      x => floor(x.cast("double") * scale).cast("long"))
    val sums = emb
      .select(col(labelCol).as("__l"), posexplode(xq).as(Seq("__i", "__x")))
      .groupBy(col("__l"), col("__i"))
      .agg(sum(col("__x")).as("__s"))
    val dots = sums.as("a")
      .join(sums.as("b"),
        col("a.__i") === col("b.__i") && col("a.__l") < col("b.__l"))
      .groupBy(col("a.__l").as("label_a"), col("b.__l").as("label_b"))
      .agg(sum(col("a.__s") * col("b.__s")).as("__dot"))
    val norms = sums.groupBy(col("__l"))
      .agg(sum(col("__s") * col("__s")).as("__nrm"))
    dots
      .join(broadcast(norms.select(col("__l").as("label_a"),
        col("__nrm").as("__na"))), Seq("label_a"))
      .join(broadcast(norms.select(col("__l").as("label_b"),
        col("__nrm").as("__nb"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"),
        when(col("__na") === 0 || col("__nb") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("__dot").cast("double") /
            (sqrt(col("__na").cast("double")) *
             sqrt(col("__nb").cast("double"))), 6)).as("cosine"))
  }

  /** Upper-triangle covariance matrix of the embedding dimensions —
    * the input to whitening/PCA and the "are half these dims dead or
    * collinear" audit. Values are quantized `floor(x·scale)` to exact
    * LONG sums first (q137's determinism device: integer aggregation
    * has no float addition order, so an external engine reproduces the
    * bits), then cov(i,j) = (n·Sij − Si·Sj)/(n²·scale²) evaluated in a
    * fixed double association, round(…, 6) (+0.0 so a tiny negative
    * covariance that rounds to zero can never print -0.0 — DuckDB's
    * binary round emits it, Spark's BigDecimal round cannot). One row
    * per dim pair i ≤ j: (i, j, n, cov).
    *
    * 100 TB shape: ONE corpus pass through
    * [[graft.functions.CovarianceMomentsAgg]] — each task folds its
    * rows' d² pair products into a single (1 + d + d(d+1)/2)-long
    * buffer, so the shuffle carries one dims²-bounded buffer per
    * partition and the corpus rows never fan out (the round-9 in-row
    * explode materialized dims²/2 structs PER ROW: 2,080 at dims=64,
    * ~295k / ~4.7 MB per row at dims=768 — measured ScaleProbe ratios
    * in PLANS.md). The merged buffer (2.4 MB at dims=768; the ≤8 MB
    * bounded-collect discipline holds to ~dims 1400) is collected once
    * and the d² report cells are exact driver-side integer math.
    */
  def embeddingCovariance(emb: DataFrame, vecCol: String,
      scale: Int = 1024): DataFrame = {
    require(scale > 0, s"scale must be positive: $scale")
    val spark = emb.sparkSession
    import spark.implicits._
    val xq = transform(col(s"`$vecCol`"),
      x => floor(x.cast("double") * scale).cast("long"))
    val m = emb.filter(col(s"`$vecCol`").isNotNull).select(xq.as("__q"))
      .agg(graft.functions.CovarianceMomentsAgg
        .covarianceMoments(col("__q")).as("__m"))
      .as[Seq[Long]].head()
    require(m.nonEmpty, "covariance of an empty or all-null vector column")
    // buffer layout: [0]=n, [1..d]=Si, then row-major upper triangle Sij
    val d = ((math.sqrt(9.0 + 8.0 * (m.length - 1)) - 3.0) / 2.0)
      .round.toInt
    val n = m(0)
    val den = n.toDouble * n.toDouble * (scale.toDouble * scale)
    def roundHalfUp6(v: Double): Double =
      java.math.BigDecimal.valueOf(v)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    var p = 1 + d
    val cells = for (i <- 0 until d; j <- i until d) yield {
      val sp = m(p); p += 1
      // the same fixed double association the SQL oracle evaluates
      (i, j, n, roundHalfUp6((n.toDouble * sp.toDouble
        - m(1 + i).toDouble * m(1 + j).toDouble) / den) + 0.0)
    }
    cells.toDF("i", "j", "n", "cov")
  }

  /** Leading principal component of a covariance matrix from
    * [[embeddingCovariance]], by power iteration on the DRIVER — the
    * matrix is dims²-bounded (the ≤8 MB-bloom-literal discipline:
    * bounded by a parameter, never by the data), so distributing the
    * iteration would be all overhead. Deterministic: fixed all-ones
    * start, fixed iteration count. Returns
    * (dims, eigenvalue, explained_variance, component) — one row;
    * component sign is normalized so its largest-|·| entry is
    * positive (eigenvectors are sign-ambiguous).
    */
  def principalComponent(cov: DataFrame, maxIter: Int = 100): DataFrame = {
    val spark = cov.sparkSession
    import spark.implicits._
    val cells = cov.select(col("i"), col("j"), col("cov"))
      .as[(Int, Int, Double)].collect()
    require(cells.nonEmpty, "covariance frame is empty")
    val d = cells.map(c => math.max(c._1, c._2)).max + 1
    val m = Array.ofDim[Double](d, d)
    cells.foreach { case (i, j, v) => m(i)(j) = v; m(j)(i) = v }
    var x = Array.fill(d)(1.0 / math.sqrt(d))
    var lambda = 0.0
    var it = 0
    while (it < maxIter) {
      val y = Array.tabulate(d)(i =>
        (0 until d).foldLeft(0.0)((s, j) => s + m(i)(j) * x(j)))
      val nrm = math.sqrt(y.map(v => v * v).sum)
      if (nrm == 0) { it = maxIter } // zero matrix: keep x, lambda 0
      else {
        x = y.map(_ / nrm); lambda = nrm; it += 1
      }
    }
    val maxIdx = x.indices.maxBy(i => (math.abs(x(i)), -i))
    val comp = if (x(maxIdx) < 0) x.map(-_) else x
    val trace = (0 until d).map(i => m(i)(i)).sum
    val explained = if (trace == 0) null
      else java.lang.Double.valueOf(lambda / trace)
    Seq((d, lambda, Option(explained).map(_.toDouble), comp.toSeq))
      .toDF("dims", "eigenvalue", "explained_variance", "component")
  }

  /** BM25 lexical retrieval — the term-level complement of the embedding
    * ANN stack (and of [[retrievalEval]], which until now had only vector
    * producers to evaluate): for each query, the `k` highest-BM25 documents.
    * Framed as more-like-this when the queries ARE documents — lexical
    * near-dup retrieval, the curation workhorse for "what else in the
    * corpus looks like this benchmark/page".
    *
    * Math (the Lucene-style positive idf): per shared term,
    *   idf = ln(1 + (N − df + 0.5)/(df + 0.5)),
    *   contribution = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * score = Σ over the query's DISTINCT terms, rounded to 6 decimals so
    * the cross-engine sum-order jitter cannot flip ranks (the repo's
    * round-6 convention; ties then break on doc_id). tf/df/dl/N are exact
    * integers; avgdl is one division of an exact BIGINT sum.
    *
    * Query terms with df > maxDfFraction·N are pruned BEFORE the postings
    * join — the stopword-pruning a lexical engine does anyway (near-zero
    * idf terms buy nothing), and at scale the difference between a
    * postings join keyed on rare terms and one that fans every query out
    * to the whole corpus through "the".
    *
    * Scale shape: the corpus side is one explode + (doc, term) count —
    * map-side combinable, corpus text never shuffled whole; the pruned
    * query-term table is queries-sized and BROADCAST onto the postings,
    * so the only corpus-sized shuffle is the (query, doc) score
    * aggregation; the final rank window is WindowGroupLimit-pruned to k
    * per map partition before the per-query shuffle.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 0.1): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val tf = bm25TermFreqs(docs, idCol, textCol)
    val scored = bm25Scores(tf,
      bm25QueryTerms(queries, queryIdCol, queryTextCol,
        corpusArtifacts(tf), maxDfFraction), k1, b)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Per-(doc, term) frequencies with the doc length carried through —
    * the corpus pass every BM25 face starts from. Map-side combinable;
    * the document text is never shuffled whole. */
  private def bm25TermFreqs(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    graft.core.Spread(docs.select(col(idCol), col(textCol)))
      .select(col(idCol).as("doc_id"),
        TextAnalysis.tokens(col(textCol)).as("__tk"))
      .select(col("doc_id"), size(col("__tk")).cast("long").as("__dl"),
        explode(col("__tk")).as("__term"))
      .groupBy(col("doc_id"), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))

  /** (term, df, n, sdl) from a term-frequency frame — n and sdl are the
    * same on every row (one corpus-wide doc count and summed length):
    * redundant by construction, but it keeps the whole corpus statistic
    * in ONE saveable table. */
  private def corpusArtifacts(tf: DataFrame): DataFrame = {
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).as("__df"))
    val stats = tf.groupBy(col("doc_id")).agg(first(col("__dl")).as("__dl"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__dl")).cast("double").as("__sdl"))
    dfreq.crossJoin(broadcast(stats))
  }

  /** Distinct query terms joined to the corpus stats, pruned at
    * df > maxDfFraction·n — near-zero-idf terms buy nothing, and at
    * scale the difference between a postings join keyed on rare terms
    * and one that fans every query through "the". */
  private def bm25QueryTerms(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, artifacts: DataFrame,
      maxDfFraction: Double): DataFrame = {
    require(maxDfFraction > 0 && maxDfFraction <= 1,
      s"maxDfFraction must be in (0, 1]: $maxDfFraction")
    queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(queryTextCol))))
          .as("__term"))
      .join(artifacts, Seq("__term"))
      .filter(col("__df").cast("double") <=
        col("__n").cast("double") * maxDfFraction)
  }

  /** The scoring join: pruned query terms broadcast onto the postings,
    * per-pair contributions summed and rounded to 6 (the only
    * corpus-sized shuffle in any BM25 face). */
  private def bm25Scores(tf: DataFrame, qterms: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (col("__n").cast("double") - col("__df").cast("double") + 0.5) /
        (col("__df").cast("double") + 0.5))
    val norm = col("__tf").cast("double") +
      lit(k1) * (lit(1.0) - b + lit(b) * col("__dl").cast("double") /
        (col("__sdl") / col("__n").cast("double")))
    val contrib = idf * col("__tf").cast("double") * (k1 + 1.0) / norm
    tf.join(broadcast(qterms), Seq("__term"))
      .select(col("query_id"), col("doc_id"), contrib.as("__c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("__c")), 6).as("score"))
  }

  /** The BM25 corpus statistics as a SAVEABLE artifact table
    * (term, df, n, sdl) — the amortized regime ([[Dsir.diffArtifacts]]'s
    * convention): build once per landed corpus, score every later batch
    * against it without re-reading the corpus. */
  def bm25Artifacts(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    corpusArtifacts(bm25TermFreqs(docs, idCol, textCol))
      .select(col("__term").as("term"), col("__df").as("df"),
        col("__n").as("n"), col("__sdl").as("sdl"))

  /** Stateless BM25 scoring of a batch against SAVED corpus statistics:
    * tf and dl come from the batch, df/n/avgdl from the artifact —
    * (query_id, doc_id, score) with no global rank, so per-micro-batch
    * outputs union to exactly the whole-corpus score table (the
    * streaming face's identity). Cost scales with the batch; the landed
    * corpus is touched only through the terms-sized artifact. */
  def bm25ScoreAgainst(batch: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      artifacts: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      maxDfFraction: Double = 0.1): DataFrame = {
    val arts = artifacts.select(col("term").as("__term"),
      col("df").as("__df"), col("n").as("__n"), col("sdl").as("__sdl"))
    bm25Scores(bm25TermFreqs(batch, idCol, textCol),
      bm25QueryTerms(queries, queryIdCol, queryTextCol, arts,
        maxDfFraction), k1, b)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) — the
    * standard hybrid-retrieval combinator, and the missing top of the
    * stack now that both producers exist: a lexical list ([[bm25TopK]])
    * and a vector list (the ANN paths). Each input frame is a ranked
    * list with columns (query_id, doc_id, rank); the fused score is
    *   Σ over lists containing the doc of 1/(rrfK + rank),
    * which needs NO score calibration between heterogeneous retrievers —
    * that's the whole point of fusing on ranks instead of scores.
    * Rounded to 6 decimals before the final ranking (sum-order safety,
    * the repo convention), ties broken on doc_id.
    *
    * Scale shape: every input is already k-bounded per query, so the
    * union is (queries·k·lists)-sized — query-sized, never corpus-sized;
    * one (query, doc) aggregation shuffle and a WindowGroupLimit-pruned
    * rank window.
    */
  def fuseRankings(rankings: Seq[DataFrame], k: Int,
      rrfK: Double = 60.0): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking to fuse")
    require(k >= 1, s"k must be positive: $k")
    require(rrfK > 0, s"rrfK must be positive: $rrfK")
    val all = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = all
      .select(col("query_id"), col("doc_id"),
        (lit(1.0) / (lit(rrfK) + col("rank").cast("double"))).as("__c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("__c")), 6).as("rrf_score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_score"), col("rank"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    * greedily pick k items per query maximizing
    * `lambda·rel − (1−lambda)·max_sim_to_already_picked` — the
    * diversity-aware selection pass a retrieval stack runs AFTER
    * [[bm25TopK]]/[[annTopK]]/[[fuseRankings]], so a query whose top hits
    * are near-duplicates of each other doesn't return k copies of one
    * answer (for training-data curation: diverse few-shot/RAG example
    * selection). Input is the candidate table (query_id, doc_id,
    * relevance, vector) — k-BOUNDED per query by the upstream retriever;
    * MMR's greedy loop is inherently sequential in its k output slots, so
    * the operator runs k−1 DataFrame rounds, each one a per-query
    * one-row equi-join (the newly selected item) + a rank window, all
    * keyed by query_id — rounds scale with k, never with the corpus, and
    * a million queries re-rank in the same k−1 rounds.
    *
    * Each round eager-localCheckpoints its outputs and releases the
    * previous round's working set, so plan depth and pinned blocks stay
    * O(1) across rounds; what remains pinned is the output-sized selected
    * rows. The MMR score is rounded to 6 before the argmax (with doc_id
    * tie-break) so the greedy choice is reproducible cross-engine.
    * Queries with fewer than k candidates emit all of them, ranked.
    * Output: (query_id, doc_id, rel, mmr_rank).
    */
  def mmrRerank(cands: DataFrame, queryIdCol: String, docIdCol: String,
      relCol: String, vecCol: String, k: Int,
      lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1]: $lambda")
    val W = Window.partitionBy(col("query_id"))
    val r0 = cands.select(col(queryIdCol).as("query_id"),
        col(docIdCol).as("doc_id"), col(relCol).cast("double").as("rel"),
        col(vecCol).as("vec"))
      .withColumn("__rk", row_number().over(
        W.orderBy(round(col("rel"), 6).desc, col("doc_id"))))
    var delta = Pin.checkpoint(r0.filter(col("__rk") === 1).drop("__rk")
      .withColumn("mmr_rank", lit(1)), eager = true).frame
    // cosine ∈ [−1, 1], so −1 is "no selected neighbor yet"
    var rest = Pin.checkpoint(r0.filter(col("__rk") > 1).drop("__rk")
      .withColumn("__msim", lit(-1.0)), eager = true)
    val deltas = scala.collection.mutable.Buffer(delta)
    var i = 2
    while (i <= k) {
      val sel = delta.select(col("query_id"), col("vec").as("__sv"))
      val scored = rest.frame.join(sel, Seq("query_id"))
        .withColumn("__msim",
          greatest(col("__msim"), cosine(col("vec"), col("__sv"))))
        .withColumn("__mmr", round(lit(lambda) * col("rel") -
          lit(1.0 - lambda) * col("__msim"), 6))
        .withColumn("__rk", row_number().over(
          W.orderBy(col("__mmr").desc, col("doc_id"))))
      delta = Pin.checkpoint(scored.filter(col("__rk") === 1)
        .select(col("query_id"), col("doc_id"), col("rel"), col("vec"))
        .withColumn("mmr_rank", lit(i)), eager = true).frame
      val nextRest = Pin.checkpoint(scored.filter(col("__rk") > 1)
        .select(col("query_id"), col("doc_id"), col("rel"), col("vec"),
          col("__msim")), eager = true)
      rest.release()
      rest = nextRest
      deltas += delta
      i += 1
    }
    rest.release()
    deltas.reduce(_ unionByName _)
      .select(col("query_id"), col("doc_id"),
        round(col("rel"), 6).as("rel"), col("mmr_rank"))
  }
}
