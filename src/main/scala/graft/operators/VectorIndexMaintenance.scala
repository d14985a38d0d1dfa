package graft.operators

import graft.catalog.{LogFold, VersionedTable}
import graft.config.JsonConfig
import graft.fsops.FsOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ index maintenance for a VERSIONED embedding table: keeps the
  * encode-time ANN artifacts ([[Similarity.ivfPqEncodeWith]] codes —
  * (id, cell, subspace, code) rows) in lockstep with an embeddings
  * corpus stored as a [[VersionedTable]], fed from the corpus's own
  * commit log — the [[CorpusMaintenance]] pattern applied to the
  * similarity family.
  *
  * Training artifacts (PQ codebooks + IVF centroids) are FROZEN at
  * bootstrap — trained once on the first consumed snapshot and persisted
  * under the index root — the standard incremental-ANN contract
  * (FAISS's add-after-train): folds encode ONLY the CDC delta against
  * the frozen quantizers, so per-poll cost ∝ delta, never a corpus
  * re-encode. Re-training is an explicit full rebuild ([[rebuild]],
  * fresh index root); [[staleness]] measures when one is due.
  *
  * Training publication is ATOMIC and first-writer-wins: the trained
  * set (codebooks + centroids + a meta record of the trained base
  * version and quantizer geometry) lands in a writer-private
  * `_train-<uuid>` dir, then a create-exclusive pointer file
  * (`_train.json`) publishes the WHOLE set at once — the commit-log
  * invariant applied to the quantizers. Two overlapping bootstrap polls
  * that trained on DIFFERENT base versions (the table committed in
  * between) can therefore never interleave artifacts: the loser's set
  * is deleted unpublished, and every encode/search resolves the
  * quantizers through the published pointer, so committed codes always
  * pair with the published training set. Folds and searches validate
  * the caller's quantizer geometry (dim/m/ks/centroids) against the
  * published meta — a drifted parameter fails by name instead of
  * silently corrupting ANN distances.
  *
  * 100 TB shape: the codes table is m small ints per vector (~1e-2 the
  * embedding bytes); search cost is the [[Similarity.ivfPqTopKPrepared]]
  * contract — |Q|·centroids probe scoring + the cell-pruned ADC scan.
  */
object VectorIndexMaintenance {

  private def trainPtr(root: String) = s"$root/_train.json"

  /** The published training set: quantizer dirs + provenance. */
  final case class TrainMeta(path: String, trainedVersion: Long,
      dim: Int, m: Int, ks: Int, centroids: Int)

  private def cbDir(root: String, meta: TrainMeta) =
    s"$root/${meta.path}/codebooks"
  private def centDir(root: String, meta: TrainMeta) =
    s"$root/${meta.path}/centroids"

  /** The published training meta, if any — the staleness/rebuild probes
    * read the trained base version from here.
    */
  def trainMeta(fsOps: FsOps, root: String): Option[TrainMeta] =
    if (!fsOps.exists(trainPtr(root))) None
    else {
      val c = JsonConfig.fromFile(fsOps, trainPtr(root))
      Some(TrainMeta(c.getString("path"), c.getLong("trained_version"),
        c.getInt("dim"), c.getInt("m"), c.getInt("ks"),
        c.getInt("centroids")))
    }

  /** Resolve + validate the published training set for a caller that
    * passed explicit quantizer geometry. Fails fast by name on a
    * missing publication or mismatched geometry.
    */
  private def validatedMeta(fsOps: FsOps, root: String, context: String,
      dim: Int, m: Int, ks: Option[Int], centroids: Option[Int])
      : TrainMeta = {
    val meta = trainMeta(fsOps, root).getOrElse {
      // an index root from the pre-pointer layout has quantizer dirs
      // but no pointer — catchUpIndex can never publish one for it
      // (its versions are already consumed), so "run catchUpIndex"
      // would be circular advice
      if (fsOps.exists(s"$root/_codebooks"))
        throw new IllegalArgumentException(
          s"$root uses the legacy quantizer layout (_codebooks/" +
            "_centroids without _train.json); rebuild into a fresh " +
            "index root (VectorIndexMaintenance.rebuild / the " +
            "VectorIndexRebuild algorithm) and swap readers over")
      throw new IllegalArgumentException(
        s"$root has no published training artifacts (_train.json); " +
          "run catchUpIndex first")
    }
    require(meta.dim == dim && meta.m == m && ks.forall(_ == meta.ks)
        && centroids.forall(_ == meta.centroids),
      s"$context called with dim=$dim, m=$m" +
        ks.fold("")(v => s", ks=$v") +
        centroids.fold("")(v => s", centroids=$v") +
        s" but $root publishes quantizers trained on base version " +
        s"${meta.trainedVersion} with dim=${meta.dim}, m=${meta.m}, " +
        s"ks=${meta.ks}, centroids=${meta.centroids} — mismatched " +
        "quantizer geometry would silently corrupt ANN distances")
    meta
  }

  /** Train on `snap` and publish the full set atomically (no-op when a
    * set is already published — the racing/crashed-bootstrap case).
    * Returns the PUBLISHED meta, which may be another poll's.
    */
  private def publishTraining(fsOps: FsOps, root: String,
      snap: DataFrame, trainedVersion: Long, idCol: String,
      vecCol: String, dim: Int, m: Int, ks: Int, centroids: Int)
      : TrainMeta =
    trainMeta(fsOps, root).getOrElse {
      val name = "_train-" + java.util.UUID.randomUUID.toString.take(8)
      val stage = s"$root/$name"
      // writer-private stage dir: plain writes, invisible until the
      // pointer publishes it (and never swept — vacuum only takes d-*)
      Similarity.pqCodebooks(snap, idCol, vecCol, dim, m, ks)
        .coalesce(1).write.parquet(s"$stage/codebooks")
      Similarity.selectCentroids(snap, idCol, vecCol, centroids)
        .coalesce(1).write.parquet(s"$stage/centroids")
      val json = s"""{"path": "$name", """ +
        s""""trained_version": $trainedVersion, "dim": $dim, """ +
        s""""m": $m, "ks": $ks, "centroids": $centroids}"""
      if (!fsOps.publishExclusive(trainPtr(root), json))
        fsOps.deleteAll(stage) // lost the pointer race: winner's set rules
      trainMeta(fsOps, root).get
    }

  /** Fold every unconsumed embedding-table version into the index:
    * bootstrap trains + publishes + encodes the latest snapshot; each
    * later version folds as its CDC delta (removed/preimage ids
    * anti-joined out, inserted/postimage vectors encoded against the
    * frozen quantizers). Returns the embedding versions folded by this
    * call.
    *
    * `buckets = Some(n)` keeps the codes table HASH-BUCKETED on id:
    * each fold reads and rewrites ONLY the buckets the delta touches
    * ([[LogFold.catchUpBucketed]]) — fold bytes ≈ touchedBuckets ×
    * (|codes| / n), touchedBuckets ≤ |delta keys| — instead of a full
    * codes-table rewrite per consumed version. Size n ≫ the typical
    * per-version delta key count; fixed per index root;
    * [[VersionedTable.compact]] re-anchors the reference chain.
    */
  def catchUpIndex(spark: SparkSession, fsOps: FsOps, embRoot: String,
      indexRoot: String, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, ks: Int = 16, centroids: Int = 32,
      buckets: Option[Int] = None): Seq[Long] = {
    def bootstrap(c: VersionedTable.Commit): DataFrame = {
      val snap = VersionedTable.readVersion(spark, fsOps, embRoot,
        c.version)
      publishTraining(fsOps, indexRoot, snap, c.version, idCol,
        vecCol, dim, m, ks, centroids)
      // encode through the PUBLISHED set (possibly a racing poll's,
      // trained on a different snapshot — still the frozen set every
      // later fold and search will resolve), geometry validated
      val meta = validatedMeta(fsOps, indexRoot, "catchUpIndex",
        dim, m, Some(ks), Some(centroids))
      Similarity.ivfPqEncodeWith(snap, idCol, vecCol, dim, m,
        spark.read.parquet(cbDir(indexRoot, meta)),
        spark.read.parquet(centDir(indexRoot, meta)))
    }
    def feedParts(c: VersionedTable.Commit): (DataFrame, DataFrame) = {
      val feed = VersionedTable.changeFeed(spark, fsOps, embRoot,
        c.version - 1, c.version, Seq(idCol))
      (feed.filter(col("change_type").isin("delete", "update_preimage"))
          .select(col(idCol)),
        feed.filter(col("change_type")
            .isin("insert", "update_postimage"))
          .select(col(idCol), col(vecCol)))
    }
    def encodeDelta(added: DataFrame): DataFrame = {
      val meta = validatedMeta(fsOps, indexRoot, "catchUpIndex",
        dim, m, Some(ks), Some(centroids))
      Similarity.ivfPqEncodeWith(added, idCol, vecCol, dim, m,
        spark.read.parquet(cbDir(indexRoot, meta)),
        spark.read.parquet(centDir(indexRoot, meta)))
    }
    buckets match {
      case None =>
        LogFold.catchUp(spark, fsOps, embRoot, indexRoot,
            tagPrefix = "emb") { (state, c) =>
          state match {
            case None => bootstrap(c)
            case Some(codes) =>
              val (removed, added) = feedParts(c)
              codes.join(removed, Seq(idCol), "left_anti")
                .unionByName(encodeDelta(added))
          }
        }
      case Some(n) =>
        LogFold.catchUpBucketed(spark, fsOps, embRoot, indexRoot,
            tagPrefix = "emb", bucketBy = idCol, nBuckets = n) {
            (state, c) =>
          state match {
            case None => LogFold.Full(bootstrap(c))
            case Some(st) =>
              val (removed, added) = feedParts(c)
              val touched = removed
                .unionByName(added.select(col(idCol)))
                .select(VersionedTable.bucketOf(col(idCol), n).as("b"))
                .distinct().collect().map(_.getInt(0)).toSeq.sorted
              if (touched.isEmpty)
                LogFold.Delta(st.all.limit(0), Seq.empty)
              else LogFold.Delta(
                st.buckets(touched)
                  .join(removed, Seq(idCol), "left_anti")
                  .unionByName(encodeDelta(added)),
                touched)
          }
        }
    }
  }

  /** ANN top-k against the maintained index: the prepared IVF-PQ search
    * over the latest committed codes and the frozen quantizers — the
    * corpus is never touched as vectors and never re-assigned.
    */
  def searchMaintained(spark: SparkSession, fsOps: FsOps,
      queries: DataFrame, indexRoot: String, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, nprobe: Int = 4)
      : DataFrame = {
    val meta = validatedMeta(fsOps, indexRoot, "searchMaintained", dim,
      m, None, None)
    Similarity.ivfPqTopKPrepared(queries,
      VersionedTable.readLatest(spark, fsOps, indexRoot),
      spark.read.parquet(cbDir(indexRoot, meta)),
      spark.read.parquet(centDir(indexRoot, meta)),
      idCol, vecCol, k, dim, m, nprobe)
  }

  /** Explicit full RE-TRAIN: bootstrap a FRESH index root on the
    * embedding table's latest snapshot (new quantizers + full encode —
    * the one operation the frozen-quantizer contract excludes from
    * folds). The old index stays live until the caller swaps roots, so
    * a rebuild is outage-free. Fails fast when `newIndexRoot` is not
    * fresh: retraining IN PLACE would silently pair existing committed
    * codes with new quantizers. Run when [[staleness]] drops below the
    * rebuild threshold (see OPERATORS.md — 0.8 recall@k is the
    * documented default).
    */
  def rebuild(spark: SparkSession, fsOps: FsOps, embRoot: String,
      newIndexRoot: String, idCol: String, vecCol: String, dim: Int,
      m: Int = 8, ks: Int = 16, centroids: Int = 32): Seq[Long] = {
    require(trainMeta(fsOps, newIndexRoot).isEmpty
        && VersionedTable.commits(fsOps, newIndexRoot).isEmpty,
      s"$newIndexRoot already holds an index; rebuild targets a FRESH " +
        "root (in-place retrain would pair committed codes with new " +
        "quantizers) — rebuild into a new root and swap readers over")
    catchUpIndex(spark, fsOps, embRoot, newIndexRoot, idCol, vecCol,
      dim, m, ks, centroids)
  }

  /** Index-staleness probe: recall@k of the MAINTAINED index against a
    * FRESH-TRAINED index on the same (latest) snapshot — the
    * frozen-quantizer contract degrades recall as the corpus drifts
    * from the bootstrap snapshot, and this is the rebuild trigger
    * metric. The fresh quantizers/codes are derived in-plan (nothing
    * persisted); both trainers are deterministic, so the probe is
    * reproducible. Returns one row: (n_queries, k, trained_version,
    * latest_version, recall).
    */
  def staleness(spark: SparkSession, fsOps: FsOps, embRoot: String,
      indexRoot: String, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, m: Int = 8, nprobe: Int = 4)
      : DataFrame = {
    val meta = validatedMeta(fsOps, indexRoot, "staleness", dim, m,
      None, None)
    val latestV = VersionedTable.latestVersion(fsOps, embRoot)
    val snap = VersionedTable.readVersion(spark, fsOps, embRoot, latestV)
    val freshCb = Similarity.pqCodebooks(snap, idCol, vecCol, dim, m,
      meta.ks)
    val freshCent = Similarity.selectCentroids(snap, idCol, vecCol,
      meta.centroids)
    val freshCodes = Similarity.ivfPqEncodeWith(snap, idCol, vecCol,
      dim, m, freshCb, freshCent)
    val fresh = Similarity.ivfPqTopKPrepared(queries, freshCodes,
      freshCb, freshCent, idCol, vecCol, k, dim, m, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val maintained = searchMaintained(spark, fsOps, queries, indexRoot,
      idCol, vecCol, k, dim, m, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    // recall@k = |maintained ∩ fresh| / |fresh| (fresh is the ground
    // set: a fresh index is what a rebuild would serve)
    val hits = fresh.join(maintained, Seq("query_id", "neighbor_id"),
      "left_semi")
    fresh.agg(count(lit(1)).as("n_fresh")).crossJoin(
        hits.agg(count(lit(1)).as("n_hit")))
      .crossJoin(queries.agg(
        count(lit(1)).cast("long").as("n_queries")))
      .select(col("n_queries"), lit(k).as("k"),
        lit(meta.trainedVersion).as("trained_version"),
        lit(latestV).as("latest_version"),
        when(col("n_fresh") === 0, lit(1.0))
          .otherwise(col("n_hit").cast("double") / col("n_fresh"))
          .as("recall"))
  }
}
