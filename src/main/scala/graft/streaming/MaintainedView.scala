package graft.streaming

import graft.catalog.VersionedTable
import graft.fsops.FsOps
import graft.operators.IncrementalAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming face of the maintenance loop: each micro-batch is folded
  * into an [[IncrementalAgg]] partial-aggregate state, and every trigger
  * COMMITS the refreshed state through [[VersionedTable]] — exactly-once
  * end to end:
  *
  *  - a crashed trigger's half-landed data dir is unreferenced by any
  *    commit, hence invisible to the next read (the commit-log
  *    invariant);
  *  - a RETRIED trigger (Structured Streaming replays the last batch
  *    after a failure) is detected by batch id recorded in the commit
  *    `op`, and skipped — the idempotent-foreachBatch-sink pattern —
  *    so the same delta can never fold twice.
  *
  * Per-trigger cost ∝ batch (one delta shuffle of group-cardinality
  * partials, [[IncrementalAgg.refresh]]'s contract) + one state write of
  * view-cardinality rows. The reference has no streaming surface; this
  * composes its materialization contract (land-and-swap views,
  * reference: src/main/scala/com/adidas/analytics/algo/Materialization.scala)
  * with engine-side incremental state.
  */
object MaintainedView {

  /** Fold one batch (id `batchId`) into the versioned state at
    * `stateRoot`, committing the refreshed state as the next version.
    * Idempotent per batch id: a replayed batch whose id is already in
    * the commit log is a no-op. `weightCol` as in
    * [[IncrementalAgg.refresh]] (None = insert-only batch). `minCols`/
    * `maxCols` maintain extrema for INSERT-ONLY streams (min/max only
    * ever tighten under inserts, so the algebraic fold is exact; they
    * are not retractable, so combining them with `weightCol` fails fast
    * — [[IncrementalAgg.refresh]]'s contract, same as the catch-up
    * face's insert branch).
    */
  def maintainBatch(spark: SparkSession, fsOps: FsOps, stateRoot: String,
      batch: DataFrame, batchId: Long, keys: Seq[String],
      sumCols: Seq[String], weightCol: Option[String] = None,
      minCols: Seq[String] = Seq.empty, maxCols: Seq[String] = Seq.empty,
      tsMs: Long = System.currentTimeMillis): Unit = {
    val op = s"batch-$batchId"
    val log = VersionedTable.commits(fsOps, stateRoot)
    if (log.exists(_.op == op)) return // replayed trigger: already folded
    val state =
      if (log.isEmpty)
        // empty state with the exact partial-aggregate schema
        IncrementalAgg.init(batch.limit(0), keys, sumCols, minCols,
          maxCols)
      else {
        val st = VersionedTable.readLatest(spark, fsOps, stateRoot)
        // fail fast on config drift against the persisted state — the
        // same guard catchUp carries (an unresolved-column plan error
        // deep in the refresh would otherwise be the first symptom)
        val want = IncrementalAgg.stateColumns(keys, sumCols, minCols,
          maxCols)
        require(st.columns.toSet == want.toSet,
          s"state at $stateRoot carries ${st.columns.sorted.mkString(",")} " +
            s"but this batch requests ${want.sorted.mkString(",")} — " +
            "aggregate config must stay fixed for a maintained view " +
            "(rebuild under a fresh stateRoot to change it)")
        st
      }
    val refreshed = IncrementalAgg.refresh(state, batch, keys, sumCols,
      minCols, maxCols, weightCol = weightCol)
    // the commit is PINNED to the state version this fold read (OCC):
    // the engine serializes triggers within one query, but an external
    // concurrent refresher would otherwise turn the check-then-act above
    // into a double fold. `ts` is a real wall timestamp (injectable for
    // tests) so vacuum's retention grace stays meaningful on state
    // tables; the batch id lives in the op tag.
    VersionedTable.writeIf(refreshed, fsOps, stateRoot, ts = tsMs,
      expectedVersion = log.lastOption.map(_.version).getOrElse(0L),
      op = op)
  }

  /** Catch-up maintenance straight from a VERSIONED BASE TABLE's commit
    * log (the CDC-source face, Delta's "streaming from a table" shape
    * without a long-running query): fold every base-table version the
    * state has not yet consumed — the first as a plain insert load, each
    * later one as the [[VersionedTable.changeFeed]] against its
    * predecessor — committing the state once per consumed version with
    * the version recorded in the commit op. Re-invocation is the poll:
    * already-consumed versions are skipped by op tag (crash-resume picks
    * up exactly after the last folded version), so any scheduler cadence
    * gives exactly-once maintenance. Per-poll cost ∝ the CDC join of the
    * new version pairs + group-cardinality state shuffles — never a
    * rescan of versions already folded. Returns the versions folded this
    * call.
    */
  def catchUp(spark: SparkSession, fsOps: FsOps, tableRoot: String,
      stateRoot: String, cdcKeys: Seq[String], groupKeys: Seq[String],
      sumCols: Seq[String], minCols: Seq[String] = Seq.empty,
      maxCols: Seq[String] = Seq.empty): Seq[Long] = {
    val vt = VersionedTable
    graft.catalog.LogFold.catchUp(spark, fsOps, tableRoot, stateRoot,
        tagPrefix = "table") { (state, c) =>
      state match {
        case None =>
          // bootstrap: aggregate the latest snapshot directly
          IncrementalAgg.init(
            vt.readVersion(spark, fsOps, tableRoot, c.version),
            groupKeys, sumCols, minCols, maxCols)
        case Some(st) =>
          // fail fast on config drift against the persisted state (a
          // poll adding/removing min/max or sum columns would otherwise
          // crash with an opaque unresolved-column plan error)
          val want = IncrementalAgg.stateColumns(groupKeys, sumCols,
            minCols, maxCols)
          require(st.columns.toSet == want.toSet,
            s"state at $stateRoot carries ${st.columns.sorted.mkString(",")} " +
              s"but this poll requests ${want.sorted.mkString(",")} — " +
              "aggregate config must stay fixed for a maintained view " +
              "(rebuild under a fresh stateRoot to change it)")
          val feed = vt.changeFeed(spark, fsOps, tableRoot,
            c.version - 1, c.version, cdcKeys)
          if (minCols.isEmpty && maxCols.isEmpty)
            IncrementalAgg.refreshFromChanges(st, feed, groupKeys,
              sumCols)
          else
            // min/max are not retractable from partials: recompute only
            // the feed-touched groups from the base AT this version
            // (readable by definition — it was just committed)
            IncrementalAgg.refreshFromChangesWithRecompute(st, feed,
              vt.readVersion(spark, fsOps, tableRoot, c.version),
              groupKeys, sumCols, minCols, maxCols)
      }
    }
  }

  /** Drive a parquet file-stream through [[maintainBatch]] with
    * AvailableNow (process everything, then stop) and return the settled
    * maintained view (latest committed state). `maxFilesPerTrigger`
    * splits the input into multiple triggers to exercise the per-batch
    * path — the settled state is trigger-boundary-invariant.
    *
    * RE-RUNNING against the same `stateRoot` (new input files landed
    * since) requires `checkpointLocation`: the checkpoint carries the
    * engine's batch counter and processed-file log, so a resumed run
    * continues with FRESH batch ids (and skips already-processed files)
    * and the per-batch-id idempotence contract holds across runs.
    * Without it every run restarts ids at 0 — colliding ids over
    * DIFFERENT file subsets would read as replays (data loss) while
    * surplus ids re-fold consumed data (double counting) — so a
    * checkpoint-less run fails fast when `stateRoot` already holds
    * batch commits instead of corrupting the view.
    */
  def runOnce(spark: SparkSession, schema: StructType, inputGlob: String,
      stateRoot: String, keys: Seq[String], sumCols: Seq[String],
      queryName: String, weightCol: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None,
      minCols: Seq[String] = Seq.empty, maxCols: Seq[String] = Seq.empty,
      checkpointLocation: Option[String] = None): DataFrame = {
    val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
    val prior = VersionedTable.commits(fsOps, stateRoot).map(_.op)
      .filter(_.startsWith("batch-"))
    if (prior.nonEmpty) {
      // resuming a state needs the ORIGINAL checkpoint: one that
      // already carries engine offsets. A missing checkpoint — or a
      // FRESH directory passed by mistake — restarts batch ids at 0,
      // so colliding ids would be skipped as replays while surplus ids
      // double-fold. (A wrong-but-populated checkpoint is
      // indistinguishable from the right one here; that pairing is the
      // caller's contract, same as any streaming sink.)
      val resumable = checkpointLocation
        .exists(cp => fsOps.exists(s"$cp/offsets"))
      require(resumable,
        s"$stateRoot already holds ${prior.size} batch commit(s) from " +
          "a prior run; resuming requires the ORIGINAL " +
          "checkpointLocation (the engine's batch counter lives " +
          "there) — got " + checkpointLocation.fold("none")(cp =>
            s"a checkpoint at $cp with no offsets log") +
          ". Pass the original checkpoint or use a fresh stateRoot.")
    }
    EventStream.drainBatches(
        EventStream.files(spark, schema, inputGlob, maxFilesPerTrigger),
        queryName, checkpointLocation) { (batch, id) =>
      maintainBatch(spark, fsOps, stateRoot, batch, id, keys, sumCols,
        weightCol, minCols, maxCols)
    }
    VersionedTable.readLatest(spark, fsOps, stateRoot)
  }
}
