package graft.catalog

import graft.fsops.FsOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Exactly-once maintenance of a DERIVED versioned table from a BASE
  * versioned table's commit log — the generic skeleton behind
  * [[graft.streaming.MaintainedView.catchUp]] (aggregate views) and
  * [[graft.operators.CorpusMaintenance.catchUpArtifacts]] (dedup
  * artifacts). Each poll folds every base version the derived table has
  * not yet consumed, committing the derived table once per consumed
  * base version with the base version recorded in the commit op
  * (`<tagPrefix>-v-N`).
  *
  * Exactly-once under ANY poll schedule, including overlapping polls:
  *  - already-consumed versions are skipped by op tag, re-checked
  *    against the FRESH derived log before every fold (a poll-start
  *    snapshot alone leaves a check-then-act window);
  *  - the derived commit is a PINNED [[VersionedTable.writeIf]] on the
  *    derived version the fold read — a commit landing between the
  *    fresh re-check and the write turns into a conflict, and the
  *    losing poll stops, leaving the rest to the winner.
  *
  * Per-poll cost ∝ the new base versions' deltas + whatever `fold`
  * does — never a rescan of versions already folded.
  */
object LogFold {

  /** The shared exactly-once loop: tag bookkeeping, foreign-root guard,
    * bootstrap-at-latest, fresh re-check per fold, and stop-on-conflict
    * — with the COMMIT step (which differs between the plain and the
    * bucketed layout) supplied by the caller. `commitOne` sees the
    * fresh derived log its fold was based on and must commit PINNED to
    * it (throwing [[java.util.ConcurrentModificationException]] when a
    * racer won — that stops this poll, leaving the rest to the winner).
    */
  private def foldLoop(fsOps: FsOps, baseRoot: String,
      derivedRoot: String, tagPrefix: String)(
      commitOne: (Seq[VersionedTable.Commit], VersionedTable.Commit,
        String) => Unit): Seq[Long] = {
    val vt = VersionedTable
    val baseLog = vt.commits(fsOps, baseRoot)
    require(baseLog.nonEmpty, s"no committed versions under $baseRoot")
    def tagOf(v: Long) = s"$tagPrefix-v-$v"
    val derivedOps = vt.commits(fsOps, derivedRoot).map(_.op)
    val consumed = derivedOps
      .collect { case op if op.startsWith(s"$tagPrefix-v-") =>
        op.stripPrefix(s"$tagPrefix-v-").toLong }
    val todo =
      if (consumed.isEmpty) {
        // bootstrap is decided by op tags, but the fold's state argument
        // by the derived log — a derived root holding FOREIGN (untagged)
        // commits would hand the CDC branch a state that never consumed
        // any base version: fail fast by name instead of folding onto an
        // unrelated table (or crashing later with an opaque plan error)
        require(derivedOps.isEmpty,
          s"$derivedRoot has no $tagPrefix-v-N commits but already " +
            s"holds ${derivedOps.size} foreign commit(s) " +
            s"(ops: ${derivedOps.take(5).mkString(", ")}) — refusing " +
            "to bootstrap onto an unrelated table; use a fresh derived " +
            "root")
        Seq(baseLog.last) // bootstrap at the latest
      } else baseLog.filter(_.version > consumed.max)
    val folded = Seq.newBuilder[Long]
    for (c <- todo) {
      // re-check against the FRESH derived log: an overlapping poll may
      // have folded this version after our poll-start snapshot (a
      // commit landing after THIS read is caught by the pinned commit)
      val derivedLog = vt.commits(fsOps, derivedRoot)
      if (derivedLog.exists(_.op == tagOf(c.version)))
        return folded.result()
      try commitOne(derivedLog, c, tagOf(c.version))
      catch {
        // a racing poll won the pinned commit: stop, it owns the rest
        case _: java.util.ConcurrentModificationException =>
          return folded.result()
      }
      folded += c.version
    }
    folded.result()
  }

  /** Fold every unconsumed version of `baseRoot` into `derivedRoot`.
    * `fold(state, commit)` produces the next derived snapshot from the
    * current derived state (None = bootstrap: nothing consumed yet) and
    * the base commit being consumed. Returns the base versions folded
    * by THIS call.
    *
    * CONTRACT on `fold`: the derivation must be SNAPSHOT-FUNCTIONAL —
    * bootstrap at version N followed by CDC folds must equal
    * bootstrapping at any later version directly (true for both users:
    * an aggregate view and a per-doc artifact table are pure functions
    * of the base snapshot). That licenses the bootstrap below to jump
    * straight to the LATEST base version: onboarding a 1000-version
    * table is ONE fold, not 999 CDC joins, and a corpus whose old
    * version data was vacuumed (the routine state for long-lived
    * tables) onboards fine — replaying from version 1 would fail on
    * the first vacuumed snapshot.
    */
  def catchUp(spark: SparkSession, fsOps: FsOps, baseRoot: String,
      derivedRoot: String, tagPrefix: String)(
      fold: (Option[DataFrame], VersionedTable.Commit) => DataFrame)
      : Seq[Long] =
    foldLoop(fsOps, baseRoot, derivedRoot, tagPrefix) {
        (derivedLog, c, tag) =>
      val state =
        if (derivedLog.isEmpty) None
        else Some(VersionedTable.readLatest(spark, fsOps, derivedRoot))
      val next = fold(state, c)
      VersionedTable.writeIf(next, fsOps, derivedRoot, ts = c.ts,
        expectedVersion = derivedLog.lastOption.map(_.version)
          .getOrElse(0L),
        op = tag)
    }

  /** What a bucketed fold produces for one consumed base version. */
  sealed trait FoldResult
  /** The complete next derived snapshot (bootstrap / re-anchor):
    * committed as a FULL bucketed write.
    */
  final case class Full(df: DataFrame) extends FoldResult
  /** The complete new content of exactly the `touched` buckets —
    * committed as a [[VersionedTable.writeBucketedDelta]], bytes
    * written ∝ touched buckets, untouched buckets carried by
    * reference.
    */
  final case class Delta(touchedContent: DataFrame, touched: Seq[Int])
      extends FoldResult

  /** Pruned access to the derived state for bucketed folds: a delta
    * fold reads ONLY the buckets its delta touches — fold input bytes
    * ∝ delta, the read-side half of the partition-aligned contract.
    */
  final class BucketedState private[catalog] (spark: SparkSession,
      fsOps: FsOps, root: String, version: Long) {
    def all: DataFrame =
      VersionedTable.readVersion(spark, fsOps, root, version)
    def buckets(bs: Seq[Int]): DataFrame =
      VersionedTable.readVersionBuckets(spark, fsOps, root, version, bs)
  }

  /** [[catchUp]] for a BUCKET-ALIGNED derived table: same exactly-once
    * op-tag + pinned-commit protocol, but the derived table lives in
    * the [[VersionedTable.writeBucketed]] layout and each incremental
    * fold returns either a [[Full]] snapshot (bootstrap) or a [[Delta]]
    * — only the touched buckets' content — committed with bytes
    * written ∝ delta. Periodic [[VersionedTable.compact]] re-anchors
    * the reference chain so vacuum can reclaim ancestor dirs.
    */
  def catchUpBucketed(spark: SparkSession, fsOps: FsOps,
      baseRoot: String, derivedRoot: String, tagPrefix: String,
      bucketBy: String, nBuckets: Int)(
      fold: (Option[BucketedState], VersionedTable.Commit) => FoldResult)
      : Seq[Long] =
    foldLoop(fsOps, baseRoot, derivedRoot, tagPrefix) {
        (derivedLog, c, tag) =>
      val vt = VersionedTable
      val state = derivedLog.lastOption.map { last =>
        // fail fast on bucket-config drift against the persisted state
        require(last.bucketCol.contains(bucketBy)
            && last.nBuckets.contains(nBuckets),
          s"derived table at $derivedRoot is bucketed as " +
            s"(${last.bucketCol.getOrElse("none")}, " +
            s"${last.nBuckets.getOrElse(0)}) but this poll requests " +
            s"($bucketBy, $nBuckets) — bucket config must stay fixed " +
            "(rebuild under a fresh derived root to change it)")
        new BucketedState(spark, fsOps, derivedRoot, last.version)
      }
      // pin to the state version THIS fold read (not whatever is latest
      // at commit time): a racing poll that committed in between must
      // conflict, or its folds would be silently reverted
      val read = derivedLog.lastOption.map(_.version).getOrElse(0L)
      fold(state, c) match {
        case Full(df) =>
          vt.writeLanded(df, fsOps, derivedRoot, c.ts, tag,
            vt.bucketed(fsOps, bucketBy, nBuckets, delta = None),
            pin = Some(read))
        case Delta(content, touched) =>
          vt.writeBucketedDelta(spark, fsOps, derivedRoot, ts = c.ts,
            content, touched, op = tag, expectedParentVersion = Some(read))
      }
    }
}
