package graft.io

import graft.expr.{PartitionCriteria, SchemaOps}
import graft.fsops.FsOps
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

import scala.util.control.NonFatal

/** Transactional partitioned writes: write to a temp dir, back up the
  * affected partition dirs, move the new ones in, restore the backup on any
  * failure. This is the reference's core product semantics
  * (reference: src/main/scala/com/adidas/analytics/util/OutputWriter.scala:125-262,
  * util/HadoopLoadHelper.scala:178-239) — Spark's FileCommitProtocol gives
  * task/job atomicity for a single write, but not partition-level
  * backup/merge/restore across an existing table, so this choreography is
  * re-implemented (not copied) on the Hadoop FileSystem API.
  *
  * Every directory swap in graft — both write modes here and
  * [[graft.catalog.CatalogOps.compactPartitions]] — goes through one
  * routine, [[AtomicWriter.install]], with ONE commit point: its last
  * move. A write that throws has changed nothing; once that move is done
  * the write has happened, and leftover temp or backup trees (always
  * siblings of the target, never inside it) are only untidiness. So a
  * failed append-mode load can be re-run without duplicating rows.
  *
  * Scale notes: the data path is a single `df.write.partitionBy(...)` — fully
  * distributed, no driver materialization. Driver work is O(#affected
  * partitions) metadata renames. The affected partitions are the dirs the
  * temp write produced, listed — no extra Spark job.
  */
class AtomicWriter(fsOps: FsOps, targetPartitions: Seq[String] = Seq.empty,
    outputFilesNum: Option[Int] = None) {

  /** Repartition before write: align shuffle with partition dirs so each
    * dir is written by few tasks (reference: algo/Materialization.scala:74-87),
    * or cap file count for unpartitioned output
    * (reference: algo/core/Algorithm.scala:136-158).
    */
  private def arranged(df: DataFrame): DataFrame =
    (targetPartitions, outputFilesNum) match {
      case (ps, Some(n)) if ps.nonEmpty => df.repartition(n, ps.map(col): _*)
      case (ps, None) if ps.nonEmpty => df.repartition(ps.map(col): _*)
      case (_, Some(n)) => df.repartition(n)
      case _ => df
    }

  private def writeTo(df: DataFrame, format: DataFormat, dir: String): Unit = {
    val w0 = arranged(df).write.mode(SaveMode.Overwrite)
    val w = if (targetPartitions.nonEmpty)
      w0.partitionBy(targetPartitions: _*) else w0
    format.write(w, dir)
  }

  /** Hive-style partition dir paths (e.g. `year=2024/month=6`) present in
    * the written temp dir — derived from the produced files, so exactly the
    * affected partitions are touched.
    */
  private def partitionDirsIn(dir: String): Seq[String] = {
    def walk(prefix: String, depth: Int): Seq[String] =
      if (depth == 0) Seq(prefix)
      else fsOps.ls(s"$dir/$prefix").filter(_.contains("="))
        .flatMap(c => walk(if (prefix.isEmpty) c else s"$prefix/$c", depth - 1))
    walk("", targetPartitions.size)
  }

  /** Atomically install `df` into `targetDir` under the given load mode,
    * and return the partition dirs it installed (none for OverwriteTable).
    *
    * `alsoReplace`: partition dir names (e.g. `p=p1`) that must be treated
    * as affected even when the incoming data has NO rows for them — a CDC
    * delta whose only content for a partition is deletions produces an
    * empty partition, which must still replace (i.e. remove) the existing
    * dir. Without it, deletion-only partitions silently survive.
    */
  def write(df: DataFrame, format: DataFormat, targetDir: String,
      mode: LoadMode, alsoReplace: Seq[String] = Seq.empty): Seq[String] = {
    val whole = mode == LoadMode.OverwriteTable
    require(whole || targetPartitions.nonEmpty,
      s"$mode requires target partitions")
    val tmp = fsOps.timestampedDir(targetDir + "_tmp")
    AtomicWriter.land(fsOps, tmp)(writeTo(
      if (whole) df else merged(df, format, targetDir, mode), format, tmp))
    val (units, emptied) =
      if (whole) (Seq(""), Nil)
      else {
        val written = partitionDirsIn(tmp)
        (written, alsoReplace.filterNot(written.contains))
      }
    AtomicWriter.install(fsOps, tmp, targetDir, units, emptied)
    units.filter(_.nonEmpty)
  }

  /** The incoming frame merged with the existing content the mode asks
    * for. The existing table is read only by the modes that use it: the
    * read runs parquet schema inference as a Spark job.
    */
  private def merged(df: DataFrame, format: DataFormat, targetDir: String,
      mode: LoadMode): DataFrame = {
    lazy val existing: Option[DataFrame] =
      if (fsOps.ls(targetDir).exists(_.contains("=")))
        Some(format.read(df.sparkSession, Map("basePath" -> targetDir), None,
          targetDir))
      else None
    mode match {
      case LoadMode.OverwritePartitions => df
      case LoadMode.OverwritePartitionsWithAddedColumns =>
        existing.fold(df)(ex => SchemaOps.addMissingColumns(df, ex.schema))
      case LoadMode.AppendUnionPartitions =>
        // only the partitions present in df participate
        existing.fold(df)(ex => df.unionByName(ex.filter(affectedFilter(df)),
          allowMissingColumns = true))
      case LoadMode.AppendJoinPartitions =>
        existing.fold(df) { ex =>
          val common = df.columns.intersect(ex.columns).toSeq
          df.join(ex.filter(affectedFilter(df)), common, "full_outer")
        }
      case other => throw new IllegalStateException(other.toString)
    }
  }

  /** OR-of-ANDs filter selecting the partitions present in df. */
  private def affectedFilter(df: DataFrame): Column =
    PartitionCriteria.toColumn(PartitionCriteria.present(df, targetPartitions))
}

object AtomicWriter {

  /** Run `body`, which lands new content under the temp tree `tmp`; if it
    * throws, drop whatever it left there and rethrow.
    */
  private[graft] def land(fsOps: FsOps, tmp: String)(body: => Unit): Unit =
    try body catch {
      case e: Throwable =>
        try fsOps.deleteAll(tmp) catch { case NonFatal(d) => e.addSuppressed(d) }
        throw e
    }

  /** The one directory swap. `units` are paths relative to both `tmp` and
    * `target` (`""` is the whole dir); `emptied` are units of `target` to
    * remove without a replacement. Every existing unit of either list moves
    * into a backup tree beside `target`, then each unit of `tmp` moves in.
    *
    * The commit point is the last of those moves. A failure before it
    * puts every unit of `target` back as it was (installed units removed,
    * backups moved back; a target that did not exist is removed) and
    * rethrows, with any restore failure attached as suppressed;
    * the backup tree is kept when the restore did not complete. After it,
    * removing `tmp` and the backup tree is cleanup: it never rolls back and
    * never fails the write.
    */
  private[graft] def install(fsOps: FsOps, tmp: String, target: String,
      units: Seq[String], emptied: Seq[String]): Unit = {
    def at(root: String, u: String) = if (u.isEmpty) root else s"$root/$u"
    def quietly(step: => Unit): Unit = try step catch { case NonFatal(_) => }
    val backup = fsOps.timestampedDir(target + "_backup")
    val existed = fsOps.exists(target)
    val olds = if (!existed) Nil
      else (units ++ emptied).filter(u => u.isEmpty || fsOps.exists(at(target, u)))
    var backedUp = List.empty[String]
    var installing = List.empty[String]
    try {
      olds.foreach { u =>
        fsOps.move(at(target, u), at(backup, u)); backedUp ::= u
      }
      units.foreach { u =>
        installing ::= u; fsOps.move(at(tmp, u), at(target, u))
      }
    } catch {
      case e: Throwable =>
        var restored = true
        def restore(step: => Unit): Unit =
          try step catch { case NonFatal(r) => restored = false; e.addSuppressed(r) }
        if (!existed) restore(fsOps.deleteAll(target))
        else {
          installing.foreach(u => restore(fsOps.deleteAll(at(target, u))))
          backedUp.foreach(u => restore(fsOps.move(at(backup, u), at(target, u))))
        }
        quietly(fsOps.deleteAll(tmp))
        if (restored && backedUp.nonEmpty) quietly(fsOps.deleteAll(backup))
        throw e
    }
    // a whole-dir install moved `tmp` itself
    if (!units.contains("")) quietly(fsOps.deleteAll(tmp))
    if (backedUp.nonEmpty) quietly(fsOps.deleteAll(backup))
  }
}
