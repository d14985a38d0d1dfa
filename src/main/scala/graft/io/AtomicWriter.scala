package graft.io

import graft.expr.{PartitionCriteria, SchemaOps}
import graft.fsops.FsOps
import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Transactional partitioned writes: write to a temp dir, back up the
  * affected partition dirs, move the new ones in, restore the backup on any
  * failure. This is the reference's core product semantics
  * (reference: src/main/scala/com/adidas/analytics/util/OutputWriter.scala:125-262,
  * util/HadoopLoadHelper.scala:178-239) — Spark's FileCommitProtocol gives
  * task/job atomicity for a single write, but not partition-level
  * backup/merge/restore across an existing table, so this choreography is
  * re-implemented (not copied) on the Hadoop FileSystem API.
  *
  * Scale notes: the data path is a single `df.write.partitionBy(...)` — fully
  * distributed, no driver materialization. Driver work is O(#affected
  * partitions) metadata renames, parallelized. Affected-partition discovery
  * is a `select(partitions).distinct` — a map-side-combined shuffle of the
  * partition columns only.
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

  /** Atomically install `df` into `targetDir` under the given load mode.
    *
    * `alsoReplace`: partition dir names (e.g. `p=p1`) that must be treated
    * as affected even when the incoming data has NO rows for them — a CDC
    * delta whose only content for a partition is deletions produces an
    * empty partition, which must still replace (i.e. remove) the existing
    * dir. Without it, deletion-only partitions silently survive.
    */
  def write(df: DataFrame, format: DataFormat, targetDir: String,
      mode: LoadMode, alsoReplace: Seq[String] = Seq.empty): Unit =
    mode match {
      case LoadMode.OverwriteTable => overwriteTable(df, format, targetDir)
      case _ => mergePartitions(df, format, targetDir, mode, alsoReplace)
    }

  /** Whole-table overwrite with rollback: new content lands in a temp
    * sibling; old content is backed up before the swap and restored on
    * failure (reference: OutputWriter.scala:112-123 + FullLoad.scala:47-76).
    */
  private def overwriteTable(df: DataFrame, format: DataFormat,
      targetDir: String): Unit = {
    val tmp = fsOps.timestampedDir(targetDir + "_tmp")
    val backup = fsOps.timestampedDir(targetDir + "_backup")
    try writeTo(df, format, tmp) catch {
      case e: Throwable => fsOps.deleteAll(tmp); throw e
    }
    val hadOld = fsOps.exists(targetDir)
    if (hadOld) fsOps.move(targetDir, backup)
    try {
      fsOps.move(tmp, targetDir)
      if (hadOld) fsOps.deleteAll(backup)
    } catch {
      case e: Throwable =>
        if (hadOld && !fsOps.exists(targetDir)) fsOps.move(backup, targetDir)
        fsOps.deleteAll(tmp)
        throw e
    }
  }

  /** Partition-level merge path for the four partition load modes. */
  private def mergePartitions(df: DataFrame, format: DataFormat,
      targetDir: String, mode: LoadMode,
      alsoReplace: Seq[String] = Seq.empty): Unit = {
    require(targetPartitions.nonEmpty,
      s"$mode requires target partitions")
    val spark = df.sparkSession

    // Merge with existing partition content when the mode asks for it.
    val existing: Option[DataFrame] =
      if (fsOps.exists(targetDir) &&
          fsOps.ls(targetDir).exists(_.contains("=")))
        Some(format.read(spark, Map("basePath" -> targetDir), None,
          targetDir))
      else None

    val toWrite: DataFrame = (mode, existing) match {
      case (LoadMode.OverwritePartitions, _) => df
      case (LoadMode.OverwritePartitionsWithAddedColumns, Some(ex)) =>
        SchemaOps.addMissingColumns(df, ex.schema)
      case (LoadMode.OverwritePartitionsWithAddedColumns, None) => df
      case (LoadMode.AppendUnionPartitions, Some(ex)) =>
        // only the partitions present in df participate
        val affected = affectedFilter(df)
        df.unionByName(ex.filter(affected), allowMissingColumns = true)
      case (LoadMode.AppendUnionPartitions, None) => df
      case (LoadMode.AppendJoinPartitions, Some(ex)) =>
        val affected = affectedFilter(df)
        val common = df.columns.intersect(ex.columns).toSeq
        df.join(ex.filter(affected), common, "full_outer")
      case (LoadMode.AppendJoinPartitions, None) => df
      case other => throw new IllegalStateException(other.toString)
    }

    val tmp = fsOps.timestampedDir(targetDir + "_tmp")
    val backup = fsOps.timestampedDir(targetDir + "_backup")
    try writeTo(toWrite, format, tmp) catch {
      case e: Throwable => fsOps.deleteAll(tmp); throw e
    }
    val written = partitionDirsIn(tmp)
    // deletion-only partitions: affected but with zero surviving rows —
    // their old content must go even though tmp has no dir for them
    val emptied = alsoReplace.filterNot(written.contains)
      .filter(p => fsOps.exists(s"$targetDir/$p"))
    val parts = written ++ emptied
    val backedUp = parts.filter(p => fsOps.exists(s"$targetDir/$p"))
    try {
      backedUp.foreach(p => fsOps.move(s"$targetDir/$p", s"$backup/$p"))
      written.foreach(p => fsOps.move(s"$tmp/$p", s"$targetDir/$p"))
      fsOps.deleteAll(tmp)
      fsOps.deleteAll(backup)
    } catch {
      case e: Throwable =>
        // roll back to the pre-write state: newly installed partitions that
        // had no previous content are removed; backed-up ones are restored
        written.filterNot(backedUp.contains)
          .foreach(p => fsOps.deleteAll(s"$targetDir/$p"))
        backedUp.foreach { p =>
          if (fsOps.exists(s"$backup/$p")) {
            fsOps.deleteAll(s"$targetDir/$p")
            fsOps.move(s"$backup/$p", s"$targetDir/$p")
          }
        }
        fsOps.deleteAll(tmp)
        fsOps.deleteAll(backup)
        throw e
    }
  }

  /** OR-of-ANDs filter selecting the partitions present in df. */
  private def affectedFilter(df: DataFrame): Column =
    PartitionCriteria.toColumn(PartitionCriteria.present(df, targetPartitions))
}
