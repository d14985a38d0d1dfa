package graft.algos

import graft.core.Algorithm
import graft.expr.{DateComponents, PartitionCriteria, SchemaOps}
import graft.fsops.FsOps
import graft.io.{AtomicWriter, DataFormat, LoadMode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** DeltaLakeLoad semantics without the delta-core dependency: a
  * system-of-record directory is merged (upsert + delete) with new data and
  * a downstream consumer table is refreshed with the affected partitions.
  *
  * Merge rules per reference: src/main/scala/com/adidas/analytics/algo/loads/DeltaLakeLoad.scala:128-283:
  *  - match on business key;
  *  - matched + recordmode ∈ recordsToDelete → delete;
  *  - matched otherwise → update all columns (schema auto-merge: new
  *    columns from the delta survive);
  *  - not matched and not a deletion → insert.
  *  - merge is scoped to affected partitions, including the forced
  *    null-partition spec 9999/99 for unstable partition values
  *    (reference: DeltaLakeLoad.scala:231-252).
  *
  * Implementation: target.filter(affected) anti-join condensed-delta on the
  * business key, union surviving upserts — the same algebra as [[DeltaMerge]]
  * but with date-partition derivation and schema evolution, then an atomic
  * partition rewrite. No full-outer row resolver is needed because
  * condensation already picked the winning row per key.
  */
case class DeltaMergeLoadParams(
    targetDir: String,
    deltaDir: String,
    format: DataFormat,
    businessKey: Seq[String],
    technicalKey: Seq[String],
    recordModeCol: String = "recordmode",
    recordsToDelete: Seq[String] = Seq("R", "D", "X"),
    partitionSourceColumn: Option[String] = None,
    partitionSourceFormat: String = "yyyyMMdd",
    targetPartitions: Seq[String] = Seq.empty,
    isInit: Boolean = false,
    readerOptions: Map[String, String] = Map.empty)

class DeltaMergeLoad(val spark: SparkSession, fsOps: FsOps,
    p: DeltaMergeLoadParams) extends Algorithm {

  /** Affected partition dirs (see DeltaLoad: deletion-only partitions must
    * still be replaced on write).
    */
  private var affectedPartitionDirs: Seq[String] = Seq.empty

  override def read(): Vector[DataFrame] = Vector(
    SchemaOps.lowercaseColumns(
      p.format.read(spark, p.readerOptions, None, p.deltaDir)))

  override def transform(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    val withParts = p.partitionSourceColumn match {
      case Some(src) if p.targetPartitions.nonEmpty =>
        DateComponents.withComponents(dfs.head, src, p.partitionSourceFormat,
          p.targetPartitions)
      case _ => dfs.head
    }
    val delta = withParts.persist(StorageLevel.MEMORY_AND_DISK)

    val targetExists = fsOps.exists(p.targetDir) &&
      fsOps.listFilesRecursive(p.targetDir).exists(_.endsWith(".parquet"))

    val condensed = DeltaMerge.condense(delta, p.businessKey, p.technicalKey,
      Some(p.recordModeCol), initOrder = p.isInit)
    val keep = !col(p.recordModeCol).isin(p.recordsToDelete: _*) ||
      col(p.recordModeCol).isNull

    if (!targetExists) Vector(condensed.filter(keep))
    else {
      val target = DataFormat.Parquet.read(spark,
        Map("basePath" -> p.targetDir), None, p.targetDir)
      // affected partitions = those of the delta, plus the sentinel spec for
      // unstable/null partition values
      val scoped =
        if (p.targetPartitions.isEmpty) target
        else {
          val parts = PartitionCriteria.present(delta, p.targetPartitions)
          affectedPartitionDirs = PartitionCriteria.dirNames(parts)
          val sentinel = p.targetPartitions.map(c =>
            (c, if (c == "year") DateComponents.SentinelYear
                else DateComponents.SentinelPart): (String, Any))
          target.filter(PartitionCriteria.toColumn(parts :+ sentinel))
        }
      // schema auto-merge: target rows gain null for new delta columns
      val evolved = SchemaOps.addMissingColumns(scoped,
        condensed.drop(p.recordModeCol).schema)
      Vector(DeltaMerge.merge(evolved, condensed, p.businessKey, keep))
    }
  }

  override def write(dfs: Vector[DataFrame]): Vector[DataFrame] = {
    val mode = if (p.targetPartitions.isEmpty) LoadMode.OverwriteTable
      else LoadMode.OverwritePartitionsWithAddedColumns
    val writer = new AtomicWriter(fsOps, p.targetPartitions, None)
    dfs.foreach { df =>
      writer.write(df.drop(p.recordModeCol), DataFormat.Parquet,
        p.targetDir, mode, alsoReplace = affectedPartitionDirs)
    }
    dfs
  }
}
