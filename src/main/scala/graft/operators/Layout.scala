package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout operators — the data-organization half of the 100 TB
  * story: how a corpus is WRITTEN decides what every later job pays.
  * Two regimes:
  *
  *  - [[writeBucketed]]: hash-cluster by join key at write time so the
  *    recurring joins/aggregations on that key (dedup artifacts by
  *    digest, scores by doc_id, events by user) run with NO exchange at
  *    all — the shuffle is paid once at landing, then amortized over
  *    every downstream job (spec: a join of two co-bucketed tables plans
  *    zero Exchange operators).
  *  - [[writeSorted]]: range-cluster by a filter key so files carry
  *    DISJOINT min/max ranges — parquet footer stats then let a range
  *    predicate skip whole files/row-groups (spec: per-file ranges are
  *    pairwise disjoint, and the range filter is pushed to the scan).
  */
object Layout {

  /** Write `df` as a bucketed (and optionally per-bucket sorted) catalog
    * table. Spark bucketing lives in table metadata, so this goes through
    * `saveAsTable` — the path-only `parquet(path)` writer cannot carry
    * bucket specs. `SaveMode.Overwrite` keeps same-session reruns
    * idempotent; pass `path` to land an EXTERNAL table at an explicit
    * location (a managed table's warehouse directory survives the session
    * whose catalog knew about it, and a later session then cannot
    * saveAsTable over the orphaned location — LOCATION_ALREADY_EXISTS).
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Seq.empty,
      path: Option[String] = None): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
    val w0 = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val w = path.fold(w0)(p => w0.option("path", p))
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
      else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Range-sorted parquet export: `repartitionByRange` gives each output
    * file an id-contiguous slice (sampled range boundaries — no global
    * single-task sort), `sortWithinPartitions` orders rows inside it, so
    * file-level parquet min/max stats are pairwise disjoint and range
    * predicates skip whole files.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
      numFiles: Int): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    shaped(df, sortCol, numFiles)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** [[writeSorted]] through the atomic landing choreography
    * ([[graft.io.AtomicWriter]]: temp-dir write → backup → swap →
    * restore-on-failure) — a mid-write failure never leaves `path`
    * half-replaced. The writer passes an unpartitioned, uncapped frame
    * through untouched, so the range clustering and the in-file order
    * land intact (spec-verified: per-file ranges stay disjoint).
    */
  def writeSortedSafe(df: DataFrame, fsOps: graft.fsops.FsOps,
      path: String, sortCol: String, numFiles: Int): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    new graft.io.AtomicWriter(fsOps, Seq.empty, None)
      .write(shaped(df, sortCol, numFiles), graft.io.DataFormat.Parquet,
        path, graft.io.LoadMode.OverwriteTable)
  }

  private def shaped(df: DataFrame, sortCol: String,
      numFiles: Int): DataFrame =
    df.repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(col(sortCol))

  /** Build the data-skipping manifest for a landed parquet directory
    * from the FILE FOOTERS alone — per file, each tracked long column's
    * (min, max) over its row groups plus the row count: O(numFiles)
    * driver-side footer opens (parameter-bounded, no data pages read),
    * not a second O(rows) pass over data the caller just wrote. Columns
    * map to manifest names via `prefix` ("" → lo/hi, "x" → xlo/xhi).
    * The manifest lands through the ATOMIC writer (temp → swap →
    * restore-on-failure); it is DERIVED state — if a crash ever leaves
    * it out of step with the data directory, rerunning this rebuilds it
    * from the footers. Returns the directory's total row count.
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession,
      path: String, cols: Seq[(String, String)],
      manifestPath: String): Long = {
    require(cols.nonEmpty, "at least one manifest column")
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val parts = fs.listStatus(new HPath(path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val rows = parts.map { st =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(st.getPath, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val nRows = blocks.map(_.getRowCount).sum
        val bounds = cols.flatMap { case (c, _) =>
          val chunks = blocks.flatMap(_.getColumns.asScala)
            .filter(_.getPath.toDotString == c)
          val stats = chunks.map(_.getStatistics)
          require(stats.nonEmpty && stats.forall(s =>
            s != null && s.hasNonNullValue),
            s"no footer statistics for $c in ${st.getPath}")
          def asLong(v: Comparable[_]): Long = v match {
            case l: java.lang.Long    => l.longValue()
            case i: java.lang.Integer => i.longValue()
            case other => throw new IllegalArgumentException(
              s"manifest column $c must be integer-typed, got: $other")
          }
          Seq(stats.map(s => asLong(s.genericGetMin())).min,
            stats.map(s => asLong(s.genericGetMax())).max)
        }
        org.apache.spark.sql.Row.fromSeq(
          st.getPath.toString +: bounds :+ nRows)
      } finally reader.close()
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("file",
        org.apache.spark.sql.types.StringType) +:
        cols.flatMap { case (_, p) => Seq(
          org.apache.spark.sql.types.StructField(s"${p}lo",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField(s"${p}hi",
            org.apache.spark.sql.types.LongType)) } :+
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType))
    val manifest = spark.createDataFrame(
      new java.util.ArrayList(rows.asJava), schema).coalesce(1)
    new graft.io.AtomicWriter(
      new graft.fsops.FsOps(conf), Seq.empty, None)
      .write(manifest, graft.io.DataFormat.Parquet, manifestPath,
        graft.io.LoadMode.OverwriteTable)
    rows.map(_.getLong(1 + 2 * cols.size)).sum
  }

  /** [[writeSorted]] plus the 1-D data-skipping manifest (file, lo, hi,
    * n_rows) — the file-level min/max index a lakehouse table format
    * keeps in metadata, externalized as a tiny parquet a reader can
    * consult before opening any footer. Returns the rows written.
    */
  def writeSortedWithManifest(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, path: String, sortCol: String, numFiles: Int,
      manifestPath: String): Long = {
    writeSorted(df, path, sortCol, numFiles)
    writeManifest(spark, path, Seq(sortCol -> ""), manifestPath)
  }

  /** Hadoop path strings go through glob expansion on read — escape the
    * metacharacters so a data directory named `run[1]` (or a file a
    * manifest recorded verbatim) resolves literally.
    */
  private def escapeGlob(p: String): String =
    p.flatMap {
      case c @ ('*' | '?' | '[' | ']' | '{' | '}' | '\\') => s"\\$c"
      case c => c.toString
    }

  /** Generic manifest-pruned read: files whose recorded ranges overlap
    * EVERY requested closed range (`(prefix, lo, hi)` per manifest
    * dimension) are selected DRIVER-SIDE (numFiles-bounded collect —
    * the repo's parameter-bounded-collect discipline), only those files
    * are read (glob-escaped), and the exact predicates filter the
    * survivors. With the disjoint ranges [[writeSorted]] produces, read
    * volume is |matching rows| + at most two boundary files, independent
    * of table size — the point of the layout at 100 TB.
    */
  def readPrunedMulti(spark: org.apache.spark.sql.SparkSession,
      path: String, manifestPath: String,
      preds: Seq[(String, String, Long, Long)]): DataFrame = {
    require(preds.nonEmpty, "at least one prune predicate")
    val sel = preds.map { case (_, p, lo, hi) =>
      col(s"${p}lo") <= hi && col(s"${p}hi") >= lo }.reduce(_ && _)
    val files = spark.read.parquet(manifestPath).filter(sel)
      .select(col("file")).collect().map(_.getString(0))
    val base =
      if (files.isEmpty) spark.read.parquet(path).filter(lit(false))
      else spark.read.parquet(files.toIndexedSeq.map(escapeGlob): _*)
    base.filter(preds.map { case (c, _, lo, hi) =>
      col(c) >= lo && col(c) <= hi }.reduce(_ && _))
  }

  /** 1-D face of [[readPrunedMulti]]. */
  def readPruned(spark: org.apache.spark.sql.SparkSession, path: String,
      manifestPath: String, sortCol: String, lo: Long, hi: Long)
      : DataFrame =
    readPrunedMulti(spark, path, manifestPath, Seq((sortCol, "", lo, hi)))

  /** Z-value of two dimensions: interleave the low `bits` bits of each
    * (x bit i → position 2i, y bit i → 2i+1), the Morton curve. Sorting
    * by it clusters BOTH dimensions at once — each output file covers a
    * rectangle of (x, y) space, so parquet min/max stats skip files for
    * predicates on EITHER column (a single-column sort buys skipping on
    * that column only; the Delta OPTIMIZE ZORDER trade). Inputs are
    * masked to `bits` (callers bucketize wider domains first); the
    * unrolled or/shift chain is all built-ins, inside whole-stage
    * codegen.
    */
  def zValue(x: org.apache.spark.sql.Column,
      y: org.apache.spark.sql.Column, bits: Int = 16):
      org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(x.cast("long").bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(y.cast("long").bitwiseAND(lit(1L << i)),
          i + 1))
    }
  }

  /** The SQL mirror of [[zValue]] — the identical unrolled bit chain, so
    * an external engine reproduces the exact z-values.
    */
  def zValueSql(x: String, y: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31]: $bits")
    (0 until bits).flatMap(i => Seq(
      s"(($x & ${1L << i}) << $i)",
      s"(($y & ${1L << i}) << ${i + 1})")).mkString(" | ")
  }

  /** Z-ordered parquet export: range-cluster by the interleaved z-value
    * (sampled boundaries — no global sort), order rows inside each file,
    * drop the working column. Files then cover (x, y) rectangles and
    * predicates on either column skip non-overlapping files via footer
    * stats.
    */
  def writeZOrdered(df: DataFrame, path: String, xCol: String,
      yCol: String, bits: Int, numFiles: Int): Unit = {
    require(numFiles > 0, s"numFiles must be positive: $numFiles")
    var z = "__z"
    while (df.columns.contains(z)) z += "_"
    df.withColumn(z, zValue(col(s"`$xCol`"), col(s"`$yCol`"), bits))
      .repartitionByRange(numFiles, col(z))
      .sortWithinPartitions(col(z))
      .drop(z)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** [[writeZOrdered]] plus the TWO-dimensional data-skipping manifest:
    * each file's bounding rectangle (xlo, xhi, ylo, yhi, n_rows) — the
    * z-layout makes those rectangles small, which is what gives a
    * rectangle query its pruning power on BOTH axes at once. Returns the
    * rows written.
    */
  def writeZOrderedWithManifest(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, path: String, xCol: String, yCol: String, bits: Int,
      numFiles: Int, manifestPath: String): Long = {
    writeZOrdered(df, path, xCol, yCol, bits, numFiles)
    writeManifest(spark, path, Seq(xCol -> "x", yCol -> "y"), manifestPath)
  }

  /** Rectangle face of [[readPrunedMulti]]: prune on both axes at once. */
  def readPrunedRect(spark: org.apache.spark.sql.SparkSession,
      path: String, manifestPath: String, xCol: String, yCol: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame =
    readPrunedMulti(spark, path, manifestPath,
      Seq((xCol, "x", xLo, xHi), (yCol, "y", yLo, yHi)))
}
