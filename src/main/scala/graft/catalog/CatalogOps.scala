package graft.catalog

import graft.io.AtomicWriter
import org.apache.spark.sql.SparkSession

import scala.concurrent.duration.{Duration, DurationInt, FiniteDuration}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Try}

/** Catalog/DDL surface (reference: src/main/scala/com/adidas/analytics/util/CatalogTableManager.scala,
  * util/RecoverPartitionsNative.scala, util/RecoverPartitionsCustom.scala,
  * algo/core/TableStatistics.scala). Thin `spark.sql`/`spark.catalog`
  * wrappers — the semantics live in the metastore.
  */
object CatalogOps {

  /** DESCRIBE FORMATTED is a metastore round-trip (a Derby/Thrift RPC, not
    * a Spark job) that algorithm write paths issue repeatedly for the same
    * table within one run; locations only change through [[setTableLocation]]
    * below, so a per-table cache with explicit invalidation is safe.
    * Keyed by session too — tests run several sessions per JVM.
    */
  // weak session keys: a static strong map would pin every test/CLI
  // session (and its cached tables) against GC for the JVM's lifetime
  private val locationCache =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, String]]()

  private def perSession(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, String] =
    locationCache.synchronized {
      var m = locationCache.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, String]()
        locationCache.put(spark, m)
      }
      m
    }

  /** Cache entries are keyed by the catalog-qualified name, not the raw
    * string the caller passed: `t` and `db.t` must hit the same entry, and
    * an unqualified name must not survive a `USE other_db` in between
    * (a stale hit here would let writeToTableLocation install data at the
    * wrong path).
    */
  private def qualifiedName(spark: SparkSession, table: String): String = {
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    val full =
      if (parts.length == 1) spark.catalog.currentDatabase +: parts else parts
    full.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(".")
  }

  private[catalog] def invalidateLocation(spark: SparkSession,
      table: String): Unit =
    perSession(spark).remove(qualifiedName(spark, table))

  def tableLocation(spark: SparkSession, table: String): String =
    perSession(spark).computeIfAbsent(qualifiedName(spark, table), { _ =>
      spark.sql(s"DESCRIBE FORMATTED $table").collect()
        .find(r => Option(r.getString(0)).exists(_.trim.equalsIgnoreCase("Location")))
        .map(_.getString(1).trim)
        .getOrElse(throw new IllegalStateException(s"no location for $table"))
    })

  def setTableLocation(spark: SparkSession, table: String,
      location: String): Unit = {
    invalidateLocation(spark, table)
    spark.sql(s"ALTER TABLE $table SET LOCATION '$location'")
  }

  /** Native partition recovery (reference: RecoverPartitionsNative.scala:11-13). */
  def recoverPartitionsNative(spark: SparkSession, table: String): Unit =
    spark.catalog.recoverPartitions(table)

  /** "Custom" recovery: generated ALTER TABLE ADD IF NOT EXISTS PARTITION
    * statements from the distinct partition values of the just-written data
    * (reference: RecoverPartitionsCustom.scala:23-31).
    */
  def recoverPartitionsCustom(spark: SparkSession, table: String,
      partitionValues: Seq[Seq[(String, Any)]]): Unit =
    partitionValues.foreach { spec =>
      val specSql = spec.map { case (c, v) =>
        v match {
          case s: String => s"$c='${s.replace("'", "''")}'"
          case other => s"$c=$other"
        }
      }.mkString(", ")
      spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION ($specSql)")
    }

  def refresh(spark: SparkSession, table: String): Unit =
    spark.catalog.refreshTable(table)

  /** Run `f` over `items` on a bounded thread pool, waiting for ALL to
    * finish (so no rewrite is abandoned mid-flight), then rethrowing the
    * first failure with the rest attached as suppressed (a multi-partition
    * compaction failing in several partitions reports every error, not
    * just one). Spark job submission is thread-safe; per-item work (a
    * partition rewrite, an ANALYZE, one archive's decompression) is
    * independent, so concurrency is bounded only to keep the scheduler and
    * the FileSystem from flooding.
    *
    * The wait is BOUNDED (`timeout`, shared across all items — reference
    * precedent: its decompression pool awaits at most 4 h,
    * algo/GzipDecompressor.scala:86): one hung rewrite or copy must not
    * stall a run forever. On timeout the thrown TimeoutException names
    * the stuck item and in-flight threads are interrupted.
    */
  private[graft] def runConcurrently[A](items: Seq[A], maxConcurrent: Int,
      timeout: FiniteDuration = 4.hours)(f: A => Unit): Unit =
    if (items.size <= 1 || maxConcurrent <= 1) items.foreach(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(maxConcurrent, items.size))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      try {
        val futures = items.map(a => a -> Future(Try(f(a))))
        val deadline = timeout.fromNow
        val outcomes = futures.map { case (item, fut) =>
          try Await.result(fut, deadline.timeLeft.max(Duration.Zero))
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new java.util.concurrent.TimeoutException(
                s"concurrent task for '$item' still running after " +
                  s"$timeout - aborting the wait (increase the timeout " +
                  "for genuinely long rewrites)")
          }
        }
        val failures = outcomes.collect { case Failure(e) => e }
        failures.headOption.foreach { first =>
          failures.drop(1).foreach(first.addSuppressed)
          throw first
        }
      } finally pool.shutdownNow()
    }

  /** Compact the given partitions to a controlled file count — the native
    * equivalent of the reference's Delta compaction (reference:
    * algo/loads/DeltaLakeLoad.scala:309-352: rewrite affected partitions
    * with dataChange=false); content is unchanged.
    *
    * Partitions are rewritten CONCURRENTLY (bounded by
    * `maxConcurrent`): each rewrite is one small Spark job landing under
    * one temp tree beside the table root, so a full-table compaction over
    * thousands of partitions is wall-clock-bounded by the largest
    * partition. One [[graft.io.AtomicWriter.install]] then swaps them all
    * in: the install is all-or-nothing across the given partitions, not
    * per partition, and a reader never sees a staging dir as a partition.
    */
  def compactPartitions(spark: SparkSession, fsOps: graft.fsops.FsOps,
      tableDir: String, partitionDirs: Seq[String],
      filesPerPartition: Int, maxConcurrent: Int = 8,
      timeout: FiniteDuration = 4.hours): Unit = {
    val tmp = fsOps.timestampedDir(tableDir + "_compact")
    AtomicWriter.land(fsOps, tmp)(
      runConcurrently(partitionDirs, maxConcurrent, timeout) { p =>
        spark.read.parquet(s"$tableDir/$p").repartition(filesPerPartition)
          .write.parquet(s"$tmp/$p")
      })
    AtomicWriter.install(fsOps, tmp, tableDir, partitionDirs, Nil)
  }

  /** ANALYZE statistics, whole-table and optionally per partition
    * (reference: TableStatistics.scala:22-123). Feeds Spark CBO.
    * Per-partition ANALYZE jobs are tiny and independent — they run on the
    * same bounded pool as [[compactPartitions]] instead of a serial loop.
    */
  def computeStatistics(spark: SparkSession, table: String,
      perPartition: Boolean = false,
      partitionColumns: Seq[String] = Seq.empty,
      maxConcurrent: Int = 8): Unit = {
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    if (perPartition && partitionColumns.nonEmpty) {
      val parts = spark.sql(s"SHOW PARTITIONS $table").collect()
        .map(_.getString(0))
      runConcurrently(parts.toSeq, maxConcurrent) { p =>
        val spec = p.split("/").map { kv =>
          val Array(k, v) = kv.split("=", 2)
          s"$k='$v'"
        }.mkString(", ")
        spark.sql(s"ANALYZE TABLE $table PARTITION ($spec) COMPUTE STATISTICS")
      }
    }
  }
}
