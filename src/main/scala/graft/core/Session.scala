package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with scale-aware defaults.
  *
  * The reference builds its session in AlgorithmFactory.main
  * (reference: src/main/scala/com/adidas/analytics/AlgorithmFactory.scala:34-55):
  * Hive support, CBO, snappy parquet, legacy parquet format. We keep the
  * performance-relevant choices (CBO, snappy, partition-type-inference off for
  * stable `year=2024` string dirs) and add Spark-4 era defaults: AQE on
  * (runtime shuffle coalescing + skew-join splitting — this is what makes the
  * same plan survive a 100x scale-up), shuffle partitions sized to the
  * machine rather than the 200 default.
  */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `hive = true` backs the catalog with a Hive metastore (Derby-embedded
    * unless hive-site says otherwise) — the reference always runs this way
    * (AlgorithmFactory.scala:34-55: enableHiveSupport); required for the
    * CREATE TABLE .. LIKE swap DDL and Hive-compatible DDL behaviors.
    */
  def builder(appName: String = "graft",
      hive: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // some driver data generations carry TIMESTAMP(NANOS) parquet, which
      // Spark 4 rejects by default; read as long and convert in
      // Tables.normalizeEventTs (µs generations pass through untouched)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // without this, DROPMALFORMED + an action that prunes all columns
      // (count) never parses the row and silently keeps malformed records —
      // same workaround the reference ships (AlgorithmFactory.scala:46-51);
      // verified still needed on Spark 4 by DataFormatSpec
      .config("spark.sql.csv.parser.columnPruning.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (hive) b.enableHiveSupport() else b
  }

  /** local[cpus] session for the CLI mains (Bench, Verify, Measure):
    * pre-ANSI lenient casts (the reference semantics), WARN logging.
    */
  def local(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).master(s"local[$cpus]")
      .config("spark.sql.ansi.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
