package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.VersionedTable
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** acon_jobs: one client runs a serial chain of small JobRunner jobs (the
  * reference's load family, the three materializations, the reshaping
  * jobs, SQLRunner, a versioned table's write/merge/fold/compact/vacuum/
  * read jobs and the q76-shaped curation chain), then reads back what
  * they landed. Per-job fixed cost dominates: params decoding,
  * dispatch, Catalyst planning, job scheduling and the commit steps.
  */
final class Acon extends Workload {
  private val Job = Set("job", "commit")
  private val Step = Set("job", "commit", "step")
  private val Fold = Set("job", "step")
  private val VtRead = Set("job", "read")
  private val salesSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("date", StringType),
    StructField("name", StringType), StructField("amount", IntegerType),
    StructField("year", ShortType), StructField("month", ShortType)))
  private val appendSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("amount", IntegerType), StructField("year", IntegerType),
    StructField("month", IntegerType)))
  private val fixedSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("year", IntegerType),
    StructField("code", StringType)))

  /** round → job tag → its op */
  private val written = mutable.Map[Int, mutable.Map[String, Op]]()
  private val reads = mutable.ArrayBuffer[(Op, String, String)]()
  private var rounds = 0
  private var inputRowsPerRound = 0L

  private def roundDir(ctx: Ctx, r: Int) = ctx.dir(s"r$r")

  /** TokenBudgetMix's budget per source, in characters: about three of
    * the few docs each source has left, so the cap binds.
    */
  private val MixBudget = 1000.0

  /** Output dirs of a round that hold a table (the versioned table's
    * snapshots are read through its own jobs), for space_amp.
    */
  private val Landed = Seq("sales", "sales_json", "append", "dml", "mat_full",
    "mat_range", "mat_query", "sql_out", "transpose", "nested", "fixed",
    "arts", "deduped", "clean", "mixed", "final")

  private def dml(ctx: Ctx, r: Int) = Map("target_dir" -> s"${roundDir(ctx, r)}/dml",
    "file_format" -> "parquet", "business_key" -> Seq("id"),
    "technical_key" -> Seq("ts"), "partition_column" -> "date",
    "target_partitions" -> Seq("year", "month"))

  /** Lands the generated initial DeltaMergeLoad target in round `r`'s
    * directory, outside any op: the round's merge job merges into it.
    */
  private def landDmlTarget(ctx: Ctx, r: Int): Unit = {
    import java.nio.file.{Files, Paths}
    val from = Paths.get(ctx.in("dml_target"))
    val to = Paths.get(s"${roundDir(ctx, r)}/dml")
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally walk.close()
  }

  // a round takes longer than a run measures, so rounds past the first
  // are rare; those land their target inside the round
  override def prepare(ctx: Ctx): Unit = landDmlTarget(ctx, 0)

  def round(ctx: Ctx, r: Int): Unit = {
    val d = roundDir(ctx, r)
    def o(sub: String) = s"$d/$sub"
    if (r > 0) landDmlTarget(ctx, r)
    val rows = mutable.Map[String, Op]()
    var inRows = 0L
    def job(name: String, tag: String, classes: Set[String], input: String,
        p: Map[String, Any]): Unit = {
      val n = ctx.inputRows(input)
      inRows += n
      rows(tag) = Jobs.op(ctx, r, name, tag, p, classes, n)
    }
    val common = Map("output_files_num" -> 4)
    job("FullLoad", "full_load_csv", Job, "sales_csv", common ++ Map(
      "source_dir" -> ctx.in("sales_csv"), "target_dir" -> o("sales"),
      "file_format" -> "dsv", "delimiter" -> "|", "has_header" -> false,
      "target_schema" -> salesSchema.json, "partition_column" -> "date",
      "target_partitions" -> Seq("year", "month")))
    job("FullLoad", "full_load_json", Job, "sales_json", common ++ Map(
      "source_dir" -> ctx.in("sales_json"), "target_dir" -> o("sales_json"),
      "file_format" -> "json", "target_schema" -> salesSchema.json,
      "partition_column" -> "date", "target_partitions" -> Seq("year", "month")))
    job("AppendLoad", "append_load", Step, "append_src", Map(
      "source_dir" -> s"viewfs://${Main.Mount}/append_src", "target_dir" -> o("append"),
      "header_dir" -> o("append_headers"), "file_format" -> "dsv",
      "delimiter" -> "|", "target_schema" -> appendSchema.json,
      "regex_filename" -> Seq("sales_(\\d{4})_\\d{2}", "sales_\\d{4}_(\\d{2})"),
      "target_partitions" -> Seq("year", "month")))
    job("DeltaLoad", "delta_load", Step, "delta_src", Map(
      "active_records_dir" -> o("sales"),
      "delta_records_file_path" -> ctx.in("delta_src"),
      "file_format" -> "parquet", "business_key" -> Seq("id"),
      "technical_key" -> Seq("ts"), "target_partitions" -> Seq("year", "month")))
    job("DeltaMergeLoad", "delta_merge", Step, "dml_delta",
      dml(ctx, r) ++ Map("source_dir" -> ctx.in("dml_delta")))
    val mat = Map("source_dir" -> o("sales"),
      "target_partitions" -> Seq("year", "month"), "output_files_num" -> 2)
    job("FullMaterialization", "mat_full", Job, "sales_csv",
      mat ++ Map("target_dir" -> o("mat_full")))
    job("RangeMaterialization", "mat_range", Job, "sales_csv",
      mat ++ Map("target_dir" -> o("mat_range"), "partition_column" -> "date",
        "date_from" -> "20230601", "date_to" -> "20240131"))
    job("QueryMaterialization", "mat_query", Job, "sales_csv",
      mat ++ Map("target_dir" -> o("mat_query"), "select_conditions" ->
        Seq(Seq("year=2024", "month=3"), Seq("year=2023", "month=11"))))
    job("Transpose", "transpose", Job, "long", common ++ Map(
      "source_dir" -> ctx.in("long"), "target_dir" -> o("transpose"),
      "file_format" -> "parquet", "group_by_column" -> Seq("store"),
      "pivot_column" -> "metric", "pivot_values" -> (1 to 6).map(i => s"m$i"),
      "aggregation_column" -> "value"))
    job("NestedFlattener", "nested_flatten", Job, "nested", common ++ Map(
      "source_dir" -> ctx.in("nested"), "target_dir" -> o("nested"),
      "file_format" -> "json"))
    job("FixedSizeStringExtractor", "fixed_extract", Job, "fixed", common ++ Map(
      "source_dir" -> ctx.in("fixed"), "target_dir" -> o("fixed"),
      "file_format" -> "parquet", "source_field" -> "line",
      "target_schema" -> fixedSchema.json,
      "substring_positions" -> Seq("1-6", "7-10", "11-16")))
    job("SQLRunner", "sql_runner", Job, "sales_csv", Map("steps" -> 3,
      "1" -> s"CREATE OR REPLACE TEMPORARY VIEW bench_sales USING parquet OPTIONS (path '${o("sales")}')",
      "2" -> (s"INSERT OVERWRITE DIRECTORY '${o("sql_out")}' USING parquet " +
        "SELECT year, month, count(*) AS n, sum(amount) AS total " +
        "FROM bench_sales GROUP BY year, month"),
      "3" -> s"SELECT * FROM parquet.`${o("sql_out")}`"))
    // a versioned table through its acon jobs: write, keyed merges, view
    // catch-ups (bootstrap, then a change-feed fold), compaction, vacuum,
    // time travel and a change feed
    val vt = Map("table_root" -> o("vt"))
    val view = vt ++ Map("state_root" -> o("vt_view"), "cdc_key_columns" -> Seq("k"),
      "key_columns" -> Seq("g"), "sum_columns" -> Seq("v"))
    def merge(n: Int) = vt ++ Map("upserts_dir" -> ctx.in(s"vt_up$n"),
      "delete_keys_dir" -> ctx.in(s"vt_del$n"), "key_columns" -> Seq("k"),
      "ts" -> (1000L + n * 1000L))
    job("VersionWrite", "vt_write", Job, "vt_base",
      vt ++ Map("source_dir" -> ctx.in("vt_base"), "ts" -> 1000L))
    job("VersionMerge", "vt_merge1", Step, "vt_up1", merge(1))
    job("MaintainedViewCatchUp", "vt_view_bootstrap", Fold, "vt_base", view)
    job("VersionMerge", "vt_merge2", Step, "vt_up2", merge(2))
    job("MaintainedViewCatchUp", "vt_view_fold", Fold, "vt_up2", view)
    job("VersionCompact", "vt_compact", Job, "vt_base",
      vt ++ Map("ts" -> 4000L, "num_files" -> 2))
    job("VersionVacuum", "vt_vacuum", Job, "none",
      vt ++ Map("keep_last" -> 2, "retention_ms" -> 0, "force" -> true))
    job("VersionRead", "vt_read_as_of", VtRead, "vt_base",
      vt ++ Map("as_of_ts" -> 3500L, "target_dir" -> o("vt_as_of")))
    job("VersionDiff", "vt_change_feed", VtRead, "vt_up2",
      vt ++ Map("from_version" -> 2L, "to_version" -> 3L, "key_columns" -> Seq("k"),
        "mode" -> "changefeed", "target_dir" -> o("vt_feed")))
    val doc = Map("id_column" -> "doc_id", "text_column" -> "text")
    job("DedupArtifacts", "dedup_artifacts", Job, "landed", doc ++ Map(
      "source_dir" -> ctx.in("landed"), "target_dir" -> o("arts")))
    job("IncrementalDedup", "incremental_dedup", Step, "incoming", doc ++ Map(
      "source_dir" -> ctx.in("incoming"), "target_dir" -> o("deduped"),
      "existing_dir" -> ctx.in("landed"), "artifacts_dir" -> o("arts"),
      "threshold" -> 0.5))
    job("Decontaminate", "decontaminate", Job, "incoming", doc ++ Map(
      "source_dir" -> o("deduped"), "target_dir" -> o("clean"),
      "benchmark_dir" -> ctx.in("bench"), "benchmark_text_column" -> "qtext",
      "ngram_size" -> 8, "min_overlap" -> 1))
    job("TokenBudgetMix", "token_budget_mix", Job, "incoming", Map(
      "source_dir" -> o("clean"), "target_dir" -> o("mixed"),
      "id_column" -> "doc_id", "group_column" -> "source",
      "weight_column" -> "n_chars", "budget_per_group" -> MixBudget))
    job("HashSplit", "hash_split", Job, "incoming", Map(
      "source_dir" -> o("mixed"), "target_dir" -> o("final"),
      "id_column" -> "doc_id", "splits" -> Seq(
        Map("name" -> "train", "weight" -> 0.8), Map("name" -> "val", "weight" -> 0.1),
        Map("name" -> "test", "weight" -> 0.1))))
    // consumers read the views, the final split and the main loaded
    // tables back in full, digesting every row and column
    for (v <- Seq("mat_full", "mat_range", "mat_query", "final", "sales", "dml",
        "sql_out", "clean")) {
      val (op, res) = ctx.rec.op("read_" + v, Set("read"), r) {
        Util.contentHash(ctx.spark.read.parquet(current(ctx, o(v))))
      }
      reads += ((op, v, res.orNull))
    }
    written(r) = rows
    rounds = r + 1
    inputRowsPerRound = inRows
  }

  /** A materialization's newest complete version, else the dir itself. */
  private def current(ctx: Ctx, dir: String): String =
    ctx.fsOps.ls(dir).filter(_.matches("^data_\\d{17}$")).sorted.lastOption
      .map(v => s"$dir/$v").getOrElse(dir)

  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val csv = s.read.schema("id INT, date STRING, name STRING, amount INT")
      .option("sep", "|").csv(ctx.in("sales_csv"))
    csv.createOrReplaceTempView("x_csv")
    s.read.schema("id INT, date STRING, name STRING, amount INT")
      .json(ctx.in("sales_json")).createOrReplaceTempView("x_json")
    s.read.schema("id INT, name STRING, amount INT").option("sep", "|")
      .csv(ctx.in("append_src")).createOrReplaceTempView("x_append")
    s.read.parquet(ctx.in("delta_src")).createOrReplaceTempView("x_delta")
    s.read.parquet(ctx.in("dml_init")).createOrReplaceTempView("x_dml1")
    s.read.parquet(ctx.in("dml_delta")).createOrReplaceTempView("x_dml2")
    val ym = "CAST(substr(date, 1, 4) AS SMALLINT) AS year, " +
      "CAST(substr(date, 5, 2) AS SMALLINT) AS month"
    val q: Map[String, String] = Map(
      "sales_json" -> s"SELECT id, date, name, amount, $ym FROM x_json",
      "append" -> ("SELECT id, name, amount, " +
        "CAST(regexp_extract(input_file_name(), 'sales_(\\\\d{4})_\\\\d{2}', 1) AS INT) AS year, " +
        "CAST(regexp_extract(input_file_name(), 'sales_\\\\d{4}_(\\\\d{2})', 1) AS INT) AS month " +
        "FROM x_append"),
      "sales" -> ("WITH c AS (SELECT * FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY id ORDER BY ts DESC) AS rn FROM x_delta) WHERE rn = 1) " +
        s"SELECT id, date, name, amount, $ym FROM x_csv " +
        "WHERE id NOT IN (SELECT id FROM c) UNION ALL " +
        "SELECT id, date, name, amount, year, month FROM c " +
        "WHERE recordmode NOT IN ('R', 'D', 'X')"),
      "dml" -> (s"WITH i AS (SELECT id, date, name, amount, ts, $ym FROM x_dml1), " +
        "c AS (SELECT * FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY id ORDER BY ts DESC) AS rn FROM x_dml2) WHERE rn = 1) " +
        "SELECT * FROM i WHERE id NOT IN (SELECT id FROM c) UNION ALL " +
        s"SELECT id, date, name, amount, ts, $ym FROM c " +
        "WHERE recordmode NOT IN ('R', 'D', 'X')"))
    Seq("vt_base", "vt_up1", "vt_del1", "vt_up2", "vt_del2").foreach(v =>
      s.read.parquet(ctx.in(v)).createOrReplaceTempView("x_" + v))
    def merged(base: String, n: Int) =
      s"SELECT * FROM $base WHERE k NOT IN (SELECT k FROM x_vt_del$n) " +
        s"AND k NOT IN (SELECT k FROM x_vt_up$n) UNION ALL SELECT * FROM x_vt_up$n"
    s.sql(merged("x_vt_base", 1)).createOrReplaceTempView("x_vt2")
    s.sql(merged("x_vt2", 2)).createOrReplaceTempView("x_vt3")
    val expected = mutable.Map[String, DataFrame]()
    expected("vt3") = s.table("x_vt3")
    expected("vt_view") = s.sql("SELECT g, count(*) AS n_rows, sum(v) AS sum_v " +
      "FROM x_vt3 GROUP BY g")
    expected("vt_feed") = s.sql("SELECT a.k, a.g, a.v, a.s, 'insert' AS change_type " +
      "FROM x_vt3 a LEFT ANTI JOIN x_vt2 b ON a.k = b.k UNION ALL " +
      "SELECT b.k, b.g, b.v, b.s, 'delete' FROM x_vt2 b LEFT ANTI JOIN x_vt3 a ON a.k = b.k " +
      "UNION ALL SELECT b.k, b.g, b.v, b.s, 'update_preimage' FROM x_vt2 b JOIN x_vt3 a " +
      "ON a.k = b.k WHERE (a.g, a.v, a.s) <> (b.g, b.v, b.s) UNION ALL " +
      "SELECT a.k, a.g, a.v, a.s, 'update_postimage' FROM x_vt2 b JOIN x_vt3 a " +
      "ON a.k = b.k WHERE (a.g, a.v, a.s) <> (b.g, b.v, b.s)")
    q.foreach { case (k, sql) => expected(k) = s.sql(sql) }
    expected("sales").createOrReplaceTempView("x_sales")
    expected("mat_full") = s.table("x_sales")
    expected("mat_range") =
      s.sql("SELECT * FROM x_sales WHERE date BETWEEN '20230601' AND '20240131'")
    expected("mat_query") = s.sql("SELECT * FROM x_sales WHERE " +
      "(year = 2024 AND month = 3) OR (year = 2023 AND month = 11)")
    expected("sql_out") = s.sql("SELECT year, month, count(*) AS n, " +
      "sum(amount) AS total FROM x_sales GROUP BY year, month")
    s.read.parquet(ctx.in("long")).createOrReplaceTempView("x_long")
    expected("transpose") = s.sql("SELECT * FROM (SELECT store, metric, value FROM x_long " +
      "WHERE metric IS NOT NULL) PIVOT (first(value) FOR metric IN (" +
      (1 to 6).map(i => s"'m$i' AS m$i").mkString(", ") + "))")
    s.read.json(ctx.in("nested")).createOrReplaceTempView("x_nested")
    expected("nested") = s.sql("SELECT id, score, user.name AS user__name, " +
      "user.geo.city AS user__geo__city, user.geo.zip AS user__geo__zip FROM x_nested")
    s.read.parquet(ctx.in("fixed")).createOrReplaceTempView("x_fixed")
    def field(from: Int, to: Int, t: String) =
      s"CAST(NULLIF(trim(substring(line, $from, ${to - from + 1})), '') AS $t)"
    expected("fixed") = s.sql(s"SELECT ${field(1, 6, "INT")} AS id, " +
      s"${field(7, 10, "INT")} AS year, ${field(11, 16, "STRING")} AS code FROM x_fixed")
    // the curation chain: IncrementalDedup against one dedupIncrement
    // without saved artifacts, Decontaminate recomputed in plain Spark
    val landed = s.read.parquet(ctx.in("landed"))
    expected("deduped") = Dedup.dedupIncrement(landed, s.read.parquet(ctx.in("incoming")),
      "doc_id", "text", threshold = 0.5)
    // Decontaminate read IncrementalDedup's output, which is checked above:
    // recompute from it rather than run dedupIncrement a second time
    val deduped = try s.read.parquet(s"${roundDir(ctx, 0)}/deduped")
      catch { case _: Exception => expected("deduped") }
    expected("clean") = Expect.decontaminated(deduped, s.read.parquet(ctx.in("bench")), "qtext", 8)
    expected("arts") = Expect.artifactKeysOf(landed)
    // job tag → output dir and the recomputation it must equal.
    // full_load_csv's output is rewritten in place by delta_load, so it
    // is checked through delta_load; token_budget_mix and hash_split are
    // checked against their contracts below.
    val outDir = Map("full_load_json" -> "sales_json", "append_load" -> "append",
      "delta_load" -> "sales", "delta_merge" -> "dml",
      "mat_full" -> "mat_full", "mat_range" -> "mat_range",
      "mat_query" -> "mat_query", "sql_runner" -> "sql_out",
      "transpose" -> "transpose", "nested_flatten" -> "nested",
      "fixed_extract" -> "fixed", "dedup_artifacts" -> "arts",
      "incremental_dedup" -> "deduped", "decontaminate" -> "clean",
      "token_budget_mix" -> "mixed", "hash_split" -> "final",
      "vt_read_as_of" -> "vt_as_of", "vt_change_feed" -> "vt_feed")
    val checked = Map("vt_read_as_of" -> "vt3", "vt_change_feed" -> "vt_feed",
      "full_load_json" -> "sales_json", "append_load" -> "append",
      "delta_load" -> "sales", "delta_merge" -> "dml", "mat_full" -> "mat_full",
      "mat_range" -> "mat_range", "mat_query" -> "mat_query", "sql_runner" -> "sql_out",
      "transpose" -> "transpose", "nested_flatten" -> "nested", "fixed_extract" -> "fixed",
      "dedup_artifacts" -> "arts", "incremental_dedup" -> "deduped",
      "decontaminate" -> "clean")
    // a round's consumer read digested each landed table in full: that
    // digest is the table's content. Outputs not read back are hashed here
    // (DedupArtifacts' without its signature values).
    val readHash = reads.collect { case (op, v, h) if op.ok => s"${op.round}/$v" -> h }.toMap
    val outputs = for (r <- 0 until rounds; (tag, op) <- written(r).toSeq
        if op.ok && checked.contains(tag))
      yield (tag, s"$r/${outDir(tag)}", op, current(ctx, s"${roundDir(ctx, r)}/${outDir(tag)}"))
    val unread = outputs.filterNot(o => readHash.contains(o._2)).flatMap { case (_, k, op, d) =>
      try Some(k -> (if (k.endsWith("/arts")) Expect.artifactKeys(s.read.parquet(d))
        else s.read.parquet(d)))
      catch { case e: Exception => ctx.rec.fail(op, s"$k unreadable: $e"); None }
    }
    // HashSplit adds a split label from its list to every row it is given
    val splits = for (r <- 0 until rounds; op <- written(r).get("hash_split") if op.ok) yield {
      val (out, in) = Expect.extended(s.read.parquet(s"${roundDir(ctx, r)}/final"),
        s.read.parquet(s"${roundDir(ctx, r)}/mixed"), "split IN ('train', 'val', 'test')")
      (op, s"$r/final+split", out, s"$r/mixed+split", in)
    }
    // the view's state is a versioned table of its own: read its latest
    val views = for (r <- 0 until rounds; op <- written(r).get("vt_view_fold") if op.ok)
      yield (s"$r/vt_view", op, VersionedTable.readLatest(s, ctx.fsOps,
        s"${roundDir(ctx, r)}/vt_view"))
    val hashes = readHash ++ Util.contentHashes(
      expected.toSeq.map { case (k, df) => s"expected/$k" -> df } ++ unread ++
        views.map(v => v._1 -> v._3) ++
        splits.flatMap(x => Seq(x._2 -> x._3, x._4 -> x._5)))
    views.foreach { case (k, op, _) =>
      if (hashes(k) != hashes("expected/vt_view")) ctx.rec.fail(op, "maintained view != recomputed aggregate")
    }
    splits.foreach { case (op, a, _, b, _) =>
      if (hashes(a) != hashes(b)) ctx.rec.fail(op, "split output is not its input with a valid split label")
    }
    for ((tag, k, op, _) <- outputs if hashes.contains(k)) {
      val e = s"expected/${checked(tag)}"
      if (hashes(k) != hashes(e)) ctx.rec.fail(op, s"$k content ${hashes(k)} != recomputation ${hashes(e)}")
    }
    for (r <- 0 until rounds; op <- written(r).get("full_load_csv"))
      if (!written(r)("delta_load").ok) ctx.rec.fail(op, "delta_load failed on this job's output")
    val contaminated = ctx.manifest("planted").asInstanceOf[Map[String, Any]]
      .apply("contaminated_ids").asInstanceOf[Seq[Any]]
      .map(_.toString.toLong).toSet
    // the remaining checks are independent small actions, run together
    Util.par((0 until rounds).flatMap { r =>
      def out(v: String) = s.read.parquet(s"${roundDir(ctx, r)}/$v")
      def check(tag: String)(f: Op => Unit) =
        written(r).get(tag).filter(_.ok).map(op => () => f(op)).toSeq
      // every version vacuum kept is still readable and exact
      check("vt_vacuum") { op =>
        val root = s"${roundDir(ctx, r)}/vt"
        val kept = VersionedTable.commits(ctx.fsOps, root).map(_.version).takeRight(2)
        val ok = kept.forall(v => try Util.contentHash(VersionedTable.readVersion(s,
          ctx.fsOps, root, v)) == hashes("expected/vt3") catch { case _: Exception => false })
        if (!ok) ctx.rec.fail(op, s"a version vacuum kept (${kept.mkString(",")}) is unreadable or wrong")
      } ++ check("token_budget_mix") { op =>
        val bad = Expect.budgetViolations(out("mixed"), out("clean"), "source", "n_chars", MixBudget)
        if (bad > 0) ctx.rec.fail(op, s"$bad rows or groups break the per-source budget")
      } ++ Seq("decontaminate", "hash_split").flatMap(tag => check(tag) { op =>
        val ids = out(outDir(tag)).select("doc_id").collect().map(_.getLong(0)).toSet
        if ((ids & contaminated).nonEmpty) ctx.rec.fail(op, s"$tag kept planted-contaminated docs")
      })
    })
  }

  override def layerFigures(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = {
    val vtOps = ops.filter(_.kind.startsWith("vt_"))
    val commits = vtOps.filter(o => o.classes("commit") && o.kind != "vt_vacuum")
    val reads = vtOps.filter(_.classes("read"))
    val logs = (0 until rounds).map(r =>
      VersionedTable.commits(ctx.fsOps, s"${roundDir(ctx, r)}/vt"))
    // rows the commits wrote ÷ rows their inputs changed
    val written = logs.flatten.filter(_.op != "compact").map(_.rows).sum
    val payload = vtOps.filter(o => Set("vt_write", "vt_merge1", "vt_merge2")(o.kind))
      .map(_.rows).sum
    def mean(kind: String) = Util.mean(ops.filter(_.kind == kind).map(_.ms))
    Map(
      "catalog.log_len" -> Util.mean(logs.map(_.size.toDouble)),
      "catalog.files_per_commit" ->
        commits.map(o => CountingFs.get(o.id, "create")).sum / math.max(1, commits.size),
      "catalog.write_amp" -> written.toDouble / math.max(1L, payload),
      "catalog.files_per_read" ->
        reads.map(o => CountingFs.get(o.id, "open")).sum / math.max(1, reads.size),
      "catalog.compact_ms" -> mean("vt_compact"),
      "catalog.vacuum_ms" -> mean("vt_vacuum"),
      "catalog.fold_ms" -> Util.mean(ops.filter(_.kind.startsWith("vt_view")).map(_.ms)))
  }

  def figures(ctx: Ctx, timedMs: Double): Map[String, Double] = {
    val last = roundDir(ctx, rounds - 1)
    val live = (Landed ++ Seq("vt_as_of", "vt_feed")).map(v => current(ctx, s"$last/$v"))
    Map("rows_per_s" -> inputRowsPerRound * rounds / (timedMs / 1000.0),
      "space_amp" -> Util.spaceAmp(last, live))
  }
}
