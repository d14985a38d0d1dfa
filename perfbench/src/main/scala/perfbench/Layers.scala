package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns the traced run's spans and listener records into the per-layer
  * metrics (means per timed op unless the name says otherwise), the span
  * list, and self time per layer.
  */
object Layers {
  val CurationSteps = Seq("dedup_artifacts", "corpus_dedup", "decontaminate",
    "lang_id", "bm25_artifacts", "near_dup_stream")

  /** Union length of intervals clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def layerOf(name: String): String = name.takeWhile(_ != '.') match {
    case "op" => "client"
    case other => other
  }

  /** Self time per span by a sweep over the op's interval: each instant
    * goes to the deepest span open at that instant (the latest-started
    * one when siblings overlap, as concurrent Spark jobs do), so the self
    * times of an op sum to its wall time.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val byId = spans.map(s => s.id -> s).toMap
    val root = spans.find(_.parent == 0).get
    def depth(s: Span): Int = {
      var d = 0; var p = s.parent
      while (p != 0 && byId.contains(p)) { d += 1; p = byId(p).parent }
      d
    }
    val clipped = spans.map(s => s.copy(start = math.max(s.start, root.start),
      end = math.min(math.max(s.end, s.start), root.end)))
      .filter(s => s.end > s.start || s.id == root.id)
    val depths = clipped.map(s => s.id -> depth(s)).toMap
    val cuts = clipped.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val self = mutable.Map[Long, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = clipped.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (depths(s.id), s.start))
          self(top.id) += b - a
        }
      case _ => ()
    }
    self.toMap
  }

  final case class Result(metrics: Map[String, Double], selfMs: Map[String, Double],
      spans: Seq[Span], selfSumErrMax: Double, checks: Map[String, Double])

  def compute(ops: Seq[Op], cores: Int, timedStart: Double,
      timedEnd: Double, extra: Map[String, Double],
      batchWallMs: Option[Double]): Result = {
    val n = math.max(1, ops.size).toDouble
    val opIds = ops.map(_.id).toSet
    val opOf = ops.map(o => o.id -> o).toMap
    val harness = Trace.spans.asScala.toSeq.filter(s => opIds.contains(s.op))
    val jobs = JobTrace.jobs.values().asScala.toSeq.filter(j => opIds.contains(j.op))
    def jobEnd(j: JobRec) = if (j.end < 0) opOf(j.op).end.toLong else j.end
    // micro-batches: the stream op active when the trigger ran owns it
    val streamOps = ops.filter(_.kind == "near_dup_stream")
    val triggers = StreamTrace.recs.asScala.toSeq
      .filter(t => t.start >= timedStart && t.start <= timedEnd)
    val trigSpan = mutable.Map[(String, Long), Span]()
    val trigSpans = triggers.flatMap { t =>
      streamOps.find(o => t.start >= o.start - 1 && t.start <= o.end).map { o =>
        val root = harness.find(s => s.op == o.id && s.parent == 0).map(_.id).getOrElse(0L)
        val sp = Span(Trace.nextId(), root, o.id, "streaming.trigger", t.start,
          t.start + t.durations.getOrElse("triggerExecution", 0L))
        trigSpan((t.runId, t.batch)) = sp
        sp
      }
    }
    val BatchRe = "(?s).*runId = ([0-9a-f-]+).*batch = (\\d+).*".r
    val jobSpans = jobs.map { j =>
      val parent = j.desc match {
        case BatchRe(run, b) => trigSpan.get((run, b.toLong)).map(_.id).getOrElse(j.span)
        case _ => j.span
      }
      Span(Trace.nextId(), parent, j.op, "spark.job", j.start.toDouble, jobEnd(j).toDouble)
    }
    val allSpans = harness ++ trigSpans ++ jobSpans
    val byOp = allSpans.groupBy(_.op)

    // self time per layer, and how closely it sums to each op's wall
    val layerSelf = mutable.Map[String, Double]().withDefaultValue(0.0)
    var errMax = 0.0
    ops.foreach { o =>
      val sp = byOp.getOrElse(o.id, Seq.empty)
      if (sp.exists(_.parent == 0)) {
        val st = selfTimes(sp)
        val byId = sp.map(s => s.id -> s).toMap
        st.foreach { case (id, ms) => layerSelf(layerOf(byId(id).name)) += ms }
        val root = sp.find(_.parent == 0).get
        val wall = root.end - root.start
        if (wall > 0) errMax = math.max(errMax, math.abs(st.values.sum - wall) / wall)
      }
    }

    def spanMs(name: String) = harness.filter(_.name == name).map(s => s.end - s.start).sum
    val stagesOf = jobs.map(j => j.id -> j.stages).toMap
    def aggs(js: Seq[JobRec]): Seq[StageAgg] =
      js.flatMap(j => stagesOf(j.id)).distinct.flatMap(JobTrace.aggOf)
    val allAggs = aggs(jobs)
    def sumAgg(f: StageAgg => Long, as: Seq[StageAgg] = allAggs) = as.map(f).sum.toDouble
    val jobMsPerOp = ops.map { o =>
      o.id -> covered(jobs.filter(_.op == o.id).map(j => (j.start.toDouble,
        jobEnd(j).toDouble)), o.start, o.end)
    }.toMap
    val jobMs = jobMsPerOp.values.sum
    val nonJob = ops.map(o => o.ms - jobMsPerOp(o.id)).sum
    val runMs = sumAgg(_.runMs)
    val stagesRun = jobs.flatMap(j => stagesOf(j.id)).distinct
      .count(s => JobTrace.stagesRun.contains(s))

    // Catalyst phases: an action's execution id ties it to the op whose
    // jobs carried it; actions without jobs fall back to the op interval
    val execOp = jobs.filter(_.execId >= 0).map(j => j.execId -> j.op).toMap
    val sqls = SqlTrace.recs.asScala.toSeq.flatMap { q =>
      execOp.get(q.execId).orElse(
        ops.find(o => q.end >= o.start && q.end <= o.end + 5).map(_.id))
        .map(op => (op, q))
    }
    def sqlMs(f: SqlRec => Double) = sqls.map(x => f(x._2)).sum

    val fsCalls = CountingFs.Calls.map(c => c -> ops.map(o => CountingFs.get(o.id, c)).sum).toMap
    val fsDriverMs = ops.map(o => CountingFs.get(o.id, "driver_ms")).sum

    val trigJobs = jobSpans.count(j => trigSpans.exists(_.id == j.parent))
    def trigMean(k: String) =
      if (triggers.isEmpty) 0.0 else triggers.map(_.durations.getOrElse(k, 0L)).sum.toDouble / triggers.size

    val steps = CurationSteps.flatMap { st =>
      val os = ops.filter(_.kind == st)
      val cpu = aggs(jobs.filter(j => os.exists(_.id == j.op))).map(_.cpuNs).sum / 1e6
      Seq(s"operators.$st.ms" -> Util.mean(os.map(_.ms)),
        s"operators.$st.cpu_ms" -> (if (os.isEmpty) 0.0 else cpu / os.size))
    }

    val m = mutable.LinkedHashMap[String, Double](
      "config.parse_ms" -> spanMs("config.parse") / n,
      "core.create_ms" -> spanMs("core.create") / n,
      "algos.read_ms" -> spanMs("algos.read") / n,
      "algos.transform_ms" -> spanMs("algos.transform") / n,
      "algos.write_ms" -> spanMs("algos.write") / n,
      "algos.stats_ms" -> spanMs("algos.stats") / n,
      "sql.actions" -> sqls.size / n,
      "sql.analysis_ms" -> sqlMs(_.analysisMs) / n,
      "sql.optimization_ms" -> sqlMs(_.optimizationMs) / n,
      "sql.planning_ms" -> sqlMs(_.planningMs) / n,
      "driver.nonjob_ms" -> nonJob / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stagesRun / n,
      "spark.tasks" -> sumAgg(_.tasks) / n,
      "spark.task_wait_ms" -> sumAgg(_.waitMs) / n,
      "spark.job_ms" -> jobMs / n,
      "spark.failed_tasks" -> sumAgg(_.failed) / n,
      "spark.executor_run_ms" -> runMs / n,
      "spark.executor_cpu_ms" -> sumAgg(_.cpuNs) / 1e6 / n,
      "spark.core_util" -> (if (jobMs > 0) runMs / (cores * jobMs) else 0.0),
      "spark.shuffle_read_bytes" -> sumAgg(_.shuffleRead) / n,
      "spark.shuffle_write_bytes" -> sumAgg(_.shuffleWrite) / n,
      "spark.spill_bytes" -> sumAgg(_.spill) / n,
      "spark.input_bytes" -> sumAgg(_.input) / n,
      "spark.output_bytes" -> sumAgg(_.output) / n,
      "fsops.calls" -> fsCalls.values.sum / n,
      "fsops.driver_ms" -> fsDriverMs / n) ++
      CountingFs.Calls.map(c => s"fsops.$c" -> fsCalls(c) / n) ++
      Seq("catalog.log_len", "catalog.files_per_commit", "catalog.write_amp",
        "catalog.files_per_read", "catalog.compact_ms", "catalog.vacuum_ms",
        "catalog.fold_ms").map(k => k -> extra.getOrElse(k, 0.0)) ++
      Seq("streaming.triggers" -> triggers.size.toDouble,
        "streaming.add_batch_ms" -> trigMean("addBatch"),
        "streaming.get_batch_ms" -> trigMean("getBatch"),
        "streaming.query_planning_ms" -> trigMean("queryPlanning"),
        "streaming.wal_commit_ms" -> trigMean("walCommit"),
        "streaming.jobs_per_trigger" ->
          (if (triggers.isEmpty) 0.0 else trigJobs.toDouble / triggers.size),
        "streaming.rows_per_trigger" ->
          (if (triggers.isEmpty) 0.0 else triggers.map(_.rows).sum.toDouble / triggers.size)) ++
      steps

    // does each workload load the layer it was chosen for?
    val jobOps = ops.filter(_.classes("job"))
    val checks = mutable.Map[String, Double]()
    if (jobOps.nonEmpty) {
      // Catalyst phases run outside jobs, so they are part of non-job
      // time: the second share is a part of the first, not an addend
      val wall = jobOps.map(_.ms).sum
      checks("job_nonjob_share") = jobOps.map(o => o.ms - jobMsPerOp(o.id)).sum / wall
      checks("job_nonjob_sql_share") = sqls.filter(x => jobOps.exists(_.id == x._1))
        .map(x => x._2.analysisMs + x._2.optimizationMs + x._2.planningMs).sum / wall
    }
    batchWallMs.foreach { w =>
      val batch = ops.filter(o => CurationSteps.init.contains(o.kind))
      val bJobMs = batch.map(o => jobMsPerOp(o.id)).sum
      val bRun = aggs(jobs.filter(j => batch.exists(_.id == j.op))).map(_.runMs).sum
      checks("batch_job_share") = bJobMs / w
      checks("batch_core_util") = if (bJobMs > 0) bRun / (cores * bJobMs) else 0.0
    }
    Result(m.toMap, layerSelf.map { case (k, v) => k -> v / n }.toMap, allSpans,
      errMax, checks.toMap)
  }
}
