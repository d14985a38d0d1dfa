package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   1. set-up, several times: build a session with GraftExtensions and
  *      run a warm-up query (setup_s reports JVM start plus the median);
  *   2. per phase: untimed preparation, the timed closed loop of whole
  *      rounds for at least `--seconds`, then untimed verification;
  *   3. with `--trace 1` the sessions register the listeners and the
  *      counting FileSystem, and the phase records spans;
  *   4. the full record as JSON at `--out`; spans beside it.
  *
  * Tracing overhead is the traced run's wall_s minus the untraced run's,
  * for the same seed: a separate run, as cold as the one it compares to.
  */
object Main {
  final case class Args(workload: String, inputs: String, work: String,
      seconds: Int, trace: Boolean, out: String, launchMs: Long, cores: Int)

  /** Set-ups per run; setup_s reports their median. */
  val Setups = 3

  /** A viewfs mount table naming AppendLoad's input by a path that does
    * not depend on where the checkout is: AppendLoad skips every listed
    * file whose absolute path contains "/.", so under a dot-directory
    * checkout it would load nothing.
    */
  val Mount = "perfbench"

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toInt,
      m("trace") == "1", m("out"), m("launch-ms").toLong, m("cores").toInt)
  }

  def session(a: Args, traced: Boolean): SparkSession = {
    val b = graft.core.Session.builder("perfbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .config("spark.driver.host", "localhost")
      .config(s"spark.hadoop.fs.viewfs.mounttable.${Main.Mount}.link./append_src",
        new java.io.File(s"${a.inputs}/append_src").toURI.toString)
    val s = (if (traced) b
      .config("spark.extraListeners", classOf[JobTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[SqlTrace].getName)
      .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    else b).getOrCreate()
    s.streams.addListener(new StreamTrace)
    s
  }

  /** A small write and read back through a graft SQL function. */
  def warmUp(s: SparkSession, dir: String): Unit = {
    s.range(0, 5000, 1, 4).selectExpr("id", "concat('w', id % 97, ' v', id % 13) AS t")
      .write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).selectExpr("sum(deflated_size(t))").collect()
  }

  private def rssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  final case class Phase(ops: Seq[Op], rounds: Seq[Double],
      start: Double, end: Double, figures: Map[String, Double],
      layers: Option[Layers.Result])

  def phase(a: Args, s: SparkSession, name: String, traced: Boolean,
      manifest: Map[String, Any]): Phase = {
    val w = Workload(a.workload)
    val out = s"${a.work}/out/$name"
    val rec = new Recorder(traced)
    val ctx = new Ctx(s, a.inputs, out, rec, manifest, a.cores)
    val p0 = Clock.nowMs
    w.prepare(ctx)
    Trace.on = traced
    val t0 = Clock.nowMs
    w.timed(ctx, t0 + a.seconds * 1000.0)
    val t1 = Clock.nowMs
    Trace.on = false
    if (traced) PerfbenchBus.drain(s.sparkContext)
    val ops = rec.all
    val layers = if (!traced) None else Some(Layers.compute(ops, a.cores, t0, t1,
      w.layerFigures(ctx, ops), w match {
        case c: Corpus => Some(c.batchWallMs)
        case _ => None
      }))
    val v0 = Clock.nowMs
    w.verify(ctx)
    val fig = w.figures(ctx, t1 - t0)
    System.err.println(f"perfbench: $name prepare ${t0 - p0}%.0f ms, timed ${t1 - t0}%.0f ms, " +
      f"verify ${Clock.nowMs - v0}%.0f ms")
    Phase(ops, rec.rounds.asScala.toSeq.sortBy(_._1).map(_._2), t0, t1,
      fig, layers)
  }

  /** End-to-end metrics of one phase. */
  def endToEnd(p: Phase): Map[String, Double] = {
    def lat(cls: String) = p.ops.filter(_.classes(cls)).map(_.ms)
    val triggers = StreamTrace.recs.asScala.toSeq
      .filter(t => t.start >= p.start && t.start <= p.end)
      .map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    // workloads without a stream report their incremental steps instead
    val steps = if (triggers.nonEmpty) triggers else lat("step")
    val failed = p.ops.count(!_.ok)
    Map(
      "wall_s" -> Util.median(p.rounds) / 1000.0,
      "ok_frac" -> (1.0 - failed.toDouble / math.max(1, p.ops.size)),
      "fail_frac" -> failed.toDouble / math.max(1, p.ops.size),
      "job_p50_ms" -> Util.pct(lat("job"), 0.5),
      "job_p90_ms" -> Util.pct(lat("job"), 0.9),
      "commit_p50_ms" -> Util.pct(lat("commit"), 0.5),
      "commit_p90_ms" -> Util.pct(lat("commit"), 0.9),
      "read_p50_ms" -> Util.pct(lat("read"), 0.5),
      "read_p90_ms" -> Util.pct(lat("read"), 0.9),
      "trigger_p50_ms" -> Util.pct(steps, 0.5)) ++ p.figures
  }

  def main(argv: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val a = parse(argv)
    val manifest = Util.readJson(s"${a.inputs}/manifest.json")
    // set-up: session + warm-up, repeated; the last session stays up. A
    // traced run builds traced sessions from the start, so the counting
    // FileSystem is the one Hadoop caches for file:.
    val setups = (1 to Setups).map { i =>
      val t0 = Clock.nowMs
      val s = session(a, traced = a.trace)
      warmUp(s, s"${a.work}/warmup")
      val ms = Clock.nowMs - t0
      if (i < Setups) s.stop()
      ms
    }
    val jvmBootMs = (entered - a.launchMs).toDouble
    val spark = SparkSession.active
    Trace.sc = spark.sparkContext
    val p = phase(a, spark, if (a.trace) "traced" else "untraced", a.trace, manifest)
    val e2e = endToEnd(p) ++ Map(
      "setup_s" -> (jvmBootMs + Util.median(setups)) / 1000.0,
      "peak_rss_mb" -> rssMb())
    val record = Map(
      "workload" -> a.workload, "seconds" -> a.seconds, "cores" -> a.cores,
      "trace" -> a.trace, "manifest_hash" -> manifest("manifest_hash"),
      "jvm_boot_ms" -> jvmBootMs, "setup_ms" -> setups, "rounds_ms" -> p.rounds,
      "attempted" -> p.ops.size, "failed" -> p.ops.count(!_.ok),
      "end_to_end" -> e2e,
      "ops" -> p.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "classes" -> o.classes.toSeq.sorted, "round" -> o.round, "ms" -> o.ms,
        "rows" -> o.rows, "ok" -> o.ok, "err" -> o.err)),
      "failures" -> p.ops.filter(!_.ok).map(o => s"${o.kind}: ${o.err}").take(20)) ++
      p.layers.map { l =>
        Util.writeJson(a.out.stripSuffix(".json") + "-spans.json", l.spans.map(sp =>
          Map("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op, "name" -> sp.name,
            "start" -> sp.start, "end" -> sp.end)))
        Map("per_layer" -> l.metrics, "self_ms_per_op" -> l.selfMs,
          "self_sum_err_max" -> l.selfSumErrMax, "layer_checks" -> l.checks)
      }.getOrElse(Map.empty)
    Util.writeJson(a.out, record)
    spark.stop()
  }
}
