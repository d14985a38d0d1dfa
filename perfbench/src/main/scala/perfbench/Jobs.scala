package perfbench

import graft.config.JsonConfig
import graft.core.{AlgoRegistry, JobRunner}
import graft.fsops.FsOps

/** Runs one acon job. Untraced runs call `JobRunner.execute`; the traced
  * run makes the same calls it makes (params decode, dispatch, then the
  * Algorithm stages in `run()` order) one by one, so each gets a span.
  */
object Jobs {
  def run(ctx: Ctx, name: String, paramsPath: String): Unit =
    if (!Trace.on) JobRunner.execute(ctx.spark, name, paramsPath)
    else {
      val fs = new FsOps(ctx.spark.sparkContext.hadoopConfiguration)
      val cfg = Trace.span("config.parse")(JsonConfig.fromFile(fs, paramsPath))
      val algo = Trace.span("core.create")(
        AlgoRegistry.create(name, ctx.spark, fs, cfg))
      val read = Trace.span("algos.read")(algo.read())
      val out = Trace.span("algos.transform")(algo.transform(read))
      val written = Trace.span("algos.write")(algo.write(out))
      Trace.span("algos.stats")(algo.updateStatistics(written))
    }

  /** Writes the params file (untimed), then runs the job as one timed op. */
  def op(ctx: Ctx, round: Int, name: String, tag: String,
      params: Map[String, Any], classes: Set[String], rows: Long): Op = {
    val path = Util.writeParams(ctx.dir(s"params/r$round/$tag.json"), params)
    ctx.rec.op(tag, classes, round, rows)(run(ctx, name, path))._1
  }
}
