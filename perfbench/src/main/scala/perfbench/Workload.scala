package perfbench

/** A benchmark workload: a closed loop of one client driving graft
  * through its public entry points.
  */
trait Workload {
  /** Untimed preparation of a phase's output area. */
  def prepare(ctx: Ctx): Unit = ()

  /** One round of the op mix. There is no untimed warm-up round: the
    * session is warm from set-up, and the first run of each code path in
    * a fresh JVM is part of what a job costs (each acon job of the
    * reference product runs in its own spark-submit).
    */
  def round(ctx: Ctx, round: Int): Unit

  /** Rounds until the deadline has passed (at least one). */
  def timed(ctx: Ctx, deadlineMs: Double): Unit = {
    var r = 0
    while (r == 0 || Clock.nowMs < deadlineMs) {
      val t0 = Clock.nowMs
      round(ctx, r)
      ctx.rec.rounds.add((r, Clock.nowMs - t0))
      r += 1
    }
  }

  /** Untimed output checks; failures are recorded against their ops. */
  def verify(ctx: Ctx): Unit

  /** End-to-end figures only this workload can compute (rows_per_s,
    * space_amp), after verify.
    */
  def figures(ctx: Ctx, timedMs: Double): Map[String, Double]

  /** Per-layer figures only this workload can compute (traced run). */
  def layerFigures(ctx: Ctx, ops: Seq[Op]): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "acon_jobs" => new Acon
    case "corpus_curation" => new Corpus
  }
}
