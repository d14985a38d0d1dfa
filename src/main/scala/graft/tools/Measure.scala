package graft.tools

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Where does a query's wall time go? Runs each named SparkEntry query
  * closure `reps` times (the same timed action as Bench: build the frame,
  * count it) and prints one line per query: min/median/max wall, and for
  * the median rep (upper middle for an even `reps`) its rows,
  * jobs/stages/tasks, and its wall split into time with at least one
  * Spark job running vs the rest (driver planning, commits, file IO —
  * the fixed overhead that dominates small queries). Compare medians
  * only; single runs drift (NOISE.md). Usage:
  *   runMain graft.tools.Measure <sfDir> <reps> [--plan <dir>] <query>...
  * `--plan` also writes the last rep's `explain("formatted")` to
  * `<dir>/<query>.txt` — no extra run. For gates that run jobs while
  * building their frame, that is the plan of the final frame only.
  */
object Measure {

  final case class Record(query: String, rows: Long, medianS: Double,
      minS: Double, maxS: Double, jobs: Int, stages: Int, tasks: Int,
      jobS: Double, nonJobS: Double) {
    def line: String =
      f"[measure] $query median=$medianS%.3fs min=$minS%.3fs " +
        f"max=$maxS%.3fs rows=$rows jobs=$jobs stages=$stages " +
        f"tasks=$tasks job=$jobS%.3fs nonjob=$nonJobS%.3fs"
  }

  /** Job spans and stage/task counts seen while registered. */
  private final class JobListener extends SparkListener {
    private val spans = mutable.Map.empty[Int, (Long, Long)]
    private var stages = 0
    private var tasks = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { spans(e.jobId) = (e.time, e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      spans.get(e.jobId).foreach(s => spans(e.jobId) = (s._1, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { tasks += 1 }
    /** Jobs, stages, tasks and ms with at least one job running
      * (overlapping jobs count once), all since registration. */
    def totals: Seq[Long] = synchronized {
      val jobMs = spans.values.toSeq.sorted.foldLeft((0L, Long.MinValue)) {
        case ((ms, reach), (s, e)) =>
          (ms + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1
      Seq(spans.size.toLong, stages.toLong, tasks.toLong, jobMs)
    }
  }

  def run(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String],
      planDir: Option[String] = None): Seq[Record] = names.map { name =>
    require(reps > 0, s"reps must be positive: $reps")
    val fn = SparkEntry.queries(name)
    val l = new JobListener
    spark.sparkContext.addSparkListener(l)
    // per rep: (wall s, rows, frame, listener totals after the rep); the
    // bus is drained after the clock stops, so each rep's deltas are its own
    val runs = try (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      val wall = (System.nanoTime() - t0) / 1e9
      GraftBridge.drainListeners(spark)
      (wall, n, df, l.totals)
    } finally spark.sparkContext.removeSparkListener(l)
    planDir.foreach { dir =>
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, s"$name.txt"),
        runs.last._3.queryExecution.explainString(FormattedMode))
    }
    val deltas = (Seq.fill(4)(0L) +: runs.map(_._4)).sliding(2)
      .map { case Seq(a, b) => b.zip(a).map(p => p._1 - p._2) }.toSeq
    val byWall = runs.indices.sortBy(runs(_)._1)
    val mid = byWall(reps / 2)
    val (wall, rows) = (runs(mid)._1, runs(mid)._2)
    val Seq(jobs, stages, tasks, jobMs) = deltas(mid)
    val r = Record(name, rows, wall, runs(byWall.head)._1,
      runs(byWall.last)._1, jobs.toInt, stages.toInt, tasks.toInt,
      jobMs / 1e3, math.max(0.0, wall - jobMs / 1e3))
    println(r.line)
    r
  }

  def main(args: Array[String]): Unit = {
    val (planDir, names) = args.drop(2).toList match {
      case "--plan" :: dir :: qs => (Some(dir), qs)
      case qs => (None, qs)
    }
    require(args.length >= 3 && names.nonEmpty,
      "usage: Measure <sfDir> <reps> [--plan <dir>] <query>...")
    val spark = graft.core.Session.local("graft-measure")
    try {
      graft.Bench.warmUp(spark, args(0))
      run(spark, args(0), args(1).toInt, names, planDir)
    } finally spark.stop()
  }
}
