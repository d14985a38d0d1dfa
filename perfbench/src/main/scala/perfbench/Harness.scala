package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.fsops.FsOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed client operation. `classes` says which end-to-end latency
  * metrics it feeds: job, commit, read, step (an incremental step).
  */
final case class Op(id: Long, kind: String, classes: Set[String],
    round: Int, start: Double, end: Double, rows: Long,
    var ok: Boolean, var err: String) {
  def ms: Double = end - start
}

/** Records timed ops. Exceptions fail the op and the loop goes on;
  * verification can fail an op afterwards.
  */
final class Recorder(traced: Boolean) {
  val ops = new ConcurrentLinkedQueue[Op]()
  val rounds = new ConcurrentLinkedQueue[(Int, Double)]()

  def op[T](kind: String, classes: Set[String], round: Int, rows: Long = 0)(
      f: => T): (Op, Option[T]) = {
    val id = Trace.nextId()
    val t0 = Clock.nowMs
    val r = try Right(if (traced) Trace.root(id, "op." + kind)(f) else f)
    catch { case e: Throwable => Left(e) }
    val o = Op(id, kind, classes, round, t0, Clock.nowMs, rows, r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
        .map(_.take(300)).orNull)
    ops.add(o)
    (o, r.toOption)
  }

  def fail(o: Op, why: String): Unit = synchronized {
    if (o.ok) { o.ok = false; o.err = ("verify: " + why).take(300) }
  }

  def all: Seq[Op] = ops.asScala.toSeq.sortBy(_.start)
}

/** What a workload needs from the run: the session, its inputs, where to
  * write, and where to record ops.
  */
final class Ctx(val spark: SparkSession, val inputs: String, val out: String,
    val rec: Recorder, val manifest: Map[String, Any], val cores: Int) {
  val fsOps = new FsOps(spark.sparkContext.hadoopConfiguration)
  def in(sub: String): String = s"$inputs/$sub"
  def dir(sub: String): String = s"$out/$sub"
  def inputRows(sub: String): Long =
    manifest("rows").asInstanceOf[Map[String, Any]].get(sub)
      .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
}

object Util {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(p: String): Map[String, Any] =
    json.readValue(Files.readString(Paths.get(p)), classOf[Map[String, Any]])

  def writeJson(p: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(p).getParent)
    Files.writeString(Paths.get(p), json.writeValueAsString(v))
  }

  def writeParams(path: String, params: Map[String, Any]): String = {
    writeJson(path, params)
    path
  }

  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-independent content hashes of several frames, one small Spark
    * action each, eight at a time: per frame the row count, xor and a
    * 24-bit sum of per-row xxhash64 over every column cast to string, in
    * column-name order (so column order and integer widths don't matter).
    */
  def contentHashes(frames: Seq[(String, DataFrame)]): Map[String, String] =
    par(frames.map { case (k, df) => () => k -> contentHash(df) }).toMap

  /** Runs `tasks` eight at a time, results in order: verification's small
    * Spark actions spend most of their time in driver latency, not on the
    * cores.
    */
  def par[A](tasks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** [[contentHashes]] of one frame: a read of every row and column. */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map(c =>
      coalesce(col(s"`$c`").cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(concat_ws("\u0001", cols: _*)).as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xFFFFFFL)))
      .head()
    s"${r.getLong(0)}:${r.getLong(1)}:${Option(r.get(2)).getOrElse(0)}"
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Bytes under `dir` ÷ bytes of the data files readers see in `live`
    * (visible parquet files, no checksums, markers or retained versions).
    */
  def spaceAmp(dir: String, live: Seq[String]): Double = {
    def visible(p: Path) = {
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    }
    val liveBytes = live.map { d =>
      val root = Paths.get(d)
      if (!Files.exists(root)) 0L
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(p => Files.isRegularFile(p) && visible(p))
          .map(Files.size).sum
        finally s.close()
      }
    }.sum
    dirBytes(dir).toDouble / math.max(1L, liveBytes)
  }
}
