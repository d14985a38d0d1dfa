package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, Success, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with nanosecond resolution, on one clock shared by
  * the harness spans and Spark's listener timestamps (both epoch based).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One layer-boundary span. `parent` is 0 for an op's root span. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Double, end: Double)

/** Span recorder for the traced run. Spans are recorded by the benchmark
  * around its calls into graft, and by the listeners below for Spark jobs,
  * micro-batches and FileSystem calls; all of them stay in memory until
  * the run ends. Spark jobs find their op and parent span through local
  * properties set on the calling thread (inherited by stream threads).
  */
object Trace {
  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  @volatile var on = false
  @volatile var sc: SparkContext = _
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  private def setProps(op: Long, span: Long): Unit = if (sc != null) {
    sc.setLocalProperty(OpProp, if (op == 0) null else op.toString)
    sc.setLocalProperty(SpanProp, if (span == 0) null else span.toString)
  }

  /** Root span of op `op`: every span and Spark job below it shares the id. */
  def root[T](op: Long, name: String)(f: => T): T = {
    val id = nextId()
    val start = Clock.nowMs
    stack.set(List((op, id)))
    setProps(op, id)
    try f
    finally {
      spans.add(Span(id, 0, op, name, start, Clock.nowMs))
      stack.set(Nil)
      setProps(0, 0)
    }
  }

  /** A child span of the current one (a no-op outside a traced op). */
  def span[T](name: String)(f: => T): T = stack.get() match {
    case (op, parent) :: _ if on =>
      val id = nextId()
      val start = Clock.nowMs
      stack.set((op, id) :: stack.get())
      setProps(op, id)
      try f
      finally {
        spans.add(Span(id, parent, op, name, start, Clock.nowMs))
        stack.set(stack.get().tail)
        setProps(op, parent)
      }
    case _ => f
  }

  /** (op, span) of the calling thread: the harness stack, else the Spark
    * local properties (stream threads inherit them), else the task's.
    */
  def current: (Long, Long) = stack.get() match {
    case (op, sp) :: _ => (op, sp)
    case Nil =>
      def num(s: String) = Option(s).map(_.toLong).getOrElse(0L)
      val tc = TaskContext.get()
      if (tc != null) (num(tc.getLocalProperty(OpProp)), 0L)
      else if (sc != null)
        (num(sc.getLocalProperty(OpProp)), num(sc.getLocalProperty(SpanProp)))
      else (0L, 0L)
  }
}

/** Per-stage task aggregates. */
final class StageAgg {
  var tasks = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L
  var waitMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var input = 0L; var output = 0L
}

final case class JobRec(id: Int, op: Long, span: Long, execId: Long,
    desc: String, start: Long, var end: Long, stages: Seq[Int])

/** SparkListener registered through `spark.extraListeners`. */
class JobTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    JobTrace.jobs.put(e.jobId, JobRec(e.jobId,
      prop(Trace.OpProp).map(_.toLong).getOrElse(0L),
      prop(Trace.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
      prop("spark.job.description").getOrElse(""),
      e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(JobTrace.jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      JobTrace.stageSubmit.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    JobTrace.stagesRun.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = JobTrace.stageAgg(e.stageId)
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      Option(JobTrace.stageSubmit.get(e.stageId)).foreach(s =>
        a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

object JobTrace {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stagesRun = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val aggs = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  def stageAgg(s: Int): StageAgg = aggs.computeIfAbsent(s, _ => new StageAgg)
  def aggOf(s: Int): Option[StageAgg] = Option(aggs.get(s))
}

final case class SqlRec(execId: Long, end: Double, analysisMs: Double,
    optimizationMs: Double, planningMs: Double)

/** QueryExecutionListener registered through
  * `spark.sql.queryExecutionListeners`: Catalyst phase times per action.
  */
class SqlTrace extends QueryExecutionListener {
  private def rec(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble)
      .getOrElse(0.0)
    val end = if (ph.isEmpty) Clock.nowMs else ph.values.map(_.endTimeMs).max.toDouble
    SqlTrace.recs.add(SqlRec(qe.id, end, ms("analysis"), ms("optimization"),
      ms("planning")))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = rec(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
}

object SqlTrace {
  val recs = new ConcurrentLinkedQueue[SqlRec]()
}

final case class TriggerRec(runId: String, batch: Long, start: Double,
    durations: Map[String, Long], rows: Long)

/** Per-trigger progress. Registered in every run through
  * `spark.streams.addListener`: the engine's own progress events are the
  * only source of micro-batch latency, and they cost one event per trigger.
  */
class StreamTrace extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    StreamTrace.recs.add(TriggerRec(p.runId.toString, p.batchId, start,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
}

object StreamTrace {
  val recs = new ConcurrentLinkedQueue[TriggerRec]()
}

/** Counting `file:` FileSystem, registered through
  * `spark.hadoop.fs.file.impl` in the traced session only. Counts the
  * metadata and data calls graft's FsOps and Spark's commit protocol make,
  * per op, and the driver-side time spent in them. Hard-link publishes go
  * through java.nio and are invisible here.
  */
class CountingFs extends LocalFileSystem {
  private def count[T](call: String)(f: => T): T = {
    val (op, span) = Trace.current
    val onDriver = TaskContext.get() == null
    val depth = CountingFs.depth.get()
    if (!Trace.on || depth > 0) {
      if (Trace.on) CountingFs.add(op, call, 0.0)
      return f
    }
    CountingFs.depth.set(depth + 1)
    val t0 = Clock.nowMs
    try f
    finally {
      val t1 = Clock.nowMs
      CountingFs.depth.set(depth)
      CountingFs.add(op, call, if (onDriver) t1 - t0 else 0.0)
      if (onDriver && op != 0)
        Trace.spans.add(Span(Trace.nextId(), span, op, "fsops." + call, t0, t1))
    }
  }
  override def listStatus(p: Path): Array[FileStatus] = count("list")(super.listStatus(p))
  override def getFileStatus(p: Path): FileStatus = count("status")(super.getFileStatus(p))
  override def rename(s: Path, d: Path): Boolean = count("rename")(super.rename(s, d))
  override def delete(p: Path, r: Boolean): Boolean = count("delete")(super.delete(p, r))
  override def mkdirs(p: Path, perm: FsPermission): Boolean =
    count("mkdirs")(super.mkdirs(p, perm))
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      buf: Int, rep: Short, block: Long, prog: Progressable): FSDataOutputStream =
    count("create")(super.create(p, perm, overwrite, buf, rep, block, prog))
  override def open(p: Path, buf: Int): FSDataInputStream = count("open")(super.open(p, buf))
}

object CountingFs {
  val Calls = Seq("list", "status", "rename", "delete", "mkdirs", "create", "open")
  private val depth = new ThreadLocal[Int] { override def initialValue() = 0 }
  /** (op, call) → count; (op, "driver_ms") → summed driver-side ms. */
  val counts = new java.util.concurrent.ConcurrentHashMap[(Long, String), Double]()
  def add(op: Long, call: String, ms: Double): Unit = {
    counts.merge((op, call), 1.0, (a, b) => a + b)
    if (ms > 0) counts.merge((op, "driver_ms"), ms, (a, b) => a + b)
  }
  def get(op: Long, call: String): Double = counts.getOrDefault((op, call), 0.0)
}
