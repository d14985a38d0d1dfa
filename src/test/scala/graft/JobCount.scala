package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one block of driver code asked of Spark: how many jobs it
  * started, and the executed plan of every SQL action it ran (`save`,
  * `collect`, `count`, a checkpoint's own `localCheckpoint` action). The
  * listener bus is drained before and after, so the counts are exact,
  * not a sample of what the asynchronous bus had delivered.
  */
final case class JobCount[T](result: T, jobs: Int, plans: Seq[SparkPlan])

object JobCount {
  def apply[T](spark: SparkSession)(body: => T): JobCount[T] = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    GraftBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val result = body
      GraftBridge.drainListeners(spark)
      import scala.jdk.CollectionConverters._
      JobCount(result, jobs.get, plans.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  /** Every node of an executed plan, looking through adaptive plans and
    * query stages (a reused exchange is a leaf: it builds nothing).
    */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case p => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** The exchanges of `plan` whose own stage reads a node matching
    * `source`: one per time that source's rows are shuffled or broadcast,
    * however many exchanges sit further downstream of it.
    */
  def exchangesOver(plan: SparkPlan)(source: SparkPlan => Boolean): Seq[Exchange] = {
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: Exchange | _: ReusedExchangeExec => Nil
      case a: AdaptiveSparkPlanExec => stage(a.executedPlan)
      case s: QueryStageExec => stage(s.plan)
      case p => p +: p.children.flatMap(stage)
    }
    nodes(plan).collect {
      case e: Exchange if e.children.flatMap(stage).exists(source) => e
    }
  }
}
