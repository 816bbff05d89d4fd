package graft.obs

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Engine metrics of the Spark work run while it is attached: one
  * `SparkListener` for jobs, stages and tasks, one
  * `QueryExecutionListener` for the executed plans. With `group`, only
  * jobs submitted under that job group (and their stages and tasks)
  * count; plans are recorded for every query of the session.
  *
  * Listener events are delivered asynchronously: call [[drain]] after
  * the measured actions return and before reading. Construction drains
  * too, so events of earlier work never reach this collector. */
final class QueryMetrics(spark: SparkSession, group: Option[String] = None) {
  import QueryMetrics._

  private val jobStageCounts = ArrayBuffer.empty[Int]
  private val ownStages = scala.collection.mutable.Set.empty[Int]
  private val completed = ArrayBuffer.empty[Stage]
  private val executed = ArrayBuffer.empty[SparkPlan]
  private val executionSites = scala.collection.mutable.Map.empty[Long, String]
  private val stageSites = scala.collection.mutable.Map.empty[Int, String]
  private var maxRecords = 0L

  private def owned(stageId: Int) = group.isEmpty || ownStages(stageId)

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        QueryMetrics.this.synchronized { executionSites(s.executionId) = s.details }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = QueryMetrics.this.synchronized {
      // under AQE a query stage's job is submitted from a Spark thread,
      // so its own call site holds no caller frame: use its query's
      for (id <- Option(j.properties).flatMap(p =>
             Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)));
           site <- executionSites.get(id.toLong))
        j.stageIds.foreach(stageSites(_) = site)
      val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id"))
      if (group.isEmpty || g == group) {
        jobStageCounts += j.stageInfos.size
        ownStages ++= j.stageIds
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      QueryMetrics.this.synchronized {
        val si = e.stageInfo
        def metric(f: org.apache.spark.executor.TaskMetrics => Long) =
          Option(si.taskMetrics).fold(0L)(f)
        if (owned(si.stageId)) completed += Stage(si.stageId,
          stageSites.getOrElse(si.stageId, si.details), si.numTasks,
          metric(_.executorRunTime), metric(_.executorCpuTime) / 1000000,
          metric(_.shuffleReadMetrics.totalBytesRead),
          metric(_.shuffleWriteMetrics.bytesWritten), metric(_.inputMetrics.bytesRead),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = QueryMetrics.this.synchronized {
      if (t.taskMetrics != null && owned(t.stageId))
        maxRecords = math.max(maxRecords, t.taskMetrics.shuffleReadMetrics.recordsRead)
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      QueryMetrics.this.synchronized { executed += qe.executedPlan }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  drain()
  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queries)

  /** Returns once every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Completed stages, in completion order. */
  def stages: Seq[Stage] = synchronized(completed.toSeq)

  /** The stage count of each job, in job start order. */
  def stagesPerJob: Seq[Int] = synchronized(jobStageCounts.toSeq)

  /** The most shuffle records any one task read. */
  def maxTaskShuffleRecords: Long = synchronized(maxRecords)

  /** Every node of the successful queries' executed plans, with its
    * depth, in query order. The walk descends into AQE final plans,
    * query stages, command plans and subqueries, and visits a node
    * reached twice within one plan (a reused exchange) once. A cached
    * relation's plan runs inside the first query that reads it and
    * every later read scans the cached buffers, so each cache's plan is
    * walked once, under the first query that reads it. */
  def nodes: Seq[(SparkPlan, Int)] = synchronized {
    val out = ArrayBuffer.empty[(SparkPlan, Int)]
    val caches = identitySet[AnyRef]()
    def walk(p: SparkPlan, depth: Int, seen: java.util.Set[SparkPlan]): Unit =
      if (seen.add(p)) {
        out += p -> depth
        val inner = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case c: CommandResultExec => Seq(c.commandPhysicalPlan)
          case m: InMemoryTableScanExec =>
            if (caches.add(m.relation.cacheBuilder)) Seq(m.relation.cachedPlan) else Nil
          case other => other.children
        }
        (inner ++ p.subqueries).foreach(walk(_, depth + 1, seen))
      }
    executed.foreach(walk(_, 0, identitySet()))
    out.toSeq
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queries)
  }
}

object QueryMetrics {
  /** One completed stage. Times are epoch ms; `site` is the call-site
    * stack, one frame a line, of the stage's SQL query (the stage's own
    * for work outside one). */
  final case class Stage(id: Int, site: String, tasks: Int,
      runMs: Long, cpuMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      inputBytes: Long, submitted: Long, completed: Long)

  /** `body`'s result and the drained metrics of the work it ran. */
  def of[T](spark: SparkSession)(body: => T): (T, QueryMetrics) = {
    val m = new QueryMetrics(spark)
    try {
      val result = body
      m.drain()
      (result, m)
    } finally m.close()
  }

  private def identitySet[A <: AnyRef]() =
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[A, java.lang.Boolean])
}
