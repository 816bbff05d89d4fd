package perfbench

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark-engine numbers for the traced run, from three sources the
  * benchmark registers itself: a `SparkListener` (jobs, stages, task
  * metrics), each `QueryExecution.tracker` (analysis / optimization /
  * planning phase times) and Spark's `CodegenMetrics` (Janino compiles).
  * Events are kept with their wall-clock times and attributed to a
  * window afterwards, so any span of the trace can be summarized. */
final class Engine(spark: SparkSession) {
  private final case class Job(start: Long, var end: Long = Long.MaxValue)
  private final case class Stage(done: Long, tasks: Int, runMs: Long,
      cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long, spill: Long)
  private final case class Phases(at: Long, analysis: Long,
      optimization: Long, planning: Long)

  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val phases = ArrayBuffer.empty[Phases]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Engine.this.synchronized { jobs(e.jobId) = Job(e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Engine.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val done = si.completionTime.getOrElse(System.currentTimeMillis())
      val st = if (m == null) Stage(done, si.numTasks, 0, 0, 0, 0, 0, 0)
        else Stage(done, si.numTasks, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
      Engine.this.synchronized { stages += st }
    }
  }

  /** Each executed scan of the evm-logs source, once, with the time it
    * was first seen: the same plan node seen again (a cached result
    * reused) is not a new scan. Its row metric is read later. */
  private val scans = new java.util.IdentityHashMap[BatchScanExec, Long]()

  private def walk(p: SparkPlan, seen: BatchScanExec => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan, seen)
    case q: QueryStageExec => walk(q.plan, seen)
    case m: InMemoryTableScanExec => walk(m.relation.cachedPlan, seen)
    case b: BatchScanExec => seen(b)
    case other =>
      other.children.foreach(walk(_, seen))
      other.subqueries.foreach(walk(_, seen))
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val now = System.currentTimeMillis()
      Engine.this.synchronized {
        phases += Phases(now, d("analysis"), d("optimization"), d("planning"))
        walk(qe.executedPlan, b =>
          if (b.scan.isInstanceOf[graft.evm.LogScan] && !scans.containsKey(b))
            scans.put(b, now))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Codegen compile count and summed compile time (ms) so far. The
    * histogram's reservoir holds every sample up to 1028 of them; past
    * that the sum is estimated as count times the reservoir mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= snap.size()) snap.getValues.sum.toDouble else snap.getMean * n
    (n, sum)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Engine metrics of the window [t0, t1] (wall-clock ms). `codegen0`
    * and `codegen1` are [[codegen]] readings taken at the window's ends. */
  def summary(t0: Long, t1: Long, codegen0: (Long, Double),
              codegen1: (Long, Double)): Map[String, Double] = synchronized {
    val inWin = stages.filter(s => s.done >= t0 && s.done <= t1)
    val js = jobs.values.filter(j => j.start >= t0 && j.start <= t1).toSeq
    // union of job intervals clipped to the window
    val iv = js.map(j => (math.max(j.start, t0), math.min(j.end, t1))).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- iv) {
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val ph = phases.filter(p => p.at >= t0 && p.at <= t1)
    val wallS = math.max(1L, t1 - t0) / 1e3
    val runS = inWin.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "plan.analysis_s" -> ph.map(_.analysis).sum / 1e3,
      "plan.optimization_s" -> ph.map(_.optimization).sum / 1e3,
      "plan.planning_s" -> ph.map(_.planning).sum / 1e3,
      "codegen.compiles" -> (codegen1._1 - codegen0._1).toDouble,
      "codegen.compile_s" -> (codegen1._2 - codegen0._2) / 1e3,
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> inWin.size.toDouble,
      "spark.tasks" -> inWin.map(_.tasks.toLong).sum.toDouble,
      "spark.driver_gap_s" -> (wallS - covered / 1e3),
      "spark.task_run_s" -> runS,
      "spark.task_cpu_s" -> inWin.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> inWin.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> inWin.map(_.shWrite).sum / mb,
      "spark.shuffle_read_mb" -> inWin.map(_.shRead).sum / mb,
      "spark.spill_mb" -> inWin.map(_.spill).sum / mb,
      "spark.core_util" -> runS / (wallS * spark.sparkContext.defaultParallelism),
      "source.scans" -> sourceScans(t0, t1).size.toDouble,
      "source.scan_rows" -> sourceScans(t0, t1).map(_.metrics("numOutputRows").value).sum.toDouble)
  }

  /** The source scans first executed in [t0, t1]. */
  def sourceScans(t0: Long, t1: Long): Seq[BatchScanExec] = synchronized {
    scans.asScala.collect { case (b, at) if at >= t0 && at <= t1 => b }.toSeq
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Runs spans of a [[Trace]] and records the engine summary of each one
  * asked for. */
final class Traced(val trace: Trace, val engine: Engine) {
  val engineBySpan = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]

  def apply[T](name: String, withEngine: Boolean = false)(body: => T): T =
    if (!withEngine) trace(name)(body)
    else {
      val c0 = engine.codegen()
      val t0 = System.currentTimeMillis()
      val r = trace(name)(body)
      val t1 = System.currentTimeMillis()
      engine.drain()
      engineBySpan(name) = engine.summary(t0, t1, c0, engine.codegen())
      r
    }
}
