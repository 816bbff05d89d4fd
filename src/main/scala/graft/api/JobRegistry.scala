package graft.api

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Control plane (SURVEY.md §2.8, C1–C4): job registry over a shared
  * SparkSession. The reference's REST layer registers jobs, runs them on
  * goroutines, tracks queued/running/finished/error/cancelled status and
  * cancels via context (`internal/api/handlers.go:55-198`,
  * `server.go:13-22`). Here each job runs in a pool thread under a Spark
  * job group, so DELETE maps to `cancelJobGroup` — Spark's native
  * cooperative cancellation (the reference's ctx checks, C3/C4).
  * Worker parallelism (C4) is Spark's own scheduler; fail-fast per job
  * is default stage behavior.
  */
class JobRegistry(spark: SparkSession, poolSize: Int = 4) {

  sealed trait State
  case object Queued extends State
  case object Running extends State
  case object Finished extends State
  case class Failed(error: String) extends State
  case object Cancelled extends State

  case class JobInfo(id: String, name: String, state: State,
                           submittedAt: Long, startedAt: Option[Long],
                           finishedAt: Option[Long])

  private val jobs = new ConcurrentHashMap[String, JobInfo]()
  private val cancelled = ConcurrentHashMap.newKeySet[String]()
  private val pool = Executors.newFixedThreadPool(poolSize)

  /** C1: submit a job; returns its id immediately (202-style). */
  def submit(name: String)(body: SparkSession => Unit): String = {
    val id = UUID.randomUUID().toString
    jobs.put(id, JobInfo(id, name, Queued, System.currentTimeMillis(), None, None))
    pool.submit(new Runnable {
      override def run(): Unit = {
        if (cancelled.contains(id)) {
          update(id)(_.copy(state = Cancelled,
            finishedAt = Some(System.currentTimeMillis())))
          return
        }
        update(id)(_.copy(state = Running,
          startedAt = Some(System.currentTimeMillis())))
        try {
          spark.sparkContext.setJobGroup(id, s"graft job $name",
            interruptOnCancel = true)
          body(spark)
          update(id)(j => j.copy(
            state = if (cancelled.contains(id)) Cancelled else Finished,
            finishedAt = Some(System.currentTimeMillis())))
        } catch {
          case e: Throwable =>
            update(id)(_.copy(
              state = if (cancelled.contains(id)) Cancelled
                      else Failed(Option(e.getMessage).getOrElse(e.toString)),
              finishedAt = Some(System.currentTimeMillis())))
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    id
  }

  /** C2: job status lookup. */
  def status(id: String): Option[JobInfo] = Option(jobs.get(id))

  def list(): Seq[JobInfo] = jobs.values().asScala.toSeq.sortBy(_.submittedAt)

  /** C3: cooperative cancel — running Spark stages of the job group are
    * interrupted and any Spark job the group starts afterwards fails at
    * submission (a body that fans out over several jobs, like the
    * indexer's concurrent pair writes, stops launching work); a queued
    * job is dropped before it starts. */
  def cancel(id: String): Boolean = status(id) match {
    case Some(j) if j.state == Queued || j.state == Running =>
      cancelled.add(id)
      spark.sparkContext.cancelJobGroupAndFutureJobs(id)
      true
    case _ => false
  }

  def shutdown(): Unit = pool.shutdownNow()

  private def update(id: String)(f: JobInfo => JobInfo): Unit =
    jobs.computeIfPresent(id, (_, j) => f(j))
}
