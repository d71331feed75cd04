package graft.ops

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.concurrent.{ExecutionContext, Future}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Async task registry (reference `lantern.async_task(query, name)` /
  * `cancel_all_async_tasks()` + the `lantern.tasks` bookkeeping table,
  * lantern_hnsw/sql/lantern.sql:454-595 — there a pg_cron job; here a
  * driver-side Future tied to a Spark job group so cancellation
  * propagates to running executors via cancelJobGroup).
  */
object AsyncTasks {

  case class TaskRow(taskId: Long, jobName: String, status: String,
      startedAt: Long, finishedAt: Option[Long], error: Option[String])

  object Status {
    val Running = "running"
    val Completed = "completed"
    val Failed = "failed"
    val Canceled = "canceled"
  }

  private val ids = new AtomicLong(0)
  private val tasks = TrieMap[Long, TaskRow]()
  private val sessions = TrieMap[Long, SparkSession]()

  private implicit val ec: ExecutionContext = ExecutionContext.global

  private def groupFor(id: Long) = s"graft-async-task-$id"

  /** Submit an action; returns the task id immediately (the reference
    * returns the row id of lantern.tasks). The action runs under a job
    * group named for the task so [[cancel]] interrupts its Spark jobs. */
  def submit[T](spark: SparkSession, jobName: String)(body: => T): Long = {
    val id = ids.incrementAndGet()
    tasks(id) = TaskRow(id, jobName, Status.Running,
      System.currentTimeMillis(), None, None)
    sessions(id) = spark
    Future {
      spark.sparkContext.setJobGroup(groupFor(id), jobName,
        interruptOnCancel = true)
      try {
        body
        tasks(id) = tasks(id).copy(status = Status.Completed,
          finishedAt = Some(System.currentTimeMillis()))
      } catch {
        case e: Throwable =>
          val canceled = tasks(id).status == Status.Canceled
          if (!canceled) {
            tasks(id) = tasks(id).copy(status = Status.Failed,
              finishedAt = Some(System.currentTimeMillis()),
              error = Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
          }
      } finally spark.sparkContext.clearJobGroup()
    }
    id
  }

  def status(id: Long): Option[TaskRow] = tasks.get(id)

  /** The `lantern.tasks` table as a DataFrame. */
  def list(spark: SparkSession): DataFrame = {
    import spark.implicits._
    tasks.values.toSeq.sortBy(_.taskId)
      .map(t => (t.taskId, t.jobName, t.status, t.startedAt,
        t.finishedAt.getOrElse(0L), t.error.getOrElse("")))
      .toDF("task_id", "job_name", "status", "started_at", "finished_at",
        "error")
  }

  def cancel(id: Long): Boolean =
    tasks.get(id).exists { t =>
      if (t.status == Status.Running) {
        tasks(id) = t.copy(status = Status.Canceled,
          finishedAt = Some(System.currentTimeMillis()))
        sessions.get(id).foreach(_.sparkContext.cancelJobGroup(groupFor(id)))
        true
      } else false
    }

  /** `cancel_all_async_tasks()`. */
  def cancelAll(): Int =
    tasks.values.filter(_.status == Status.Running)
      .count(t => cancel(t.taskId))
}
