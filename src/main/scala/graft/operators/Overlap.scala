package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Shared Future-overlap discipline for materializing INDEPENDENT
  * Spark job graphs concurrently (guide §2.6 "overlap independent
  * jobs": actions are only sequential because driver code calls them
  * sequentially). Bodies run on a DEDICATED daemon pool, never
  * `ExecutionContext.Implicits.global`: blocking Spark actions parked
  * on the global ForkJoin pool can starve composed callers that also
  * parallelize on it, and a bounded shared pool would deadlock under
  * nested overlap (a tick overlapping writes inside an operator that
  * is itself overlapped by its caller).
  *
  * Spark inherits a thread's job properties only when the thread is
  * CREATED, and pool threads are reused, so each body runs under the
  * submitter's job group, description, scheduler pool,
  * interrupt-on-cancel flag and job tags, captured at submission.
  * `spark.sql.execution.id` is never carried over: the body's own
  * actions open their own SQL executions.
  */
private[graft] object Overlap {
  private val pool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-overlap")
      t.setDaemon(true)
      t
    }))

  private val jobProperties = Seq("spark.jobGroup.id",
    "spark.job.description", "spark.scheduler.pool",
    "spark.job.interruptOnCancel", "spark.job.tags")

  def future[A](body: => A): Future[A] = {
    // null values clear keys the submitter leaves unset, so a reused
    // thread never keeps a stale group from an earlier submitter
    val captured = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map { s =>
        val sc = s.sparkContext
        sc -> jobProperties.map(k => k -> sc.getLocalProperty(k))
      }
    Future {
      captured.foreach { case (sc, props) =>
        props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
      body
    }(pool)
  }

  def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
}
