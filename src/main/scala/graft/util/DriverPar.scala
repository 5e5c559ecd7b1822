package graft.util

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicLong

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.{Duration, FiniteDuration}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Run INDEPENDENT Spark-action-bearing thunks from separate driver
  * threads (guide §2.6 idle-capacity overlap): Spark schedules the
  * jobs concurrently, so the tail of one back-fills executors the
  * other freed — e.g. an index append's two sidecar lays, or a
  * compaction's per-table folds. Worker threads inherit the caller's
  * job group / description / tags / scheduler pool (thread-local in
  * Spark, so a bare Future would break cancellation and fair-pool
  * routing), and the await is FINITE so a hung job fails the caller
  * instead of hanging it forever. Results keep the input order.
  *
  * The thunks block on Spark actions, so each runs under `blocking`:
  * the global pool adds a thread for it instead of starving the
  * unrelated futures that share its cores-sized pool. Each worker tags
  * its jobs with a unique job tag; on timeout every tag is cancelled
  * before the `TimeoutException` is rethrown, and a listener that
  * lives until the last thunk returns cancels each job a thunk starts
  * after that — so no job of a timed-out call runs to completion.
  */
object DriverPar {

  private val tagSeq = new AtomicLong(0L)

  def inParallel[T](sc: org.apache.spark.SparkContext)
                   (thunks: Seq[() => T]): Seq[T] =
    inParallel(sc, Duration(30, TimeUnit.MINUTES))(thunks)

  private[graft] def inParallel[T](sc: org.apache.spark.SparkContext,
                                   timeout: FiniteDuration)
                                  (thunks: Seq[() => T]): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    // mirror the caller's properties EXACTLY, nulls included: the
    // global pool reuses threads, and a stale jobGroup left by a
    // previous task (e.g. a streaming micro-batch body) would tag this
    // job into a group a concurrent StreamingQuery.stop() cancels
    val inherit = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel", "spark.scheduler.pool", "spark.job.tags")
      .map(k => k -> sc.getLocalProperty(k))
    val tags = thunks.map(_ => s"graft-driverpar-${tagSeq.incrementAndGet()}")
    import ExecutionContext.Implicits.global
    val running = thunks.zip(tags).map { case (t, tag) =>
      Future {
        inherit.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTag(tag)
        try blocking(t()) finally sc.removeJobTag(tag)
      }
    }
    try Await.result(Future.sequence(running), timeout)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        // registered BEFORE the tag cancel: a job submitted in between
        // is either still active for the cancel or seen starting here
        val stopper = new SparkListener {
          override def onJobStart(js: SparkListenerJobStart): Unit =
            if (Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
                .exists(_.split(",").exists(tags.contains)))
              sc.cancelJob(js.jobId, "DriverPar call timed out")
        }
        sc.addSparkListener(stopper)
        Future.sequence(running.map(_.transform(scala.util.Success(_))))
          .foreach(_ => sc.removeSparkListener(stopper))
        tags.foreach(sc.cancelJobsWithTag)
        throw e
    }
  }
}
