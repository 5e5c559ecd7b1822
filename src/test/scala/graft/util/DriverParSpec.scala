package graft.util

import scala.concurrent.duration._

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** DriverPar runs blocking Spark actions off the global pool, and a
  * timed-out call cancels the jobs it started instead of leaving them
  * running.
  */
class DriverParSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("results keep the input order and the caller's job group reaches the workers") {
    val sc = spark.sparkContext
    sc.setJobGroup("driverpar-order", "order")
    val seen =
      try DriverPar.inParallel(sc)((1 to 3).map(i => () =>
        (sc.parallelize(1 to i, 1).count(), sc.getLocalProperty("spark.jobGroup.id"))))
      finally sc.clearJobGroup()
    assert(seen == (1 to 3).map(i => (i.toLong, "driverpar-order")))
  }

  test("a timeout surfaces a TimeoutException and cancels the running job") {
    val sc = spark.sparkContext
    val group = s"driverpar-hang-${java.util.UUID.randomUUID()}"
    // a task that runs until it is killed (or a minute passes)
    def hang(): Long = sc.parallelize(1 to 1, 1).map { x =>
      val end = System.currentTimeMillis() + 60000L
      while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < end)
        Thread.sleep(20)
      x
    }.count()
    sc.setJobGroup(group, "hang")
    val t0 = System.nanoTime()
    try intercept[java.util.concurrent.TimeoutException] {
      DriverPar.inParallel(sc, 2.seconds)(Seq(() => hang(), () => hang()))
    } finally sc.clearJobGroup()
    assert((System.nanoTime() - t0).nanos < 30.seconds)
    val deadline = System.currentTimeMillis() + 10000L
    def active = sc.statusTracker.getJobIdsForGroup(group)
      .flatMap(sc.statusTracker.getJobInfo)
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    while (active.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(active.isEmpty, s"jobs still running after the timeout: ${active.map(_.jobId).toSeq}")
  }

  test("a job a thunk starts after the timeout is cancelled, not run to completion") {
    val sc = spark.sparkContext
    // a one-task job that runs `ms` or until it is killed
    def slow(ms: Long): Long = sc.parallelize(1 to 1, 1).map { x =>
      val end = System.currentTimeMillis() + ms
      while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < end)
        Thread.sleep(20)
      x.toLong
    }.count()
    val second = scala.concurrent.Promise[scala.util.Try[Long]]()
    intercept[java.util.concurrent.TimeoutException] {
      DriverPar.inParallel(sc, 2.seconds)(Seq(
        () => {
          // the first job is still running when the call times out
          try slow(4000) catch { case _: org.apache.spark.SparkException => 0L }
          second.success(scala.util.Try(slow(15000)))
          0L
        },
        () => 0L))
    }
    val outcome = scala.concurrent.Await.result(second.future, 60.seconds)
    assert(outcome.isFailure,
      s"a job started after the timeout ran to completion: $outcome")
  }
}
