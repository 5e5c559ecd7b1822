package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts, by running it
  * under its own job group and watching job starts with a listener.
  * Suites share one SparkContext, so only jobs tagged with the block's
  * group count; jobs other suites start meanwhile do not.
  */
object JobGroups {

  /** One job the block started: its job tags (a broadcast exchange tags
    * its collect job `broadcast exchange (runId …)`), the names of its
    * stages, the bytes its tasks read from files, and the ids of the
    * stages it ran that wrote shuffle records.
    */
  final case class Job(tags: Set[String], stages: Seq[String], inputBytes: Long,
                       shuffleWrites: Set[Int]) {
    def isBroadcast: Boolean = tags.exists(_.startsWith("broadcast exchange"))
  }

  /** `body`'s result, and whether it started any Spark job. */
  def startsJobs[T](spark: SparkSession)(body: => T): (T, Boolean) = {
    val (out, jobs) = jobsOf(spark)(body)
    (out, jobs.nonEmpty)
  }

  /** `body`'s result, and the jobs it started in start order. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    // job id → (group, tags, stage names); stage id → job id
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Set[String], Seq[String])]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val shuffleWrites = new java.util.concurrent.ConcurrentHashMap[Int, Set[Int]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
          val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
            .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
          e.stageIds.foreach(jobOfStage.put(_, e.jobId))
          started.add((e.jobId, g, tags, e.stageInfos.map(_.name)))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(jobOfStage.get(e.stageId)).foreach { j =>
          val n = Option(e.taskMetrics).map(_.inputMetrics.bytesRead).getOrElse(0L)
          bytes.merge(j, n, (a, b) => a + b)
          if (Option(e.taskMetrics).exists(_.shuffleWriteMetrics.recordsWritten > 0))
            shuffleWrites.merge(j, Set(e.stageId), (a, b) => a ++ b)
        }
    }
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    def seen(g: String) = started.stream().anyMatch(_._2 == g)
    sc.addSparkListener(listener)
    val out =
      try {
        sc.setJobGroup(group, "probed block")
        val out = try body finally sc.clearJobGroup()
        // listener events arrive in order: once this job's start is
        // seen, every job the block started, and each of their
        // finished tasks, has been seen too
        sc.setJobGroup(sentinel, "sentinel")
        try spark.range(1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000L
        while (!seen(sentinel) && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(seen(sentinel), "the listener never saw the sentinel job")
        out
      } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, started.asScala.toSeq.collect { case (id, `group`, tags, stages) =>
      Job(tags, stages, Option(bytes.get(id)).map(_.longValue).getOrElse(0L),
        Option(shuffleWrites.get(id)).getOrElse(Set.empty))
    })
  }
}
