package graft.util

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts, by running it
  * under its own job group and watching job starts with a listener.
  * Suites share one SparkContext, so only jobs tagged with the block's
  * group count; jobs other suites start meanwhile do not.
  */
object JobGroups {

  /** `body`'s result, and whether it started any Spark job. */
  def startsJobs[T](spark: SparkSession)(body: => T): (T, Boolean) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    sc.addSparkListener(listener)
    val out =
      try {
        sc.setJobGroup(group, "probed block")
        val out = try body finally sc.clearJobGroup()
        // listener events arrive in order: once this job's start is
        // seen, every job the block started has been seen too
        sc.setJobGroup(sentinel, "sentinel")
        try spark.range(1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000L
        while (!groups.contains(sentinel) && System.currentTimeMillis() < deadline)
          Thread.sleep(20)
        assert(groups.contains(sentinel), "the listener never saw the sentinel job")
        out
      } finally sc.removeSparkListener(listener)
    (out, groups.contains(group))
  }
}
