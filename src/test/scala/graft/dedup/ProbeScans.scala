package graft.dedup

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The parquet scans of an index probe: those of the queries it runs
  * while building its result (a MinHash probe collects its candidates
  * on the driver) and those of the lazy result it returns. Suites share
  * one session, so only scans under `dir` count.
  */
object ProbeScans {

  def of(spark: SparkSession, dir: String)(probe: => DataFrame)
      : (DataFrame, Seq[FileSourceScanExec]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.sparkPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sentinel = s"probe-scans-${java.util.UUID.randomUUID()}"
    def seen = plans.asScala.exists(_.toString.contains(sentinel))
    spark.listenerManager.register(listener)
    val out =
      try {
        val out = probe
        // listener events arrive in order: once the sentinel query is
        // seen, every query the probe ran has been seen too
        spark.range(1).select(lit(sentinel)).collect()
        val deadline = System.currentTimeMillis() + 30000L
        while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
        assert(seen, "the listener never saw the sentinel query")
        out
      } finally spark.listenerManager.unregister(listener)
    val scans = (plans.asScala.toSeq :+ out.queryExecution.sparkPlan).flatMap(_.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(dir)) => f
    })
    (out, scans)
  }
}
